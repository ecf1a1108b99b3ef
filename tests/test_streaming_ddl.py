"""In-stream DDL (schema-change topic analog), initial snapshot+stream mode,
behavior modes TRY_EVOLVE/EXCEPTION, multi-rule fan-out."""

import json
import os

import pytest
from pyspark.sql import Row, types as T

from source_flink_cdc_3_5_0_spark.common import (
    AddColumnEvent,
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
)
from source_flink_cdc_3_5_0_spark.common.events_json import (
    schema_event_from_json,
)
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource
from source_flink_cdc_3_5_0_spark.streaming.runner import (
    ENVELOPES, StreamingPipeline, file_stream_source)

TID = TableId.parse("inv.s.products")
SCHEMA = Schema.of(
    Column("id", T.LongType(), False),
    Column("name", T.StringType()),
    primary_keys=["id"],
)


def dbz(op, after=None, before=None, ts=0):
    return json.dumps({"before": before, "after": after, "op": op, "ts_ms": ts,
                       "source": {"db": "inv", "schema": "s", "table": "products"}})


ADD_COLOR = json.dumps({"ddl": {
    "type": "ADD_COLUMN", "table": "inv.s.products",
    "columns": [{"name": "color", "type": "string", "nullable": True,
                 "position": "LAST"}]}})


def test_event_json_roundtrip():
    """The structured in-stream DDL record decodes to the event it spells."""
    create = schema_event_from_json(json.dumps({"ddl": {
        "type": "CREATE_TABLE", "table": "inv.s.products",
        "columns": [{"name": "id", "type": "bigint", "nullable": False},
                    {"name": "name", "type": "string", "nullable": True}],
        "primary_keys": ["id"], "partition_keys": []}}))
    assert create == CreateTableEvent(TID, SCHEMA)
    assert schema_event_from_json(ADD_COLOR) == AddColumnEvent.last(
        TID, Column("color", T.StringType()))


def test_inflight_ddl_evolves_stream(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    # batch 1: two inserts; then DDL adds 'color'; then a row with color
    lines = [
        dbz("c", {"id": 1, "name": "bolt"}, ts=1),
        dbz("c", {"id": 2, "name": "nut"}, ts=2),
        ADD_COLOR,
        dbz("c", {"id": 3, "name": "washer", "color": "red"}, ts=3),
    ]
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join(lines))
    sink = MemorySink()
    pipe = StreamingPipeline.create(spark, sink, str(tmp_path / "ckpt"))
    q = pipe.start(file_stream_source(spark, src), {"inv.s.products": SCHEMA})
    q.awaitTermination(120)
    assert sink.schemas[TID].column_names() == ["id", "name", "color"]
    assert sink.snapshot(TID) == ["1, bolt, null", "2, nut, null", "3, washer, red"]


def test_initial_snapshot_then_stream(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            dbz("u", {"id": 1, "name": "bolt-v2"}, {"id": 1, "name": "bolt"}, ts=10),
            dbz("c", {"id": 9, "name": "new"}, ts=11),
        ]))
    snapshot = spark.createDataFrame(
        [Row(id=1, name="bolt"), Row(id=2, name="nut")], SCHEMA.struct_type())
    sink = MemorySink()
    pipe = StreamingPipeline.create(spark, sink, str(tmp_path / "ckpt"))
    pipe.register_table(TID, SCHEMA)
    pipe.initial_load({"inv.s.products": snapshot})
    assert sink.snapshot(TID) == ["1, bolt", "2, nut"]
    q = pipe.start(file_stream_source(spark, src), {"inv.s.products": SCHEMA})
    q.awaitTermination(120)
    assert sink.snapshot(TID) == ["1, bolt-v2", "2, nut", "9, new"]


def test_exception_behavior_raises(spark):
    from source_flink_cdc_3_5_0_spark.operators.schema_evolution import SchemaChangeBehavior
    from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline

    yaml_text = """
source: {type: values}
sink: {type: values}
pipeline:
  schema.change.behavior: exception
"""
    events = [
        CreateTableEvent(TID, SCHEMA),
        DataChangeEvent.insert(TID, (1, "a")),
        AddColumnEvent.last(TID, Column("color", T.StringType())),
        DataChangeEvent.insert(TID, (2, "b", "red")),
    ]
    pdef = parse_yaml_pipeline(yaml_text)
    assert pdef.config.schema_change_behavior == SchemaChangeBehavior.EXCEPTION
    exe = PipelineComposer(spark).compose(pdef, source=ValuesSource(events), sink=MemorySink())
    with pytest.raises(RuntimeError, match="behavior=exception"):
        exe.run()


def test_multi_rule_fanout_union(spark):
    """Two filtered rules both apply (rows matching either land in the sink;
    reference: every filtered rule sees the stream, PostTransformOperator
    first-match only stops at an unfiltered rule)."""
    from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline

    yaml_text = """
source: {type: values}
sink: {type: values}
transform:
  - source-table: inv.s.\\.*
    projection: "id, name, 'small' AS bucket"
    filter: "id < 3"
  - source-table: inv.s.\\.*
    projection: "id, name, 'big' AS bucket"
    filter: "id >= 3"
"""
    events = [CreateTableEvent(TID, SCHEMA)] + [
        DataChangeEvent.insert(TID, (i, f"n{i}")) for i in range(1, 6)]
    sink = MemorySink()
    pdef = parse_yaml_pipeline(yaml_text)
    PipelineComposer(spark).compose(pdef, source=ValuesSource(events), sink=sink).run()
    assert sink.snapshot(TID) == [
        "1, n1, small", "2, n2, small", "3, n3, big", "4, n4, big", "5, n5, big"]


def test_inflight_truncate_and_drop(spark, tmp_path):
    """Raw-SQL TRUNCATE/DROP control records mid-stream reach the sink
    applier through the shared composer path: truncate clears prior rows
    (later inserts survive), drop removes the table."""
    t2 = TableId.parse("inv.s.legacy")

    def dbz2(op, after, table, ts):
        return json.dumps({"before": None, "after": after, "op": op, "ts_ms": ts,
                           "source": {"db": "inv", "schema": "s", "table": table}})

    src = str(tmp_path / "in")
    os.makedirs(src)
    lines = [
        dbz("c", {"id": 1, "name": "bolt"}, ts=1),
        dbz("c", {"id": 2, "name": "nut"}, ts=2),
        dbz2("c", {"id": 10, "name": "old"}, "legacy", 3),
        json.dumps({"databaseName": "inv.s", "ddl": "TRUNCATE TABLE products",
                    "ts_ms": 3}),
        dbz("c", {"id": 3, "name": "washer"}, ts=4),
        json.dumps({"databaseName": "inv.s", "ddl": "DROP TABLE legacy",
                    "ts_ms": 5}),
    ]
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join(lines))
    sink = MemorySink()
    pipe = StreamingPipeline.create(spark, sink, str(tmp_path / "ckpt"))
    q = pipe.start(file_stream_source(spark, src),
                   {"inv.s.products": SCHEMA, "inv.s.legacy": SCHEMA})
    q.awaitTermination(120)
    assert sink.snapshot(TID) == ["3, washer"]
    assert t2 not in sink.state


#: one record routed to (db "inv", table "t") per serialization
ROUTED = {
    "debezium-json": {"op": "c", "after": {"id": 1},
                      "source": {"db": "inv", "table": "t"}},
    "canal-json": {"type": "INSERT", "database": "inv", "table": "t",
                   "data": [{"id": 1}]},
    "sqlserver-cdc-json": {"db": "inv", "table": "t", "row": {"id": 1}},
    "db2-cdc-json": {"db": "inv", "table": "t", "row": {"id": 1}},
    "vitess-json": {"op": "c", "after": {"id": 1},
                    "source": {"keyspace": "inv", "table": "t"}},
    "mongodb-json": {"operationType": "insert", "fullDocument": {"id": 1},
                     "ns": {"db": "inv", "coll": "t"}, "documentKey": {"id": 1}},
}


@pytest.mark.parametrize("serialization", sorted(ENVELOPES))
def test_micro_batch_single_pass_enrichment(spark, serialization):
    """The micro-batch loop must parse each raw JSON row ONCE: enrich_batch
    materializes the __is_ddl flag and (db, table) routing columns into the
    persisted projection, so the DDL collect and every per-table slice are
    cached-column filters — no get_json_object re-evaluation per slice."""
    from pyspark.sql import functions as F

    raw = spark.createDataFrame(
        [('{"ddl": "ALTER TABLE t ADD c INT", "ts_ms": 5}',),
         (json.dumps(ROUTED[serialization]),)],
        "value string")
    enriched = StreamingPipeline.enrich_batch(raw, "value", serialization)
    # correctness of the single projection
    rows = {r["__is_ddl"]: (r["__src_db"], r["__src_tbl"])
            for r in enriched.collect()}
    assert rows[True] == (None, None) and rows[False] == ("inv", "t")
    enriched.persist()
    try:
        enriched.where(F.col("__is_ddl")).select("value").collect()  # fill
        slice_plan = enriched.where(
            (~F.col("__is_ddl")) & (F.col("__src_tbl") == "t")
            & (F.col("__src_db") == "inv"))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "InMemoryTableScan" in slice_plan, slice_plan
        # get_json_object may appear only in the cache-BUILD description
        # (below InMemoryRelation); the slice itself must filter cached
        # columns, not re-extract JSON
        above_cache = slice_plan.split("InMemoryRelation")[0]
        assert "get_json_object" not in above_cache, slice_plan
    finally:
        enriched.unpersist()


def _routing_records(env):
    """A well-formed record for ``env`` and adversarial twists of it: a
    missing or non-object parent of the coordinates, non-string
    coordinates, null / object / text ``ddl``, and malformed JSON."""
    def put(rec, path, value):
        *parents, leaf = path[2:].split(".")
        for part in parents:
            rec = rec.setdefault(part, {})
        rec[leaf] = value

    def record(**coords):
        rec = {}
        for path, value in coords.items():
            put(rec, path, value)
        return rec

    paths = [p for p in (env.db, env.schema, env.table) if p]
    good = {p: v for p, v in zip(paths, ("d", "s", "t"))}
    top = env.db[2:].split(".")[0]
    out = [record(**good)]
    out.append({k: v for k, v in record(**good).items() if k != top})
    for bad in (5, "str", [1, 2], None):
        out.append({**record(**good), top: bad})
    for odd in (7, 1.50, True, None, {"x": [1, {"y": 2}]}, [3, "a"]):
        out.append(record(**{**good, env.db: odd}))
        out.append(record(**{**good, env.table: odd}))
    for ddl in (None, {"stmt": "ALTER TABLE t ADD c INT"}, "ALTER TABLE t",
                "", 0, False):
        out.append({**record(**good), "ddl": ddl})
    texts = [json.dumps(r) for r in out]
    texts += [texts[0][:-1], "not json", "", "[1, 2]", "null", "7",
              texts[0] + " trailing", None]
    return texts


@pytest.mark.parametrize("serialization", sorted(ENVELOPES))
def test_routing_columns_equal_the_json_probes(spark, serialization):
    """The one-parse routing struct gives, record for record, the values
    the per-coordinate ``get_json_object`` probes gave: ``__is_ddl`` is
    "$.ddl" is set, and ``__src_db``/``__src_schema``/``__src_tbl`` are
    the raw text at the envelope's paths (null where a path is missing,
    crosses a non-object, or the record is not JSON)."""
    from pyspark.sql import functions as F

    env = ENVELOPES[serialization]
    raw = spark.createDataFrame([(t,) for t in _routing_records(env)],
                                "value string")

    def probe(path):
        return (F.get_json_object("value", path) if path
                else F.lit(None).cast("string"))
    got = StreamingPipeline.enrich_batch(raw, "value", serialization).select(
        "value", "__is_ddl", "__src_db", "__src_schema", "__src_tbl",
        probe("$.ddl").isNotNull().alias("o_ddl"), probe(env.db).alias("o_db"),
        probe(env.schema).alias("o_schema"), probe(env.table).alias("o_tbl"))
    rows = got.collect()
    assert len(rows) > 30
    for r in rows:
        assert (r["__is_ddl"], r["__src_db"], r["__src_schema"],
                r["__src_tbl"]) == (r["o_ddl"], r["o_db"], r["o_schema"],
                                    r["o_tbl"]), r["value"]
