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
    schema_event_to_json,
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


def test_event_json_roundtrip():
    evs = [
        CreateTableEvent(TID, SCHEMA),
        AddColumnEvent.last(TID, Column("color", T.StringType())),
    ]
    for ev in evs:
        back = schema_event_from_json(schema_event_to_json(ev))
        assert type(back) is type(ev)
        assert back.table_id == TID
    ct = schema_event_from_json(schema_event_to_json(evs[0]))
    assert ct.schema.primary_keys == ("id",)
    assert ct.schema.get_column("id").data_type == T.LongType()


def test_inflight_ddl_evolves_stream(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    # batch 1: two inserts; then DDL adds 'color'; then a row with color
    lines = [
        dbz("c", {"id": 1, "name": "bolt"}, ts=1),
        dbz("c", {"id": 2, "name": "nut"}, ts=2),
        schema_event_to_json(AddColumnEvent.last(TID, Column("color", T.StringType()))),
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
