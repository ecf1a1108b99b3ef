"""Regression tests for the round-1 ADVICE findings."""

import json
import os

from pyspark.sql import functions as F, types as T

from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
from source_flink_cdc_3_5_0_spark.operators.transform import PostTransform, TransformRule
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.streaming.runner import (
    StreamingPipeline,
    file_stream_source,
)

TID = TableId.parse("a.b.t")
PATTERN = "a.b.t"


def _schema(df):
    return Schema.from_struct_type(df.schema)


def test_first_match_no_duplication_across_overlapping_filters(spark):
    """ADVICE(high): a row matching several filtered rules must be emitted
    ONCE, under the FIRST rule whose filter passes
    (PostTransformOperator.processDataChangeEvent:288-331 returns on first
    pass)."""
    df = spark.createDataFrame([(1, 20), (2, 5), (3, -5)], "id INT, v INT")
    post = PostTransform([
        TransformRule(PATTERN, projection="id, v * 2 AS x", filter="v >= 10"),
        TransformRule(PATTERN, projection="id, v + 1 AS x", filter="v >= 0"),
    ])
    out = post.apply(df, TID, _schema(df))
    rows = {r["id"]: r["x"] for r in out.collect()}
    # id=1 matches BOTH filters -> one row, rule-1 projection (v*2)
    # id=2 matches only rule 2 -> v+1; id=3 matches none -> dropped
    assert rows == {1: 40, 2: 6}
    assert out.count() == 2


def test_first_match_unfiltered_rule_terminates_chain(spark):
    df = spark.createDataFrame([(1, 20), (2, 5)], "id INT, v INT")
    post = PostTransform([
        TransformRule(PATTERN, projection="id, v * 2 AS x", filter="v >= 10"),
        TransformRule(PATTERN, projection="id, v AS x"),  # no filter: catch-all
        TransformRule(PATTERN, projection="id, v + 100 AS x", filter="v >= 0"),
    ])
    out = post.apply(df, TID, _schema(df))
    rows = {r["id"]: r["x"] for r in out.collect()}
    assert rows == {1: 40, 2: 5}  # rule 3 never sees the table


def test_first_match_filter_sees_projection_aliases(spark):
    """Filter references resolve aliases-first (aliases shadow physical
    columns) in the multi-rule pass predicates too."""
    df = spark.createDataFrame([(1, 20), (2, 5)], "id INT, v INT")
    post = PostTransform([
        # alias 'v' shadows physical v: filter sees v*10
        TransformRule(PATTERN, projection="id, v * 10 AS v", filter="v >= 100"),
        TransformRule(PATTERN, projection="id, 0 - v AS v", filter="v <= 0"),
    ])
    out = post.apply(df, TID, _schema(df))
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert rows == {1: 200, 2: -5}


def _dbz(table, op, after=None, before=None, ts=0):
    return json.dumps({"before": before, "after": after, "op": op, "ts_ms": ts,
                       "source": {"db": "inv", "schema": "s", "table": table}})


def test_restart_keeps_mid_stream_discovered_tables(spark, tmp_path):
    """ADVICE(high): after a restart, tables discovered in a prior run exist
    in the restored registry but not the caller's `tables` dict — their data
    must still be decoded, not silently dropped."""
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    known = TableId.parse("inv.s.products")
    new = TableId.parse("inv.s.categories")
    schema = Schema.of(Column("id", T.LongType(), False),
                       Column("name", T.StringType()), primary_keys=["id"])

    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            _dbz("products", "c", {"id": 1, "name": "bolt"}, ts=1),
            _dbz("categories", "c", {"id": 10, "name": "tools"}, ts=2),
        ]))
    sink = MemorySink()
    pipe = StreamingPipeline.create(spark, sink, ckpt, discover_tables=True)
    q = pipe.start(file_stream_source(spark, src), {"inv.s.products": schema})
    q.awaitTermination(120)
    assert sink.row_count(new) == 1

    # restart: fresh pipeline over the same checkpoint, caller declares only
    # the originally-known table; new rows for the DISCOVERED table arrive
    with open(os.path.join(src, "b.jsonl"), "w") as f:
        f.write("\n".join([
            _dbz("categories", "c", {"id": 11, "name": "parts"}, ts=3),
        ]))
    sink2 = MemorySink()
    pipe2 = StreamingPipeline.create(spark, sink2, ckpt, discover_tables=True)
    q2 = pipe2.start(file_stream_source(spark, src), {"inv.s.products": schema})
    q2.awaitTermination(120)
    assert sink2.row_count(new) == 1  # id=11 landed, not dropped


def test_ddl_detection_is_key_order_independent(spark, tmp_path):
    """VERDICT wrong#5: DDL control records must be detected by parsed JSON,
    not a '{"ddl"' string prefix — producers may reorder keys."""
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    tid = TableId.parse("inv.s.products")
    schema = Schema.of(Column("id", T.LongType(), False),
                       Column("name", T.StringType()), primary_keys=["id"])
    # reordered keys: "comment" first, then "ddl"
    ddl_record = json.dumps({
        "comment": "x",
        "ddl": {"type": "add_column", "table": "inv.s.products",
                "columns": [{"name": "rank", "type": "BIGINT"}]},
    })
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            _dbz("products", "c", {"id": 1, "name": "bolt"}, ts=1),
            ddl_record,
            _dbz("products", "c", {"id": 2, "name": "nut", "rank": 7}, ts=2),
        ]))
    sink = MemorySink()
    pipe = StreamingPipeline.create(spark, sink, ckpt)
    q = pipe.start(file_stream_source(spark, src), {"inv.s.products": schema})
    q.awaitTermination(120)
    assert "rank" in sink.schemas[tid].column_names()
    assert sink.row_count(tid) == 2


def test_coercion_fills_declared_default_expr(spark):
    """VERDICT missing#4 (PhysicalColumn.defaultValueExpression): a missing
    column with a declared default fills with the default, not null."""
    from source_flink_cdc_3_5_0_spark.operators.schema_evolution import coercion_select

    df = spark.createDataFrame([(1,), (2,)], "id INT")
    target = Schema.of(
        Column("id", T.IntegerType(), False),
        Column("flag", T.StringType(), default_expr="'new'"),
        Column("score", T.IntegerType(), default_expr="40 + 2"),
        Column("nodefault", T.StringType()),
    )
    rows = coercion_select(df, target).collect()
    assert all(r["flag"] == "new" and r["score"] == 42 and r["nodefault"] is None
               for r in rows)
