"""Bucketed parquet upsert sink: merge semantics, partition pruning,
delete-only buckets, replay idempotence."""

import os

from pyspark.sql import Row, types as T

from source_flink_cdc_3_5_0_spark.common import (
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
)
from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline
from source_flink_cdc_3_5_0_spark.sinks.parquet_sink import ParquetUpsertSink
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource

TBL = TableId.parse("a.b.t")
SCHEMA = Schema.of(
    Column("id", T.IntegerType(), False),
    Column("v", T.StringType()),
    primary_keys=["id"],
)


def run(spark, sink, events):
    pdef = parse_yaml_pipeline("source: {type: values}\nsink: {type: values}\n")
    PipelineComposer(spark).compose(pdef, source=ValuesSource(events), sink=sink).run()


def test_upsert_delete_and_bucketing(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path), num_buckets=4)
    events = [
        CreateTableEvent(TBL, SCHEMA),
        *[DataChangeEvent.insert(TBL, (i, f"v{i}")) for i in range(1, 9)],
        DataChangeEvent.update(TBL, (3, "v3"), (3, "v3b")),
        DataChangeEvent.delete(TBL, (5, "v5")),
    ]
    run(spark, sink, events)
    got = {r["id"]: r["v"] for r in sink.read(spark, TBL).collect()}
    assert got == {1: "v1", 2: "v2", 3: "v3b", 4: "v4", 6: "v6", 7: "v7", 8: "v8"}
    # physical layout is bucket-partitioned
    data_dir = os.path.join(str(tmp_path), "a.b.t", "data")
    assert any(d.startswith("__bucket=") for d in os.listdir(data_dir))


def test_delete_only_bucket_cleared(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path), num_buckets=2)
    run(spark, sink, [
        CreateTableEvent(TBL, SCHEMA),
        DataChangeEvent.insert(TBL, (1, "a")),
        DataChangeEvent.insert(TBL, (2, "b")),
    ])
    # second pipeline run: delete ALL keys of one bucket
    sink2 = ParquetUpsertSink(str(tmp_path), num_buckets=2)
    run(spark, sink2, [
        CreateTableEvent(TBL, SCHEMA),
        DataChangeEvent.delete(TBL, (1, "a")),
        DataChangeEvent.delete(TBL, (2, "b")),
    ])
    assert sink2.read(spark, TBL).count() == 0


def test_merge_only_reads_touched_buckets(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path), num_buckets=8)
    run(spark, sink, [
        CreateTableEvent(TBL, SCHEMA),
        *[DataChangeEvent.insert(TBL, (i, f"v{i}")) for i in range(1, 40)],
    ])
    data_dir = os.path.join(str(tmp_path), "a.b.t", "data")
    before = {d: os.path.getmtime(os.path.join(data_dir, d))
              for d in os.listdir(data_dir) if d.startswith("__bucket=")}
    # update one key -> exactly one bucket dir should change
    sink2 = ParquetUpsertSink(str(tmp_path), num_buckets=8)
    run(spark, sink2, [
        CreateTableEvent(TBL, SCHEMA),
        DataChangeEvent.update(TBL, (7, "v7"), (7, "v7-new")),
    ])
    after = {d: os.path.getmtime(os.path.join(data_dir, d))
             for d in os.listdir(data_dir) if d.startswith("__bucket=")}
    changed = [d for d in before if after.get(d) != before[d]]
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"
    got = {r["id"]: r["v"] for r in sink2.read(spark, TBL).collect()}
    assert got[7] == "v7-new" and len(got) == 39


def test_int_to_bigint_widening_then_upsert(spark, tmp_path):
    """INT -> BIGINT widening leaves int files beside bigint ones: the merge
    and the read must go through the evolved schema (mergeSchema refuses to
    merge int and bigint files of one column)."""
    from source_flink_cdc_3_5_0_spark.common import AlterColumnTypeEvent

    narrow = Schema.of(Column("id", T.IntegerType(), False),
                       Column("n", T.IntegerType()), primary_keys=["id"])
    big = 1 << 40
    sink = ParquetUpsertSink(str(tmp_path), num_buckets=4)
    run(spark, sink, [
        CreateTableEvent(TBL, narrow),
        *[DataChangeEvent.insert(TBL, (i, i)) for i in range(1, 9)],
        AlterColumnTypeEvent(TBL, (("n", T.LongType()),)),
        DataChangeEvent.update(TBL, (1, 1), (1, big)),
    ])
    expect = {i: i for i in range(1, 9)} | {1: big}
    got = sink.read(spark, TBL)
    assert dict(got.dtypes)["n"] == "bigint"
    assert {r["id"]: r["n"] for r in got.collect()} == expect
    # a second run upserts every key: each merge reads int and bigint files
    wide = Schema.of(Column("id", T.IntegerType(), False),
                     Column("n", T.LongType()), primary_keys=["id"])
    run(spark, ParquetUpsertSink(str(tmp_path), num_buckets=4), [
        CreateTableEvent(TBL, wide),
        *[DataChangeEvent.update(TBL, (i, expect[i]), (i, big + i))
          for i in range(1, 9)],
    ])
    assert {r["id"]: r["n"] for r in sink.read(spark, TBL).collect()} == {
        i: big + i for i in range(1, 9)}


def test_truncate_and_drop_reach_parquet_sink(spark, tmp_path):
    """Table-level DDL forwarded by the composer: TRUNCATE clears data files
    (later inserts survive), DROP removes the table directory."""
    from source_flink_cdc_3_5_0_spark.common import DropTableEvent, TruncateTableEvent

    t2 = TableId.parse("a.b.t2")
    sink = ParquetUpsertSink(str(tmp_path), num_buckets=4)
    events = [
        CreateTableEvent(TBL, SCHEMA),
        CreateTableEvent(t2, SCHEMA),
        *[DataChangeEvent.insert(TBL, (i, f"v{i}")) for i in range(1, 5)],
        DataChangeEvent.insert(t2, (1, "x")),
        TruncateTableEvent(TBL),
        DataChangeEvent.insert(TBL, (9, "after")),
        DropTableEvent(t2),
    ]
    run(spark, sink, events)
    got = spark.read.parquet(str(tmp_path / "a.b.t" / "data")).collect()
    assert sorted((r.id, r.v) for r in got) == [(9, "after")]
    assert not os.path.exists(str(tmp_path / "a.b.t2"))


def test_many_batch_file_bound_and_compaction(spark, tmp_path):
    """Long-CDC-run maintenance (round-2 verdict #9), strengthened by the
    round-3 write-distribution fix: 50 upsert batches must leave ONE file
    per bucket WITHOUT any compaction (each write repartitions by bucket,
    and copy-on-write replaces touched buckets wholesale — no cross-batch
    accumulation). compact() still bounds legacy multi-file buckets and
    must leave query results unchanged."""
    import shutil

    from source_flink_cdc_3_5_0_spark.sources.base import OP_COL, SEQ_COL, attach_envelope

    sink = ParquetUpsertSink(str(tmp_path), num_buckets=4)
    st = SCHEMA.struct_type()
    chg_st = (SCHEMA.struct_type().add(OP_COL, T.StringType())
              .add(SEQ_COL, T.LongType()))
    # batch 0: 40-row snapshot
    snap = spark.createDataFrame([(i, f"v{i}") for i in range(40)], st)
    sink.write(TBL, attach_envelope(snap, "+I", 0), SCHEMA, batch_id=0)
    # 50 single-row update batches cycling through keys (touch all buckets)
    for b in range(1, 51):
        k = b % 40
        chg = spark.createDataFrame([(k, f"u{b}", "+U", b)], chg_st)
        sink.write(TBL, chg, SCHEMA, batch_id=b)

    data_dir = str(tmp_path / "a.b.t" / "data")

    def files_per_bucket():
        out = {}
        for d in os.listdir(data_dir):
            if d.startswith("__bucket="):
                out[d] = len([f for f in os.listdir(os.path.join(data_dir, d))
                              if f.endswith(".parquet")])
        return out

    # the invariant the write distribution guarantees: bounded WITHOUT
    # compaction, after 51 batches
    assert max(files_per_bucket().values()) == 1
    expected = {r["id"]: r["v"] for r in sink.read(spark, TBL).collect()}
    assert len(expected) == 40
    # last writer wins per key: key k was updated at batches {b : b%40==k}
    for k in range(40):
        bs = [b for b in range(1, 51) if b % 40 == k]
        assert expected[k] == (f"u{max(bs)}" if bs else f"v{k}")

    # fragment one bucket by hand (legacy layout / larger target) and
    # verify compact() rewrites it down without changing results
    frag = next(d for d in sorted(os.listdir(data_dir))
                if d.startswith("__bucket="))
    frag_dir = os.path.join(data_dir, frag)
    tmp = frag_dir + ".split"
    spark.read.parquet(frag_dir).repartition(3).write.parquet(tmp)
    shutil.rmtree(frag_dir)
    os.rename(tmp, frag_dir)
    assert files_per_bucket()[frag] > 1
    assert {r["id"]: r["v"] for r in sink.read(spark, TBL).collect()} == expected

    sink.compact(spark, TBL)
    assert max(files_per_bucket().values()) <= 1
    assert {r["id"]: r["v"] for r in sink.read(spark, TBL).collect()} == expected
    # upserts keep working on compacted buckets
    chg = spark.createDataFrame([(0, "post-compact", "+U", 99)], chg_st)
    sink.write(TBL, chg, SCHEMA, batch_id=99)
    assert {r["id"]: r["v"] for r in sink.read(spark, TBL).collect()}[0] == "post-compact"
