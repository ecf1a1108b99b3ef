"""The upsert table every ``path``-backed sink builds (``type: parquet``
and the lake/OLAP stand-ins without ``snapshots: true``): a copy-on-write
lake table that keeps one snapshot.  Merge semantics, partition pruning,
delete-only buckets, replay idempotence, PK-less appends, and plain
``data/`` readers."""

import json
import os

import pytest
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.common import (
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
)
from source_flink_cdc_3_5_0_spark.common.events import OP_COL
from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline
from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource
from source_flink_cdc_3_5_0_spark.streaming.runner import (
    StreamingPipeline,
    file_stream_source,
)

TBL = TableId.parse("a.b.t")
SCHEMA = Schema.of(
    Column("id", T.IntegerType(), False),
    Column("v", T.StringType()),
    primary_keys=["id"],
)


def _sink(root, num_buckets):
    """The composer's ``type: parquet`` table at a chosen bucket count."""
    return SnapshotLakeSink(str(root), num_buckets=num_buckets, keep_last=1)


def run(spark, sink, events):
    pdef = parse_yaml_pipeline("source: {type: values}\nsink: {type: values}\n")
    PipelineComposer(spark).compose(pdef, source=ValuesSource(events), sink=sink).run()


def test_upsert_delete_and_bucketing(spark, tmp_path):
    sink = _sink(tmp_path, 4)
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
    sink = _sink(tmp_path, 2)
    run(spark, sink, [
        CreateTableEvent(TBL, SCHEMA),
        DataChangeEvent.insert(TBL, (1, "a")),
        DataChangeEvent.insert(TBL, (2, "b")),
    ])
    # second pipeline run: delete ALL keys of one bucket
    sink2 = _sink(tmp_path, 2)
    run(spark, sink2, [
        CreateTableEvent(TBL, SCHEMA),
        DataChangeEvent.delete(TBL, (1, "a")),
        DataChangeEvent.delete(TBL, (2, "b")),
    ])
    assert sink2.read(spark, TBL).count() == 0


def test_merge_only_reads_touched_buckets(spark, tmp_path):
    sink = _sink(tmp_path, 8)
    run(spark, sink, [
        CreateTableEvent(TBL, SCHEMA),
        *[DataChangeEvent.insert(TBL, (i, f"v{i}")) for i in range(1, 40)],
    ])
    data_dir = os.path.join(str(tmp_path), "a.b.t", "data")
    before = {d: os.path.getmtime(os.path.join(data_dir, d))
              for d in os.listdir(data_dir) if d.startswith("__bucket=")}
    # update one key -> exactly one bucket dir should change
    sink2 = _sink(tmp_path, 8)
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
    sink = _sink(tmp_path, 4)
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
    run(spark, _sink(tmp_path, 4), [
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
    sink = _sink(tmp_path, 4)
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
    """Long-CDC-run maintenance: 50 upsert batches must leave ONE file per
    bucket WITHOUT any compaction (each write repartitions by bucket, a
    copy-on-write commit replaces touched buckets wholesale, and the
    one-snapshot vacuum removes the replaced files).  A clustered
    compaction fragments the buckets through the manifest, and a plain
    compact() rewrites them back to one file each; neither changes query
    results."""
    from source_flink_cdc_3_5_0_spark.sources.base import OP_COL, SEQ_COL, attach_envelope

    sink = _sink(tmp_path, 4)
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

    # fragment the buckets through the manifest: a clustered rewrite
    # range-splits each bucket into up to 3 files
    sink.compact(spark, TBL, order_by=["id"], files_per_bucket=3)
    assert max(files_per_bucket().values()) > 1
    assert {r["id"]: r["v"] for r in sink.read(spark, TBL).collect()} == expected

    sink.compact(spark, TBL)
    assert max(files_per_bucket().values()) <= 1
    assert {r["id"]: r["v"] for r in sink.read(spark, TBL).collect()} == expected
    # upserts keep working on compacted buckets
    chg = spark.createDataFrame([(0, "post-compact", "+U", 99)], chg_st)
    sink.write(TBL, chg, SCHEMA, batch_id=99)
    assert {r["id"]: r["v"] for r in sink.read(spark, TBL).collect()}[0] == "post-compact"


def test_preserves_new_column_after_evolution(spark, tmp_path):
    """The merge must project onto the evolved schema, not the columns of
    the files already written, or newly added columns lose their data."""
    from source_flink_cdc_3_5_0_spark.common import AddColumnEvent

    run(spark, _sink(tmp_path, 2), [
        CreateTableEvent(TBL, SCHEMA),
        DataChangeEvent.insert(TBL, (1, "a")),
        DataChangeEvent.insert(TBL, (2, "b")),
    ])
    sink2 = _sink(tmp_path, 2)
    run(spark, sink2, [
        CreateTableEvent(TBL, SCHEMA),
        AddColumnEvent.last(TBL, Column("extra", T.StringType())),
        DataChangeEvent.insert(TBL, (3, "c", "X")),
        DataChangeEvent.update(TBL, (1, "a", None), (1, "a2", "Y")),
    ])
    got = {r["id"]: (r["v"], r["extra"]) for r in sink2.read(spark, TBL).collect()}
    assert got == {1: ("a2", "Y"), 2: ("b", None), 3: ("c", "X")}


def test_string_pk_buckets(spark, tmp_path):
    """String PKs hash into buckets: casting them to bigint would give NULL
    and put every row in bucket 0."""
    schema = Schema.of(Column("k", T.StringType(), False), Column("v", T.IntegerType()),
                       primary_keys=["k"])
    sink = _sink(tmp_path, 8)
    run(spark, sink, [CreateTableEvent(TBL, schema)] +
        [DataChangeEvent.insert(TBL, (f"user_{i}", i)) for i in range(40)])
    data_dir = os.path.join(str(tmp_path), "a.b.t", "data")
    buckets = [d for d in os.listdir(data_dir) if d.startswith("__bucket=")]
    assert len(buckets) > 1, "string PKs must spread across buckets"
    assert sink.read(spark, TBL).count() == 40


PKLESS = Schema.of(Column("id", T.IntegerType(), False),
                   Column("v", T.StringType()))  # no primary keys


def test_pkless_changelog_append_drops_delete_images(spark, tmp_path):
    """A PK-less table receiving changelog rows appends them, but must not
    append -D/-U before-images as live data."""
    sink = _sink(tmp_path, 2)
    df = spark.createDataFrame(
        [(1, "a", "+I"), (2, "b", "+I"), (1, "a", "-D"), (3, "c", "-U")],
        "id INT, v STRING, __op STRING")
    sink.write(TBL, df, PKLESS, batch_id=0)
    sink.write(TBL, df, PKLESS, batch_id=0)  # replay: marker no-ops it
    later = spark.createDataFrame([(1, "a", "+I")],
                                  "id INT, v STRING, __op STRING")
    sink.write(TBL, later, PKLESS, batch_id=1)  # appends, no key to merge
    out = sink.read(spark, TBL)
    rows = sorted((r["id"], r["v"]) for r in out.collect())
    assert rows == [(1, "a"), (1, "a"), (2, "b")]
    assert OP_COL not in out.columns


def test_pkless_table_refused_by_merge_on_read(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", "+I")], "id INT, v STRING, __op STRING")
    with pytest.raises(ValueError, match="merge-on-read.*primary keys"):
        SnapshotLakeSink(str(tmp_path), mode="mor").write(TBL, df, PKLESS, 0)


def _dbz(table, op, after=None, ts=0):
    return json.dumps({"before": None, "after": after, "op": op, "ts_ms": ts,
                       "source": {"db": "inv", "schema": "s", "table": table}})


def test_pkless_snapshot_stream_stitch_no_duplicates(spark, tmp_path):
    """HybridSplitAssigner.java:53-110: PK-less tables must not duplicate
    rows in the snapshot/stream overlap — the snapshot's high watermark
    filters already-reflected stream records."""
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    tid = TableId.parse("inv.s.logs")
    schema = Schema.of(Column("id", T.LongType(), False),
                       Column("name", T.StringType()))  # NO primary key
    snap = spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, name STRING")
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            # ts 5 <= watermark 10: already in the snapshot (the overlap)
            _dbz("logs", "c", {"id": 2, "name": "b"}, ts=5),
            # ts 20 > watermark: genuinely new
            _dbz("logs", "c", {"id": 3, "name": "c"}, ts=20),
        ]))
    sink = _sink(tmp_path / "out", 2)
    pipe = StreamingPipeline.create(spark, sink, ckpt)
    pipe.register_table(tid, schema)
    pipe.initial_load({"inv.s.logs": snap}, stream_watermarks={"inv.s.logs": 10})
    q = pipe.start(file_stream_source(spark, src), {"inv.s.logs": schema})
    q.awaitTermination(120)
    rows = sorted((r["id"], r["name"]) for r in sink.read(spark, tid).collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]  # no duplicate of id=2


def test_legacy_bucket_swap_layout_refused_by_name(spark, tmp_path):
    """A table directory holding bucket files but no _snapshots/ was
    written by the retired bucket-swap sink.  It would read as empty and
    vacuum would later delete its files, so reads and writes refuse it."""
    data = tmp_path / "a.b.t" / "data" / "__bucket=0"
    spark.createDataFrame([(1, "a")], SCHEMA.struct_type()) \
        .write.parquet(str(data))
    sink = _sink(tmp_path, 4)
    with pytest.raises(ValueError, match="retired parquet upsert sink"):
        sink.read(spark, TBL)
    df = spark.createDataFrame([(2, "b", "+I")], "id INT, v STRING, __op STRING")
    with pytest.raises(ValueError, match="retired parquet upsert sink"):
        sink.write(TBL, df, SCHEMA, batch_id=0)
    assert os.listdir(data)  # nothing was deleted
