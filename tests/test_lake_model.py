"""Model-based randomized lifecycle test for the lake sink's SHARDED
manifest: random sequences of churn commits / rollbacks / compactions /
vacuums against a plain-Python model of the table state and its history.
Catches shard carry-forward bugs (a stale ref after rollback, a dropped
group after a bucket empties, a vacuumed live shard) that single-path
tests can miss.  Deterministic seeds instead of hypothesis: each example
costs several Spark jobs."""

import os
import random

import pytest
from pyspark.sql import functions as F

from source_flink_cdc_3_5_0_spark.common.events import CreateTableEvent, OP_COL
from source_flink_cdc_3_5_0_spark.common.schema import Schema
from source_flink_cdc_3_5_0_spark.common.tableid import TableId
from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
from source_flink_cdc_3_5_0_spark.sources.base import SEQ_COL

TID = TableId.parse("lake.db.model")


def _write_batch(spark, sink, schema, batch, batch_id):
    """batch: list of (key, value_or_None) — None means delete."""
    rows = [(k, v if v is not None else 0,
             "-D" if v is None else "+U", i)
            for i, (k, v) in enumerate(batch)]
    df = spark.createDataFrame(
        rows, f"k long, v long, {OP_COL} string, {SEQ_COL} long")
    sink.write(TID, df, schema, batch_id=batch_id)


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_random_lifecycle_matches_model(spark, tmp_path, seed, mode):
    rng = random.Random(seed)
    sink = SnapshotLakeSink(str(tmp_path / f"t{seed}"), num_buckets=4,
                            mode=mode, filelist_shard_span=1)
    schema = Schema.from_struct_type(
        spark.createDataFrame([], "k long, v long").schema,
        primary_keys=["k"])
    sink.metadata_applier().apply_schema_change(
        TID, CreateTableEvent(TID, schema), schema)

    model: dict[int, int] = {}
    history: dict[int, dict[int, int]] = {}
    batch_id = 0

    def checkpoint():
        history[sink.snapshots(TID)[-1]] = dict(model)

    # initial load
    init = [(k, rng.randrange(1000)) for k in range(20)]
    _write_batch(spark, sink, schema, init, batch_id)
    batch_id += 1
    model.update(dict(init))
    checkpoint()

    def assert_state():
        got = {r["k"]: r["v"] for r in sink.read(spark, TID).collect()}
        assert got == model

    n_ops = 8
    for _ in range(n_ops):
        op = rng.choice(["churn", "churn", "churn", "rollback",
                         "compact", "vacuum"])
        if op == "churn":
            batch = []
            for _ in range(rng.randrange(1, 6)):
                k = rng.randrange(25)
                if rng.random() < 0.25:
                    batch.append((k, None))
                else:
                    batch.append((k, rng.randrange(1000)))
            _write_batch(spark, sink, schema, batch, batch_id)
            batch_id += 1
            # per-key LAST event wins (latest_image collapses by __seq)
            final: dict[int, int | None] = {}
            for k, v in batch:
                final[k] = v
            for k, v in final.items():
                if v is None:
                    model.pop(k, None)
                else:
                    model[k] = v
            checkpoint()
        elif op == "rollback":
            seqs = [s for s in sink.snapshots(TID) if s in history]
            target = rng.choice(seqs)
            sink.rollback(TID, target)
            model = dict(history[target])
            checkpoint()
        elif op == "compact":
            sink.compact(spark, TID)
            checkpoint()
        else:
            # keep every snapshot that history still references alive by
            # keeping them all — vacuum here only reaps orphaned shards
            sink.vacuum(TID, keep_last=len(sink.snapshots(TID)))
        assert_state()

    # cold reader: fresh sink instance, empty caches, same state
    cold = SnapshotLakeSink.for_table(sink.root, TID)
    got = {r["k"]: r["v"] for r in cold.read(spark, TID).collect()}
    assert got == model
    # every snapshot in history still time-travels to its recorded state
    for s, st in history.items():
        got = {r["k"]: r["v"]
               for r in sink.read(spark, TID, snapshot=s).collect()}
        assert got == st, f"snapshot {s}"
    # point lookups agree with the model through shard-pruned resolution
    for k in list(model)[:3]:
        rows = sink.read(spark, TID, filters=[("k", "=", k)]).collect()
        assert {r["k"]: r["v"] for r in rows} == {k: model[k]}


def test_truncate_replay_does_not_wipe_post_truncate_rows(spark, tmp_path):
    """Round-9 review (data loss): a redelivered micro-batch containing
    TRUNCATE + later rows skipped the rows (batch markers) but re-ran
    the truncate unconditionally — committing a fresh empty snapshot
    that erased the tail the first delivery had landed. The truncate
    now replays idempotently under the same batch_ctx contract the DDL
    spool uses (per-delivery ordinal via begin_batch + durable
    applied-count)."""
    from source_flink_cdc_3_5_0_spark.common.events import \
        TruncateTableEvent

    sink = SnapshotLakeSink(str(tmp_path / "t"), num_buckets=2, mode="mor")
    schema = Schema.from_struct_type(
        spark.createDataFrame([], "k long, v long").schema,
        primary_keys=["k"])
    sink.metadata_applier().apply_schema_change(
        TID, CreateTableEvent(TID, schema), schema)

    def deliver():
        """One delivery pass of micro-batch 7: pre-truncate segment,
        the truncate, post-truncate segment — the runner's exact
        order."""
        sink.begin_batch(7)
        _write_batch(spark, sink, schema, [(1, 10), (2, 20)], "7s0")
        app = sink.metadata_applier()
        app.batch_ctx = 7
        app.apply_schema_change(TID, TruncateTableEvent(TID), schema)
        _write_batch(spark, sink, schema, [(3, 30)], "7s1")

    deliver()
    want = {(3, 30)}
    got = {(r["k"], r["v"]) for r in sink.read(spark, TID).collect()}
    assert got == want
    deliver()  # same-process re-delivery: everything must be a no-op
    got = {(r["k"], r["v"]) for r in sink.read(spark, TID).collect()}
    assert got == want, "replayed truncate wiped the post-truncate rows"
    # two truncates in ONE batch still both apply on a fresh delivery
    sink.begin_batch(8)
    app = sink.metadata_applier()
    app.batch_ctx = 8
    _write_batch(spark, sink, schema, [(4, 40)], "8s0")
    app.apply_schema_change(TID, TruncateTableEvent(TID), schema)
    _write_batch(spark, sink, schema, [(5, 50)], "8s1")
    app2 = sink.metadata_applier()
    app2.batch_ctx = 8
    app2.apply_schema_change(TID, TruncateTableEvent(TID), schema)
    got = {(r["k"], r["v"]) for r in sink.read(spark, TID).collect()}
    assert got == set(), got


def test_concurrent_writer_files_never_absorbed(spark, tmp_path):
    """Round-9 review: bucket bookkeeping used a before/after directory
    diff, so a concurrent writer's part files landing between the list
    and the re-list were absorbed into THIS commit's manifest
    (duplicating rows). The staged-write protocol records exactly the
    files this writer moved — a foreign file planted in the bucket dir
    mid-commit must NOT appear in the new manifest."""
    import os

    sink = SnapshotLakeSink(str(tmp_path / "t"), num_buckets=2)
    schema = Schema.from_struct_type(
        spark.createDataFrame([], "k long, v long").schema,
        primary_keys=["k"])
    sink.metadata_applier().apply_schema_change(
        TID, CreateTableEvent(TID, schema), schema)
    _write_batch(spark, sink, schema, [(1, 10), (2, 20)], 0)
    # plant a foreign parquet (another writer's in-flight file) into a
    # bucket dir, then commit churn touching that bucket
    from source_flink_cdc_3_5_0_spark.operators.partitioning import \
        portable_bucket_py

    b = portable_bucket_py(1, 2)
    bdir = os.path.join(sink._data_dir(TID), f"__bucket={b}")
    foreign = os.path.join(bdir, "part-foreign-XYZ.parquet")
    spark.createDataFrame([(99, 990)], "k long, v long") \
        .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "f"))
    src_part = next(str(p) for p in (tmp_path / "f").glob("*.parquet"))
    os.makedirs(bdir, exist_ok=True)
    os.link(src_part, foreign)
    _write_batch(spark, sink, schema, [(1, 11)], 1)
    m = sink._manifest(TID)
    all_files = [f for fs in m["buckets"].values() for f in fs]
    assert "part-foreign-XYZ.parquet" not in " ".join(all_files)
    got = {(r["k"], r["v"]) for r in sink.read(spark, TID).collect()}
    assert got == {(1, 11), (2, 20)}  # no absorbed duplicate rows


# -- schema evolution under the declared-schema scan -----------------------

def _evolve(sink, schema, event):
    from source_flink_cdc_3_5_0_spark.operators.schema_evolution import \
        apply_schema_change_event

    evolved = apply_schema_change_event(schema, event)
    sink.metadata_applier().apply_schema_change(TID, event, evolved)
    return evolved


def _typed_batch(spark, schema, rows):
    """rows: (k, v, ...) images upserted as +U, typed by ``schema``."""
    ddl = ", ".join(f"{c.name} {c.data_type.simpleString()}"
                    for c in schema.columns)
    df = spark.createDataFrame(rows, ddl)
    return df.select("*", F.lit("+U").alias(OP_COL),
                     F.lit(0).cast("bigint").alias(SEQ_COL))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_int_to_bigint_widening_then_upsert(spark, tmp_path, mode):
    """After v: INT -> BIGINT and one more write, older files hold an INT
    column and newer ones a BIGINT column. A read must widen the old
    files instead of refusing to merge the two footers."""
    import pyspark.sql.types as T

    from source_flink_cdc_3_5_0_spark.common.events import \
        AlterColumnTypeEvent

    sink = SnapshotLakeSink(str(tmp_path / mode), num_buckets=4, mode=mode)
    schema = Schema.from_struct_type(
        spark.createDataFrame([], "k long, v int").schema, primary_keys=["k"])
    sink.metadata_applier().apply_schema_change(
        TID, CreateTableEvent(TID, schema), schema)
    sink.write(TID, _typed_batch(spark, schema,
                                 [(k, k * 10) for k in range(1, 9)]),
               schema, batch_id=0)
    schema = _evolve(sink, schema, AlterColumnTypeEvent(
        TID, (("v", T.LongType()),)))
    big = 1 << 40
    sink.write(TID, _typed_batch(spark, schema, [(1, big), (9, big + 9)]),
               schema, batch_id=1)
    got = sink.read(spark, TID)
    assert dict(got.dtypes)["v"] == "bigint"
    want = {k: k * 10 for k in range(2, 9)} | {1: big, 9: big + 9}
    assert {r["k"]: r["v"] for r in got.collect()} == want


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_added_column_default_survives_next_write(spark, tmp_path, mode):
    """Flink CDC ADD COLUMN ... DEFAULT: rows written before the ADD read
    the default, rows written after it read their own value (NULL
    included) — also after a later write puts the column into some files
    and, on copy-on-write, rewrites the old rows' buckets."""
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    from source_flink_cdc_3_5_0_spark.common.events import AddColumnEvent
    from source_flink_cdc_3_5_0_spark.common.schema import Column

    sink = SnapshotLakeSink(str(tmp_path / mode), num_buckets=2, mode=mode)
    schema = Schema.from_struct_type(
        spark.createDataFrame([], "k long, v long").schema, primary_keys=["k"])
    sink.metadata_applier().apply_schema_change(
        TID, CreateTableEvent(TID, schema), schema)
    sink.write(TID, _typed_batch(spark, schema,
                                 [(k, k * 10) for k in range(1, 7)]),
               schema, batch_id=0)
    schema = _evolve(sink, schema, AddColumnEvent.last(
        TID, Column("c", T.StringType(), default_expr="'dflt'")))

    def state():
        return {r["k"]: (r["v"], r["c"])
                for r in sink.read(spark, TID).collect()}

    before = {k: (k * 10, "dflt") for k in range(1, 7)}
    assert state() == before
    sink.write(TID, _typed_batch(spark, schema,
                                 [(1, 11, "own"), (7, 70, None)]),
               schema, batch_id=1)
    assert state() == before | {1: (11, "own"), 7: (70, None)}
    if mode == "cow":
        # the bucket rewrite read the old rows through the default, so
        # the rewritten files hold it as data
        rewritten = [os.path.join(sink._data_dir(TID), p)
                     for fs in sink._manifest(TID)["buckets"].values()
                     for p in fs]
        for path in rewritten:
            t = pq.read_table(path).to_pydict()
            if "c" in t:
                assert all(c == "dflt" for k, c in zip(t["k"], t["c"])
                           if 2 <= k <= 6), (path, t)



def test_non_constant_default_reads_null_for_older_rows(spark, tmp_path):
    """A default Spark cannot fold to a constant (MySQL's
    ``CURRENT_TIMESTAMP(6)`` as the DDL parser keeps it) cannot be read
    into files that lack the column: older rows read NULL, and the table
    stays readable."""
    import pyspark.sql.types as T

    from source_flink_cdc_3_5_0_spark.common.events import AddColumnEvent
    from source_flink_cdc_3_5_0_spark.common.schema import Column

    sink = SnapshotLakeSink(str(tmp_path / "t"), num_buckets=2, mode="mor")
    schema = Schema.from_struct_type(
        spark.createDataFrame([], "k long, v long").schema, primary_keys=["k"])
    sink.metadata_applier().apply_schema_change(
        TID, CreateTableEvent(TID, schema), schema)
    _write_batch(spark, sink, schema, [(1, 10), (2, 20)], 0)
    _evolve(sink, schema, AddColumnEvent.last(
        TID, Column("ts", T.TimestampType(),
                    default_expr="CURRENT_TIMESTAMP(6)")))
    got = {r["k"]: r["ts"] for r in sink.read(spark, TID).collect()}
    assert got == {1: None, 2: None}

def test_reads_start_no_planning_job(spark, tmp_path):
    """A read plans from the manifest and the sidecar alone: building the
    read() and read_changes() frames of a MoR table with more live files
    than Spark's stock parallel-listing threshold (32) starts no Spark
    job — neither a file-listing job nor a footer schema merge — in a
    session carrying the engine's confs."""
    from source_flink_cdc_3_5_0_spark.common.session import \
        apply_engine_confs

    class _LiveConf:  # a Builder's config() onto a running session
        def __init__(self, session):
            self.session = session

        def config(self, k, v):
            # the Python-worker confs belong to the SparkContext, fixed
            # when it starts; only the SQL confs apply to a live session
            if k.startswith("spark.sql."):
                self.session.conf.set(k, v)
            return self

    sink = SnapshotLakeSink(str(tmp_path / "mor"), num_buckets=8, mode="mor")
    schema = Schema.from_struct_type(
        spark.createDataFrame([], "k long, v long").schema, primary_keys=["k"])
    sink.metadata_applier().apply_schema_change(
        TID, CreateTableEvent(TID, schema), schema)
    for b in range(5):
        _write_batch(spark, sink, schema,
                     [(k, b * 100 + k) for k in range(64)], b)
    deltas = sink._manifest(TID)["deltas"]
    assert sum(len(fs) for fs in deltas.values()) > 32
    first, last = sink.snapshots(TID)[0], sink.snapshots(TID)[-1]

    session = apply_engine_confs(_LiveConf(spark.newSession())).session
    sc = spark.sparkContext
    group = f"lake-plan-{tmp_path.name}"
    sc.setJobGroup(group, "build lake read frames")
    try:
        frames = [sink.read(session, TID),
                  sink.read(session, TID, filters=[("k", "=", 3)]),
                  sink.read_changes(session, TID, first),
                  sink.read_changes(session, TID, last)]
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert {r["k"]: r["v"] for r in frames[0].collect()} == \
        {k: 400 + k for k in range(64)}
    assert [r["v"] for r in frames[1].collect()] == [403]
    assert frames[2].count() == 4 * 64
    assert frames[3].count() == 0
