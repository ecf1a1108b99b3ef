"""Differential sink testing: seeded-random changelog scripts through
every stateful sink (memory golden, lake cow, lake mor, jdbc/sqlite),
asserting the IDENTICAL final state. Complements the fixed conformance
script with randomized op interleavings, replays and truncates — the
cheap cross-engine analog of the reference's e2e matrix.  One more input
routes two source tables into one sink table (an N:1 route) through the
pipeline, then replays the run.  The crash cases fail one control-file
write, or the first or second move of a data publish, mid-script and
restart from the same directory; the truncate case re-delivers a batch that TRUNCATEs
and then inserts."""

import os
import random
import re

import pytest
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.common import (
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
    atomic,
)
from source_flink_cdc_3_5_0_spark.common.events import TruncateTableEvent
from source_flink_cdc_3_5_0_spark.operators.partitioning import \
    portable_bucket_py
from source_flink_cdc_3_5_0_spark.pipeline import (PipelineComposer,
                                                   parse_yaml_pipeline)
from source_flink_cdc_3_5_0_spark.sinks.jdbc_sink import JdbcUpsertSink
from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource

TID = TableId.parse("diff.db.t")
SCHEMA = Schema.of(Column("id", T.IntegerType(), False),
                   Column("v", T.StringType()),
                   Column("n", T.LongType()),
                   primary_keys=["id"])
NOPK_SCHEMA = Schema.of(*SCHEMA.columns)


def _script(seed, n_batches=4, ops_per_batch=8):
    """Deterministic random script: batches of insert/update/delete over a
    small key space (forced collisions), one mid-script TRUNCATE, one
    replayed batch."""
    rng = random.Random(seed)
    state = {}
    batches = []
    truncate_before = rng.randrange(1, n_batches)
    for b in range(n_batches):
        if b == truncate_before:
            batches.append(("truncate", None))
            state.clear()
        events = []
        for i in range(ops_per_batch):
            k = rng.randrange(12)
            kind = rng.random()
            if k in state and kind < 0.3:
                events.append(DataChangeEvent.delete(TID, state.pop(k)))
            elif k in state and kind < 0.65:
                old = state[k]
                new = (k, f"v{b}.{i}", rng.randrange(1000))
                state[k] = new
                events.append(DataChangeEvent.update(TID, old, new))
            elif k not in state:
                row = (k, f"i{b}.{i}", rng.randrange(1000))
                state[k] = row
                events.append(DataChangeEvent.insert(TID, row))
            elif k in state:
                # upsert-style re-insert of an existing key: model as update
                old = state[k]
                new = (k, f"r{b}.{i}", rng.randrange(1000))
                state[k] = new
                events.append(DataChangeEvent.update(TID, old, new))
        batches.append(("data", events))
    n_data = sum(1 for kind, _ in batches if kind == "data")
    replay_at = rng.randrange(n_data)  # bid counts DATA batches only
    return batches, replay_at, set(state.values())


def _batch_df(spark, schema, events):
    """One script batch as a changelog frame, sequenced in script order."""
    seq = [DataChangeEvent(e.table_id, e.op, e.before, e.after,
                           e.meta + (("__seq", str(i)),))
           for i, e in enumerate(events)]
    return ValuesSource._to_df(spark, schema, seq)


def _drive(spark, sink, batches, replay_at, schema=SCHEMA):
    ap = sink.metadata_applier()
    ap.apply_schema_change(TID, CreateTableEvent(TID, schema), schema)
    bid = 0
    for kind, events in batches:
        if kind == "truncate":
            ap.apply_schema_change(TID, TruncateTableEvent(TID), schema)
            continue
        df = _batch_df(spark, schema, events)
        sink.write(TID, df, schema, batch_id=bid)
        if bid == replay_at:
            sink.write(TID, df, schema, batch_id=bid)  # replay no-op
        bid += 1


def _append_input():
    """Three insert-only batches for a table without a primary key, which
    the lake sink appends: a batch applied twice shows as duplicate rows
    (a set comparison would hide them)."""
    batches = [("data", [DataChangeEvent.insert(TID, (b * 10 + i, f"a{b}", b))
                         for i in range(n)])
               for b, n in enumerate((2, 3, 2))]
    return batches, 0, sorted(e.after for _, evs in batches for e in evs)


def _random_input(seed):
    batches, replay_at, expected = _script(seed)
    return (lambda spark, sink: _drive(spark, sink, batches, replay_at),
            expected)


def _n_to_1_input():
    """diff.db.t_1 and diff.db.t_2 both route to TID and change in ONE
    batch; the whole run is then replayed under the same run id, so every
    data marker it wrote must skip its write again."""
    srcs = [TableId.parse("diff.db.t_1"), TableId.parse("diff.db.t_2")]
    events = [CreateTableEvent(t, SCHEMA) for t in srcs]
    expected = set()
    for k in range(8):
        row = (k, f"s{k % 2}", k * 10)
        events.append(DataChangeEvent.insert(srcs[k % 2], row))
        expected.add(row)
    events.append(DataChangeEvent.update(srcs[1], (3, "s1", 30),
                                         (3, "s1b", 31)))
    events.append(DataChangeEvent.delete(srcs[0], (4, "s0", 40)))
    expected -= {(3, "s1", 30), (4, "s0", 40)}
    expected.add((3, "s1b", 31))
    pdef = parse_yaml_pipeline(
        "source: {type: values}\nsink: {type: values}\nroute:\n"
        "  - source-table: diff.db.t_\\.*\n    sink-table: diff.db.t\n")

    def drive(spark, sink):
        exe = PipelineComposer(spark).compose(
            pdef, source=ValuesSource(events), sink=sink)
        exe.run()
        exe.batches_run = 0
        exe.run()  # replay
    return drive, expected


def _state_memory(sink, spark):
    return {(r["id"], r["v"], r["n"]) for r in sink.state[TID].values()}


def _state_read(sink, spark):
    return {(r["id"], r["v"], r["n"])
            for r in sink.read(spark, TID).collect()}


def _rows_read(sink, spark):
    return sorted((r["id"], r["v"], r["n"])
                  for r in sink.read(spark, TID).collect())


def _state_jdbc(sink, spark):
    return {(r["id"], r["v"], r["n"])
            for r in sink.read(spark, TID, SCHEMA).collect()}


@pytest.mark.parametrize("script", [7, 23, 91, "n_to_1"])
def test_all_sinks_agree_on_random_scripts(spark, tmp_path, script):
    drive, expected = (_n_to_1_input() if script == "n_to_1"
                       else _random_input(script))
    sinks = {
        "memory": (MemorySink(), _state_memory),
        "lake_cow": (SnapshotLakeSink(str(tmp_path / "cow"), num_buckets=3),
                     _state_read),
        "lake_mor": (SnapshotLakeSink(str(tmp_path / "mor"), num_buckets=3,
                                      mode="mor"), _state_read),
        "jdbc": (JdbcUpsertSink(str(tmp_path / "s.db")), _state_jdbc),
    }
    got = {}
    for name, (sink, reader) in sinks.items():
        drive(spark, sink)
        got[name] = reader(sink, spark)
    assert got["memory"] == expected, "python-model mismatch"
    for name, st in got.items():
        assert st == expected, (name, st ^ expected)


def _composer_sink(sink_type):
    """The sink the pipeline composer builds for ``type: <sink_type>`` with
    a ``path`` (and no other option) under ``root``."""
    def make(root):
        return PipelineComposer(None)._create_sink(parse_yaml_pipeline(
            f"source: {{type: values}}\n"
            f"sink: {{type: {sink_type}, path: '{root}'}}\n"))
    return make


CRASH_SINKS = {
    "parquet": _composer_sink("parquet"),
    "lake_cow": lambda root: SnapshotLakeSink(root, num_buckets=3),
    "lake_mor": lambda root: SnapshotLakeSink(root, num_buckets=3,
                                              mode="mor"),
}


def _control_kind(path):
    """A lake manifest part is named by its directory; anything else by
    its name without digits (``_batch_`` for every replay marker)."""
    parent = os.path.basename(os.path.dirname(path))
    if parent in ("_stats", "_filelists", "_snapshots"):
        return parent
    return re.sub(r"\d+", "", os.path.basename(path))


@pytest.mark.parametrize("sink_name,kind", [
    ("parquet", "_stats"), ("parquet", "_filelists"),
    ("parquet", "_snapshots"), ("parquet", "_batch_"),
    ("lake_cow", "_stats"), ("lake_cow", "_filelists"),
    ("lake_cow", "_snapshots"), ("lake_cow", "_batch_"),
    ("lake_mor", "_filelists"), ("lake_mor", "_snapshots"),
    ("lake_mor", "_batch_"), ("lake_cow_nopk", "_batch_"),
])
def test_crash_at_control_write_then_redrive_converges(
        spark, tmp_path, monkeypatch, sink_name, kind):
    """The seed-7 script crashes at the first control-file write of one
    kind at or after batch 1; a fresh sink then re-drives the whole
    script against the same directory and must end in the crash-free
    state.  ``lake_cow_nopk`` appends to a table without a primary key,
    where a crash between the commit and its replay marker must not
    apply the batch twice on the re-drive."""
    nopk = sink_name == "lake_cow_nopk"
    batches, replay_at, expected = _append_input() if nopk else _script(7)
    schema, read = (NOPK_SCHEMA, _rows_read) if nopk else (SCHEMA,
                                                           _state_read)
    root = str(tmp_path / sink_name)
    sink = CRASH_SINKS["lake_cow" if nopk else sink_name](root)
    current, fired = [-1], []
    real_write, real_publish = sink.write, atomic._publish

    def write(tid, df, schema, batch_id):
        current[0] = batch_id
        real_write(tid, df, schema, batch_id)

    def publish(tmp, path, exclusive):
        if current[0] >= 1 and not fired and _control_kind(path) == kind:
            fired.append(path)
            raise OSError("injected crash")
        real_publish(tmp, path, exclusive)

    monkeypatch.setattr(sink, "write", write)
    monkeypatch.setattr(atomic, "_publish", publish)
    with pytest.raises(OSError, match="injected crash"):
        _drive(spark, sink, batches, replay_at, schema)
    monkeypatch.undo()
    restarted = CRASH_SINKS["lake_cow" if nopk else sink_name](root)
    _drive(spark, restarted, batches, replay_at, schema)
    assert read(restarted, spark) == expected, fired


def _two_bucket_input(num_buckets):
    """21 rows in two buckets, one of them holding id 3; batch 1 updates
    id 3 alone, so a lost bucket would lose the rows it did not rewrite."""
    b3 = portable_bucket_py(3, num_buckets)
    other = next(portable_bucket_py(i, num_buckets) for i in range(4, 99)
                 if portable_bucket_py(i, num_buckets) != b3)
    ids = [i for i in range(10_000)
           if portable_bucket_py(i, num_buckets) in (b3, other)][:21]
    rows = {i: (i, f"v{i}", i) for i in ids}
    batches = [("data", [DataChangeEvent.insert(TID, r)
                         for r in rows.values()]),
               ("data", [DataChangeEvent.update(TID, rows[3],
                                                (3, "v3b", 33))])]
    rows[3] = (3, "v3b", 33)
    return batches, None, set(rows.values())


@pytest.mark.parametrize("script,nth", [
    pytest.param("seed7", 1, id="seed7"),
    pytest.param("two_buckets", 1, id="two_buckets"),
    pytest.param("seed7", 2, id="seed7-second_move"),
])
@pytest.mark.parametrize("sink_name", sorted(CRASH_SINKS))
def test_crash_at_data_publish_then_redrive_converges(
        spark, tmp_path, monkeypatch, sink_name, script, nth):
    """The ``nth`` move of a data file into the table (``data/``, or
    ``delta/`` for merge-on-read) within one write at or after batch 1
    fails; a fresh sink then re-drives the whole script against the same
    directory and must end in the crash-free state.  A publish that
    removes the old bucket before moving the new one in loses the
    bucket's other rows here; a crash on the second move leaves a file
    already published that no snapshot names."""
    root = str(tmp_path / sink_name)
    sink = CRASH_SINKS[sink_name](root)
    batches, replay_at, expected = (
        _script(7) if script == "seed7"
        else _two_bucket_input(sink.num_buckets))
    tdir = os.path.join(root, TID.identifier())
    publish_dirs = tuple(os.path.join(tdir, d) + os.sep
                         for d in ("data", "delta"))
    current, moves, fired = [-1], [0], []
    real_write, real_rename = sink.write, os.rename

    def write(tid, df, schema, batch_id):
        current[0], moves[0] = batch_id, 0
        real_write(tid, df, schema, batch_id)

    def rename(src, dst, *a, **kw):
        if (current[0] >= 1 and not fired
                and str(dst).startswith(publish_dirs)):
            moves[0] += 1
            if moves[0] == nth:
                fired.append(dst)
                raise OSError("injected crash")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(sink, "write", write)
    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected crash"):
        _drive(spark, sink, batches, replay_at)
    monkeypatch.undo()
    restarted = CRASH_SINKS[sink_name](root)
    _drive(spark, restarted, batches, replay_at)
    assert _state_read(restarted, spark) == expected, fired


@pytest.mark.parametrize("sink_type", ["parquet", "doris", "maxcompute"])
def test_redelivered_truncate_batch_keeps_its_rows(spark, tmp_path,
                                                   sink_type):
    """Batch 0 inserts id 1; batch 1 is TRUNCATE then insert id 2.  Batch
    1 is delivered again in the same process and once more from a fresh
    sink (a restart): the replayed TRUNCATE must not erase id 2, whose
    write the batch marker skips."""
    make = _composer_sink(sink_type)
    root = str(tmp_path / sink_type)

    def deliver(sink, bid, row, truncate=False):
        sink.begin_batch(bid)
        ap = sink.metadata_applier()
        ap.batch_ctx = bid
        if bid == 0:
            ap.apply_schema_change(TID, CreateTableEvent(TID, SCHEMA), SCHEMA)
        if truncate:
            ap.apply_schema_change(TID, TruncateTableEvent(TID), SCHEMA)
        df = ValuesSource._to_df(spark, SCHEMA,
                                 [DataChangeEvent.insert(TID, row)])
        sink.write(TID, df, SCHEMA, batch_id=bid)
        return sorted(r["id"] for r in sink.read(spark, TID).collect())

    sink = make(root)
    assert deliver(sink, 0, (1, "a", 1)) == [1]
    for s in (sink, sink, make(root)):
        assert deliver(s, 1, (2, "b", 2), truncate=True) == [2]


def test_memory_sink_write_loop_edges(spark):
    """Pin the r11 positional rewrite of MemorySink.write against its
    documented edge cases: null seqs apply FIRST in arrival order, -U
    rows carry no state, -D drops, a schema column absent from the batch
    df lands as None in schema order, and a PK column absent from the
    batch keys as None (pre-evolution batches)."""
    from pyspark.sql import Row

    sink = MemorySink()
    # batch df carries (id, v) but NOT n; __seq has nulls interleaved
    df = spark.createDataFrame(
        [Row(id=1, v="late", __op="+I", __seq=5),
         Row(id=1, v="arrival-a", __op="+I", __seq=None),
         Row(id=2, v="gone", __op="+I", __seq=None),
         Row(id=1, v="arrival-b", __op="+U", __seq=None),
         Row(id=2, v=None, __op="-D", __seq=6),
         Row(id=3, v="before-img", __op="-U", __seq=7),
         Row(id=1, v="winner", __op="+U", __seq=9)],
        "id INT, v STRING, __op STRING, __seq LONG")
    sink.write(TID, df, SCHEMA, batch_id=0)
    # null-seq rows applied first (arrival order), then seq order; the
    # seq-9 update wins key 1; key 2 deleted at seq 6; -U left no state
    assert sink.state[TID] == {
        (1,): {"id": 1, "v": "winner", "n": None}}
    # dict insertion order must follow the schema's column order
    assert list(sink.state[TID][(1,)].keys()) == ["id", "v", "n"]

    # PK column absent from the batch: key part is None (legacy contract)
    sink2 = MemorySink()
    df2 = spark.createDataFrame(
        [Row(v="x", n=1, __op="+I", __seq=1)],
        "v STRING, n LONG, __op STRING, __seq LONG")
    sink2.write(TID, df2, SCHEMA, batch_id=0)
    assert sink2.state[TID] == {(None,): {"id": None, "v": "x", "n": 1}}


def _composed(spark, sink, schema, yaml=""):
    """A pipeline execution composed around ``sink`` with TID registered;
    ``yaml`` adds pipeline / transform sections."""
    pdef = parse_yaml_pipeline(
        "source: {type: values}\nsink: {type: values}\n" + yaml)
    exe = PipelineComposer(spark).compose(
        pdef, source=ValuesSource([CreateTableEvent(TID, schema)]),
        sink=sink)
    exe.run()
    return exe


def _drive_composed(spark, exe, batches, replay_at, schema=SCHEMA,
                    after_write=lambda: None, first_bid=0):
    """``_drive`` through the composer's data path (transform, coercion,
    the sink-keyed pre-partition, then the sink write): one write per
    script batch, the ``replay_at`` batch delivered twice."""
    from source_flink_cdc_3_5_0_spark.sources.base import ChangeBatch

    bid = first_bid
    for kind, events in batches:
        if kind == "truncate":
            exe.batches_run = f"t{bid}"
            exe._handle_schema_events(
                ChangeBatch(TID, [TruncateTableEvent(TID)], None))
            continue
        df = _batch_df(spark, schema, events)
        for _ in range(2 if bid == replay_at else 1):
            exe.batches_run = bid
            exe._process_data(ChangeBatch(TID, [], df))
            after_write()
        bid += 1


@pytest.mark.parametrize("script", [7, 23, 91])
@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_pre_partition_is_configuration_invariant(spark, tmp_path, mode,
                                                  script):
    """The random scripts through the composer's lake sink, which
    pre-partitions by its own ``__bucket``, under ``pipeline.parallelism``
    unset and 3 and ``spark.sql.shuffle.partitions`` 1 and 7: every
    combination ends in the scripted state, and every commit writes one
    file per bucket it touches (a bucket split over tasks would write
    one per task)."""
    batches, replay_at, expected = _script(script)
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    for parallelism in (None, 3):
        for partitions in (1, 7):
            root = str(tmp_path / f"{parallelism}-{partitions}")
            sink = SnapshotLakeSink(root, num_buckets=3, mode=mode)
            heads = [{}]

            def one_file_per_touched_bucket():
                m = sink._manifest(TID)
                before, heads[0] = heads[0], m
                kind = "deltas" if mode == "mor" else "buckets"
                old, new = before.get(kind) or {}, m.get(kind) or {}
                for b, files in new.items():
                    if files == old.get(b):
                        continue
                    added = set(files) - set(old.get(b) or [])
                    assert len(added) == 1, (parallelism, partitions, b,
                                             files)
            spark.conf.set(key, str(partitions))
            try:
                exe = _composed(
                    spark, sink, SCHEMA,
                    f"pipeline: {{parallelism: {parallelism}}}\n"
                    if parallelism else "")
                _drive_composed(spark, exe, batches, replay_at,
                                after_write=one_file_per_touched_bucket)
            finally:
                spark.conf.set(key, prior)
            assert _state_read(sink, spark) == expected, (parallelism,
                                                          partitions)


@pytest.mark.parametrize("sink_name", ["lake_mor", "lake_cow",
                                       "lake_cow_nopk"])
def test_filtered_out_batch_commits_no_snapshot(spark, tmp_path, sink_name):
    """A batch whose every row fails the transform filter adds no file and
    changes no bucket, so it commits no snapshot (its replay marker is
    still written): ``snapshots()`` stays as it was, and a replay of the
    batch still no-ops."""
    nopk = sink_name == "lake_cow_nopk"
    schema = NOPK_SCHEMA if nopk else SCHEMA
    sink = SnapshotLakeSink(str(tmp_path / sink_name), num_buckets=3,
                            mode="mor" if sink_name == "lake_mor" else "cow")
    exe = _composed(spark, sink, schema,
                    "transform:\n  - source-table: diff.db.t\n"
                    "    filter: id < 100\n")
    kept = [DataChangeEvent.insert(TID, (k, f"k{k}", k)) for k in range(4)]
    dropped = [DataChangeEvent.insert(TID, (100 + k, "x", k))
               for k in range(4)]
    _drive_composed(spark, exe, [("data", kept)], None, schema)
    snaps = sink.snapshots(TID)
    assert snaps
    _drive_composed(spark, exe, [("data", dropped)], 1, schema, first_bid=1)
    assert sink.snapshots(TID) == snaps
    # the empty write still leaves its replay marker
    assert len([f for f in os.listdir(sink._table_dir(TID))
                if f.startswith("_batch_")]) == 2
    assert sorted(_rows_read(sink, spark)) == sorted(e.after for e in kept)
