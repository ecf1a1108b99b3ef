"""Differential sink testing: seeded-random changelog scripts through
every stateful sink (memory golden, parquet upsert, lake cow, lake mor,
jdbc/sqlite), asserting the IDENTICAL final state. Complements the fixed
conformance script with randomized op interleavings, replays and
truncates — the cheap cross-engine analog of the reference's e2e matrix.
One more input routes two source tables into one sink table (an N:1
route) through the pipeline, then replays the run."""

import random

import pytest
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.common import (
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
)
from source_flink_cdc_3_5_0_spark.common.events import TruncateTableEvent
from source_flink_cdc_3_5_0_spark.pipeline import (PipelineComposer,
                                                   parse_yaml_pipeline)
from source_flink_cdc_3_5_0_spark.sinks.jdbc_sink import JdbcUpsertSink
from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.sinks.parquet_sink import ParquetUpsertSink
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource

TID = TableId.parse("diff.db.t")
SCHEMA = Schema.of(Column("id", T.IntegerType(), False),
                   Column("v", T.StringType()),
                   Column("n", T.LongType()),
                   primary_keys=["id"])


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


def _drive(spark, sink, batches, replay_at):
    ap = sink.metadata_applier()
    ap.apply_schema_change(TID, CreateTableEvent(TID, SCHEMA), SCHEMA)
    bid = 0
    for kind, events in batches:
        if kind == "truncate":
            ap.apply_schema_change(TID, TruncateTableEvent(TID), SCHEMA)
            continue
        seq = [DataChangeEvent(e.table_id, e.op, e.before, e.after,
                               e.meta + (("__seq", str(i)),))
               for i, e in enumerate(events)]
        df = ValuesSource._to_df(spark, SCHEMA, seq)
        sink.write(TID, df, SCHEMA, batch_id=bid)
        if bid == replay_at:
            sink.write(TID, df, SCHEMA, batch_id=bid)  # replay no-op
        bid += 1


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


def _state_jdbc(sink, spark):
    return {(r["id"], r["v"], r["n"])
            for r in sink.read(spark, TID, SCHEMA).collect()}


@pytest.mark.parametrize("script", [7, 23, 91, "n_to_1"])
def test_all_sinks_agree_on_random_scripts(spark, tmp_path, script):
    drive, expected = (_n_to_1_input() if script == "n_to_1"
                       else _random_input(script))
    sinks = {
        "memory": (MemorySink(), _state_memory),
        "parquet": (ParquetUpsertSink(str(tmp_path / "pq"), num_buckets=3),
                    _state_read),
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
