"""Streaming-mode tests: Debezium codec round trip, file-stream pipeline,
checkpoint restart idempotence (SURVEY.md §7 Stage 5)."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F, types as T

from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
from source_flink_cdc_3_5_0_spark.common.events import BEFORE_COL, OP_COL
from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.sources.base import SEQ_COL, attach_envelope
from source_flink_cdc_3_5_0_spark.sources.debezium import (
    decode_debezium,
    encode_canal,
    encode_debezium,
)
from source_flink_cdc_3_5_0_spark.streaming.runner import (
    OFFSETS, StreamingPipeline, file_stream_source)

TID = TableId.parse("inventory.db.products")
SCHEMA = Schema.of(
    Column("id", T.LongType(), False),
    Column("name", T.StringType()),
    Column("weight", T.DoubleType()),
    primary_keys=["id"],
)


def dbz(op, after=None, before=None, ts=0):
    return json.dumps({
        "before": before, "after": after, "op": op, "ts_ms": ts,
        "source": {"db": "inventory", "schema": "db", "table": "products"},
    })


EVENTS_1 = [
    dbz("c", {"id": 1, "name": "bolt", "weight": 1.5}, ts=1),
    dbz("c", {"id": 2, "name": "nut", "weight": 0.4}, ts=2),
    dbz("r", {"id": 3, "name": "washer", "weight": 0.1}, ts=3),
]
EVENTS_2 = [
    dbz("u", {"id": 2, "name": "nut-v2", "weight": 0.5},
        {"id": 2, "name": "nut", "weight": 0.4}, ts=4),
    dbz("d", None, {"id": 3, "name": "washer", "weight": 0.1}, ts=5),
]


class TestDebeziumCodec:
    def test_decode(self, spark):
        raw = spark.createDataFrame([(v,) for v in EVENTS_1 + EVENTS_2], "value STRING")
        out = decode_debezium(raw, SCHEMA.struct_type())
        rows = {(r["id"], r[OP_COL]): r for r in out.collect()}
        assert rows[(1, "+I")]["name"] == "bolt"
        assert rows[(2, "+U")]["name"] == "nut-v2"
        assert rows[(2, "+U")][BEFORE_COL]["name"] == "nut"
        assert rows[(3, "-D")]["name"] == "washer"  # delete carries before image

    def test_encode_roundtrip(self, spark):
        raw = spark.createDataFrame([(v,) for v in EVENTS_2], "value STRING")
        decoded = decode_debezium(raw, SCHEMA.struct_type())
        encoded = encode_debezium(decoded, TID, SCHEMA)
        back = decode_debezium(encoded, SCHEMA.struct_type())
        rows = {(r["id"], r[OP_COL]): r for r in back.collect()}
        assert rows[(2, "+U")]["name"] == "nut-v2"
        assert rows[(2, "+U")][BEFORE_COL]["name"] == "nut"
        assert rows[(3, "-D")]["name"] == "washer"
        keys = [json.loads(r["key"]) for r in encoded.collect()]
        assert {k["id"] for k in keys} == {2, 3}

    def test_encode_canal(self, spark):
        raw = spark.createDataFrame([(v,) for v in EVENTS_2], "value STRING")
        decoded = decode_debezium(raw, SCHEMA.struct_type())
        vals = [json.loads(r["value"]) for r in encode_canal(decoded, TID, SCHEMA).collect()]
        by_type = {v["type"]: v for v in vals}
        assert by_type["UPDATE"]["data"][0]["name"] == "nut-v2"
        assert by_type["UPDATE"]["old"][0]["name"] == "nut"
        assert by_type["DELETE"]["data"][0]["id"] == 3
        assert by_type["UPDATE"]["table"] == "products"


def _write_events(d, name, events):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(events))


class TestStreamingPipeline:
    def test_stream_then_restart(self, spark, tmp_path):
        src = str(tmp_path / "stream_in")
        ckpt = str(tmp_path / "ckpt")
        _write_events(src, "part1.jsonl", EVENTS_1)

        sink = MemorySink()

        def run_once():
            pipe = StreamingPipeline.create(spark, sink, ckpt)
            q = pipe.start(file_stream_source(spark, src),
                           {"inventory.db.products": SCHEMA})
            q.awaitTermination(120)
            return pipe

        run_once()
        assert sink.snapshot(TID) == ["1, bolt, 1.5", "2, nut, 0.4", "3, washer, 0.1"]

        # second tranche: update + delete, then restart from checkpoint
        _write_events(src, "part2.jsonl", EVENTS_2)
        run_once()
        assert sink.snapshot(TID) == ["1, bolt, 1.5", "2, nut-v2, 0.5"]

        # third restart with no new data: no reprocessing, state unchanged
        run_once()
        assert sink.snapshot(TID) == ["1, bolt, 1.5", "2, nut-v2, 0.5"]

    def test_stream_with_transform(self, spark, tmp_path):
        from source_flink_cdc_3_5_0_spark.operators.transform import TransformRule

        src = str(tmp_path / "in2")
        ckpt = str(tmp_path / "ckpt2")
        _write_events(src, "p.jsonl", EVENTS_1)
        sink = MemorySink()
        pipe = StreamingPipeline.create(
            spark, sink, ckpt,
            transforms=[TransformRule(
                source_table="inventory.db.\\.*",
                projection="id, UPPER(name) AS name_u",
                filter="weight < 1.0",
            )])
        q = pipe.start(file_stream_source(spark, src), {"inventory.db.products": SCHEMA})
        q.awaitTermination(120)
        assert sink.snapshot(TID) == ["2, NUT", "3, WASHER"]


class TestKafkaSinkLocal:
    def test_local_topic_dir(self, spark, tmp_path):
        out = str(tmp_path / "kafka_out")
        sink = KafkaChangelogSink(output_dir=out)
        df = attach_envelope(spark.createDataFrame(
            [Row(id=1, name="a", weight=1.0)], SCHEMA.struct_type()))
        sink.write(TID, df, SCHEMA, batch_id=0)
        sink.write(TID, df, SCHEMA, batch_id=0)  # replay -> idempotent
        topic_dir = os.path.join(out, "inventory.db.products")
        batches = os.listdir(topic_dir)
        assert batches == ["batch_0"]
        lines = spark.read.text(os.path.join(topic_dir, "batch_0")).collect()
        v = json.loads(lines[0]["value"])
        assert v["op"] == "c" and v["after"]["name"] == "a"


class TestMorLakeStreaming:
    def test_stream_into_merge_on_read_lake(self, spark, tmp_path):
        """The streaming runner drives the merge-on-read lake sink like
        any DataSink: each micro-batch lands as an append-only delta
        commit, a checkpoint restart replays as a no-op (batch markers),
        and the merged read equals the memory-sink golden state."""
        from source_flink_cdc_3_5_0_spark.sinks.lakehouse import (
            SnapshotLakeSink,
        )

        src = str(tmp_path / "in_mor")
        ckpt = str(tmp_path / "ckpt_mor")
        _write_events(src, "p1.jsonl", EVENTS_1)
        sink = SnapshotLakeSink(str(tmp_path / "lake_mor"), num_buckets=2,
                                mode="mor")

        def run_once():
            pipe = StreamingPipeline.create(spark, sink, ckpt)
            q = pipe.start(file_stream_source(spark, src),
                           {"inventory.db.products": SCHEMA})
            q.awaitTermination(120)

        run_once()
        m = sink._manifest(TID)
        assert m.get("deltas") and not m["buckets"]  # append-only commit
        _write_events(src, "p2.jsonl", EVENTS_2)
        run_once()
        rows = {(r["id"], r["name"], r["weight"])
                for r in sink.read(spark, TID).collect()}
        assert rows == {(1, "bolt", 1.5), (2, "nut-v2", 0.5)}
        n_snaps = len(sink.snapshots(TID))
        run_once()  # restart, no new data: no extra snapshot
        assert len(sink.snapshots(TID)) == n_snaps
        sink.compact(spark, TID)
        rows2 = {(r["id"], r["name"], r["weight"])
                 for r in sink.read(spark, TID).collect()}
        assert rows2 == rows


def test_two_schemas_same_table_name_do_not_cross_contaminate(
        spark, tmp_path):
    """Round-9 review: routing collapsed (db, schema) with coalesce, so
    inventory.s1.products and inventory.s2.products each received BOTH
    schemas' rows on a stream where db AND schema are set (real
    Debezium postgres/sqlserver shape). Each table must get exactly its
    own rows."""
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.streaming.runner import (
        StreamingPipeline, file_stream_source)

    src = tmp_path / "stream"
    src.mkdir()

    def rec(schema_name, k, v):
        return json.dumps({
            "op": "c", "ts_ms": k,
            "source": {"db": "inventory", "schema": schema_name,
                       "table": "products"},
            "after": {"id": k, "v": v}})

    (src / "b1.json").write_text("\n".join([
        rec("s1", 1, "one-s1"), rec("s2", 2, "two-s2"),
        rec("s1", 3, "three-s1")]))
    sink = MemorySink()
    pipe = StreamingPipeline.create(
        spark, sink, checkpoint_dir=str(tmp_path / "ckpt"))
    schema = Schema.of(Column("id", T.IntegerType(), False),
                       Column("v", T.StringType()), primary_keys=["id"])
    q = pipe.start(file_stream_source(spark, str(src)), {
        "inventory.s1.products": schema,
        "inventory.s2.products": schema})
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("inventory.s1.products")) == \
        ["1, one-s1", "3, three-s1"]
    assert sink.snapshot(TableId.parse("inventory.s2.products")) == \
        ["2, two-s2"]


def test_n_to_1_route_keeps_every_source_table_across_replay(spark, tmp_path):
    """app.orders_1 and app.orders_2 route to app.orders in ONE micro-batch:
    both source tables' rows must land (one shared data marker made the
    second write look like a replay of the first), and a re-delivered batch
    must skip both writes."""
    import glob

    from source_flink_cdc_3_5_0_spark.operators.route import RouteRule
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink

    def rec(k):
        return json.dumps({
            "op": "c", "ts_ms": k, "after": {"id": k, "v": f"o{1 + k % 2}"},
            "source": {"db": "app", "table": f"orders_{1 + k % 2}"}})

    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(rec(k) for k in range(6)))
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "pq")
    sink = SnapshotLakeSink(root, num_buckets=2, keep_last=1)
    schema = Schema.of(Column("id", T.IntegerType(), False),
                       Column("v", T.StringType()), primary_keys=["id"])

    def run():
        pipe = StreamingPipeline.create(
            spark, sink, ckpt,
            routes=[RouteRule("app.orders_\\.*", "app.orders")])
        pipe.start(file_stream_source(spark, str(src)),
                   {"app.orders_1": schema, "app.orders_2": schema}
                   ).awaitTermination(120)
        return sorted((r["id"], r["v"]) for r in
                      sink.read(spark, TableId.parse("app.orders")).collect())

    expected = [(k, f"o{1 + k % 2}") for k in range(6)]
    assert run() == expected
    files = sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                             recursive=True))
    for name in ("0", ".0.crc"):  # drop batch 0's commit: re-delivered
        os.remove(os.path.join(ckpt, "stream", "commits", name))
    assert run() == expected
    assert sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                            recursive=True)) == files  # both writes skipped


def test_unknown_formats_refused_by_name(spark, tmp_path):
    """A typo'd serialization or connector offset must fail at create time
    naming the known keys, not silently decode as another format."""
    with pytest.raises(ValueError, match="canal-json.*debezium-json"):
        StreamingPipeline.create(spark, MemorySink(), str(tmp_path),
                                 serialization="debezium")
    with pytest.raises(ValueError, match="mysql-binlog.*pgoutput"):
        StreamingPipeline.create(spark, MemorySink(), str(tmp_path),
                                 connector_offset="binlog")


#: one raw record at position ``p`` per connector offset kind
POSITIONED = {
    "mysql-binlog": lambda p: {"source": {
        "file": "mysql-bin.000001", "pos": p, "server_id": "1"}},
    "pgoutput": lambda p: {"source": {"lsn": p, "txId": 7}, "ts_ms": 1},
    "mongodb": lambda p: {"_id": {"_data": f"tok{p}"}, "clusterTime": p},
    "sqlserver": lambda p: {"row": {"__$start_lsn": f"{p:020x}"}},
    "db2": lambda p: {"row": {"IBMSNAP_COMMITSEQ": f"{p:020x}"}},
    "oracle": lambda p: {"source": {"scn": p}},
}


@pytest.mark.parametrize("kind", sorted(OFFSETS))
def test_connector_offset_fold_is_monotone(spark, tmp_path, kind):
    """Folding a batch stores its newest position: a frame without an
    ``offset`` column orders by the connector's own coordinate, and an
    older replayed batch never moves the stored offset back."""
    def frame(*positions):
        return spark.createDataFrame(
            [(json.dumps(POSITIONED[kind](p)),) for p in positions],
            "value string")

    def fold(ckpt, *positions):
        pipe = StreamingPipeline.create(spark, MemorySink(), ckpt,
                                        connector_offset=kind)
        pipe._fold_connector_offset(frame(*positions), "value")
        return pipe.binlog_offset().to_json()

    ckpt = str(tmp_path / "ckpt")
    newest = fold(ckpt, 5, 9, 7)
    assert newest == fold(str(tmp_path / "only9"), 9)
    assert fold(ckpt, 3) == newest
