"""Vitess VStream source: shard-range algebra, VGTID vector offsets,
envelope decode, the runner's VGTID fold and reshard policy, and the
streaming e2e path.

Wire behavior is Debezium's public vitess connector (per-shard VGTID
vector, source.keyspace/shard/vgtid)."""

import hashlib
import json

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.common.events import BEFORE_COL, META_COL, OP_COL
from source_flink_cdc_3_5_0_spark.sources.base import SEQ_COL
from source_flink_cdc_3_5_0_spark.sources.vitess import (
    ShardGtid, ShardRange, Vgtid, VitessStreamState, decode_vstream,
    fold_vstream_batch, gtid_covers,
)
from tests.test_vitess_reshard_property import shards_tile

PAYLOAD = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("qty", T.LongType()),
])


def vgtid_json(positions, keyspace="shop"):
    return json.dumps([{"keyspace": keyspace, "shard": s, "gtid": g}
                       for s, g in positions])


def ev(op, shard, gtid_pos, after=None, before=None, ts=0,
       keyspace="shop", table="items", all_positions=None):
    """One VStream Debezium record; source.vgtid carries the FULL vector
    (Debezium stamps the whole current VGTID on every record)."""
    positions = all_positions or {shard: gtid_pos}
    return json.dumps({
        "before": before, "after": after, "op": op, "ts_ms": ts,
        "source": {"keyspace": keyspace, "table": table, "shard": shard,
                   "vgtid": vgtid_json(sorted(positions.items()),
                                       keyspace=keyspace)},
    })


# ---------------------------------------------------------------------------
# shard-range algebra
# ---------------------------------------------------------------------------

def _owns(r: ShardRange, keyspace_id: bytes) -> bool:
    """Vitess shard ownership: ``start <= keyspace_id < end``, an empty
    bound being open."""
    return ((not r.start or keyspace_id >= r.start)
            and (not r.end or keyspace_id < r.end))


class TestShardRanges:
    def test_parse_and_contains(self):
        r = ShardRange.parse("40-80")
        assert _owns(r, bytes.fromhex("40") + b"\x00" * 7)
        assert _owns(r, bytes.fromhex("7fffffffffffffff"))
        assert not _owns(r, bytes.fromhex("80") + b"\x00" * 7)
        assert not _owns(r, bytes.fromhex("3fffffffffffffff"))
        assert _owns(ShardRange.parse("-"), b"\x00")
        assert _owns(ShardRange.parse("0"), b"\xff" * 16)
        assert _owns(ShardRange.parse("c0-"), b"\xff" * 8)
        with pytest.raises(ValueError):
            ShardRange.parse("4-80")  # odd hex digit count
        with pytest.raises(ValueError):
            ShardRange.parse("xy-80")

    def test_tiling(self):
        assert shards_tile(["-80", "80-"])
        assert shards_tile(["-40", "40-80", "80-c0", "c0-"])
        assert shards_tile(["-"])
        assert not shards_tile(["-80", "81-"])        # gap
        assert not shards_tile(["-80", "40-"])        # overlap is not a tile
        assert not shards_tile(["-80"])               # open end
        assert not shards_tile([])

    @given(st.lists(st.integers(min_value=1, max_value=255),
                    min_size=0, max_size=6, unique=True),
           st.binary(min_size=8, max_size=16))
    @settings(max_examples=100, deadline=None)
    def test_random_tilings_route_uniquely(self, cuts, key):
        """Any cut-point set tiles the space, and every keyspace id —
        binary_md5 of a random key — lands in exactly ONE shard."""
        bounds = [""] + ["%02x" % c for c in sorted(cuts)] + [""]
        shards = ["%s-%s" % (a, b) for a, b in zip(bounds, bounds[1:])]
        assert shards_tile(shards)
        ksid = hashlib.md5(key).digest()
        owners = [s for s in shards if _owns(ShardRange.parse(s), ksid)]
        assert len(owners) == 1, owners


# ---------------------------------------------------------------------------
# VGTID
# ---------------------------------------------------------------------------

class TestVgtid:
    def test_json_roundtrip(self):
        s = vgtid_json([("-80", "MySQL56/u1:1-100"), ("80-", "MySQL56/u2:1-50")])
        v = Vgtid.from_json(s)
        assert v.shards() == ["-80", "80-"]
        assert v.position("80-") == "MySQL56/u2:1-50"
        assert Vgtid.from_json(v.to_json()) == v

    def test_advance_and_covers(self):
        v = Vgtid.current("shop", ["-80", "80-"])
        v2 = v.advance("shop", "-80", "u1:1-10")
        v3 = v2.advance("shop", "-80", "u1:1-20")
        assert v3.position("-80") == "u1:1-20"
        assert v3.covers(v2) and not v2.covers(v3)
        # covers is per-shard: the other shard unknown -> not covered
        other = Vgtid((ShardGtid("shop", "c0-", "u9:1-5"),))
        assert not v3.covers(other)

    def test_gtid_set_containment(self):
        assert gtid_covers("u:1-100", "u:5-20")
        assert gtid_covers("MySQL56/u:1-100", "u:100")
        assert not gtid_covers("u:1-100", "u:1-101")
        assert not gtid_covers("u:1-100", "w:1")
        assert gtid_covers("u:1-5:6-10", "u:1-10")      # adjacent intervals
        assert not gtid_covers("u:1-5:7-10", "u:1-10")  # hole at 6
        assert gtid_covers("u:1-10,w:1-3", "w:2,u:4")
        assert gtid_covers("u:1", "current")             # no position


# ---------------------------------------------------------------------------
# envelope decode + resume fold
# ---------------------------------------------------------------------------

def test_decode_vstream_ops_and_meta(spark):
    lines = [
        (ev("c", "-80", "u1:1", after={"id": 1, "name": "bolt", "qty": 5},
            ts=10), 0),
        (ev("u", "-80", "u1:1-2", after={"id": 1, "name": "bolt", "qty": 6},
            before={"id": 1, "name": "bolt", "qty": 5}, ts=20), 1),
        (ev("d", "80-", "u2:1", before={"id": 9, "name": "nut", "qty": 1},
            ts=30), 2),
        (ev("r", "80-", "u2:1", after={"id": 9, "name": "nut", "qty": 1},
            ts=5), 3),
        ("null", 4),  # tombstone after the delete (tombstones_on_delete)
    ]
    raw = spark.createDataFrame(lines, "value STRING, offset LONG")
    out = {r[SEQ_COL]: r
           for r in decode_vstream(raw, PAYLOAD).collect()}
    assert len(out) == 4  # tombstone dropped
    assert out[0][OP_COL] == "+I" and out[0]["qty"] == 5
    assert out[1][OP_COL] == "+U" and out[1][BEFORE_COL]["qty"] == 5
    assert out[2][OP_COL] == "-D" and out[2]["id"] == 9  # image from before
    assert out[3][OP_COL] == "+I"  # snapshot read
    assert out[1][META_COL]["shard"] == "-80"
    assert out[2][META_COL]["keyspace"] == "shop"
    assert json.loads(out[2][META_COL]["vgtid"])[0]["shard"] == "80-"


def _fold(spark, lines, start, known=None, **kw):
    """One raw micro-batch through the runner's VGTID fold, from a state
    serving ``known`` (or first contact when None)."""
    schema = ("value STRING, offset LONG" if len(lines[0]) == 2
              else "value STRING")
    state = VitessStreamState(
        vgtid=start,
        serving=(("shop", tuple(known)),) if known is not None else ())
    return fold_vstream_batch(spark.createDataFrame(lines, schema), "value",
                              state, **kw)


def test_batch_vgtid_resume_fold(spark):
    """Per (keyspace, shard), the batch's LAST event replaces the shard's
    position; a shard silent this batch keeps its prior position."""
    start = Vgtid.current("shop", ["-80", "80-"])
    lines = [(ev("c", "-80", "u1:1-%d" % i,
                 after={"id": i, "name": "x", "qty": i}, ts=i), i)
             for i in (1, 2, 3)]
    lines += [(ev("c", "80-", "u2:1-7",
                  after={"id": 99, "name": "y", "qty": 0}, ts=50), 10)]
    resumed, halt = _fold(spark, lines, start, ["-80", "80-"])
    assert not halt
    assert resumed.vgtid.position("-80") == "u1:1-3"   # LAST event
    assert resumed.vgtid.position("80-") == "u2:1-7"
    start2 = start.advance("shop", "c0-", "u3:1-4")
    resumed2, _ = _fold(spark, lines, start2, ["-80", "80-"])
    assert resumed2.vgtid.position("c0-") == "u3:1-4"


# ---------------------------------------------------------------------------
# reshard policy
# ---------------------------------------------------------------------------

def _reshard_batch():
    pre = [
        (ev("c", "-80", "u1:1-10", after={"id": 1, "name": "a", "qty": 1},
            ts=10), 0),
        (ev("c", "80-", "u2:1-20", after={"id": 9, "name": "b", "qty": 2},
            ts=11), 1),
    ]
    post = [
        (ev("c", "-40", "u3:1-2", after={"id": 2, "name": "c", "qty": 3},
            ts=20), 2),
        (ev("c", "40-80", "u4:1-5", after={"id": 3, "name": "d", "qty": 4},
            ts=21), 3),
    ]
    return pre + post


def test_stop_on_reshard_true_halts_with_resumable_vgtid(spark):
    """Halt semantics: NOTHING of the boundary batch is processed (the
    runner re-delivers it after the restart that adopts the children), so
    the persisted state is the last COMMITTED one, marked stopped."""
    start = (Vgtid.current("shop", ["-80", "80-"])
             .advance("shop", "-80", "u1:1-9")
             .advance("shop", "80-", "u2:1-19"))
    state, halt = _fold(spark, _reshard_batch(), start, ["-80", "80-"],
                        stop_on_reshard=True)
    assert halt and state.stopped
    assert state.shards == ("-80", "80-")
    assert state.vgtid == start  # resumable: nothing advanced


def test_stop_on_reshard_false_adopts_new_serving_set(spark):
    start = Vgtid.current("shop", ["-80", "80-"])
    state, halt = _fold(spark, _reshard_batch(), start, ["-80", "80-"])
    assert not halt and not state.stopped
    assert state.shards == ("-40", "40-80", "80-")
    assert state.vgtid.position("-40") == "u3:1-2"
    assert state.vgtid.position("-80") is None  # split parent retired


def test_reshard_rejects_orphan_shard(spark):
    # "70-90" straddles the -80/80- boundary: no known parent covers it and
    # it tiles no known subset — genuinely alien, must raise
    start = Vgtid.current("shop", ["-80", "80-"])
    rows = [(ev("c", "70-90", "u5:1", after={"id": 4, "name": "e", "qty": 1},
                ts=1), 0)]
    with pytest.raises(ValueError, match="clean parent split or merge"):
        _fold(spark, rows, start, ["-80", "80-"])


def test_reshard_partial_split_defers_instead_of_crashing(spark):
    """A micro-batch that sees only ONE child of a split (sibling quiet)
    must not kill the stream: the child is carried ``pending`` and the
    serving set is unchanged; when the sibling shows up in a later batch
    the split completes via the carried ``pending``."""
    start = Vgtid.current("shop", ["-80", "80-"])
    rows1 = [(ev("c", "-40", "u3:1-2", after={"id": 2, "name": "c", "qty": 3},
                 ts=20), 0)]
    s1, halt = _fold(spark, rows1, start, ["-80", "80-"])
    assert not halt
    assert s1.shards == ("-80", "80-")          # not adopted yet
    assert s1.pending == (("shop", "-40"),)
    rows2 = [(ev("c", "40-80", "u4:1-5",
                 after={"id": 3, "name": "d", "qty": 4}, ts=21), 0)]
    s2, _ = fold_vstream_batch(
        spark.createDataFrame(rows2, "value STRING, offset LONG"), "value",
        s1)
    assert s2.shards == ("-40", "40-80", "80-")  # split completed
    assert s2.pending == ()


def test_reshard_merge_adopted_and_stop_mode_survives(spark):
    """A shard MERGE (children replaced by one covering parent) is adopted
    under the default policy and stops cleanly — not a crash — under
    stop_on_reshard=True, with the old shards' positions kept resumable."""
    start = (Vgtid.current("shop", ["-40", "40-80", "80-"])
             .advance("shop", "-40", "u1:1-5")
             .advance("shop", "40-80", "u2:1-7"))
    rows = [
        (ev("c", "-80", "u9:1-2", after={"id": 5, "name": "m", "qty": 1},
            ts=30), 0),
        (ev("c", "80-", "u3:1-9", after={"id": 6, "name": "n", "qty": 2},
            ts=31), 1),
    ]
    known = ["-40", "40-80", "80-"]
    state, halt = _fold(spark, rows, start, known)
    assert not halt
    assert state.shards == ("-80", "80-")       # merge adopted
    s2, halt2 = _fold(spark, rows, start, known, stop_on_reshard=True)
    assert halt2 and s2.stopped and s2.shards == tuple(known)
    # merge children keep their own (old-shard) resumable positions
    assert s2.vgtid.position("-40") == "u1:1-5"
    assert s2.vgtid.position("40-80") == "u2:1-7"


def test_batch_vgtid_same_millisecond_tiebreak(spark):
    """File-path order is millisecond ts_ms; two positions in the same ms
    must fold to the LATER GTID (length+lex tiebreak on the vgtid), not an
    arbitrary max_by pick — including across a digit-count boundary
    (1-9 -> 1-10)."""
    rows = [(ev("c", "-80", "u1:1-9", after={"id": 1, "name": "a", "qty": 1},
                ts=77),),
            (ev("c", "-80", "u1:1-10", after={"id": 2, "name": "b", "qty": 2},
                ts=77),),
            (ev("c", "-80", "u1:1-5", after={"id": 3, "name": "c", "qty": 3},
                ts=77),)]
    start = Vgtid.current("shop", ["-80", "80-"])
    folded, _ = _fold(spark, rows, start, ["-80", "80-"])
    assert folded.vgtid.position("-80", "shop") == "u1:1-10"


def test_decode_vstream_zoned_timestamp_side_channel(spark):
    """Zoned (TIMESTAMP_TZ) fidelity is shared with decode_debezium via
    decode_dbz_envelope: a zoned payload field decodes to instant +
    ``__tz_offset`` side channel — the vitess path must not silently
    drop the original offset."""
    payload = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("created", T.TimestampType(), True,
                      {"zoned": True}),
    ])
    rec = json.dumps({
        "before": None,
        "after": {"id": 1, "created": "2024-03-01T10:15:30.123+05:30"},
        "op": "c", "ts_ms": 5,
        "source": {"keyspace": "shop", "table": "items", "shard": "-80",
                   "vgtid": vgtid_json([("-80", "u1:1")])},
    })
    out = decode_vstream(
        spark.createDataFrame([(rec,)], "value STRING"), payload)
    row = out.collect()[0]
    assert row["created__tz_offset"] == "+05:30"
    assert row["created"] is not None


def test_batch_vgtid_fold_never_regresses_on_gap_fill(spark):
    """A gap-fill can SHORTEN the GTID spelling ('u1:1-5:7' -> 'u1:1-7'),
    defeating the (length, lex) in-batch tie-break — the fold's monotone
    clamp must still refuse to move the running position backwards."""
    start = Vgtid(()).advance("shop", "-80", "u1:1-7")
    rows = [(ev("c", "-80", "u1:1-5:7",
                after={"id": 1, "name": "a", "qty": 1}, ts=77),)]
    folded, _ = _fold(spark, rows, start)
    assert folded.vgtid.position("-80", "shop") == "u1:1-7"  # clamp held


def test_vgtid_keyspace_isolation():
    """Same-named shards in different keyspaces must not clobber each
    other's resume positions (advance/position/covers key on BOTH)."""
    v = (Vgtid(()).advance("ks1", "-80", "u1:1-5")
         .advance("ks2", "-80", "u2:1-9"))
    v = v.advance("ks1", "-80", "u1:1-6")
    assert v.position("-80", "ks1") == "u1:1-6"
    assert v.position("-80", "ks2") == "u2:1-9"
    assert len(v.shard_gtids) == 2
    assert v.covers(Vgtid(()).advance("ks2", "-80", "u2:1-9"))
    assert not v.covers(Vgtid(()).advance("ks2", "-80", "u1:1-6"))


def test_no_reshard_is_passthrough(spark):
    start = Vgtid.current("shop", ["-80", "80-"])
    rows = [(ev("c", "-80", "u1:1", after={"id": 1, "name": "a", "qty": 1},
                ts=1), 0)]
    state, halt = _fold(spark, rows, start, ["-80", "80-"])
    assert not halt and not state.stopped
    assert state.shards == ("-80", "80-")
    assert state.vgtid.position("-80") == "u1:1"


# ---------------------------------------------------------------------------
# streaming e2e: vitess-json through the full pipeline
# ---------------------------------------------------------------------------

def test_streaming_pipeline_vitess_json(spark, tmp_path):
    """Two shards of one keyspace stream through StreamingPipeline with
    serialization='vitess-json': keyed upserts merge across shards, deletes
    apply, and an undeclared table is discovered mid-stream (keyspace is
    the db probe)."""
    import os

    from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.streaming.runner import (
        StreamingPipeline, file_stream_source,
    )

    schema = Schema.of(Column("id", T.LongType(), False),
                       Column("name", T.StringType()),
                       Column("qty", T.LongType()),
                       primary_keys=["id"])
    src = str(tmp_path / "vstream")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            ev("c", "-80", "u1:1", after={"id": 1, "name": "bolt", "qty": 5},
               ts=10),
            ev("c", "80-", "u2:1", after={"id": 9, "name": "nut", "qty": 2},
               ts=11),
            ev("u", "-80", "u1:1-2",
               after={"id": 1, "name": "bolt", "qty": 7},
               before={"id": 1, "name": "bolt", "qty": 5}, ts=12),
            ev("d", "80-", "u2:1-2",
               before={"id": 9, "name": "nut", "qty": 2}, ts=13),
            # undeclared table on the same keyspace -> discovered
            ev("c", "-80", "u1:1-3", after={"id": 50, "name": "disc",
                                            "qty": 1},
               table="orders", ts=14),
        ]))
    sink = MemorySink()
    pipe = StreamingPipeline.create(spark, sink, str(tmp_path / "ckpt"),
                                    serialization="vitess-json",
                                    discover_tables=True)
    q = pipe.start(file_stream_source(spark, src), {"shop.items": schema})
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("shop.items")) == ["1, bolt, 7"]
    assert sink.row_count(TableId.parse("shop.orders")) == 1


def _mk_pipe(spark, sink, ckpt, **kw):
    from source_flink_cdc_3_5_0_spark.streaming.runner import StreamingPipeline

    return StreamingPipeline.create(spark, sink, str(ckpt),
                                    serialization="vitess-json", **kw)


def _run(pipe, spark, src, tables):
    from source_flink_cdc_3_5_0_spark.streaming.runner import file_stream_source

    q = pipe.start(file_stream_source(spark, src), dict(tables))
    q.awaitTermination(120)


def test_streaming_vgtid_offset_persisted_across_runs(spark, tmp_path):
    """The runner maintains the connector offset (VGTID) in the checkpoint
    dir — the Debezium offset-store analog — folding each micro-batch's
    last per-shard position."""
    import os

    from source_flink_cdc_3_5_0_spark.common import Column, Schema
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.vitess import VitessStreamState

    schema = Schema.of(Column("id", T.LongType(), False),
                       Column("name", T.StringType()),
                       Column("qty", T.LongType()), primary_keys=["id"])
    src = str(tmp_path / "vstream")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            ev("c", "-80", "u1:1", after={"id": 1, "name": "a", "qty": 1},
               ts=10),
            ev("c", "80-", "u2:1-3", after={"id": 9, "name": "b", "qty": 2},
               ts=11),
        ]))
    sink = MemorySink()
    ckpt = tmp_path / "ckpt"
    _run(_mk_pipe(spark, sink, ckpt), spark, src, {"shop.items": schema})
    with open(ckpt / "vitess_vgtid.json") as f:
        st = VitessStreamState.from_json(f.read())
    assert st.shards == ("-80", "80-") and not st.stopped
    assert st.vgtid.position("-80", "shop") == "u1:1"
    assert st.vgtid.position("80-", "shop") == "u2:1-3"
    # second run advances, doesn't reset
    with open(os.path.join(src, "b.jsonl"), "w") as f:
        f.write(ev("u", "-80", "u1:1-5",
                   after={"id": 1, "name": "a", "qty": 4},
                   before={"id": 1, "name": "a", "qty": 1}, ts=20))
    _run(_mk_pipe(spark, sink, ckpt), spark, src, {"shop.items": schema})
    with open(ckpt / "vitess_vgtid.json") as f:
        st2 = VitessStreamState.from_json(f.read())
    assert st2.vgtid.position("-80", "shop") == "u1:1-5"
    assert st2.vgtid.position("80-", "shop") == "u2:1-3"  # untouched


def test_streaming_reshard_adopt_updates_serving_set(spark, tmp_path):
    """Default stopOnReshard=false: a split observed mid-stream swaps the
    persisted serving set to the children and retires the parent's VGTID
    entry; all events (old and new shards) process."""
    import os

    from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.vitess import VitessStreamState

    schema = Schema.of(Column("id", T.LongType(), False),
                       Column("name", T.StringType()),
                       Column("qty", T.LongType()), primary_keys=["id"])
    src = str(tmp_path / "vstream")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            ev("c", "-80", "u1:1", after={"id": 1, "name": "a", "qty": 1},
               ts=10),
            ev("c", "80-", "u2:1", after={"id": 9, "name": "b", "qty": 2},
               ts=11),
        ]))
    sink = MemorySink()
    ckpt = tmp_path / "ckpt"
    _run(_mk_pipe(spark, sink, ckpt), spark, src, {"shop.items": schema})
    with open(os.path.join(src, "b.jsonl"), "w") as f:
        f.write("\n".join([
            ev("c", "-40", "u3:1", after={"id": 2, "name": "c", "qty": 3},
               ts=20),
            ev("c", "40-80", "u4:1", after={"id": 3, "name": "d", "qty": 4},
               ts=21),
        ]))
    _run(_mk_pipe(spark, sink, ckpt), spark, src, {"shop.items": schema})
    assert sink.row_count(TableId.parse("shop.items")) == 4
    with open(ckpt / "vitess_vgtid.json") as f:
        st = VitessStreamState.from_json(f.read())
    assert st.shards == ("-40", "40-80", "80-") and not st.stopped
    assert st.vgtid.position("-80", "shop") is None  # parent retired
    assert st.vgtid.position("-40", "shop") == "u3:1"
    assert st.vgtid.position("40-80", "shop") == "u4:1"


def test_streaming_stop_on_reshard_halts_then_restart_resumes(
        spark, tmp_path):
    """stopOnReshard=true: the boundary batch FAILS before any write (the
    Spark epoch is not committed, so nothing is lost), stopped=true is
    persisted with children inheriting the parents' committed positions;
    the RESTART adopts the children and the re-delivered boundary batch
    processes in full under the new topology."""
    import os

    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.vitess import VitessStreamState

    schema = Schema.of(Column("id", T.LongType(), False),
                       Column("name", T.StringType()),
                       Column("qty", T.LongType()), primary_keys=["id"])
    src = str(tmp_path / "vstream")
    os.makedirs(src)
    tid = TableId.parse("shop.items")
    ckpt = tmp_path / "ckpt"
    sink = MemorySink()
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            ev("c", "-80", "u1:1-7", after={"id": 1, "name": "a", "qty": 1},
               ts=10),
            ev("c", "80-", "u2:1", after={"id": 9, "name": "b", "qty": 2},
               ts=11),
        ]))
    _run(_mk_pipe(spark, sink, ckpt, stop_on_reshard=True), spark, src,
         {"shop.items": schema})
    assert sink.row_count(tid) == 2
    # boundary batch: split children appear alongside one more 80- event
    with open(os.path.join(src, "b.jsonl"), "w") as f:
        f.write("\n".join([
            ev("c", "-40", "u3:1", after={"id": 2, "name": "c", "qty": 3},
               ts=20),
            ev("c", "40-80", "u4:1", after={"id": 3, "name": "d", "qty": 4},
               ts=21),
            ev("c", "80-", "u2:1-2", after={"id": 8, "name": "e", "qty": 5},
               ts=22),
        ]))
    with _pytest.raises(StreamingQueryException,
                        match="stop-on-reshard"):
        _run(_mk_pipe(spark, sink, ckpt, stop_on_reshard=True), spark, src,
             {"shop.items": schema})
    # nothing of the boundary batch landed — no loss, no partial write
    assert sink.row_count(tid) == 2
    with open(ckpt / "vitess_vgtid.json") as f:
        st = VitessStreamState.from_json(f.read())
    assert st.stopped
    # halt leaves the state otherwise UNTOUCHED: the committed positions
    # only, no children entries fabricated from the unprocessed batch
    assert st.vgtid.position("-80", "shop") == "u1:1-7"
    assert st.vgtid.position("-40", "shop") is None
    assert st.vgtid.position("80-", "shop") == "u2:1"
    assert st.shards == ("-80", "80-")
    # restart = operator action: clears the flag, arms resuming; the
    # uncommitted boundary batch re-delivers and is ADOPTED in full —
    # plus a new file streams on afterwards
    with open(os.path.join(src, "c.jsonl"), "w") as f:
        f.write(ev("c", "-40", "u3:1-2",
                   after={"id": 4, "name": "f", "qty": 6}, ts=30))
    _run(_mk_pipe(spark, sink, ckpt, stop_on_reshard=True), spark, src,
         {"shop.items": schema})
    assert sink.row_count(tid) == 6  # ids 1,9 + re-delivered 2,3,8 + 4
    with open(ckpt / "vitess_vgtid.json") as f:
        st2 = VitessStreamState.from_json(f.read())
    assert not st2.stopped and not st2.resuming  # disarmed once steady
    assert st2.shards == ("-40", "40-80", "80-")
    assert st2.vgtid.position("-40", "shop") == "u3:1-2"
    assert st2.vgtid.position("80-", "shop") == "u2:1-2"
    assert st2.vgtid.position("-80", "shop") is None  # parent retired
    assert ("shop", "-80") in {(ks, sh) for ks, sh, _ in st2.retired}


def test_streaming_first_contact_partial_then_late_shard(spark, tmp_path):
    """A shard with no traffic in the first window must not poison the
    stream: first contact adopts only the shards actually seen; the late
    shard is adopted on arrival (discovery), not rejected as an orphan."""
    import os

    from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.vitess import VitessStreamState

    schema = Schema.of(Column("id", T.LongType(), False),
                       Column("name", T.StringType()),
                       Column("qty", T.LongType()), primary_keys=["id"])
    src = str(tmp_path / "vstream")
    os.makedirs(src)
    ckpt = tmp_path / "ckpt"
    sink = MemorySink()
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write(ev("c", "-80", "u1:1", after={"id": 1, "name": "a",
                                              "qty": 1}, ts=10))
    _run(_mk_pipe(spark, sink, ckpt), spark, src, {"shop.items": schema})
    with open(ckpt / "vitess_vgtid.json") as f:
        st = VitessStreamState.from_json(f.read())
    assert st.shards == ("-80",)  # only what actually spoke
    with open(os.path.join(src, "b.jsonl"), "w") as f:
        f.write(ev("c", "80-", "u2:1", after={"id": 9, "name": "b",
                                              "qty": 2}, ts=20))
    _run(_mk_pipe(spark, sink, ckpt), spark, src, {"shop.items": schema})
    tid = TableId.parse("shop.items")
    assert sink.row_count(tid) == 2  # late shard's event processed
    with open(ckpt / "vitess_vgtid.json") as f:
        st2 = VitessStreamState.from_json(f.read())
    assert st2.shards == ("-80", "80-")
    assert st2.vgtid.position("80-", "shop") == "u2:1"


def test_yaml_vitess_file_pipeline(spark, tmp_path):
    """YAML surface: `type: vitess-file` streams VStream Debezium-JSON
    through the full parse->compose->transform->route->sink path with
    `serialization: vitess-json` defaulted from the source type."""
    import os

    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline,
    )
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    src = str(tmp_path / "vstream")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            ev("c", "-80", "u1:1", after={"id": 1, "name": "bolt", "qty": 5},
               ts=10),
            ev("u", "-80", "u1:1-2",
               after={"id": 1, "name": "bolt", "qty": 8},
               before={"id": 1, "name": "bolt", "qty": 5}, ts=11),
            ev("c", "80-", "u2:1", after={"id": 9, "name": "nut", "qty": 2},
               ts=12),
        ]))
    yaml = """
source:
  type: vitess-file
  path: %s
  checkpoint: %s
  tables: '{"shop.items": "id BIGINT, name STRING, qty BIGINT"}'
  primary-keys: '{"shop.items": ["id"]}'
sink: {type: values}
route:
  - source-table: shop.items
    sink-table: out.shop_items
""" % (src, tmp_path / "ckpt")
    composer = PipelineComposer(spark)
    pdef = parse_yaml_pipeline(yaml)
    assert composer.is_streaming(pdef)
    sink = MemorySink()
    pipe, raw, tables = composer.compose_streaming(pdef, sink=sink)
    assert pipe.serialization == "vitess-json"
    q = pipe.start(raw, tables)
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("out.shop_items")) \
        == ["1, bolt, 8", "9, nut, 2"]
