"""Model-based randomized lifecycle test for the Vitess reshard state
machine (`advance_stream_state` — the pure transition behind the runner's
`fold_vstream_batch`), the same second-lens approach the sharded lake
manifest got.

A reference model maintains the TRUE serving set (random splits at byte
boundaries and merges of adjacent shards) and per-shard GTID counters;
batches reveal events from random shard subsets — including partial split
visibility (one child speaks, the sibling stays quiet for a batch or two).
Invariants after every transition:

- the persisted serving set always tiles the keyspace-id space;
- no surviving (keyspace, shard) VGTID entry ever regresses
  (`gtid_covers(new, old)`);
- once a reshard quiesces, the state's serving set equals the model's and
  retired parents'/merged children's entries are gone;
- straggler events from retired shards are ignored (no serving flip-flop,
  no entry resurrection) while names age out of `RETIRE_WINDOW` and can
  then be legitimately revived by a later reshard (ping-pong);
- `stop_on_reshard` halts with the state UNTOUCHED (the boundary batch is
  re-delivered after restart), and the ``resuming`` arm adopts the
  transition exactly once instead of re-halting on its own re-delivery.

No Spark in this file — pure control-plane logic.
"""

import json

from hypothesis import given, settings, strategies as st

from source_flink_cdc_3_5_0_spark.sources.vitess import (
    RETIRE_WINDOW, ShardRange, VitessStreamState, advance_stream_state,
    gtid_covers,
)

KS = "shop"


def shards_tile(shards: list[str]) -> bool:
    """True iff the shard set partitions the keyspace-id space — contiguous,
    non-overlapping, from -inf to +inf (what a healthy keyspace serves)."""
    ranges = sorted(ShardRange.parse(s) for s in shards)
    if not ranges or ranges[0].start != b"" or ranges[-1].end != b"":
        return False
    return all(a.end == b.start and a.end != b""
               for a, b in zip(ranges, ranges[1:]))


def vgtid_json(positions):
    return json.dumps([{"keyspace": KS, "shard": s, "gtid": g}
                       for s, g in positions])


def row(shard, gtid):
    return {"shard": shard, "keyspace": KS,
            "vgtid": vgtid_json([(shard, gtid)])}


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_reshard_state_machine_random_lifecycle(data):
    true = [ShardRange.parse("-")]
    counters = {"-": 0}
    state = VitessStreamState()
    last_pos: dict = {}

    def emit(shard_ranges):
        nonlocal state
        rows = []
        for r in shard_ranges:
            counters[r.name] += 1
            rows.append(row(r.name, "u1:1-%d" % counters[r.name]))
        state, keep = advance_stream_state(rows, state)
        assert keep is False
        assert shards_tile(list(state.shards))
        for g in state.vgtid.shard_gtids:
            old = last_pos.get((g.keyspace, g.shard))
            if old is not None:
                assert gtid_covers(g.gtid, old), (g, old)
            last_pos[(g.keyspace, g.shard)] = g.gtid

    retired_model: dict = {}  # name -> state.batches at retirement

    def age_out(names):
        # a reshard may not recreate a name still inside RETIRE_WINDOW
        # (the machine would treat its events as stragglers) — run steady
        # batches until the name ages out, as an operator would wait
        while any(state.batches + 1 - retired_model.get(nm, -10**9)
                  <= RETIRE_WINDOW for nm in names):
            emit(true)

    emit(true)  # first contact adopts the baseline serving set
    assert state.shards == tuple(sorted(r.name for r in true))

    for _ in range(data.draw(st.integers(2, 10))):
        op = data.draw(st.sampled_from(["batch", "split", "merge"]))
        if op == "batch":
            k = data.draw(st.integers(1, len(true)))
            emit(data.draw(st.permutations(true))[:k])
        elif op == "split":
            parent = data.draw(st.sampled_from(true))
            lo = parent.start[0] if parent.start else 0
            hi = parent.end[0] if parent.end else 256
            if hi - lo < 2:
                continue  # one-byte-wide shard: nothing to split
            cut = data.draw(st.integers(lo + 1, hi - 1))
            left = ShardRange(parent.start, bytes([cut]))
            right = ShardRange(bytes([cut]), parent.end)
            age_out([left.name, right.name])
            true = sorted([r for r in true if r != parent] + [left, right])
            pc = counters[parent.name]
            counters[left.name] = counters[right.name] = pc
            first, second = data.draw(st.permutations([left, right]))
            emit([first])  # partial visibility: sibling quiet
            assert (KS, first.name) in state.pending
            assert parent.name in state.shards  # not adopted yet
            if data.draw(st.booleans()):
                emit([first])  # sibling quiet for another batch
            emit([first, second])  # split completes
            assert state.shards == tuple(sorted(r.name for r in true))
            assert state.pending == ()
            assert state.vgtid.position(parent.name, KS) is None
            retired_model[parent.name] = state.batches
            if data.draw(st.booleans()):
                # cutover straggler from the retired parent: the control
                # plane must ignore it — no serving flip-flop back to the
                # parent (merge misclassification), no entry resurrection
                before = (state.serving, state.vgtid)
                emit([parent])
                assert state.serving == before[0]
                assert state.vgtid == before[1]
        else:  # merge two adjacent shards
            if len(true) < 2:
                continue
            i = data.draw(st.integers(0, len(true) - 2))
            a, b = true[i], true[i + 1]
            merged = ShardRange(a.start, b.end)
            age_out([merged.name])
            true = sorted([r for r in true if r not in (a, b)] + [merged])
            counters[merged.name] = max(counters[a.name], counters[b.name])
            emit([merged])
            assert state.shards == tuple(sorted(r.name for r in true))
            assert state.vgtid.position(a.name, KS) is None
            assert state.vgtid.position(b.name, KS) is None
            retired_model[a.name] = retired_model[b.name] = state.batches
            if data.draw(st.booleans()):
                before = (state.serving, state.vgtid)
                emit([a])  # straggler from a merged-away child
                assert state.serving == before[0]
                assert state.vgtid == before[1]

    emit(true)  # quiesce: every serving shard speaks
    assert set(state.shards) == {r.name for r in true}
    assert {g.shard for g in state.vgtid.shard_gtids} == set(state.shards)


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 254), st.integers(1, 20), st.booleans())
def test_stop_on_reshard_halt_then_resume_adopts_once(cut, n, full):
    """stopOnReshard HALT: the state is UNTOUCHED except ``stopped`` (the
    boundary batch is not processed and re-delivers after restart) —
    nothing from the boundary batch's own positions leaks in.  The
    operator restart arms ``resuming``: the SAME rows then ADOPT the
    transition instead of re-halting (no livelock on re-delivery), and
    the arm disarms once the stream steadies."""
    from dataclasses import replace

    state, _ = advance_stream_state([row("-", "u1:1-%d" % n)],
                                    VitessStreamState())
    left = ShardRange(b"", bytes([cut]))
    right = ShardRange(bytes([cut]), b"")
    rows = [row("-", "u1:1-%d" % (n + 1)),
            row(left.name, "u1:1-%d" % (n + 2))]
    if full:
        rows.append(row(right.name, "u1:1-%d" % (n + 2)))
    st2, halt = advance_stream_state(rows, state, stop_on_reshard=True)
    assert halt and st2.stopped
    assert st2.vgtid == state.vgtid          # nothing advanced
    assert st2.serving == state.serving
    assert st2.pending == state.pending == ()
    # restart: clear the flag, arm resuming — re-delivery adopts
    st3, halt3 = advance_stream_state(
        rows, replace(st2, stopped=False, resuming=True),
        stop_on_reshard=True)
    assert not halt3 and not st3.stopped
    if full:
        assert st3.shards == tuple(sorted([left.name, right.name]))
        assert st3.vgtid.position("-", KS) is None  # parent retired
        assert st3.vgtid.position(left.name, KS) == "u1:1-%d" % (n + 2)
        # steady batch disarms the resuming grace
        st4, _ = advance_stream_state(
            [row(left.name, "u1:1-%d" % (n + 3))], st3,
            stop_on_reshard=True)
        assert not st4.resuming
        # ...and a LATER, separate reshard halts again (re-armed)
        sub = ShardRange(b"", bytes([1])) if cut > 1 else None
        if sub is not None:
            st5, halt5 = advance_stream_state(
                [row(sub.name, "u9:1")], st4, stop_on_reshard=True)
            assert halt5 and st5.stopped
    else:
        # partial split: the seen child goes pending under resuming; the
        # sibling completing later must not re-halt while still resuming
        assert (KS, left.name) in st3.pending
        assert st3.resuming
        st4, halt4 = advance_stream_state(
            [row(right.name, "u1:1-%d" % (n + 2))], st3,
            stop_on_reshard=True)
        assert not halt4
        assert st4.shards == tuple(sorted([left.name, right.name]))


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 254))
def test_first_contact_partial_then_late_discovery(cut):
    """A shard quiet in the first batch must not poison the stream: first
    contact adopts only the seen shards; the late shard is adopted as a
    discovery; an overlapping alien shard still raises."""
    import pytest

    left = ShardRange(b"", bytes([cut]))
    right = ShardRange(bytes([cut]), b"")
    state, _ = advance_stream_state([row(left.name, "u1:1")],
                                    VitessStreamState())
    assert state.shards == (left.name,)
    state, _ = advance_stream_state([row(right.name, "u2:1")], state)
    assert state.shards == tuple(sorted([left.name, right.name]))
    assert shards_tile(list(state.shards))
    # an alien shard overlapping the known set is still rejected
    if 2 <= cut <= 253:
        alien = ShardRange(bytes([cut - 1]), bytes([cut + 1]))
        with pytest.raises(ValueError, match="split or merge"):
            advance_stream_state([row(alien.name, "u3:1")], state)


def test_state_json_roundtrip_and_legacy_tolerance():
    """State files round-trip exactly; a legacy flat-shard-list file (the
    pre-keyspace-scoped format) loads without crashing — unrecognizable
    entries drop and the serving baseline re-bootstraps on the next
    batch instead of raising at startup."""
    state, _ = advance_stream_state([row("-80", "u1:1-5")],
                                    VitessStreamState())
    assert VitessStreamState.from_json(state.to_json()) == state
    legacy = ('{"vgtid":[{"keyspace":"shop","shard":"-80","gtid":"u1:1"}],'
              '"shards":["-80"],"pending":["-40"],"stopped":true}')
    st = VitessStreamState.from_json(legacy)
    assert st.serving == () and st.pending == () and st.stopped
    assert st.vgtid.position("-80", "shop") == "u1:1"
    # and it advances fine from there (re-bootstrap)
    st2, _ = advance_stream_state([row("-80", "u1:1-2")],
                                  VitessStreamState(vgtid=st.vgtid))
    assert st2.shards == ("-80",)


def test_multi_keyspace_serving_sets_do_not_interfere():
    """Same shard names in two keyspaces: serving sets, reshards, and
    VGTID entries stay keyspace-scoped (a ks1 split must not touch ks2's
    '-80' entry or serving set)."""
    def krow(ks, shard, gtid):
        return {"shard": shard, "keyspace": ks,
                "vgtid": json.dumps([{"keyspace": ks, "shard": shard,
                                      "gtid": gtid}])}

    state = VitessStreamState()
    state, _ = advance_stream_state(
        [krow("ks1", "-80", "u1:1-5"), krow("ks1", "80-", "u2:1"),
         krow("ks2", "-80", "u3:1-9"), krow("ks2", "80-", "u4:1")], state)
    assert state.serving_map() == {"ks1": ("-80", "80-"),
                                   "ks2": ("-80", "80-")}
    # ks1 splits -80; ks2 steady
    state, halt = advance_stream_state(
        [krow("ks1", "-40", "u5:1"), krow("ks1", "40-80", "u6:1")], state)
    assert not halt
    assert state.serving_map()["ks1"] == ("-40", "40-80", "80-")
    assert state.serving_map()["ks2"] == ("-80", "80-")  # untouched
    assert state.vgtid.position("-80", "ks2") == "u3:1-9"  # not clobbered
    assert state.vgtid.position("-80", "ks1") is None      # retired
    assert state.vgtid.position("-40", "ks1") == "u5:1"
