"""The benchmark's own checks: statistics, oracle, generators, event-log
attribution and the metric contract. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

import gen
import oracle
import run
import stats
import tracing

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


# -- tail percentile -------------------------------------------------------------

@pytest.mark.parametrize("n,want_p", [(5, 50), (19, 50), (20, 50), (30, 66),
                                      (100, 90), (1000, 99)])
def test_tail_leaves_ten_samples_beyond(n, want_p):
    xs = [float(i) for i in range(1, n + 1)]
    value, p, count = stats.tail(xs)
    assert (p, count) == (want_p, n)
    if n >= 20:
        assert sum(x > value for x in xs) >= stats.TAIL_MIN_BEYOND
        # one percentile higher would leave fewer than ten beyond
        assert p == 99 or sum(
            x > stats.percentile(xs, p + 1) for x in xs) < 10
    else:
        assert value == stats.median(xs)


def test_tail_of_empty_sample_refuses():
    with pytest.raises(ValueError):
        stats.tail([])


# -- oracle -------------------------------------------------------------------------

def _dbz(op, seq, before=None, after=None):
    return json.dumps({"before": before, "after": after, "op": op,
                       "seq": seq, "source": {"table": "t"}})


def _script(tmp_path):
    path = tmp_path / "round-00000.json"
    path.write_text("\n".join([
        _dbz("c", 1, after={"k": 1, "v": 10}),
        _dbz("c", 2, after={"k": 2, "v": 20}),
        _dbz("c", 3, after={"k": 3, "v": 30}),
        _dbz("u", 5, before={"k": 1, "v": 10}, after={"k": 1, "v": 12}),
        _dbz("u", 4, before={"k": 1, "v": 10}, after={"k": 1, "v": 11}),
        _dbz("d", 6, before={"k": 2, "v": 20}),
        _dbz("c", 7, after={"k": 4, "v": 7}),
    ]) + "\n")
    return [str(path)]


def _replay(files, where=None):
    con = duckdb.connect()
    try:
        return oracle.replay_debezium(con, files, "STRUCT(k BIGINT, v BIGINT)",
                                      "k", "k, v * 2 AS v2", where)
    finally:
        con.close()


def test_replay_is_last_writer_by_seq_without_deletes(tmp_path):
    want = _replay(_script(tmp_path), where="v <> 7")
    assert sorted(map(tuple, want.values.tolist())) == [(1, 24), (3, 60)]


def test_oracle_catches_a_planted_wrong_row(tmp_path):
    want = _replay(_script(tmp_path))
    cols = ["k", "v2"]
    good = pd.DataFrame({"k": [1, 3, 4], "v2": [24.0, 60.0, 14.0]})
    assert oracle.diff(oracle.rows_of(want, cols),
                       oracle.rows_of(good, cols)) == 0
    wrong = good.copy()
    wrong.loc[1, "v2"] = 61.0
    assert oracle.diff(oracle.rows_of(want, cols),
                       oracle.rows_of(wrong, cols)) == 2
    missing = good.iloc[:2]
    assert oracle.diff(oracle.rows_of(want, cols),
                       oracle.rows_of(missing, cols)) == 1


def test_pair_check_requires_every_planted_pair_and_nothing_else():
    planted = {(1, 5), (1, 9), (5, 9)}
    assert oracle.check_pairs([(1, 5), (5, 9), (1, 9)], planted) == 0
    assert oracle.check_pairs([(1, 5), (5, 9)], planted) == 1
    assert oracle.check_pairs([(1, 5), (5, 9), (1, 9), (2, 3)], planted) == 1


# -- generators -------------------------------------------------------------------

def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    names = sorted(os.listdir(a))
    return (names == sorted(os.listdir(b)) and not cmp.left_only
            and filecmp.cmpfiles(a, b, names, shallow=False)[0] == names)


def test_debezium_generator_is_deterministic_per_seed(tmp_path):
    for seed, d in ((3, "a"), (3, "b"), (4, "c")):
        gen.upsert_stream_inputs(seed, str(tmp_path / d), 500, 3, 0.75)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_corpus_generator_is_deterministic_per_seed(tmp_path):
    outs = []
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        corpus = gen.neardup_inputs(seed, str(tmp_path / d), 200, 10, 3)
        outs.append((corpus[2], corpus[3], corpus[4:]))
    assert outs[0] == outs[1]
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert outs[0][0] != outs[2][0]
    # 10 families of 3 replicas: 3 pairs each
    assert len(outs[0][0]) == 30


# -- event-log attribution ------------------------------------------------------------

def _ev(kind, **fields):
    return json.dumps({"Event": kind, **fields})


def _task(stage, cpu_ns, run_ms, gc, shuffle):
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": stage, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
            "JVM GC Time": gc,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}})


CANNED_LOG = [
    # before the traced window: ignored
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 500,
        "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "perfbench:sinks"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}}),
    _task(0, 9_000_000_000, 9000, 9, 9),
    # a sink write job with two stages
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1500,
        "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "perfbench:sinks"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}),
    _task(1, 2_000_000, 3, 1, 100),
    _task(1, 4_000_000, 5, 0, 50),
    _task(2, 1_000_000, 2, 0, 0),
    # the streaming query's own group (its run id)
    _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 1600,
        "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "run-1"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 3}}),
    _task(3, 3_000_000, 4, 0, 0),
    # no group at all
    _ev("SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 1700,
        "Stage IDs": [4], "Properties": {}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 4}}),
    _task(4, 5_000_000, 6, 0, 0),
    # a group the benchmark does not know
    _ev("SparkListenerJobStart", **{"Job ID": 4, "Submission Time": 1800,
        "Stage IDs": [5], "Properties": {"spark.jobGroup.id": "perfbench:x"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 5}}),
    _task(5, 1_000_000, 1, 0, 0),
]


def test_event_log_attribution_on_a_canned_log():
    out = tracing.attribute(CANNED_LOG, {"run-1"}, [(1000, 1650), (1700, 2000)])
    assert out["sinks"] == {"executor_cpu_ms": 7.0, "task_ms": 10.0,
                            "gc_ms": 1.0, "shuffle_write_bytes": 150.0,
                            "jobs": 1, "stages": 2, "tasks": 3}
    assert out["streaming"]["executor_cpu_ms"] == 3.0
    assert out["streaming"]["jobs"] == 1
    assert out["unattributed"]["executor_cpu_ms"] == 6.0
    assert out["unattributed"]["jobs"] == 2
    assert out["extensions"]["jobs"] == 0


# -- the metric contract ------------------------------------------------------------

def test_benchmark_json_names_the_metrics_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    from workloads import WORKLOADS

    names = [w["name"] for w in spec["workloads"]]
    assert set(names) <= set(WORKLOADS) and len(names) >= 2


def test_window_is_counted_from_seconds_not_clocked():
    from workloads import WORKLOADS

    for wl in WORKLOADS.values():
        rounds, reads = run.window(wl, 20)
        assert rounds == round(run.WRITE_SHARE * 20 / wl.round_s)
        assert reads >= run.MIN_READS
        assert run.window(wl, 40)[0] >= 2 * rounds - 1
    assert run.window(WORKLOADS["upsert_stream"], 1) == (run.MIN_ROUNDS,
                                                         run.MIN_READS)


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "upsert_stream", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
