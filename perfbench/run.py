"""CDC pipeline benchmark: closed-loop rounds over the engine's public API.

    python3 perfbench/run.py --workload upsert_stream --seed 1 --seconds 20 \
        --trace 0

Runs one workload in one process on ``local[<nproc>]``, prints a detail line
(validity stamp, tail percentile and sample counts) and, as the last line of
stdout, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a run with layer wrappers and the Spark event log on
(see README.md in this directory).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "source_flink_cdc_3_5_0_spark"

#: a seed kept out of all tuning; later claims are checked on it too
HELD_OUT_SEED = 7919
#: host steal above this share of CPU time marks a run invalid
STEAL_BOUND_PCT = 5.0
#: share of the measured window spent on write rounds; reads fill the rest
WRITE_SHARE = 0.7
MIN_ROUNDS = 3
MIN_READS = 3

#: the bounded metrics are CPU-based: wall time on a shared KVM host drifts
#: by up to 2x between windows, so the wall-time figures (records/s, round
#: and read latency) are reported in the detail line only
END_TO_END = [
    ("cpu_ms_per_krecord", "ms/krecord"), ("read_cpu_ms_p50", "ms"),
    ("setup_s", "s"), ("peak_rss_mb", "MB"),
]
LAYER_COLS = ("executor_cpu_ms", "task_ms", "gc_ms", "shuffle_write_bytes",
              "jobs", "stages", "tasks")
PER_LAYER = [
    ("sources.decode_calls", "count"), ("sources.decode_driver_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.register_ms", "ms"),
    ("streaming.enrich_driver_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.offsets_ms", "ms"), ("streaming.wal_ms", "ms"),
    ("streaming.start_ms", "ms"),
    ("pipeline.compose_ms", "ms"),
    ("operators.transform_ms", "ms"), ("operators.coerce_ms", "ms"),
    ("operators.partition_ms", "ms"), ("operators.route_calls", "count"),
    ("operators.registry_ckpt_ms", "ms"),
    ("operators.registry_restore_ms", "ms"),
    ("operators.schema_events", "count"),
    ("sinks.write_calls", "count"), ("sinks.write_ms", "ms"),
    ("sinks.ddl_calls", "count"), ("sinks.ddl_ms", "ms"),
    ("sinks.read_ms", "ms"), ("sinks.files_written", "count"),
    ("sinks.bytes_written", "bytes"), ("sinks.meta_bytes", "bytes"),
    ("sinks.scan_kept_ratio", "ratio"),
    ("extensions.minhash_ms", "ms"), ("extensions.srp_ms", "ms"),
    ("extensions.read_ms", "ms"), ("extensions.pairs_out", "count"),
] + [(f"{layer}.{col}",
      {"executor_cpu_ms": "ms", "task_ms": "ms", "gc_ms": "ms",
       "shuffle_write_bytes": "bytes"}.get(col, "count"))
     for layer in ("sources", "streaming", "operators", "pipeline", "sinks",
                   "extensions", "unattributed")
     for col in LAYER_COLS] + [
    ("proc.driver_cpu_ms", "ms"), ("proc.jvm_cpu_ms", "ms"),
    ("proc.python_workers_cpu_ms", "ms"), ("proc.cached_peak_mb", "MB"),
    ("trace.overhead_pct", "%"), ("trace.unattributed_cpu_share", "ratio"),
    ("ref1.records_per_s", "records/s"), ("ref1.speedup", "x"),
]


# -- validity stamp ---------------------------------------------------------

def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def source_digest() -> str:
    """Content hash of the engine sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, ENGINE)
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def steal_pct(cpu0: list[int], cpu1: list[int]) -> float:
    """Host steal as a share of all CPU time between two /proc/stat
    readings."""
    d = [b - a for a, b in zip(cpu0, cpu1)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def stamp(cpu0: list[int], cpu1: list[int], load: str) -> dict:
    import pyarrow
    import pyspark

    steal = steal_pct(cpu0, cpu1)
    return {"steal_pct": round(steal, 3), "steal_bound_pct": STEAL_BOUND_PCT,
            "valid": steal <= STEAL_BOUND_PCT, "loadavg": load,
            "nproc": os.cpu_count(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "git_commit": git_commit(),
            "source_digest": source_digest()}


# -- session ----------------------------------------------------------------

def make_session(cores: int, work: str, event_dir: str | None):
    """The session the engine's CLI builds (engine confs, UTC, shuffle
    partitions = cores), with every scratch path inside ``work``."""
    from pyspark.sql import SparkSession

    from source_flink_cdc_3_5_0_spark.common.session import apply_engine_confs

    b = (apply_engine_confs(SparkSession.builder.master(f"local[{cores}]"))
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         # the heap starts small and may grow to 2 GiB, so resident memory
         # follows the heap the run really uses
         .config("spark.driver.memory", "2g")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- measurement --------------------------------------------------------------

class Op:
    """One timed operation (a round or a read)."""

    def __init__(self, kind: str, traced: bool):
        self.kind, self.traced = kind, traced
        self.ms = 0.0
        self.records = 0
        self.cpu: dict[str, float] = {}
        self.window = (0, 0)  # epoch ms, for event-log attribution
        self.steal_pct = 0.0
        self.progress: list[dict] = []


class Phase:
    """One measured window: closed-loop write rounds, then reads."""

    def __init__(self):
        self.ops: list[Op] = []
        self.failed = 0
        #: most bytes of persisted blocks seen after an operation (traced)
        self.cached_peak = 0

    def select(self, kind: str, traced: bool) -> list[Op]:
        return [o for o in self.ops if o.kind == kind and o.traced == traced]

    def ms(self, kind: str, traced: bool = False) -> list[float]:
        return [o.ms for o in self.select(kind, traced)]

    def records_per_s(self, traced: bool = False) -> float:
        """Median over rounds of records per wall-second."""
        import stats

        return stats.median([1000.0 * o.records / o.ms
                             for o in self.select("round", traced)])

    def cpu_ms_per_krecord(self, traced: bool = False) -> float:
        """Median over rounds of process-tree CPU-ms per 1000 records."""
        import stats

        return stats.median([1000.0 * sum(o.cpu.values()) / o.records
                             for o in self.select("round", traced)
                             if o.records])

    def read_cpu_ms(self) -> float:
        """Median over untraced reads of process-tree CPU-ms per read."""
        import stats

        return stats.median([sum(o.cpu.values())
                             for o in self.select("read", False)])

    def cpu(self, traced: bool) -> dict[str, float]:
        out: dict[str, float] = {}
        for o in self.ops:
            if o.traced == traced:
                for k, v in o.cpu.items():
                    out[k] = out.get(k, 0.0) + v
        return out


def _op(fn) -> tuple[float, bool]:
    t0 = time.perf_counter()
    try:
        fn()
    except Exception:  # a failed operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return (time.perf_counter() - t0) * 1000.0, False
    return (time.perf_counter() - t0) * 1000.0, True


def _timed_op(ph: Phase, kind: str, fn, tree, tracer, traced: bool) -> bool:
    import procmon

    op = Op(kind, traced)
    if tracer is not None:
        tracer.enabled = traced
    c0, host0 = tree.cpu_ms(), _cpu_line()
    w0 = int(time.time() * 1000)
    op.ms, ok = _op(fn)
    op.window = (w0, int(time.time() * 1000))
    op.steal_pct = steal_pct(host0, _cpu_line())
    op.cpu = procmon.delta(tree.cpu_ms(), c0)
    if tracer is not None:
        tracer.enabled = False
    if not ok:
        ph.failed += 1
        return False
    ph.ops.append(op)
    return True


def cached_bytes(spark) -> int:
    """Bytes of persisted blocks the session holds, in memory and on disk.
    Process memory cannot show blocks that fit in heap the JVM has already
    committed; this can."""
    return sum(i.memSize() + i.diskSize()
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def window(wl, seconds: float) -> tuple[int, int]:
    """(rounds, reads) of a measured window of ``seconds``: rounds fill
    WRITE_SHARE of it at the workload's nominal round time, reads the rest.
    The counts, not the clock, end the window: round CPU keeps falling for
    dozens of rounds while the JIT compiles the planner, so a window that a
    slow host cut short would take its median earlier on that curve."""
    rounds = max(MIN_ROUNDS, round(WRITE_SHARE * seconds / wl.round_s))
    reads = max(MIN_READS, round((1 - WRITE_SHARE) * seconds / wl.read_s))
    return rounds, reads


def measure(wl, spark, seconds: float, tree, tracer=None,
            reads: bool = True) -> Phase:
    """Closed loop over the window of ``seconds``: write rounds, then
    reads. With a ``tracer``, the window is doubled and every second
    operation of each kind runs traced, so traced and untraced operations
    share the same warm state and their difference is the tracing
    overhead."""
    ph = Phase()
    n_rounds, n_reads = (n * (2 if tracer else 1) for n in window(wl, seconds))
    for i in range(n_rounds):
        n = wl.records[wl.rounds_run]
        if not _timed_op(ph, "round", lambda: wl.round(spark), tree, tracer,
                         tracer is not None and i % 2 == 1):
            return ph
        ph.ops[-1].records = n
        ph.ops[-1].progress = wl.last_progress
        if tracer is not None:
            ph.cached_peak = max(ph.cached_peak, cached_bytes(spark))
    for i in range(n_reads if reads else 0):
        if not _timed_op(ph, "read", lambda: wl.read(spark), tree, tracer,
                         tracer is not None and i % 2 == 1):
            return ph
    return ph


def _check(wl, spark) -> int:
    """Oracle mismatches; an output the oracle cannot even read counts as
    one mismatch."""
    try:
        return wl.check(spark)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1


def _warm(wl, spark, tree, reads: bool = True
          ) -> list[tuple[float, float]] | None:
    """Untimed rounds, then untimed reads, before the window; their (wall
    ms, CPU ms), or None on failure."""
    import procmon

    times = []
    ops = [wl.round] * (1 + wl.warmup_rounds) + [wl.read] * (
        wl.warmup_reads if reads else 0)
    for fn in ops:
        c0 = tree.cpu_ms()
        ms, ok = _op(lambda: fn(spark))
        if not ok:
            return None
        cpu = sum(procmon.delta(tree.cpu_ms(), c0).values())
        times.append((round(ms, 1), round(cpu)))
    return times


def _streaming_stats(rounds: list[Op]) -> dict[str, float]:
    prog = [p for o in rounds for p in o.progress]
    dur = [p.get("durationMs", {}) for p in prog]
    trig = sum(d.get("triggerExecution", 0) for d in dur)
    return {
        "streaming.batches": len(prog),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "streaming.offsets_ms": sum(d.get("latestOffset", 0)
                                    + d.get("getBatch", 0) for d in dur),
        "streaming.wal_ms": sum(d.get("walCommit", 0)
                                + d.get("commitOffsets", 0) for d in dur),
        "streaming.start_ms": max(0.0, sum(o.ms for o in rounds) - trig)
        if prog else 0.0,
    }


def _event_log(event_dir: str) -> str:
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log, found {names}")
    return os.path.join(event_dir, names[0])


def run(args, work: str) -> tuple[dict, dict]:
    import procmon
    import stats
    import tracing
    from workloads import WORKLOADS

    cpu0 = _cpu_line()
    with open("/proc/loadavg") as f:
        load = " ".join(f.read().split()[:3])
    cores = os.cpu_count() or 1
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "held_out_seed": HELD_OUT_SEED, "seconds": args.seconds,
                    "cores": cores, "loop": "closed, 1 client"}
    marks = [("start", time.perf_counter())]

    def mark(name):
        marks.append((name, time.perf_counter()))

    tree = procmon.ProcTree()
    wl = WORKLOADS[args.workload](os.path.join(work, "wl"), args.seed, None)
    wl.generate(wl.warmup_rounds + (2 if args.trace else 1)
                * window(wl, args.seconds)[0])
    mark("generate")

    event_dir = os.path.join(work, "events") if args.trace else None
    spark = make_session(cores, work, event_dir)
    tree.start_rss_sampler()
    tracer = tracing.Tracer(spark.sparkContext, enabled=False)
    wl.tracer = tracer
    mark("session")

    failed = 0
    wl.begin(os.path.join(work, "run"))
    warm = _warm(wl, spark, tree)
    warm_ok = warm is not None
    failed += not warm_ok
    detail["warmup_ms_cpu_ms"] = warm
    mark("warmup")

    # set-ups run in the warm session: a cold one mostly times class
    # loading and the JIT, which swing with the host, not the engine
    setups = []
    for i in range(wl.setups):
        d = os.path.join(work, f"setup{i}")
        os.makedirs(d)
        ms, ok = _op(lambda: wl.setup(spark, d))
        failed += not ok
        setups.append(ms / 1000.0)
        shutil.rmtree(d, ignore_errors=True)
    detail["setups_ms"] = [round(1000 * x, 1) for x in setups]
    mark("setups")
    ph = Phase()
    layer: dict[str, float] = {}
    if warm_ok:
        if args.trace:
            with tracing.patched(tracer):
                ph = measure(wl, spark, args.seconds, tree, tracer)
            traced_rounds = ph.select("round", True)
            layer.update(tracer.ms)
            layer.update(tracer.counts)
            layer.update(_streaming_stats(traced_rounds))
            layer.update(wl.layer_stats(spark))
        else:
            ph = measure(wl, spark, args.seconds, tree)
    failed += ph.failed
    # the peak covers the engine's run, not the oracle's own memory
    peak = tree.stop_rss_sampler()
    mark("measure")
    mismatches = _check(wl, spark)
    failed += mismatches > 0
    mark("oracle")
    spark.stop()
    attempted = (wl.setups + 1 + wl.warmup_rounds + len(ph.ops) + ph.failed
                 + 1)

    rounds_ms = ph.ms("round")
    tail, tail_p, tail_n = stats.tail(rounds_ms) if rounds_ms else (0, 0, 0)
    e2e = {
        "cpu_ms_per_krecord": ph.cpu_ms_per_krecord(),
        "read_cpu_ms_p50": ph.read_cpu_ms(),
        "setup_s": stats.median(setups),
        "peak_rss_mb": peak / 2 ** 20,
    }
    detail.update({
        "records_per_s": ph.records_per_s(),
        "round_ms_p50": stats.median(rounds_ms), "round_ms_tail": tail,
        "round_ms_tail_percentile": tail_p, "rounds": tail_n,
        "read_ms_p50": stats.median(ph.ms("read")),
        "reads": len(ph.ms("read")), "setups": len(setups),
        "records": sum(o.records for o in ph.select("round", False)),
        "oracle_mismatches": mismatches,
        "rounds_ms": [round(x, 1) for x in rounds_ms],
        "rounds_cpu_ms": [round(sum(o.cpu.values()))
                          for o in ph.select("round", False)],
        "reads_cpu_ms": [round(sum(o.cpu.values()))
                         for o in ph.select("read", False)],
        "rounds_steal_pct": [round(o.steal_pct, 1)
                             for o in ph.select("round", False)],
    })

    if args.trace and warm_ok and not ph.failed:
        windows = [o.window for o in ph.ops if o.traced]
        attr = tracing.attribute(tracing.read_event_log(_event_log(event_dir)),
                                 wl.run_ids, windows)
        for lname, cols in attr.items():
            for col, v in cols.items():
                layer[f"{lname}.{col}"] = v
        total_cpu = sum(cols["executor_cpu_ms"] for cols in attr.values())
        layer["trace.unattributed_cpu_share"] = (
            attr["unattributed"]["executor_cpu_ms"] / total_cpu
            if total_cpu else 0.0)
        traced_cpu = ph.cpu(True)
        layer["proc.driver_cpu_ms"] = traced_cpu.get("driver", 0.0)
        layer["proc.jvm_cpu_ms"] = traced_cpu.get("jvm", 0.0)
        layer["proc.python_workers_cpu_ms"] = traced_cpu.get(
            "python_workers", 0.0)
        layer["proc.cached_peak_mb"] = ph.cached_peak / 2 ** 20
        base = ph.cpu_ms_per_krecord(False)
        layer["trace.overhead_pct"] = (
            100.0 * (ph.cpu_ms_per_krecord(True) / base - 1.0) if base else 0.0)
        r1, ok1, mm1 = reference_pass(wl, args, work)
        mark("ref1")
        attempted += 1
        failed += not ok1 or mm1 > 0
        layer["ref1.records_per_s"] = r1
        layer["ref1.speedup"] = ph.records_per_s() / r1 if r1 else 0.0
        detail["ref1_oracle_mismatches"] = mm1

    detail["phases_s"] = {n: round(t - marks[i][1], 2)
                          for i, (n, t) in enumerate(marks[1:])}
    detail["stamp"] = stamp(cpu0, _cpu_line(), load)
    names = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else e2e
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                          for n, u in names}}
    return detail, result


def reference_pass(wl, args, work: str) -> tuple[float, bool, int]:
    """Single-core reference: the same workload inputs on ``local[1]``,
    untraced, write rounds only. Returns (records/s, ok, mismatches)."""
    import procmon
    import tracing

    ref_work = os.path.join(work, "ref1")
    spark = make_session(1, ref_work, None)
    try:
        wl.tracer = tracing.Tracer(spark.sparkContext, enabled=False)
        wl.begin(os.path.join(ref_work, "run"))
        if _warm(wl, spark, procmon.ProcTree(), reads=False) is None:
            return 0.0, False, 0
        ph = measure(wl, spark, args.seconds, procmon.ProcTree(), reads=False)
        mm = _check(wl, spark)
    finally:
        spark.stop()
    return ph.records_per_s(), not ph.failed, mm


def stop_engine_processes(timeout_s: float = 60.0) -> None:
    """Shut the JVM down and wait until every process it started (the
    ``pyspark.daemon`` workers) has exited; kill what outlives the
    timeout."""
    import signal

    import procmon

    tree = procmon.ProcTree()
    pids = [p for p in tree.pids() if p != tree.root]
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(procmon.alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if procmon.alive(p):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE!r} not found next to {HERE}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # set before pyspark is imported: the launcher JVM, the driver JVM and
    # the Python workers it forks all inherit these
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        detail, result = run(args, work)
    finally:
        stop_engine_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
