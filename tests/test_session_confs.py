"""Engine-owned session confs (round 12, verdict r11 item 3): the AQE
minPartitionSize floor must live in the ENGINE (common/session.py) and be
inherited by every session-construction site — bench.py measuring a conf
the library never ships is a harness-only 'optimization'."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from source_flink_cdc_3_5_0_spark.common.session import (  # noqa: E402
    ENGINE_ROOT,
    WORKER_MODULE,
    apply_engine_confs,
    engine_session_confs,
)


class _FakeBuilder:
    def __init__(self):
        self.confs = {}

    def config(self, k, v):
        self.confs[k] = v
        return self


def test_engine_confs_carry_the_aqe_floor():
    confs = engine_session_confs()
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert confs[
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"] == "64k"


def test_engine_confs_keep_lake_file_listing_on_the_driver():
    """Lake reads pass one root path per manifest-listed file; above the
    parallel-discovery threshold Spark lists them in a job before the scan
    is planned. The engine raises it to one fixed value, with no env
    override."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert engine_session_confs()[key] == "10000"


def test_engine_confs_run_python_udfs_under_the_worker_module():
    """pyspark's daemon takes a worker module only if its name starts
    with ``pyspark``; the module sits next to the engine package, whose
    directory the workers get on their ``PYTHONPATH``."""
    confs = engine_session_confs()
    assert confs["spark.python.worker.module"] == WORKER_MODULE
    assert WORKER_MODULE.startswith("pyspark")
    assert confs["spark.executorEnv.PYTHONPATH"] == ENGINE_ROOT
    assert os.path.isfile(os.path.join(ENGINE_ROOT, WORKER_MODULE + ".py"))
    assert os.path.isdir(os.path.join(ENGINE_ROOT,
                                      "source_flink_cdc_3_5_0_spark"))


def test_apply_folds_every_conf():
    b = _FakeBuilder()
    assert apply_engine_confs(b) is b
    assert b.confs == engine_session_confs()


def test_every_session_builder_inherits_the_engine_confs():
    """Grep-level pin: each file that builds a measurement, test or engine
    session routes through apply_engine_confs, so neither the floor nor
    the worker module can drift back into being harness-only."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = [os.path.join(".claude", f"{t}.py") for t in (
        "profile_query", "capture_plans", "conf_experiment",
        "cprofile_query", "driver_check")]
    for rel in ["bench.py", "bench_retime.py", "bench_scale.py",
                os.path.join("perfbench", "run.py"),
                os.path.join("tests", "conftest.py"),
                os.path.join("source_flink_cdc_3_5_0_spark", "__main__.py"),
                *tools]:
        with open(os.path.join(root, rel)) as f:
            src = f.read()
        assert "apply_engine_confs" in src, \
            f"{rel} builds a session without the engine confs"
        assert "coalescePartitions.minPartitionSize" not in src, \
            f"{rel} re-declares the AQE floor instead of inheriting it"
        assert "python.worker.module" not in src, \
            f"{rel} re-declares the worker module instead of inheriting it"
