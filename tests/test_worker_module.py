"""The engine's Python-worker module (``pyspark_engine_worker.py``).

pyspark's per-task ``importlib.invalidate_caches()`` made every zipimporter
re-read its archive's central directory; the worker module makes that
re-read lazy. The Spark-free tests pin the two sides of that contract: a
changed archive is still re-read, an unchanged one is not. The session
tests pin the reach: every engine session's workers load the module, also
when the driver runs outside the repo, and a session without the conf
still runs UDFs.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from source_flink_cdc_3_5_0_spark.common.session import (
    ENGINE_ROOT,
    WORKER_MODULE,
)

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches
if _STDLIB_INVALIDATE.__module__ == WORKER_MODULE:
    _STDLIB_INVALIDATE = _STDLIB_INVALIDATE.__wrapped__
_LAZY_QUALNAME = "lazy_invalidate_caches.<locals>.invalidate_caches"


@pytest.fixture(scope="module")
def worker():
    """The worker module, imported without leaving its patch on this
    process: each test installs its own wrapper through monkeypatch."""
    mod = importlib.import_module(WORKER_MODULE)
    zipimport.zipimporter.invalidate_caches = _STDLIB_INVALIDATE
    yield mod
    zipimport.zipimporter.invalidate_caches = _STDLIB_INVALIDATE


@pytest.fixture
def lazy(worker, monkeypatch):
    if not worker._eager_stdlib():
        pytest.skip("this interpreter's zipimport already invalidates lazily")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker.lazy_invalidate_caches(_STDLIB_INVALIDATE))


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path``; its modules leave ``sys.modules`` and
    its importers leave ``sys.path_importer_cache`` afterwards."""
    path = str(tmp_path / "lib.zip")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] in ("zmod", "zpkg")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _fresh_import(name):
    sys.modules.pop(name, None)
    return importlib.import_module(name)


def test_rewritten_zip_exposes_its_new_module(lazy, zip_on_path):
    """A zip rewritten in place (same inode, grown) and then a zip replaced
    by a rename (new inode, same size) are re-read on the next
    ``importlib.invalidate_caches()``."""
    _write_zip(zip_on_path, {"zmod.py": "VALUE = 1\n"})
    assert _fresh_import("zmod").VALUE == 1
    importlib.invalidate_caches()  # unchanged: served from the cache
    assert _fresh_import("zmod").VALUE == 1

    inode = os.stat(zip_on_path).st_ino
    with open(zip_on_path, "r+b") as f:  # in place: the inode stays
        new = zip_on_path + ".new"
        _write_zip(new, {"zmod.py": "VALUE = 22\n",
                         "zmod_added.py": "ADDED = True\n"})
        with open(new, "rb") as g:
            f.write(g.read())
        f.truncate()
    assert os.stat(zip_on_path).st_ino == inode
    importlib.invalidate_caches()
    assert _fresh_import("zmod").VALUE == 22
    assert _fresh_import("zmod_added").ADDED is True

    size = os.stat(zip_on_path).st_size
    _write_zip(new, {"zmod.py": "VALUE = 33\n",
                     "zmod_added.py": "ADDED = 1234\n"})
    os.replace(new, zip_on_path)
    assert os.stat(zip_on_path).st_size == size
    assert os.stat(zip_on_path).st_ino != inode
    importlib.invalidate_caches()
    assert _fresh_import("zmod").VALUE == 33
    assert _fresh_import("zmod_added").ADDED == 1234


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _package_zip(path):
    """A zip whose imports leave three zipimporters over it (the archive
    root, ``zpkg/`` and ``zpkg/sub/``), as ``pyspark.zip`` leaves ~16."""
    _write_zip(path, {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "",
                      "zpkg/sub/leaf.py": "X = 1\n"})
    importlib.import_module("zpkg.sub.leaf")
    importers = [k for k in sys.path_importer_cache
                 if k.startswith(path)
                 and isinstance(sys.path_importer_cache[k],
                                zipimport.zipimporter)]
    assert len(importers) == 3, importers
    return importers


def test_unchanged_zip_is_not_reread(lazy, zip_on_path, monkeypatch):
    """All importers of one unchanged archive share its cached directory:
    after the first invalidation reads it once, later ones read nothing."""
    _package_zip(zip_on_path)
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls.count(zip_on_path) <= 1
    del calls[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls.count(zip_on_path) == 0
    shared = zipimport._zip_directory_cache[zip_on_path]
    assert all(sys.path_importer_cache[k]._files is shared
               for k in sys.path_importer_cache if k.startswith(zip_on_path))


def test_stdlib_rereads_the_zip_per_importer(worker, zip_on_path,
                                             monkeypatch):
    """The cost the worker module removes: without it, one invalidation
    reads the archive once per importer over it."""
    if not worker._eager_stdlib():
        pytest.skip("this interpreter's zipimport already invalidates lazily")
    importers = _package_zip(zip_on_path)
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls.count(zip_on_path) == len(importers)


def test_lazy_stdlib_is_left_unpatched(worker, monkeypatch):
    """An interpreter whose ``invalidate_caches`` only drops the cached
    directory (CPython 3.13) gets no wrapper."""

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        invalidate_caches)
    assert not worker._eager_stdlib()
    assert worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is invalidate_caches


def test_install_is_idempotent(worker, monkeypatch):
    if not worker._eager_stdlib():
        pytest.skip("this interpreter's zipimport already invalidates lazily")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _STDLIB_INVALIDATE)
    assert worker.install() is True
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.__qualname__ == _LAZY_QUALNAME
    assert worker.install() is True
    assert zipimport.zipimporter.invalidate_caches is wrapped


def _worker_report(spark):
    """What a pandas-UDF task sees: whether its worker imported the module
    and which ``invalidate_caches`` its zipimporters run."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def report(ids: pd.Series) -> pd.Series:
        import sys as _sys
        import zipimport as _zi

        loaded = "pyspark_engine_worker" in _sys.modules or (
            getattr(_sys.modules["__main__"], "LAZY_ZIPIMPORT", None)
            is not None)
        qual = _zi.zipimporter.invalidate_caches.__qualname__
        return pd.Series([f"{loaded}|{qual}"] * len(ids))

    return {r[0] for r in spark.range(8).repartition(4)
            .select(report("id")).collect()}


def test_test_session_workers_load_the_module(spark):
    """The tier-1 session is built through ``apply_engine_confs``, so its
    Python UDFs run under the worker module."""
    assert spark.conf.get("spark.python.worker.module") == WORKER_MODULE
    assert _worker_report(spark) == {f"True|{_LAZY_QUALNAME}"}


_SESSION_SCRIPT = textwrap.dedent("""
    import os, sys
    if os.environ.get("ENGINE_ON_SYS_PATH"):
        sys.path.insert(0, os.environ["ENGINE_ON_SYS_PATH"])
    from pyspark.sql import SparkSession
    from source_flink_cdc_3_5_0_spark.common.session import (
        apply_engine_confs)
    sys.path.insert(0, os.environ["TESTS_DIR"])
    from test_worker_module import _worker_report

    # the builder's options are process-wide, so a later session keeps the
    # earlier ones: a process runs one kind of session, then a variant
    b = SparkSession.builder.master("local[2]").config(
        "spark.ui.enabled", "false")
    if os.environ["SESSIONS"] != "plain":
        b = apply_engine_confs(b)
    for name in os.environ["SESSIONS"].split(","):
        if name == "no_daemon":
            b = b.config("spark.python.use.daemon", "false")
        s = b.getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        print("REPORT", name, sorted(_worker_report(s)), flush=True)
        s.stop()
""")


def _run_sessions(tmp_path, sessions: str, pythonpath: bool) -> dict:
    """Run ``sessions`` (comma-separated: ``engine`` then ``no_daemon``, or
    ``plain``) in one driver process whose working directory is outside
    the repo; the engine is on ``PYTHONPATH`` or on ``sys.path`` only."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TESTS_DIR"] = os.path.dirname(os.path.abspath(__file__))
    env["SESSIONS"] = sessions
    if pythonpath:
        env["PYTHONPATH"] = ENGINE_ROOT
    else:
        env["ENGINE_ON_SYS_PATH"] = ENGINE_ROOT
    out = subprocess.run([sys.executable, "-c", _SESSION_SCRIPT],
                         cwd=str(tmp_path), env=env, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return {line.split(" ", 2)[1]: line.split(" ", 2)[2]
            for line in out.stdout.splitlines() if line.startswith("REPORT ")}


_LAZY_REPORT = repr([f"True|{_LAZY_QUALNAME}"])


def test_engine_sessions_outside_the_repo_load_the_module(tmp_path):
    """From a working directory outside the repo, with the engine on
    ``PYTHONPATH``: an engine session's workers load the module, with and
    without pyspark's daemon."""
    reports = _run_sessions(tmp_path, "engine,no_daemon", pythonpath=True)
    assert reports == {"engine": _LAZY_REPORT,
                       "no_daemon": _LAZY_REPORT}, reports


def test_session_without_the_conf_still_runs_udfs(tmp_path):
    reports = _run_sessions(tmp_path, "plain", pythonpath=True)
    assert reports == {"plain": repr(
        ["False|zipimporter.invalidate_caches"])}, reports


def test_engine_on_the_driver_sys_path_only_loads_the_module(tmp_path):
    """A driver script that put the engine on its own ``sys.path`` only
    still gets workers that import the module: the engine confs put the
    engine root on the workers' ``PYTHONPATH``."""
    reports = _run_sessions(tmp_path, "engine", pythonpath=False)
    assert reports == {"engine": _LAZY_REPORT}, reports
