"""Python-worker entry module for engine sessions: pyspark's worker, with
zipimport cache invalidation made lazy.

``common/session.py`` names this module in ``spark.python.worker.module``.
pyspark's daemon imports it once, before it forks workers, and runs its
``main`` (``pyspark.worker.main``, re-exported) for every task; without the
daemon Spark runs it as a script, which runs ``pyspark.worker``'s own
script body. The daemon takes a worker module only if its name starts with
``pyspark``
(``pyspark/daemon.py``), so this is a top-level module that sits on the
same ``sys.path`` entry as the ``source_flink_cdc_3_5_0_spark`` package,
which workers import anyway to run the engine's UDFs.

Why: pyspark's per-task ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.10-3.12
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory, and a worker holds about 16 zipimporters over ``pyspark.zip``
(one per package imported from it), so every task re-read the 1,328-entry
directory 16 times: about 0.2 s of worker CPU per task, before its first
row. At import this module wraps ``zipimporter.invalidate_caches`` so that
it re-reads an archive only when the archive's
``(st_ino, st_mtime_ns, st_size)`` changed since the last read; all
importers of one archive then share the one cached directory. An archive
that was replaced, rewritten or grown (an ``addPyFile`` of a new version)
is still re-read; only an in-place rewrite that keeps the size within one
file-timestamp tick would go unseen.

CPython 3.13 already invalidates lazily (its ``invalidate_caches`` only
drops the cached directory), so there, and on any interpreter whose
private ``zipimport`` names differ, this module patches nothing and the
worker runs exactly as pyspark's own.
"""

from __future__ import annotations

import os
import runpy
import zipimport

from pyspark.worker import main  # noqa: F401  (the daemon calls main)


def _stamp(path: str):
    """``(st_ino, st_mtime_ns, st_size)`` of ``path``, or None if it
    cannot be stat'ed."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _eager_stdlib() -> bool:
    """True when ``zipimporter.invalidate_caches`` is the eager stdlib
    method this module knows: it calls ``_read_directory`` and fills
    ``_zip_directory_cache`` (CPython 3.10-3.12)."""
    method = getattr(zipimport.zipimporter, "invalidate_caches", None)
    code = getattr(method, "__code__", None)
    return (code is not None
            and "_read_directory" in code.co_names
            and isinstance(getattr(zipimport, "_zip_directory_cache", None),
                           dict))


def lazy_invalidate_caches(reread):
    """Wrap the stdlib ``zipimporter.invalidate_caches`` ``reread``: call
    it only when the importer's archive changed since this wrapper last
    read it, else point the importer at the shared cached directory."""
    stamps: dict[str, tuple] = {}

    def invalidate_caches(self):
        archive = self.archive
        # stat BEFORE reading: a change that lands between the two leaves
        # an old stamp next to new contents, which only costs a re-read
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if (stamp is not None and files is not None
                and stamps.get(archive) == stamp):
            self._files = files
            return
        reread(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            stamps[archive] = stamp
        else:
            stamps.pop(archive, None)

    invalidate_caches.__wrapped__ = reread
    return invalidate_caches


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` once; True if it is (now)
    the lazy wrapper, False if this interpreter is left as it is."""
    cls = zipimport.zipimporter
    current = getattr(cls, "invalidate_caches", None)
    if getattr(current, "__module__", None) == __name__:
        return True
    if not _eager_stdlib():
        return False
    cls.invalidate_caches = lazy_invalidate_caches(current)
    return True


#: whether this worker invalidates zipimport caches lazily
LAZY_ZIPIMPORT = install()

if __name__ == "__main__":
    # without the daemon (``spark.python.use.daemon=false``) Spark runs the
    # worker module as a script, one process per worker
    runpy.run_module("pyspark.worker", run_name="__main__")
