"""``common/atomic.py``: the one control-file write primitive.

Unit contract (fsync of file and directory, failed publish changes
nothing, exclusive create never overwrites), the guard that keeps it the
only rename/replace/link in the engine, and torn-write checks for the
sink control files that used to be written in place."""

import ast
import os
import re
import stat

import pytest
from pyspark.sql import types as T

import source_flink_cdc_3_5_0_spark as engine
from source_flink_cdc_3_5_0_spark.common import (AddColumnEvent, Column,
                                                 CreateTableEvent,
                                                 DataChangeEvent, Schema,
                                                 TableId, atomic)
from source_flink_cdc_3_5_0_spark.common.atomic import atomic_write
from source_flink_cdc_3_5_0_spark.operators.schema_evolution import \
    apply_schema_change_event
from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource


@pytest.mark.parametrize("exclusive", [False, True])
def test_atomic_write_fsyncs_file_then_directory(tmp_path, monkeypatch,
                                                 exclusive):
    synced = []
    real = os.fsync

    def fsync(fd):
        synced.append("dir" if stat.S_ISDIR(os.fstat(fd).st_mode)
                      else "file")
        real(fd)

    monkeypatch.setattr(atomic.os, "fsync", fsync)
    p = tmp_path / "f.json"
    atomic_write(str(p), "héllo", exclusive=exclusive)
    assert synced == ["file", "dir"]
    assert p.read_bytes() == "héllo".encode()
    assert os.listdir(tmp_path) == ["f.json"]


@pytest.mark.parametrize("exclusive", [False, True])
def test_failed_publish_leaves_target_and_no_temp(tmp_path, monkeypatch,
                                                  exclusive):
    p = tmp_path / "f.json"
    before = [] if exclusive else ["f.json"]
    if not exclusive:
        p.write_bytes(b"old")
    seen = []

    def publish(tmp, path, excl):
        with open(tmp, "rb") as f:
            seen.append((os.path.basename(tmp), f.read()))
        raise OSError("injected publish failure")

    monkeypatch.setattr(atomic, "_publish", publish)
    with pytest.raises(OSError, match="injected"):
        atomic_write(str(p), b"new", exclusive=exclusive)
    # the temp was whole and hidden when publish ran, and is gone now
    [(name, body)] = seen
    assert re.fullmatch(r"\.f\.json\.\d+\.[0-9a-f]{8}\.tmp", name)
    assert body == b"new"
    assert sorted(os.listdir(tmp_path)) == before
    if not exclusive:
        assert p.read_bytes() == b"old"


def test_exclusive_never_overwrites(tmp_path):
    p = tmp_path / "0.json"
    atomic_write(str(p), b"first", exclusive=True)
    with pytest.raises(FileExistsError):
        atomic_write(str(p), b"second", exclusive=True)
    assert p.read_bytes() == b"first"
    assert os.listdir(tmp_path) == ["0.json"]


# Spark writes these data files itself (Hadoop's local writer does not
# fsync them) and the engine only moves them into place; every control
# file goes through atomic_write.
SPARK_DATA_PUBLISHES = {
    ("sinks/ddl_spool.py", "spool_batch"),
    ("sinks/lakehouse.py", "_staged_write"),
}


def _renames(node, func=None):
    """Yield the enclosing function of every ``os.replace``/``os.rename``
    /``os.link`` call under ``node``; refuse ``from os import`` of them."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        func = node.name
    if isinstance(node, ast.ImportFrom) and node.module == "os":
        assert not {a.name for a in node.names} & {"replace", "rename",
                                                   "link"}
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
            and node.func.attr in ("replace", "rename", "link")):
        yield func
    for child in ast.iter_child_nodes(node):
        yield from _renames(child, func)


def test_atomic_write_is_the_only_rename_in_the_engine():
    root = os.path.dirname(engine.__file__)
    found = set()
    for dirpath, _, files in os.walk(root):
        for fname in files:
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if not fname.endswith(".py") or rel == "common/atomic.py":
                continue
            with open(path) as f:
                found.update((rel, func)
                             for func in _renames(ast.parse(f.read())))
    assert found == SPARK_DATA_PUBLISHES


# -- torn writes: control files once written in place ----------------------

TID = TableId.parse("atomic.db.t")
S1 = Schema.of(Column("id", T.IntegerType(), False),
               Column("v", T.StringType()), primary_keys=["id"])
ADD = AddColumnEvent.last(TID, Column("extra", T.StringType()))


def _batch(spark):
    return ValuesSource._to_df(spark, S1, [
        DataChangeEvent.insert(TID, (1, "a")),
        DataChangeEvent.insert(TID, (2, "b"))])


def _created(sink):
    sink.metadata_applier().apply_schema_change(
        TID, CreateTableEvent(TID, S1), S1)


def _evolve(sink, spark):
    sink.metadata_applier().apply_schema_change(
        TID, ADD, apply_schema_change_event(S1, ADD))


# (sink factory, control file under the table dir, setup, failing write)
TORN = {
    "lake_schema": (SnapshotLakeSink, "_schema.json", _created,
                    _evolve),
    "lake_meta": (SnapshotLakeSink, "_table.json", lambda s: None,
                  lambda s, spark: s._ensure_meta(TID)),
    "lake_marker": (SnapshotLakeSink, "_batch_0", _created,
                    lambda s, spark: s.write(TID, _batch(spark), S1, 0)),
}


def _read(path):
    try:
        with open(path, "rb") as f:
            return f.read()
    except FileNotFoundError:
        return None


@pytest.mark.parametrize("case", sorted(TORN))
def test_control_file_is_never_torn(spark, tmp_path, monkeypatch, case):
    make, name, setup, write = TORN[case]
    sink = make(str(tmp_path / "root"), num_buckets=2)
    setup(sink)
    target = os.path.join(sink._table_dir(TID), name)
    before = _read(target)
    real = atomic._publish

    def publish(tmp, path, exclusive):
        if path == target:
            raise OSError("injected publish failure")
        real(tmp, path, exclusive)

    monkeypatch.setattr(atomic, "_publish", publish)
    with pytest.raises(OSError, match="injected"):
        write(sink, spark)
    assert _read(target) == before
    leftovers = [f for _, _, fs in os.walk(tmp_path) for f in fs
                 if f.endswith(".tmp")]
    assert leftovers == []
