"""The one way the engine writes a control file (offsets, registry
checkpoint, replay markers, lake manifests and shards, spool segments).

Crash recovery reads these files, so a reader must find the old version
or the new one, never a torn mix (the rename), and one the engine has
acted on must survive a power loss (the fsyncs of file and directory).

The temp name ``.<basename>.<pid>.<uuid8>.tmp``: the leading dot hides a
leftover from ``glob`` and Spark's file index (which skips only ``.`` and
``_`` names); pid and uuid keep racing writers apart; the ``.tmp`` suffix
keeps it out of ``*.json`` name scans such as the lake's snapshot list.
"""

from __future__ import annotations

import contextlib
import os
import uuid


def _publish(tmp: str, path: str, exclusive: bool) -> None:
    if exclusive:
        os.link(tmp, path)  # FileExistsError if another writer won
        os.unlink(tmp)
    else:
        os.replace(tmp, path)


def atomic_write(path: str, data: str | bytes, *,
                 exclusive: bool = False) -> None:
    """Write ``data`` (a ``str`` is UTF-8 encoded) to ``path``: temp file
    in the same directory, fsync, publish, fsync the directory.  With
    ``exclusive`` an existing ``path`` is never replaced; the call raises
    ``FileExistsError``.  On any failure the temp file is removed and
    ``path`` is as it was."""
    parent, base = os.path.split(path)
    tmp = os.path.join(parent, f".{base}.{os.getpid()}."
                               f"{uuid.uuid4().hex[:8]}.tmp")
    try:
        with open(tmp, "wb") as f:
            f.write(data.encode() if isinstance(data, str) else data)
            f.flush()
            os.fsync(f.fileno())
        _publish(tmp, path, exclusive)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise
    fd = os.open(parent or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
