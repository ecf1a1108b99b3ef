"""Replay-idempotent per-table DDL spool, shared by the sinks that render
schema events as statement text for a live executor (Stream Load's
MySQL-protocol spool, the MaxCompute SQLTask spool).

Replay discipline — EXACT, not heuristic: the marker records, per table,
the (micro-)batch id and the ORDERED digests of the DDL groups that
batch has already spooled.  A crash-replay re-runs the same batch's
schema events in the same order from a fresh process, so an incoming
group is a replay iff the batch matches, the group's ordinal within this
process's pass over the batch is inside the recorded list, and the
digest at that position matches.  Everything else — a later batch, a
genuine repeat inside one batch (TRUNCATE, ALTER, TRUNCATE), a group the
crashed run never durably recorded — appends.  This replaces the old
"skip if identical to the last group" heuristic, which both dropped real
repeats that followed data writes and could not tell a replay from a
repeat at all.

The caller applies DESTRUCTIVE side effects (e.g. the data-plane
truncate) only when :func:`spool_ddl` reports the group as new, and
applies them BEFORE the spool append so the one unprotected crash window
(between effect and marker) replays into an idempotent re-apply plus, at
worst, one duplicated spool line — never a lost effect and never a
destructive re-apply over later data.

The text-spool sinks (Kafka, Elasticsearch, Stream Load without a live
endpoint) publish each batch through :func:`spool_batch`: the directory
``batch_<id>`` appears whole or not at all, and its existence is the
batch's replay marker.
"""

from __future__ import annotations

import hashlib
import json
import os

from ..common.atomic import atomic_write

_MARKER = "_ddl_state.json"


def group_digest(stmts: list[str]) -> str:
    return hashlib.md5("\n".join(stmts).encode()).hexdigest()


def is_replay(table_dir: str, batch_ctx, ordinal: int,
              stmts: list[str]) -> bool:
    """True iff this (batch, ordinal, statements) group was already
    durably spooled by a previous pass over the same batch."""
    if batch_ctx is None:
        # No batch identity (direct API use) -> replay cannot be told apart
        # from a genuinely new identical group; always apply. The previous
        # null==null comparison misclassified a fresh process's first
        # identical group as a replay and silently skipped its data-plane
        # effect.
        return False
    marker = os.path.join(table_dir, _MARKER)
    if not os.path.exists(marker):
        return False
    try:
        with open(marker) as f:
            state = json.load(f)
    except (OSError, ValueError):
        return False
    if state.get("batch") != str(batch_ctx):  # None ctx returned above
        return False
    groups = state.get("groups") or []
    return ordinal < len(groups) and groups[ordinal] == group_digest(stmts)


def spool_ddl(table_dir: str, stmts: list[str], batch_ctx,
              ordinal: int) -> None:
    """Append ``stmts`` to ``table_dir/ddl.sql`` and record the group at
    ``ordinal`` of ``batch_ctx`` in the marker.  Call only when
    :func:`is_replay` said the group is new."""
    os.makedirs(table_dir, exist_ok=True)
    marker = os.path.join(table_dir, _MARKER)
    b = None if batch_ctx is None else str(batch_ctx)
    groups: list[str] = []
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                state = json.load(f)
            if state.get("batch") == b:
                groups = state.get("groups") or []
        except (OSError, ValueError):
            pass
    with open(os.path.join(table_dir, "ddl.sql"), "a") as f:
        for s in stmts:
            f.write(s + ";\n")
    groups = groups[:ordinal] + [group_digest(stmts)]
    atomic_write(marker, json.dumps({"batch": b, "groups": groups}))


def spool_batch(out: str, lines) -> None:
    """Publish ``lines`` (a one-string-column DataFrame) as the text
    directory ``out`` (``.../batch_<id>``) exactly once.  An existing
    ``out`` is a replayed batch and no-ops.  Spark writes into a
    dot-prefixed staging dir, which ``batch_*`` globs and Spark's file
    index both skip, so a crash mid-write leaves nothing a consumer or
    the replay check could mistake for a committed batch."""
    if os.path.exists(out):
        return
    parent, name = os.path.split(out)
    staging = os.path.join(parent, f".{name}.tmp")
    lines.write.mode("overwrite").text(staging)
    os.rename(staging, out)


class DdlSpoolPosition:
    """Per-sink in-memory ordinal tracker: which DDL group of which batch
    this PROCESS is currently applying, per table.  A fresh process
    (crash-replay) restarts at ordinal 0 — exactly what the marker's
    recorded groups are compared against."""

    def __init__(self):
        self._pos: dict[str, tuple[object, int]] = {}

    def next_ordinal(self, key: str, batch_ctx) -> int:
        cur = self._pos.get(key)
        n = cur[1] if cur is not None and cur[0] == batch_ctx else 0
        self._pos[key] = (batch_ctx, n + 1)
        return n

    def reset(self) -> None:
        """Forget all positions. The streaming runner calls this at the
        START of every micro-batch delivery: a same-process re-delivery of
        a failed batch (query restarted without a process restart) must
        restart its ordinals at 0 — the same place a fresh-process replay
        starts — or replay detection compares the wrong positions and
        re-applies destructive groups over marker-skipped data rewrites."""
        self._pos.clear()
