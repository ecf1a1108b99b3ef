"""Driver-side versioned schema registry.

Parity target: ``SchemaManager`` (flink-cdc-runtime/.../schema/common/
SchemaManager.java:65-116) — per-table sorted version maps for *original*
(upstream) and *evolved* (sink-side) schemas — and the coordinator's role of
being the single source of schema truth (``SchemaRegistry.java``).

On Spark the driver IS the coordinator: there is exactly one registry object
per pipeline run, mutated only between (micro-)batches, so no RPC / flush
barrier is needed. The registry is JSON-checkpointable for streaming restart.
"""

from __future__ import annotations

import json
from typing import Iterator

from ..common.atomic import atomic_write
from ..common.events import CreateTableEvent, SchemaChangeEvent
from ..common.schema import Schema
from ..common.tableid import TableId
from .schema_evolution import apply_schema_change_event


class _VersionedMap:
    def __init__(self) -> None:
        self._versions: dict[TableId, list[Schema]] = {}

    def latest(self, table_id: TableId) -> Schema | None:
        vs = self._versions.get(table_id)
        return vs[-1] if vs else None

    def put(self, table_id: TableId, schema: Schema | None) -> None:
        if schema is None:
            self._versions.pop(table_id, None)
            return
        self._versions.setdefault(table_id, []).append(schema)

    def versions(self, table_id: TableId) -> list[Schema]:
        return list(self._versions.get(table_id, []))

    def tables(self) -> Iterator[TableId]:
        return iter(self._versions)


class SchemaRegistry:
    """Holds original (upstream) and evolved (sink) schema version chains."""

    def __init__(self) -> None:
        self.original = _VersionedMap()
        self.evolved = _VersionedMap()

    # -- mutation -------------------------------------------------------
    def apply_original(self, event: SchemaChangeEvent) -> Schema | None:
        new = apply_schema_change_event(self.original.latest(event.table_id), event)
        self.original.put(event.table_id, new)
        return new

    def apply_evolved(self, table_id: TableId, event: SchemaChangeEvent) -> Schema | None:
        """Evolved side may target a routed (renamed) table id."""
        new = apply_schema_change_event(self.evolved.latest(table_id), event)
        self.evolved.put(table_id, new)
        return new

    # -- queries --------------------------------------------------------
    def original_schema(self, table_id: TableId) -> Schema | None:
        return self.original.latest(table_id)

    def evolved_schema(self, table_id: TableId) -> Schema | None:
        return self.evolved.latest(table_id)

    def known_tables(self) -> list[TableId]:
        return sorted(set(self.original.tables()))

    # -- checkpointing ----------------------------------------------------
    def to_json(self) -> str:
        def dump(m: _VersionedMap) -> dict:
            return {str(t): [s.to_json() for s in m.versions(t)] for t in m.tables()}

        return json.dumps({"original": dump(self.original), "evolved": dump(self.evolved)})

    @staticmethod
    def from_json(s: str) -> "SchemaRegistry":
        d = json.loads(s)
        reg = SchemaRegistry()
        for side, m in (("original", reg.original), ("evolved", reg.evolved)):
            for tid, versions in d.get(side, {}).items():
                for v in versions:
                    m.put(TableId.parse(tid), Schema.from_json(v))
        return reg

    def checkpoint(self, path: str) -> None:
        atomic_write(path, self.to_json())

    @staticmethod
    def restore(path: str) -> "SchemaRegistry":
        with open(path) as f:
            return SchemaRegistry.from_json(f.read())
