"""MaxCompute (ODPS) pipeline sink — reference parity for the
flink-cdc-pipeline-connector-maxcompute module without a live project.

The reference's writer streams batches through Tunnel UPSERT sessions
into TRANSACTIONAL (primary-key, bucketed) tables
(MaxComputeEventWriter.java, MaxComputeHashFunctionProvider.java) and its
MetadataApplier executes the 7-event DDL algebra as SQLTask statements
(SchemaEvolutionUtils.java:63-240).  This module is a DOCUMENTED ANALOG
(same status as the lake sink): the public transactional-table semantics
are pinned by tests, with the one divergence named below.

- **data plane**: the engine's copy-on-write lake table
  (:class:`.lakehouse.SnapshotLakeSink`, one snapshot kept) with the
  transactional-table layout invariants pinned in
  tests/test_sink_conformance (bucket count = the table's
  ``write.bucket.num``; routing a pure function of the PRIMARY KEY;
  per-bucket rewrites — the Tunnel per-bucket session shape; keyed
  upsert/delete with idempotent batch replay).  Documented divergence:
  the bucket hash is the engine's portable bucket hash, not ODPS's
  non-public basis hash — the invariants are what a live Tunnel
  executor slots into.  A live Tunnel endpoint
  (``accessId``/``endpoint``/``project`` options) is refused as
  environment-gated rather than silently redirected.
- **metadata plane**: every schema event is ALSO rendered as the exact
  MaxCompute SQL text the reference's SchemaEvolutionUtils would run
  (``sinks/dialects.MaxComputeDialect``, statements pinned in
  tests/test_sink_conformance) and appended to the table's ``ddl.sql``
  spool with replay-idempotent markers — the slot-in surface for a live
  SQLTask executor.
"""

from __future__ import annotations

from .base import MetadataApplier
from .ddl_spool import DdlSpoolPosition, is_replay, spool_ddl
from .dialects import MaxComputeDialect
from .lakehouse import SnapshotLakeSink


class _MaxComputeMetadataApplier(MetadataApplier):
    """Renders the DDL spool AND evolves the lake table.  Replay
    detection is the exact batch-scoped discipline of
    :mod:`.ddl_spool`: a replayed group (same batch, same ordinal, same
    digest) skips BOTH the spool and the data-plane apply — a replayed
    TRUNCATE must not wipe rows the crashed run already landed after it —
    while a genuine repeat (later batch, or a new group inside this one)
    applies and spools normally.  The data-plane effect runs BEFORE the
    spool append, so a crash between them replays into an idempotent
    re-apply instead of a lost effect.  The inner lake applier runs
    without a batch ctx, so this spool check is the one TRUNCATE replay
    guard on this path."""

    def __init__(self, sink: "MaxComputeSink"):
        self.sink = sink
        self.sql = MaxComputeDialect()
        self._inner = SnapshotLakeSink.metadata_applier(sink)

    def apply_schema_change(self, table_id, event, evolved_schema) -> None:
        tdir = self.sink._table_dir(table_id)
        stmts = self.sql.ddl_sql(table_id.identifier(), event,
                                 evolved_schema)
        ordinal = self.sink._ddl_pos.next_ordinal(tdir, self.batch_ctx)
        if is_replay(tdir, self.batch_ctx, ordinal, stmts):
            return
        self._inner.apply_schema_change(table_id, event, evolved_schema)
        spool_ddl(tdir, stmts, self.batch_ctx, ordinal)


class MaxComputeSink(SnapshotLakeSink):
    """YAML ``type: maxcompute`` with a local ``path``; ``buckets-num``
    maps to the reference's MaxComputeOptions bucket count."""

    def __init__(self, path: str, num_buckets: int = 16):
        super().__init__(path, num_buckets=num_buckets, keep_last=1)
        self._ddl_pos = DdlSpoolPosition()

    def begin_batch(self, batch_id) -> None:
        super().begin_batch(batch_id)
        self._ddl_pos.reset()

    def metadata_applier(self) -> MetadataApplier:
        return _MaxComputeMetadataApplier(self)
