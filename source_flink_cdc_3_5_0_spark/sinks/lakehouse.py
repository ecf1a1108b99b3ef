"""Snapshot-isolated lake sink — Paimon/Iceberg-style manifests.

Parity target: the reference's table-format sinks
(flink-cdc-pipeline-connector-{paimon,iceberg}): every commit produces an
immutable SNAPSHOT — a manifest listing the table's live data files —
readers pin one manifest (snapshot isolation: a concurrent commit never
changes what a running query sees), old snapshots stay readable (time
travel) until ``vacuum`` reclaims unreferenced files, and ``compact``
rewrites small files without changing visible data.

Physical layout (all JSON control files are tiny — O(buckets) entries):

    <root>/<tableId>/data/__bucket=N/part-*.parquet   append-only base files
    <root>/<tableId>/delta/__bucket=N/part-*.parquet  MoR delta files
    <root>/<tableId>/_snapshots/<seq>.json            one manifest/commit
    <root>/<tableId>/_stats/s<seq>_*.json             zone-map stat shards
    <root>/<tableId>/_schema.json                     evolved schema sidecar
    <root>/<tableId>/_table.json                      layout {num_buckets, mode}
    <root>/<tableId>/_tags.json                       named snapshot refs
    <root>/<tableId>/_batch_<id>                      replay markers

Write path (copy-on-write at bucket granularity — REPLACED buckets' old
files are kept on disk and only dropped from the manifest, which is what
buys time travel at the cost of needing ``vacuum``): reduce the batch to
one final image per key, read ONLY the touched buckets' files from the
current manifest, anti-join + union, append the merged buckets as new
files, commit a manifest carrying forward untouched buckets.  A table
without a primary key appends instead (copy-on-write only).  TRUNCATE
commits an empty manifest (history stays readable); DROP removes the
table directory.  The driver-side file bookkeeping is one directory
listing per touched bucket per commit — the same control-plane shape as
Delta/Paimon commit protocols.

This is the one upsert-table engine: every ``path``-backed upsert sink of
the pipeline (``type: parquet`` and the lake/OLAP stand-ins) is a
copy-on-write table.  Without ``snapshots: true`` it is built with
``keep_last=1``: every commit ends with ``vacuum(keep_last=1)``, so
between commits ``data/`` holds exactly the live files and a plain
``spark.read.parquet(<table>/data)`` sees the table.  One exception: a
crash after a data publish but before its manifest commit leaves part
files that no snapshot names.  :meth:`read` never sees them, but direct
``data/`` readers do until vacuum's one-hour grace reaps them — a grace
that stays, because it is what protects a concurrent committer's
not-yet-linked files.

MERGE-ON-READ mode (``mode="mor"`` — Paimon changelog tables / Iceberg v2
row-level deletes, the mode the reference's streaming CDC ingestion
actually runs): a commit APPENDS delta files carrying the batch's final
images (row kind + commit sequence) and touches nothing else — commit
cost is O(batch) regardless of table size, where copy-on-write rewrites
every touched bucket (a scattered-key CDC stream at 100 TB touches every
bucket every batch, i.e. rewrites the table continuously).  Readers merge
base + deltas per key (latest commit sequence wins, delete kinds drop the
key) — one window shuffle, bucket-aligned; ``compact`` folds the deltas
into new base files and commits a delta-free snapshot, after which reads
are pure scans again.  Same manifests, time travel, vacuum and replay
markers as copy-on-write.
"""

from __future__ import annotations

import json
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..common.atomic import atomic_write
from ..common.events import (DropTableEvent, OP_COL, SchemaChangeEvent,
                             TruncateTableEvent)
from ..common.schema import Schema
from ..common.tableid import TableId
from ..operators.partitioning import portable_bucket_expr
from ..sources.base import SEQ_COL
from .base import DataSink, MetadataApplier

_BUCKET_COL = "__bucket"
_COMMIT_SEQ = "__commit_seq"
_EXISTS_DEFAULT = "EXISTS_DEFAULT"  # parquet reader's missing-column value
_UNSET = object()  # "not passed" sentinel (None is a meaningful value)


def _opaque_long(value: int):
    """``value`` as a bigint column that generated code references
    instead of inlining.  A long literal is compiled into the generated
    class, so commits that differ only in their sequence would each
    compile new code; an array literal is passed to the class as an
    object, and the non-foldable index keeps constant folding from
    turning the lookup back into an inlined long."""
    return F.array(F.lit(value).cast("bigint"))[F.spark_partition_id() * 0]


class CommitConflictError(RuntimeError):
    """A concurrent writer committed the same snapshot sequence first
    (Iceberg's CommitFailedException).  The failed commit wrote only
    unreferenced data files — re-read the manifest and retry the write;
    ``vacuum`` reclaims the orphans."""


# -- zone maps (manifest file statistics) ----------------------------------
#
# Iceberg/Paimon manifests carry per-file column stats (lower/upper bound,
# null count) harvested from the parquet footers at COMMIT time; planners
# prune whole data files whose bounds cannot satisfy a scan predicate
# before any task is scheduled.  Same here: stats are read driver-side
# from the footers of the files a commit just wrote (O(new files) control
# plane — the data is never re-scanned) and stored in the snapshot
# manifest; ``read(..., filters=…)`` drops provably-dead files and then
# applies the predicate for real.  Pruning is conservative: unknown
# types, missing stats, or tag mismatches keep the file.

def _norm_stat(v):
    """Normalize a footer min/max value to (tag, comparable) or None.

    Comparables must ORDER correctly within a tag: decimals keep their
    string form for JSON but are re-parsed to Decimal at compare time
    (see ``_cmp_key`` — lexicographic '30' > '100' would silently prune
    matching files); tz-AWARE datetimes are converted to UTC and tagged
    'tsz', distinct from naive 'ts' — a naive filter value under an
    unknown session timezone can NOT be soundly compared against a UTC
    instant, so that mismatch keeps the file (the residual filter does
    the real work)."""
    import datetime as _dt
    from decimal import Decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return ("n", int(v))
    if isinstance(v, (int, float)):
        return ("n", v)
    if isinstance(v, Decimal):
        return ("c", str(v))
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            u = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return ("tsz", u.isoformat(sep=" "))
        return ("ts", v.isoformat(sep=" "))
    if isinstance(v, _dt.date):
        return ("d", v.isoformat())
    if isinstance(v, str):
        return ("s", v)
    return None  # bytes etc. — no pruning on this column


def _cmp_key(tag: str, v):
    """Comparable form of a normalized stat/filter value for one tag."""
    if tag == "c":
        from decimal import Decimal

        return Decimal(v)
    return v


def _footer_stats(path: str) -> dict:
    """Per-column {lo, hi, nulls, t} + row count from one parquet footer."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    cols: dict[str, dict] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            s = col.statistics
            ent = cols.setdefault(
                name, {"lo": None, "hi": None, "nulls": 0, "t": None})
            if s is None:
                ent["t"] = "x"  # a row group without stats poisons the col
                continue
            ent["nulls"] += s.null_count or 0
            if not s.has_min_max:
                # all-null row group: contributes no bounds, not poison
                continue
            lo, hi = _norm_stat(s.min), _norm_stat(s.max)
            if lo is None or hi is None or lo[0] != hi[0]:
                ent["t"] = "x"
                continue
            if ent["t"] is None:
                ent["t"], ent["lo"], ent["hi"] = lo[0], lo[1], hi[1]
            elif ent["t"] == lo[0]:
                ent["lo"] = min(ent["lo"], lo[1])
                ent["hi"] = max(ent["hi"], hi[1])
            else:
                ent["t"] = "x"
    return {"rows": md.num_rows,
            "cols": {k: v for k, v in cols.items() if v["t"] != "x"}}


def _file_excluded(stats: dict, filters) -> bool:
    """True iff the per-file stats PROVE no row can satisfy the AND of
    ``filters`` (comparisons are null-rejecting, so all-null columns
    exclude the file for every supported op)."""
    cols = stats.get("cols", {})
    nrows = stats.get("rows", 0)
    for col, op, val in filters:
        ent = cols.get(col)
        if ent is None:
            continue
        if ent["lo"] is None:
            if nrows and ent["nulls"] >= nrows:
                return True  # every value null: no comparison matches
            continue
        vals = list(val) if op == "in" else [val]
        normed = [_norm_stat(v) for v in vals]
        if any(n is None or n[0] != ent["t"] for n in normed):
            continue
        tag = ent["t"]
        lo, hi = _cmp_key(tag, ent["lo"]), _cmp_key(tag, ent["hi"])
        keys = [_cmp_key(tag, n[1]) for n in normed]
        if op in ("=", "=="):
            if keys[0] < lo or keys[0] > hi:
                return True
        elif op == "in":
            if all(k < lo or k > hi for k in keys):
                return True
        elif op == "<":
            if lo >= keys[0]:
                return True
        elif op == "<=":
            if lo > keys[0]:
                return True
        elif op == ">":
            if hi <= keys[0]:
                return True
        elif op == ">=":
            if hi < keys[0]:
                return True
    return False


def _zvalue_col(df: DataFrame, cols: list[str], bits: int = 12):
    """Z-order (Morton) key over 2+ numeric/timestamp columns — the
    Delta OPTIMIZE ZORDER / Iceberg z-order rewrite strategy.  Each
    column is min-max normalized to a ``bits``-wide integer from a
    bounded driver-side (min, max) aggregate, then the bit strings are
    interleaved so file ranges stay tight on EVERY participating column
    (a single-column sort gives perfect bounds on one column and useless
    bounds on the rest).  Nulls sort to 0.  Pure Column expression —
    no UDF, stays in codegen."""
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double",
               "date", "timestamp", "timestamp_ntz")
    dtypes = dict(df.dtypes)
    nexprs: dict[str, object] = {}
    for c in cols:
        base = dtypes.get(c, "").split("(")[0]
        if base not in numeric and not base.startswith("decimal"):
            raise ValueError(
                f"zorder column {c!r} has non-orderable-numeric type "
                f"{dtypes.get(c)!r}; cast or hash it first")
        # date/ntz cannot cast to double directly; route through
        # timestamp first (monotonic — a constant session-tz shift
        # cannot reorder values, which is all z-ordering needs)
        if base in ("date", "timestamp_ntz"):
            nexprs[c] = F.col(c).cast("timestamp").cast("double")
        else:
            nexprs[c] = F.col(c).cast("double")
    bounds = df.agg(*[F.min(nexprs[c]).alias(f"lo_{i}")
                      for i, c in enumerate(cols)],
                    *[F.max(nexprs[c]).alias(f"hi_{i}")
                      for i, c in enumerate(cols)]).collect()[0]
    z = F.lit(0).cast("bigint")
    n = len(cols)
    top = (1 << bits) - 1
    for ci, c in enumerate(cols):
        lo, hi = bounds[f"lo_{ci}"], bounds[f"hi_{ci}"]
        if lo is None or hi is None or hi <= lo:
            scaled = F.lit(0).cast("bigint")
        else:
            scaled = F.floor((nexprs[c] - F.lit(lo))
                             / F.lit(hi - lo) * F.lit(float(top)))
        scaled = F.coalesce(scaled, F.lit(0)).cast("bigint")
        for bit in range(bits):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(scaled, bit).bitwiseAND(F.lit(1)),
                bit * n + ci))
    return z


def _filters_to_column(filters):
    col = None
    for name, op, val in filters:
        c = F.col(name)
        if op in ("=", "=="):
            cond = c == F.lit(val)
        elif op == "in":
            vals = list(val)
            # col IN () is vacuously false (and isin() would throw)
            cond = c.isin(*vals) if vals else F.lit(False)
        elif op == "<":
            cond = c < F.lit(val)
        elif op == "<=":
            cond = c <= F.lit(val)
        elif op == ">":
            cond = c > F.lit(val)
        elif op == ">=":
            cond = c >= F.lit(val)
        else:
            raise ValueError(f"unsupported filter op {op!r}")
        col = cond if col is None else (col & cond)
    return col


class _LakeMetadataApplier(MetadataApplier):
    """Schema changes update the sidecar (schema-on-read — existing files
    stay valid: reads declare the sidecar schema, so older files widen and
    a column they lack reads its default, or NULL); TRUNCATE commits an
    empty snapshot (old snapshots remain time-travelable); DROP removes
    the table."""

    def __init__(self, sink: "SnapshotLakeSink"):
        self.sink = sink

    def apply_schema_change(self, table_id: TableId, event: SchemaChangeEvent,
                            evolved_schema: Schema) -> None:
        import shutil

        if isinstance(event, DropTableEvent):
            # replay-safe WITHOUT bookkeeping: dropping removes the
            # table's data markers too, so a replayed batch that also
            # recreated the table re-lands its writes and converges
            shutil.rmtree(self.sink._table_dir(table_id), ignore_errors=True)
            return
        if isinstance(event, TruncateTableEvent):
            # round-9 review (data loss): data WRITES are replay-skipped
            # by batch markers, so a replayed truncate must be too — an
            # unconditional empty commit on re-delivery erased the
            # post-truncate rows the first pass committed (their marker
            # made the rewrite a no-op). Same contract as the DDL
            # spool: per-delivery ordinal (reset by begin_batch) vs a
            # durable per-batch applied-count.
            self.sink._ensure_meta(table_id)
            ctx = self.batch_ctx
            if ctx is not None:
                key = (str(table_id), str(ctx))
                n = self.sink._ddl_pass_state.get(key, 0)
                self.sink._ddl_pass_state[key] = n + 1
                spath = os.path.join(self.sink._table_dir(table_id),
                                     "_truncate_state.json")
                try:
                    with open(spath) as f:
                        st = json.load(f)
                except (OSError, ValueError):
                    st = {}
                if st.get("batch") == str(ctx) and n < st.get("applied", 0):
                    return  # this delivery replays an applied truncate
                self.sink._commit(table_id, {})
                atomic_write(spath, json.dumps({"batch": str(ctx),
                                                "applied": n + 1}))
                return
            self.sink._commit(table_id, {})
            return
        self.sink._ensure_meta(table_id)
        self.sink._write_schema(table_id, evolved_schema)


class SnapshotLakeSink(DataSink):
    def __init__(self, root: str, num_buckets: int = 16, mode: str = "cow",
                 filelist_shard_span: int = 8, keep_last: int | None = None):
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be cow|mor, got {mode!r}")
        self.root = root
        self.num_buckets = num_buckets
        self.mode = mode
        #: snapshots kept after every commit (``vacuum(keep_last)`` runs
        #: inside the commit); None keeps the full history
        self.keep_last = keep_last
        # buckets per file-list shard (Iceberg manifest-file granularity):
        # a commit rewrites only the shards whose bucket GROUP changed, so
        # commit write amplification is O(touched buckets / span), never
        # O(live files).  Purely a WRITE-side layout knob — readers merge
        # whatever shards a snapshot references, so mixed spans coexist.
        self.filelist_shard_span = max(1, int(filelist_shard_span))
        self._shard_cache: dict[tuple[str, str], dict] = {}
        self._filelist_cache: dict[tuple[str, str], dict] = {}
        #: per-DELIVERY truncate ordinals (reset by begin_batch) — the
        #: applier objects are created fresh per call, so the counters
        #: live on the sink (see _LakeMetadataApplier's truncate path)
        self._ddl_pass_state: dict[tuple[str, str], int] = {}
        #: default expression -> whether Spark folds it to a constant
        #: (see _existence_default)
        self._default_ok: dict[str, bool] = {}

    @classmethod
    def for_table(cls, root: str, table_id: TableId,
                  num_buckets: int | None = None,
                  mode: str | None = None) -> "SnapshotLakeSink":
        """Open an EXISTING table with its persisted bucket count and
        changelog mode (the ``_table.json`` written at create time) —
        the safe constructor for readers and maintenance tools.
        Explicit arguments must match the persisted values."""
        meta_path = os.path.join(root, table_id.identifier(), "_table.json")
        meta = {}
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
        nb = meta.get("num_buckets", num_buckets)
        md = meta.get("mode", mode)
        if nb is None or md is None:
            raise ValueError(
                f"{table_id}: no persisted table metadata at {meta_path}; "
                "pass num_buckets and mode explicitly")
        if num_buckets is not None and num_buckets != nb:
            raise ValueError(
                f"{table_id}: requested num_buckets={num_buckets} but the "
                f"table was created with {nb}")
        if mode is not None and mode != md:
            raise ValueError(
                f"{table_id}: requested mode={mode!r} but the table was "
                f"created with {md!r}")
        return cls(root, num_buckets=nb, mode=md)

    # -- layout ------------------------------------------------------------
    def _table_dir(self, tid: TableId) -> str:
        return os.path.join(self.root, tid.identifier())

    def _meta_path(self, tid: TableId) -> str:
        return os.path.join(self._table_dir(tid), "_table.json")

    def _ensure_meta(self, tid: TableId, create: bool = True) -> None:
        """Persist {num_buckets, mode} once, and REFUSE to operate on a
        table whose persisted layout disagrees with this instance — a
        bucket-count mismatch would make PK point-lookup pruning return
        silently missing rows, which must be an error instead.
        ``create=False`` (read paths) only validates."""
        path = self._meta_path(tid)
        if os.path.exists(path):
            with open(path) as f:
                meta = json.load(f)
            if meta.get("num_buckets") != self.num_buckets:
                raise ValueError(
                    f"{tid}: table has num_buckets="
                    f"{meta.get('num_buckets')} but this sink was built "
                    f"with {self.num_buckets}; use "
                    "SnapshotLakeSink.for_table() to open existing tables")
            if meta.get("mode") != self.mode:
                raise ValueError(
                    f"{tid}: table has mode={meta.get('mode')!r} but this "
                    f"sink was built with {self.mode!r}; use "
                    "SnapshotLakeSink.for_table()")
            return
        self._refuse_legacy_layout(tid)
        if not create:
            return
        os.makedirs(self._table_dir(tid), exist_ok=True)
        atomic_write(path, json.dumps({"num_buckets": self.num_buckets,
                                       "mode": self.mode}))

    def _refuse_legacy_layout(self, tid: TableId) -> None:
        """A table directory with bucket files but no ``_snapshots/`` was
        written by the retired bucket-swap parquet sink.  Read as a lake
        table it is empty, and vacuum's grace would later delete its
        files, so it is refused by name instead.  Runs only while a table
        has no ``_table.json``: steady-state commits list nothing."""
        import glob

        data = self._data_dir(tid)
        if not os.path.isdir(self._snap_dir(tid)) and any(
                glob.glob(os.path.join(data, p, "*.parquet"))
                for p in ("", f"{_BUCKET_COL}=*")):
            raise ValueError(
                f"{tid}: {data} holds data files but no _snapshots/ — a "
                "table written by the retired parquet upsert sink; reload "
                "it into a new path")

    def _data_dir(self, tid: TableId) -> str:
        return os.path.join(self._table_dir(tid), "data")

    def _schema_path(self, tid: TableId) -> str:
        return os.path.join(self._table_dir(tid), "_schema.json")

    def _snap_dir(self, tid: TableId) -> str:
        return os.path.join(self._table_dir(tid), "_snapshots")

    def _delta_dir(self, tid: TableId) -> str:
        return os.path.join(self._table_dir(tid), "delta")

    def begin_batch(self, batch_id) -> None:
        # new delivery (incl. same-process re-delivery): truncate replay
        # detection restarts at ordinal 0, like the DDL spool's reset
        self._ddl_pass_state = {}

    def metadata_applier(self) -> MetadataApplier:
        return _LakeMetadataApplier(self)

    # -- manifests ---------------------------------------------------------
    def snapshots(self, tid: TableId) -> list[int]:
        d = self._snap_dir(tid)
        if not os.path.isdir(d):
            return []
        return sorted(int(f[:-5]) for f in os.listdir(d)
                      if f.endswith(".json"))

    def _manifest_raw(self, tid: TableId, seq: int | None = None) -> dict:
        """The snapshot document as written (file-list SHARD REFS, not
        materialized paths) — what _commit diffs against to carry
        untouched shards forward by reference."""
        seqs = self.snapshots(tid)
        if not seqs:
            return {"seq": -1, "buckets": {}}
        seq = seqs[-1] if seq is None else seq
        if seq not in seqs:
            raise ValueError(f"unknown snapshot {seq}; have {seqs}")
        with open(os.path.join(self._snap_dir(tid), f"{seq}.json")) as f:
            return json.load(f)

    def _manifest(self, tid: TableId, seq: int | None = None,
                  buckets_needed=None) -> dict:
        """The RESOLVED snapshot: ``buckets``/``deltas`` materialized by
        merging the snapshot's file-list shards (immutable, cached per
        sink instance).  Pre-shard snapshots carry the listing inline and
        pass through unchanged — every reader sees the same shape either
        way.  Callers must not mutate the inner file lists (they are
        shared with the shard cache); every writer here builds new lists.

        ``buckets_needed`` (a set of bucket ids) resolves ONLY the shard
        groups owning those buckets — the PK point-lookup read path, whose
        driver-side metadata cost is then O(touched shards) instead of
        O(live files) (the commit's recorded ``filelist_span`` maps bucket
        → group; every ref in a snapshot is guaranteed written under that
        span).  The returned ``buckets``/``deltas`` are PARTIAL: callers
        doing anything beyond reading those buckets must resolve fully."""
        doc = self._manifest_raw(tid, seq)
        refs = doc.get("file_shards")
        if refs is None:
            return doc
        span = doc.get("filelist_span")
        if buckets_needed is not None and span:
            gids = {str(int(b) // span) for b in buckets_needed}
            wanted = [s for g, s in refs.items() if g in gids]
        else:
            wanted = list(refs.values())
        buckets: dict[str, list[str]] = {}
        deltas: dict[str, list[str]] = {}
        for shard in wanted:
            content = self._load_filelist_shard(tid, shard)
            buckets.update(content.get("buckets") or {})
            deltas.update(content.get("deltas") or {})
        doc["buckets"] = buckets
        if deltas:
            doc["deltas"] = deltas
        return doc

    def _filelist_dir(self, tid: TableId) -> str:
        return os.path.join(self._table_dir(tid), "_filelists")

    def _load_filelist_shard(self, tid: TableId, shard: str) -> dict:
        """One immutable file-list shard (cached — shards never change
        after commit, so the cache cannot go stale)."""
        key = (tid.identifier(), shard)
        cached = self._filelist_cache.get(key)
        if cached is not None:
            return cached
        path = os.path.join(self._filelist_dir(tid), shard)
        try:
            with open(path) as f:
                out = json.load(f)
        except OSError:
            # a referenced-but-missing shard means real data loss for the
            # snapshot (unlike stats shards, which only lose pruning) —
            # surface it instead of silently reading a partial table
            raise ValueError(
                f"{tid}: file-list shard {shard} referenced by a snapshot "
                "is missing — was _filelists/ deleted out-of-band?")
        self._filelist_cache[key] = out
        return out

    def _commit(self, tid: TableId, buckets: dict[str, list[str]],
                batch_id=None, deltas: dict[str, list[str]] | None = None) -> int:
        snap_dir = self._snap_dir(tid)
        os.makedirs(snap_dir, exist_ok=True)
        seq = (self.snapshots(tid) or [-1])[-1] + 1
        import time as _time

        doc = {"seq": seq, "batch_id": None if batch_id is None
               else str(batch_id), "committed_at": _time.time()}
        deltas = deltas or {}
        # stats only for BASE files: delta files are never pruned (see
        # scan_files) and read_changes selects them by manifest listing,
        # so delta stats would be dead weight copied forward every commit.
        # SHARDED (Iceberg manifest-list shape): each commit writes ONE
        # immutable shard holding only its NEW files' footer stats and
        # carries the previous shard list forward by reference — commit
        # WRITES are O(new files), never O(all live files), which is what
        # keeps a million-file table's commits flat.  A commit that
        # replaces base files also reads the carried shards (cached per
        # sink) to drop the ones whose files all left the table
        prev = self._manifest(tid) if self.snapshots(tid) else {}
        prev_shards = list(prev.get("stats_shards") or [])
        # a file listed in the PREVIOUS manifest is covered by its shard
        # chain BY CONSTRUCTION — deriving coverage from the bucket
        # listing (not by loading every shard) is what actually keeps the
        # commit O(new files). EXCEPT a pre-shard (inline-stats) previous
        # manifest, which HAS no chain: its files must migrate into a
        # shard once via the legacy dict below, or their zone-map stats
        # silently vanish and pruning dies for them (round-9 review) —
        # a one-time O(live files) dict-copy commit, no footer re-reads.
        legacy = prev.get("stats") or {}  # pre-shard manifests
        covered = (set() if legacy and not prev.get("stats_shards")
                   else {rel for fs in prev.get("buckets", {}).values()
                         for rel in fs})
        new_entries: dict[str, dict] = {}
        live: set[str] = set()
        for files in buckets.values():
            for rel in files:
                live.add(rel)
                if rel in covered:
                    continue
                st = legacy.get(rel)
                if st is None:
                    try:
                        st = _footer_stats(
                            os.path.join(self._data_dir(tid), rel))
                    except Exception:
                        st = {"rows": 0, "cols": {}}  # unreadable: no prune
                new_entries[rel] = st
        if buckets != prev.get("buckets", {}):
            # some base file left the table: drop every shard that no
            # longer covers a live file, so the chain is bounded by the
            # live files instead of growing by one shard per commit.  A
            # commit that keeps the base buckets (every MoR commit) reads
            # no shard.
            prev_shards = [sh for sh in prev_shards
                           if live & self._load_shard(tid, sh).keys()]
        import uuid as _uuid

        if new_entries:
            sdir = self._stats_dir(tid)
            os.makedirs(sdir, exist_ok=True)
            # per-writer unique shard name: racing committers must never
            # share a shard path (the loser's file would otherwise
            # overwrite content a winning manifest references)
            shard = f"s{seq}_{os.getpid()}_{_uuid.uuid4().hex[:8]}.json"
            atomic_write(os.path.join(sdir, shard), json.dumps(new_entries))
            prev_shards = prev_shards + [shard]
        doc["stats_shards"] = prev_shards
        # SHARDED LIVE-FILE LIST (Iceberg manifest files under the
        # manifest list): buckets are grouped into spans of
        # ``filelist_shard_span``; the commit writes ONE new shard per
        # group whose content changed vs the previous snapshot and
        # carries every untouched group forward BY REFERENCE — so the
        # write amplification of a commit is O(touched buckets/span)
        # shard files + one O(groups) snapshot doc, never O(live files).
        # A rollback whose content equals an old snapshot re-uses that
        # snapshot's shards wholesale (zero shard writes).
        span = self.filelist_shard_span
        prev_refs: dict[str, str] = dict(prev.get("file_shards") or {})
        prev_b: dict[str, list] = prev.get("buckets") or {}
        prev_d: dict[str, list] = prev.get("deltas") or {}

        def _gid(b: str) -> str:
            return str(int(b) // span)

        groups: dict[str, dict] = {}
        for kind, src in (("buckets", buckets), ("deltas", deltas)):
            for b, files in src.items():
                if files:
                    g = groups.setdefault(_gid(b),
                                          {"buckets": {}, "deltas": {}})
                    g[kind][b] = list(files)
        changed: set[str] = set()
        for b in set(buckets) | set(prev_b):
            if buckets.get(b) != prev_b.get(b):
                changed.add(_gid(b))
        for b in set(deltas) | set(prev_d):
            if deltas.get(b) != prev_d.get(b):
                changed.add(_gid(b))
        if prev and (not prev_refs or prev.get("filelist_span") != span):
            # previous snapshot was pre-shard (inline listing) or written
            # with a different shard span: re-shard everything under the
            # current span this commit, so the recorded filelist_span is
            # true for EVERY ref this snapshot carries (pruned point-
            # lookup resolution depends on it)
            changed = set(groups) | set(prev_refs)
        refs: dict[str, str] = {}
        fdir = self._filelist_dir(tid)
        for g in set(groups) | set(prev_refs):
            if g not in changed:
                refs[g] = prev_refs[g]
                continue
            content = groups.get(g)
            if not content:
                continue  # group fully emptied: drop the reference
            # CONTENT-ADDRESSED shard name: equal content → equal file, so
            # (a) a rollback whose listing matches an old snapshot reuses
            # that snapshot's shards without writing a byte, and (b) two
            # racing writers producing the same shard are idempotent (same
            # name implies same bytes — no clobber hazard)
            import hashlib

            blob = json.dumps(content, sort_keys=True).encode()
            fname = f"f{hashlib.sha256(blob).hexdigest()[:24]}.json"
            fpath = os.path.join(fdir, fname)
            if os.path.exists(fpath):
                # refresh the vacuum grace window: a dead-but-present
                # shard being re-referenced must not be reaped mid-commit
                os.utime(fpath)
            else:
                os.makedirs(fdir, exist_ok=True)
                atomic_write(fpath, blob)  # same-content race is benign
            refs[g] = fname
        doc["file_shards"] = refs
        # span + file count recorded so READERS can (a) resolve only the
        # shard groups a point lookup touches and (b) report scan totals
        # without materializing the full listing
        doc["filelist_span"] = span
        doc["n_files"] = sum(len(fs) for fs in buckets.values())
        # optimistic concurrency: atomically CREATE (never overwrite) the
        # manifest — two writers racing to commit seq N cannot both win,
        # the loser gets a conflict instead of silently clobbering the
        # winner's snapshot
        try:
            atomic_write(os.path.join(snap_dir, f"{seq}.json"),
                         json.dumps(doc), exclusive=True)
        except FileExistsError:
            raise CommitConflictError(
                f"{tid}: snapshot {seq} was committed concurrently; "
                "re-read the manifest and retry (orphaned data files are "
                "unreferenced — vacuum reclaims them)") from None
        if self.keep_last is not None:
            self.vacuum(tid, keep_last=self.keep_last)
        return seq

    def _stats_dir(self, tid: TableId) -> str:
        return os.path.join(self._table_dir(tid), "_stats")

    def _load_shard(self, tid: TableId, shard: str) -> dict:
        """One immutable stats shard (cached per sink instance — shards
        never change after commit, so the cache cannot go stale)."""
        key = (tid.identifier(), shard)
        cached = self._shard_cache.get(key)
        if cached is not None:
            return cached
        path = os.path.join(self._stats_dir(tid), shard)
        try:
            with open(path) as f:
                out = json.load(f)
        except OSError:
            out = {}  # referenced-but-missing shard: no pruning
        self._shard_cache[key] = out
        return out

    def file_stats(self, table_id: TableId, snapshot: int | None = None,
                   _manifest: dict | None = None) -> dict:
        """Merged zone-map stats for a snapshot's base files: the union
        of its stats shards (plus legacy inline stats)."""
        m = (_manifest if _manifest is not None
             else self._manifest(table_id, snapshot))
        merged: dict[str, dict] = dict(m.get("stats") or {})
        for sh in m.get("stats_shards") or []:
            merged.update(self._load_shard(table_id, sh))
        return merged

    # -- write path --------------------------------------------------------
    def _schema_pk_integral(self, schema: Schema) -> bool:
        """Whether the (single) PK is integral PER THE TABLE SCHEMA — the
        one authority both the write path's bucket placement and the read
        path's point-lookup pruning must share: deciding from a batch's
        incidental dtypes instead would let a mistyped batch place rows
        in buckets a point lookup never scans."""
        pks = schema.primary_keys
        if len(pks) != 1:
            return False
        field = next((fl for fl in schema.struct_type().fields
                      if fl.name == pks[0]), None)
        return field is not None and isinstance(
            field.dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType))

    def _bucket_of(self, df: DataFrame, pks: list[str], schema: Schema):
        if self._schema_pk_integral(schema):
            key = F.coalesce(F.col(pks[0]).cast("bigint"), F.lit(0))
        else:
            # cast to the schema's declared types so the hash — and thus
            # the bucket — is stable whatever dtypes a batch arrives with
            types = {fl.name: fl.dataType
                     for fl in schema.struct_type().fields}
            key = F.abs(F.hash(
                *[F.col(k).cast(types[k]) if k in types else F.col(k)
                  for k in pks]).cast("bigint"))
        return portable_bucket_expr(key, self.num_buckets)

    def partition_key(self, table_id: TableId, df: DataFrame,
                      schema: Schema):
        """``__bucket`` for a keyed table, in either mode: the pipeline
        pre-partitions by it, so the one exchange serves the write's
        per-key dedup and its bucket-partitioned files (see :meth:`write`).
        A table without a key appends with no shuffle and takes none."""
        pks = [k for k in schema.primary_keys if k in df.columns]
        if not pks:
            return None
        return _BUCKET_COL, self._bucket_of(df, pks, schema)

    def _table_schema(self, tid: TableId) -> Schema:
        if not os.path.exists(self._schema_path(tid)):
            raise ValueError(f"{tid}: no table schema at "
                             f"{self._schema_path(tid)}")
        with open(self._schema_path(tid)) as f:
            return Schema.from_json(f.read())

    def _write_schema(self, tid: TableId, schema: Schema) -> None:
        path = self._schema_path(tid)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        atomic_write(path, schema.to_json())

    def _existence_default(self, spark: SparkSession, expr: str,
                           dtype: T.DataType) -> str | None:
        """``expr`` cast to ``dtype`` as an ``EXISTS_DEFAULT`` value, or
        None when Spark cannot fold it to a constant (``uuid()``, MySQL's
        ``CURRENT_TIMESTAMP(6)``): the reader would fail every scan of the
        table, so such a column reads NULL in files written before it was
        added.  Checked once per expression and sink, by the analyzer the
        reader uses (driver-side, no job)."""
        sql = f"CAST(({expr}) AS {dtype.simpleString()})"
        ok = self._default_ok.get(sql)
        if ok is None:
            probe = T.StructType([T.StructField("c", dtype, True,
                                                {_EXISTS_DEFAULT: sql})])
            try:
                (spark._jvm.org.apache.spark.sql.catalyst.util
                 .ResolveDefaultColumns.existenceDefaultValues(
                     spark._jsparkSession.parseDataType(probe.json())))
                ok = True
            except AnalysisException:
                ok = False
            self._default_ok[sql] = ok
        return sql if ok else None

    def _declared(self, spark: SparkSession, schema: Schema,
                  changelog: bool = False) -> T.StructType:
        """Read schema of a table's files: its columns, with ``changelog``
        the row kind (``+I`` where a file has none: base files) and commit
        sequence (-1 where a file has none: pre-compaction base files sort
        before every delta), then the ``__bucket`` partition column.

        The manifest lists every file and the sidecar says what their
        columns are, so no read infers or merges a schema from footers.
        A file written before a widening reads through the parquet
        reader's type widening; one written before an ADD COLUMN reads the
        column's default, because the reader (vectorized and row) fills a
        column missing from a file with the field's ``EXISTS_DEFAULT``."""
        fields = []
        for c in schema.columns:
            f = c.to_struct_field()
            d = (self._existence_default(spark, c.default_expr, c.data_type)
                 if c.default_expr is not None else None)
            if d is not None:
                f = T.StructField(f.name, f.dataType, f.nullable,
                                  {**f.metadata, _EXISTS_DEFAULT: d})
            fields.append(f)
        if changelog:
            fields += [
                T.StructField(OP_COL, T.StringType(), True,
                              {_EXISTS_DEFAULT: "'+I'"}),
                T.StructField(_COMMIT_SEQ, T.LongType(), True,
                              {_EXISTS_DEFAULT: "CAST(-1 AS BIGINT)"}),
            ]
        return T.StructType(fields + [T.StructField(_BUCKET_COL,
                                                    T.IntegerType())])

    @staticmethod
    def _scan(spark: SparkSession, root: str, paths: list[str],
              declared: T.StructType) -> DataFrame:
        """The one lake scan: the manifest's files under ``root`` read
        through a declared schema (:meth:`_declared`).  Neither the
        paths nor the schema need discovery, so building the frame starts
        no Spark job (the engine session's listing threshold keeps the
        file index from listing the paths in a job)."""
        return (spark.read.schema(declared).option("basePath", root)
                .parquet(*paths))

    def _staged_write(self, df: DataFrame,
                      dest_dir: str) -> dict[str, list[str]]:
        """Write a ``__bucket``-partitioned frame through a writer-unique
        STAGING dir, then move each part file into ``dest_dir`` —
        returning EXACTLY the files this writer added, per bucket.

        Round-9 review: the old before/after directory-listing diff
        absorbed a CONCURRENT writer's files into this commit's manifest
        (the advertised retry-on-conflict multi-writer protocol then
        duplicated every pre-existing row the loser had merged). Part
        names carry Spark task UUIDs, so moves can't collide."""
        import shutil
        import uuid as _uuid

        staging = "%s.stage-%d-%s" % (dest_dir.rstrip("/"), os.getpid(),
                                      _uuid.uuid4().hex[:8])
        # callers choose the partitioning/sort layout (bucket repartition
        # for commits, range-clustering for compaction) — the helper only
        # stages and moves
        (df.write.mode("overwrite").partitionBy(_BUCKET_COL)
         .parquet(staging))
        added: dict[str, list[str]] = {}
        try:
            for b_dir in os.listdir(staging):
                if not b_dir.startswith(f"{_BUCKET_COL}="):
                    continue
                b = b_dir.split("=", 1)[1]
                os.makedirs(os.path.join(dest_dir, b_dir), exist_ok=True)
                for f in os.listdir(os.path.join(staging, b_dir)):
                    if not f.endswith(".parquet"):
                        continue
                    os.rename(os.path.join(staging, b_dir, f),
                              os.path.join(dest_dir, b_dir, f))
                    added.setdefault(b, []).append(f"{b_dir}/{f}")
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return {b: sorted(v) for b, v in added.items()}

    def write(self, table_id: TableId, df: DataFrame, schema: Schema,
              batch_id) -> None:
        """Commit one batch of changelog rows.  Every file is written in
        the table schema: the batch's columns are cast to ``schema``'s
        types first, because reads declare that schema instead of
        inferring one from the files.  A table written before any
        metadata applier ran gets ``schema`` as its sidecar.

        A frame that arrives with ``__bucket`` was pre-partitioned by
        :meth:`partition_key` (the pipeline's pre-partition step): the
        per-key dedup windows over ``(__bucket, pk)``, which that hash
        partitioning already satisfies, and the write adds no exchange of
        its own.  Other frames are bucketed and shuffled here.  A write
        that adds no file and changes no bucket commits no snapshot; its
        replay marker is still written."""
        from ..streaming.materialize import latest_image

        self._ensure_meta(table_id)
        tdir = self._table_dir(table_id)
        marker = os.path.join(tdir, f"_batch_{batch_id}")
        if os.path.exists(marker):
            return  # replayed batch
        if self._manifest_raw(table_id).get("batch_id") == str(batch_id):
            # committed, but the process died before the marker landed:
            # a PK-less append would otherwise apply the batch twice
            atomic_write(marker, "ok")
            return
        os.makedirs(tdir, exist_ok=True)
        if not os.path.exists(self._schema_path(table_id)):
            self._write_schema(table_id, schema)
        spark = df.sparkSession
        pks = [k for k in schema.primary_keys if k in df.columns]
        names = [c.name for c in schema.columns if c.name in df.columns]
        if not pks and self.mode == "mor":
            raise ValueError(f"merge-on-read lake table {table_id} requires "
                             "primary keys (its reads merge by key)")
        types = {c.name: c.data_type for c in schema.columns}
        casts = {f.name: F.col(f.name).cast(types[f.name])
                 for f in df.schema.fields
                 if types.get(f.name, f.dataType) != f.dataType}
        if casts:
            df = df.withColumns(casts)
        if not pks:
            self._write_append_commit(table_id, df, names, batch_id)
            atomic_write(marker, "ok")
            return
        pre = _BUCKET_COL in df.columns

        def bucketed(frame: DataFrame) -> DataFrame:
            return frame if pre else frame.repartition(F.col(_BUCKET_COL))
        if not pre:
            df = df.withColumn(_BUCKET_COL, self._bucket_of(df, pks, schema))
        if OP_COL in df.columns:
            final = latest_image(
                df, [_BUCKET_COL] + pks,
                seq_col=SEQ_COL if SEQ_COL in df.columns else None,
                keep_delete_marker=True)
        else:
            final = df.withColumn(OP_COL, F.lit("+I"))
        if self.mode == "mor":
            # single-pass commit (optimization r11, guide §2.4/§5): the
            # staged write's added_map IS the touched-bucket set, so the
            # MOR path needs neither the pre-write distinct().collect()
            # job nor the persist that existed only to keep that collect
            # and the write consistent — the manifest is derived from the
            # files actually written, so it matches them by construction
            # even for a nondeterministic batch
            self._write_mor_commit(table_id, bucketed, final, names,
                                   batch_id)
            atomic_write(marker, "ok")
            return
        prev_buckets: dict[str, list[str]] = self._manifest(table_id)["buckets"]
        out_cols = names + [_BUCKET_COL]
        if not prev_buckets:
            # empty table: nothing to merge and no bucket to drop, so the
            # staged write's buckets ARE the commit — no persist and no
            # touched-bucket collect
            added_map = self._staged_write(bucketed(
                final.where(F.col(OP_COL) != "-D").select(*out_cols)),
                self._data_dir(table_id))
            if added_map:
                self._commit(table_id, added_map, batch_id)
            atomic_write(marker, "ok")
            return
        # persist: the touched-bucket collect and the file write are two
        # actions — unpersisted, a nondeterministic batch could write a
        # bucket the manifest never records (and vacuum would delete)
        final = final.persist()
        try:
            touched = sorted(r[0] for r in
                             final.select(_BUCKET_COL).distinct().collect())
            upserts = final.where(F.col(OP_COL) != "-D").select(*out_cols)
            prev_files = [os.path.join(self._data_dir(table_id), p)
                          for b in touched
                          for p in prev_buckets.get(str(b), [])]
            if prev_files:
                current = self._scan(
                    spark, self._data_dir(table_id), prev_files,
                    self._declared(spark, schema)).select(*out_cols)
                merged = (current.join(final.select(*pks), on=pks,
                                       how="left_anti")
                          .unionByName(upserts, allowMissingColumns=True))
                merged = merged.repartition(F.col(_BUCKET_COL))
            else:
                merged = bucketed(upserts)
            added_map = self._staged_write(merged, self._data_dir(table_id))
            new_buckets = dict(prev_buckets)
            for b in touched:
                added = added_map.get(str(b), [])
                if added:
                    new_buckets[str(b)] = added  # bucket REPLACED by commit
                else:
                    new_buckets.pop(str(b), None)  # all rows deleted
            if new_buckets != prev_buckets:
                self._commit(table_id, new_buckets, batch_id)
        finally:
            final.unpersist()
        atomic_write(marker, "ok")

    def _write_append_commit(self, tid: TableId, df: DataFrame,
                             names: list[str], batch_id) -> None:
        """A table without a primary key appends its rows: -D/-U rows are
        before-images that no key can retract, and appending them would
        resurrect deleted rows as live data (the reference's upsert sinks
        require a key for changelogs).  Each input partition lands in one
        bucket, so the write adds one file per partition and no shuffle."""
        if OP_COL in df.columns:
            df = df.where(~F.col(OP_COL).isin("-D", "-U"))
        rows = df.select(*names).withColumn(
            _BUCKET_COL, F.spark_partition_id() % self.num_buckets)
        added_map = self._staged_write(rows, self._data_dir(tid))
        if not added_map:
            return
        buckets = self._manifest(tid)["buckets"]
        self._commit(tid, {b: buckets.get(b, []) + added_map.get(b, [])
                           for b in set(buckets) | set(added_map)}, batch_id)

    def _write_mor_commit(self, tid: TableId, bucketed, final: DataFrame,
                          names: list[str], batch_id) -> None:
        """Append-only delta commit: the batch's final images (row kind +
        commit sequence) land as new files under ``delta/``; base buckets
        and every previous delta file are carried forward untouched — the
        commit never reads or rewrites existing data (O(batch) at any
        table size).  ``bucketed`` shuffles the rows by bucket unless the
        frame arrived pre-partitioned."""
        manifest = self._manifest(tid)
        seq = manifest["seq"] + 1
        delta_cols = names + [OP_COL, _BUCKET_COL]
        rows = (final.select(*delta_cols)
                .withColumn(_COMMIT_SEQ, _opaque_long(seq)))
        added_map = self._staged_write(bucketed(rows), self._delta_dir(tid))
        if not added_map:
            return
        deltas = {k: list(v) for k, v in
                  (manifest.get("deltas") or {}).items()}
        # touched buckets = exactly the buckets the staged write produced
        # (partitionBy writes no empty partitions) — no separate
        # distinct().collect() pass over the batch
        for b in sorted(added_map, key=int):
            deltas[b] = deltas.get(b, []) + added_map[b]
        self._commit(tid, dict(manifest["buckets"]), batch_id, deltas=deltas)

    # -- read path ---------------------------------------------------------
    def _pk_point_buckets(self, tid: TableId, filters) -> set[int] | None:
        """Bucket ids implied by an equality/IN filter on the table's
        single INTEGRAL primary key — the point-lookup planner: a PK row
        can only live in ``portable_bucket(pk)``, so a ``pk = v`` scan
        needs ONE bucket's files regardless of table size (the same
        guarantee Iceberg's bucket partition transform gives).  Computed
        driver-side with :func:`portable_bucket_py`, the bit-identical
        Python replica of the write path's bucket expression.  Returns
        None when not derivable (no filters, composite/non-integral PK,
        non-int filter values) — pruning then falls back to zone maps
        alone."""
        from ..operators.partitioning import portable_bucket_py

        if not filters or not os.path.exists(self._schema_path(tid)):
            return None
        schema = self._table_schema(tid)
        if not self._schema_pk_integral(schema):
            return None
        pks = schema.primary_keys
        out: set[int] | None = None
        for c, op, val in filters:
            if c != pks[0] or op not in ("=", "==", "in"):
                continue
            vals = list(val) if op == "in" else [val]
            if not all(isinstance(v, int) and not isinstance(v, bool)
                       for v in vals):
                continue
            bs = {portable_bucket_py(v, self.num_buckets) for v in vals}
            out = bs if out is None else (out & bs)
        return out

    def scan_files(self, table_id: TableId, snapshot: int | None = None,
                   filters=None, _manifest: dict | None = None,
                   _pk_allowed=_UNSET) -> tuple[list[str], int]:
        """Plan a scan: (base files kept after zone-map pruning, total base
        files in the snapshot).  With no filters every file is kept.  MoR
        DELTA files are never pruned — a newer delta version must shadow an
        older matching base row even when the new value itself falls outside
        the predicate, so only base files are prunable (same reason Iceberg
        applies delete files before residual filters).  ``_manifest`` lets
        ``read`` pass its already-loaded manifest instead of re-parsing."""
        self._ensure_meta(table_id, create=False)
        manifest = (_manifest if _manifest is not None
                    else self._manifest(table_id, snapshot))
        # n_files is recorded at commit time so a shard-pruned (partial)
        # manifest still reports the snapshot's true file total
        total = manifest.get("n_files",
                             sum(len(fs) for fs in
                                 manifest["buckets"].values()))
        if not filters:
            return [p for fs in manifest["buckets"].values() for p in fs], \
                total
        allowed = (_pk_allowed if _pk_allowed is not _UNSET
                   else self._pk_point_buckets(table_id, filters))
        rels = [p for b, fs in manifest["buckets"].items()
                if allowed is None or int(b) in allowed
                for p in fs]
        stats = self.file_stats(table_id, _manifest=manifest)
        kept = [p for p in rels
                if not _file_excluded(stats.get(p, {}), filters)]
        return kept, total

    def read(self, spark: SparkSession, table_id: TableId,
             snapshot: int | None = None, filters=None) -> DataFrame:
        """Read the table at a snapshot (default: latest) — time travel is
        ``read(spark, tid, snapshot=<seq>)``.  ``filters`` is a pyarrow-style
        AND list ``[(col, op, value), ...]`` (ops ``= < <= > >= in``): data
        files whose manifest zone maps prove no row can match are dropped
        from the scan driver-side, then the predicate is applied for real
        (pruning is an optimization, never the filter itself)."""
        self._ensure_meta(table_id, create=False)
        # computed ONCE here (schema parse + bucket hash) and shared with
        # scan_files: a PK point lookup restricts BASE and DELTA files to
        # the owning bucket (both write paths bucket the final image by
        # PK); zone-map stats still never prune deltas (shadowing, see
        # scan_files).  The manifest itself is then resolved SHARD-PRUNED
        # — only the file-list shards owning those buckets are read, so a
        # point lookup's metadata cost is O(touched shards) driver-side.
        pk_allowed = (self._pk_point_buckets(table_id, filters)
                      if filters else None)
        manifest = self._manifest(table_id, snapshot,
                                  buckets_needed=pk_allowed)
        kept, _total = self.scan_files(table_id, snapshot, filters,
                                       _manifest=manifest,
                                       _pk_allowed=pk_allowed)
        paths = [os.path.join(self._data_dir(table_id), p) for p in kept]
        delta_paths = [os.path.join(self._delta_dir(table_id), p)
                       for b, files in (manifest.get("deltas") or {}).items()
                       if pk_allowed is None or int(b) in pk_allowed
                       for p in files]
        schema = self._table_schema(table_id)
        if not paths and not delta_paths:
            df = spark.createDataFrame([], schema.struct_type())
        elif delta_paths:
            df = self._merge_read(spark, table_id, paths, delta_paths)
        else:
            df = self._scan(spark, self._data_dir(table_id), paths,
                            self._declared(spark, schema)).drop(_BUCKET_COL)
        cond = _filters_to_column(filters) if filters else None
        return df.where(cond) if cond is not None else df

    def _merge_read(self, spark: SparkSession, tid: TableId,
                    base_paths: list[str], delta_paths: list[str]) -> DataFrame:
        """Merge-on-read: latest commit sequence wins per key, delete row
        kinds drop the key. One bucket-aligned window shuffle — the read
        cost MoR trades for its O(batch) commits (compact() removes it).
        Base and delta files scan through one changelog schema, so base
        rows read as ``+I`` at sequence -1 unless compaction stamped one."""
        from pyspark.sql import Window

        schema = self._table_schema(tid)
        declared = self._declared(spark, schema, changelog=True)
        allr = self._scan(spark, self._delta_dir(tid), delta_paths, declared)
        if base_paths:
            allr = allr.unionByName(
                self._scan(spark, self._data_dir(tid), base_paths, declared))
        pks = schema.primary_keys
        w = Window.partitionBy(*[F.col(k) for k in pks]).orderBy(
            F.col(_COMMIT_SEQ).desc())
        return (allr.withColumn("__rn", F.row_number().over(w))
                .where((F.col("__rn") == 1) & (F.col(OP_COL) != "-D"))
                .drop("__rn", OP_COL, _BUCKET_COL, _COMMIT_SEQ))

    # -- incremental (changelog) read --------------------------------------
    def read_changes(self, spark: SparkSession, table_id: TableId,
                     from_snapshot: int, to_snapshot: int | None = None
                     ) -> DataFrame:
        """CDC OUT of the lake table (Paimon streaming read / Iceberg
        incremental scan): the row-level changes between two snapshots as a
        changelog DataFrame — data columns + ``__op`` (+I/+U/-D, new image
        for upserts, old image for deletes) + ``__commit_seq``.

        Two plans, picked from the manifests alone:

        * **delta fast path** (MoR history, the streaming-ingestion case):
          when base buckets are unchanged and the delta list only grew, the
          change set IS the delta files committed in ``(from, to]`` — read
          exactly those files, nothing else.  O(changes), never O(table):
          this is what makes the lake table consumable as a stream.
        * **state diff fallback** (copy-on-write commits, TRUNCATE,
          compaction mixed into the range): join the two snapshot states on
          the primary key and classify +I/+U/-D.  Bucket pruning keeps the
          join to the buckets whose file sets actually changed — the bucket
          is a pure function of the PK, so it is recomputed on the read
          rather than stored.  A pure compaction diffs to zero rows.
        """
        self._ensure_meta(table_id, create=False)
        m0 = self._manifest(table_id, from_snapshot)
        m1 = self._manifest(table_id, to_snapshot)
        d0 = {(b, p) for b, fs in (m0.get("deltas") or {}).items()
              for p in fs}
        d1 = {(b, p) for b, fs in (m1.get("deltas") or {}).items()
              for p in fs}
        schema = self._table_schema(table_id)
        pks = schema.primary_keys
        if m0["buckets"] == m1["buckets"] and d0 <= d1:
            declared = self._declared(spark, schema, changelog=True)
            new_rels = sorted(p for _, p in d1 - d0)
            if not new_rels:
                return spark.createDataFrame(
                    [], T.StructType(declared.fields[:-1]))
            paths = [os.path.join(self._delta_dir(table_id), p)
                     for p in new_rels]
            return self._scan(spark, self._delta_dir(table_id), paths,
                              declared).drop(_BUCKET_COL)
        # state-diff fallback
        changed = {b for b in set(m0["buckets"]) | set(m1["buckets"])
                   if m0["buckets"].get(b) != m1["buckets"].get(b)}
        changed |= {b for b, _ in d0 ^ d1}
        old = self.read(spark, table_id, snapshot=from_snapshot)
        new = self.read(spark, table_id, snapshot=to_snapshot)
        if changed != set(m0["buckets"]) | set(m1["buckets"]):
            want = [int(b) for b in changed]
            old = old.where(self._bucket_of(old, pks, schema).isin(want))
            new = new.where(self._bucket_of(new, pks, schema).isin(want))
        data_cols = new.columns
        o = old.select(*[F.col(c).alias(f"__o_{c}") for c in data_cols])
        n = new.select(*[F.col(c).alias(f"__n_{c}") for c in data_cols])
        cond = None
        for k in pks:
            c = F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}"))
            cond = c if cond is None else (cond & c)
        j = o.join(n, on=cond, how="full_outer")
        in_old = F.col(f"__o_{pks[0]}").isNotNull()
        in_new = F.col(f"__n_{pks[0]}").isNotNull()
        non_pk = [c for c in data_cols if c not in pks]
        if non_pk:
            same = F.struct(*[F.col(f"__o_{c}") for c in non_pk]).eqNullSafe(
                F.struct(*[F.col(f"__n_{c}") for c in non_pk]))
        else:
            same = F.lit(True)
        op = (F.when(~in_old, F.lit("+I"))
              .when(~in_new, F.lit("-D"))
              .otherwise(F.lit("+U")))
        picked = [F.when(in_new, F.col(f"__n_{c}"))
                  .otherwise(F.col(f"__o_{c}")).alias(c) for c in data_cols]
        return (j.where(~in_old | ~in_new | ~same)
                .select(*picked, op.alias(OP_COL),
                        F.lit(m1["seq"]).cast("bigint").alias(_COMMIT_SEQ)))

    # -- refs: rollback + tags (Iceberg table refs) ------------------------
    def rollback(self, table_id: TableId, to_snapshot: int) -> int:
        """Roll the table back to an earlier snapshot by COMMITTING a new
        manifest with the old snapshot's content (Iceberg
        ``rollback_to_snapshot``): history stays intact — the bad
        snapshots remain time-travelable until vacuum — and readers
        pinned to the latest seq atomically see the restored state.
        Returns the new snapshot seq."""
        m = self._manifest(table_id, to_snapshot)  # validates membership
        return self._commit(table_id, dict(m["buckets"]),
                            deltas={k: list(v) for k, v in
                                    (m.get("deltas") or {}).items()} or None)

    def _tags_path(self, tid: TableId) -> str:
        return os.path.join(self._table_dir(tid), "_tags.json")

    def tag(self, table_id: TableId, name: str,
            snapshot: int | None = None) -> int:
        """Name a snapshot (Iceberg tag): ``read(..., snapshot=sink.
        tags(tid)[name])`` pins it forever; vacuum REFUSES to expire
        tagged snapshots.  Defaults to the latest snapshot."""
        seqs = self.snapshots(table_id)
        seq = seqs[-1] if snapshot is None else snapshot
        if seq not in seqs:
            raise ValueError(f"unknown snapshot {seq}; have {seqs}")
        tags = self.tags(table_id)
        tags[name] = seq
        atomic_write(self._tags_path(table_id), json.dumps(tags))
        return seq

    def tags(self, table_id: TableId) -> dict[str, int]:
        p = self._tags_path(table_id)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    # -- maintenance -------------------------------------------------------
    def vacuum(self, table_id: TableId, keep_last: int = 1) -> int:
        """Delete data files referenced by NO retained snapshot and drop
        the expired manifests.  TAGGED snapshots are always retained
        (Iceberg: refs block snapshot expiration).  Returns the number
        of files removed.

        RETENTION CONTRACT for changelog consumers: ``keep_last`` is the
        delta-retention window — a ``read_changes`` consumer lagging
        more than keep_last commits behind the head loses the vacuumed
        deltas permanently (the same contract as Kafka retention); size
        keep_last to the slowest consumer's worst-case lag, or tag a
        snapshot the consumer has not passed to block expiration."""
        if keep_last < 1:
            # seqs[-0:] is the WHOLE list — keep_last=0 silently kept
            # everything (round-9 review); at least the head must
            # survive anyway (readers need a current snapshot)
            raise ValueError("keep_last must be >= 1 (got %d)" % keep_last)
        seqs = self.snapshots(table_id)
        tagged = set(self.tags(table_id).values())
        keep = sorted(set(seqs[-keep_last:]) | (tagged & set(seqs)))
        drop = [s for s in seqs if s not in keep]
        live: set[str] = set()
        live_delta: set[str] = set()
        for s in keep:
            m = self._manifest(table_id, s)
            for files in m["buckets"].values():
                live.update(files)
            for files in (m.get("deltas") or {}).values():
                live_delta.update(files)
        # files referenced by the EXPIRED snapshots are reclaimable
        # immediately (they were committed; the snapshots aged out);
        # files referenced by NO snapshot at all may belong to an
        # in-flight commit that wrote its parquet BEFORE the atomic
        # manifest link — those get the same age grace the shard loop
        # below applies (round-9 review: reaping them immediately left
        # a racing winner's manifest referencing deleted files)
        dropped: set[str] = set()
        dropped_delta: set[str] = set()
        dropped_stats: set[str] = set()
        for s in drop:
            m = self._manifest(table_id, s)
            for files in m["buckets"].values():
                dropped.update(files)
            for files in (m.get("deltas") or {}).values():
                dropped_delta.update(files)
            dropped_stats.update(m.get("stats_shards") or [])
        removed = 0
        import time as _time

        now = _time.time()
        for root, live_set, dropped_set in (
                (self._data_dir(table_id), live, dropped),
                (self._delta_dir(table_id), live_delta, dropped_delta)):
            for b_dir in os.listdir(root) if os.path.isdir(root) else []:
                if not b_dir.startswith(f"{_BUCKET_COL}="):
                    continue
                for f in os.listdir(os.path.join(root, b_dir)):
                    rel = f"{b_dir}/{f}"
                    full = os.path.join(root, rel)
                    if not f.endswith(".parquet") or rel in live_set:
                        continue
                    if rel in dropped_set or \
                            now - os.path.getmtime(full) > 3600:
                        os.remove(full)
                        removed += 1
        for s in drop:
            os.remove(os.path.join(self._snap_dir(table_id), f"{s}.json"))
        # stats + file-list shards referenced by NO retained manifest
        # (incl. orphans from lost commit races) go with the expired
        # snapshots.  A stats shard an expired snapshot referenced goes at
        # once, like its data files (stats shard names are unique per
        # commit, so no in-flight commit can be writing it); content-
        # addressed file-list shards wait out the grace, because a commit
        # may re-reference an existing one
        live_stats: set[str] = set()
        live_filelists: set[str] = set()
        for s in keep:
            raw = self._manifest_raw(table_id, s)
            live_stats.update(raw.get("stats_shards") or [])
            live_filelists.update((raw.get("file_shards") or {}).values())
        for sdir, live_set, expired in (
                (self._stats_dir(table_id), live_stats, dropped_stats),
                (self._filelist_dir(table_id), live_filelists, set())):
            for f in os.listdir(sdir) if os.path.isdir(sdir) else []:
                full = os.path.join(sdir, f)
                # age grace: an in-flight commit writes its shards BEFORE
                # the atomic manifest link — a concurrent vacuum must not
                # reap them as orphans (Iceberg's orphan-file cleanup uses
                # the same age-threshold discipline)
                if (f.endswith(".json") and f not in live_set
                        and (f in expired
                             or now - os.path.getmtime(full) > 3600)):
                    os.remove(full)
        return removed

    def compact(self, spark: SparkSession, table_id: TableId,
                order_by: list[str] | None = None,
                files_per_bucket: int = 1,
                zorder: list[str] | None = None,
                zorder_bits: int = 12) -> None:
        """Rewrite every live bucket and commit the result as a new
        snapshot (older snapshots keep working until vacuum).  With
        outstanding MoR deltas, folds base + deltas into fresh delta-free
        base files first (the LSM-compaction step that returns reads to
        pure scans).

        ``order_by`` CLUSTERS the rewrite (Iceberg ``rewrite_data_files``
        with a sort order / Paimon sort-compact): each bucket is
        range-partitioned into ``files_per_bucket`` files with disjoint
        ``order_by`` ranges and sorted within each file, which is what
        makes the manifest zone maps selective — a range predicate over
        the cluster key then prunes ~(1 - 1/files_per_bucket) of the
        scan before it is scheduled.

        ``zorder`` instead CLUSTERS ON MULTIPLE COLUMNS at once (Delta
        OPTIMIZE ZORDER BY): rows are range-split and sorted by a Morton
        interleave of the named columns, so a predicate on ANY of them
        prunes — the single-column sort's bounds are perfect on one
        column and useless on the others.  Mutually exclusive with
        ``order_by``."""
        if order_by and zorder:
            raise ValueError("order_by and zorder are mutually exclusive")
        self._ensure_meta(table_id, create=False)
        manifest = self._manifest(table_id)
        if manifest.get("deltas"):
            self._compact_mor(spark, table_id, manifest,
                              order_by=order_by,
                              files_per_bucket=files_per_bucket,
                              zorder=zorder, zorder_bits=zorder_bits)
            return
        declared = self._declared(spark, self._table_schema(table_id))
        zcol = None
        if zorder:
            all_paths = [os.path.join(self._data_dir(table_id), p)
                         for fs in manifest["buckets"].values() for p in fs]
            if all_paths:
                # GLOBAL min/max normalization (one bounded agg) so every
                # bucket's files share one z-space
                df_all = self._scan(spark, self._data_dir(table_id),
                                    all_paths, declared)
                zcol = _zvalue_col(df_all, zorder, zorder_bits)
        def _rewrite_bucket(b: str, files: list[str]) -> tuple[str, list[str]]:
            paths = [os.path.join(self._data_dir(table_id), p) for p in files]
            df = self._scan(spark, self._data_dir(table_id), paths, declared)
            if zcol is not None:
                df = (df.withColumn("__zorder", zcol)
                      .repartitionByRange(files_per_bucket, F.col("__zorder"))
                      .sortWithinPartitions("__zorder")
                      .drop("__zorder"))
            elif order_by:
                df = (df.repartitionByRange(
                          files_per_bucket, *[F.col(c) for c in order_by])
                      .sortWithinPartitions(*order_by))
            else:
                df = df.coalesce(1)
            added_map = self._staged_write(df, self._data_dir(table_id))
            return b, added_map.get(str(b), [])

        # overlap the independent per-bucket rewrite jobs (optimization
        # r11, guide §2.6): each bucket's range-sample + clustered write
        # is a small job whose tail left the cluster idle when run
        # sequentially; _staged_write stages through a writer-unique dir
        # so concurrent rewrites cannot collide, and the manifest merge
        # below is driver-side. File layout per bucket is identical to
        # the sequential form.
        items = list(manifest["buckets"].items())
        new_buckets: dict[str, list[str]] = {}
        if len(items) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(4, len(items))) as pool:
                for b, added in pool.map(lambda kv: _rewrite_bucket(*kv),
                                         items):
                    new_buckets[b] = added
        else:
            for b, files in items:
                new_buckets[b] = _rewrite_bucket(b, files)[1]
        self._commit(table_id, new_buckets)

    def _compact_mor(self, spark: SparkSession, tid: TableId,
                     manifest: dict, order_by: list[str] | None = None,
                     files_per_bucket: int = 1,
                     zorder: list[str] | None = None,
                     zorder_bits: int = 12) -> None:
        """Fold base + delta files into new base files (one per bucket)
        and commit a delta-free snapshot.  New rows carry the compaction's
        commit sequence so later delta commits always sort after them.
        With ``order_by`` the fold commits first, then the clustered
        copy-on-write rewrite runs as a second snapshot."""
        base_paths = [os.path.join(self._data_dir(tid), p)
                      for files in manifest["buckets"].values() for p in files]
        delta_paths = [os.path.join(self._delta_dir(tid), p)
                       for files in manifest["deltas"].values() for p in files]
        merged = self._merge_read(spark, tid, base_paths, delta_paths)
        schema = self._table_schema(tid)
        new_seq = manifest["seq"] + 1
        rows = (merged
                .withColumn(_BUCKET_COL,
                            self._bucket_of(merged, schema.primary_keys,
                                            schema))
                .withColumn(_COMMIT_SEQ, F.lit(new_seq).cast("bigint")))
        # single pass (optimization r11, guide §2.4/§5): the staged
        # write's added_map is the touched-bucket set — no persist +
        # distinct().collect() pre-pass; the committed manifest matches
        # the files written by construction
        added_map = self._staged_write(
            rows.repartition(F.col(_BUCKET_COL)), self._data_dir(tid))
        new_buckets = {b: v for b, v in added_map.items() if v}
        self._commit(tid, new_buckets)
        if order_by or zorder:
            self.compact(spark, tid, order_by=order_by,
                         files_per_bucket=files_per_bucket,
                         zorder=zorder, zorder_bits=zorder_bits)
