"""Structured Streaming runner: the streaming execution mode of the engine.

Parity target: the reference's streaming pipeline (SURVEY.md §3.1/§3.3) —
continuous change capture with exactly-once sink application. On Spark:

- the change stream arrives as a ``readStream`` DataFrame of JSON change
  records in one ``ENVELOPES`` serialization, Debezium-JSON by default
  (Kafka in production; file-stream in tests — same code path);
- ``foreachBatch`` is the control loop: the driver decodes each micro-batch
  per table, applies transforms/routes, coerces to the evolved schema and
  hands the result to the sink with the micro-batch id;
- exactly-once = Structured Streaming checkpoint (source offsets) + the
  sink's idempotence per (sink table, batch id scoped by source table) —
  on restart the last batch is re-delivered and skipped by the sink's
  marker (see SnapshotLakeSink.write);
- schema changes happen *between* micro-batches, the natural FlushEvent
  barrier (§3.3): before processing, each batch's decoded frame is checked
  against the registry's original schema and the evolution path runs first.

At scale: one decode+transform+repartition+merge per table per micro-batch —
all Catalyst plans; the driver does O(tables) bookkeeping only.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Row, SparkSession, functions as F
from pyspark.sql import types as T

from ..common.atomic import atomic_write
from ..common.events import CreateTableEvent
from ..common.schema import Schema
from ..common.tableid import TableId
from ..operators.route import TableIdRouter
from ..operators.schema_evolution import SchemaChangeBehavior
from ..operators.schema_registry import SchemaRegistry
from ..operators.transform import PostTransform, PreTransform
from ..pipeline.composer import PipelineExecution
from ..sinks.base import DataSink
from ..sources.base import SEQ_COL, ChangeBatch, attach_envelope
from ..sources.db2 import decode_db2_cdc
from ..sources.debezium import decode_canal, decode_debezium
from ..sources.legacy_offsets import Lsn, LsnOffset, RedoLogOffset
from ..sources.mongodb import (ChangeStreamOffset, _cluster_time_cols,
                               decode_mongo_changestream)
from ..sources.mysql_binlog import BinlogOffset
from ..sources.pgoutput import PostgresOffset
from ..sources.sqlserver import decode_sqlserver_cdc
from ..sources.vitess import (StopOnReshardHalt, VitessStreamState,
                              decode_vstream, fold_vstream_batch)

_get = F.get_json_object


@dataclass(frozen=True)
class Envelope:
    """Where one serialization keeps a record's coordinates, and how its
    rows decode. Paths are JSON paths into the raw value; ``None`` means the
    format has no such coordinate.  The db, schema and table paths are
    dotted field paths (``$.a.b``): they become the routing struct's
    fields.  Routing, the enriched batch and mid-stream discovery all
    derive from these paths (a mismatch between them silently drops
    events)."""

    db: str
    schema: str | None
    table: str
    image: tuple[str, ...]  # row image: the first of these that is set
    decode: Callable[[DataFrame, Schema, str], DataFrame]
    # document whose field names are the primary keys (mid-stream
    # discovery: without them a discovered table has no PK, key-only
    # deletes can't upsert-match, and the sink appends forever)
    key: str | None = None
    # the stream carries Vitess VGTIDs: the runner folds them into a
    # resumable vector offset and honours stop-on-reshard
    vgtid: bool = False

    def routing_schema(self) -> T.StructType:
        """The narrow struct ONE ``from_json`` per record parses for
        routing: ``ddl`` plus the envelope's db, schema and table paths,
        nested as the paths are (Debezium: ``ddl STRING, source
        STRUCT<db, schema, table>``).  Every leaf is a STRING, which keeps
        a non-string token's raw JSON text, as ``get_json_object`` does;
        a non-object parent or a malformed record reads null."""
        tree: dict = {}
        for path in ("$.ddl", self.db, self.schema, self.table):
            if path is None:
                continue
            *parents, leaf = path[2:].split(".")
            node = tree
            for part in parents:
                node = node.setdefault(part, {})
            node[leaf] = None

        def struct(node: dict) -> T.StructType:
            return T.StructType([
                T.StructField(k, T.StringType() if v is None else struct(v))
                for k, v in node.items()])
        return struct(tree)

    def routing_columns(self, parsed: str) -> dict[str, Column]:
        """The enriched routing columns, read from the column named
        ``parsed`` (a :meth:`routing_schema` struct)."""
        def at(path):
            return (F.col(f"{parsed}.{path[2:]}") if path
                    else F.lit(None).cast("string"))
        return {"__is_ddl": at("$.ddl").isNotNull(),
                "__src_db": at(self.db),
                "__src_schema": at(self.schema),
                "__src_tbl": at(self.table)}

    def image_probe(self, value_col: str) -> Column:
        """The record's row image as JSON text (mid-stream discovery
        infers a new table's schema from it)."""
        return F.coalesce(*[_get(F.col(value_col), p) for p in self.image])


_DBZ_IMAGE = ("$.after", "$.before")

#: serialization -> envelope. The debezium decode resolves the module
#: global at call time, so a wrapper installed on it is honoured.
ENVELOPES: dict[str, Envelope] = {
    "debezium-json": Envelope(
        "$.source.db", "$.source.schema", "$.source.table", _DBZ_IMAGE,
        lambda raw, s, vc: decode_debezium(raw, s.struct_type(), vc)),
    "canal-json": Envelope(
        "$.database", None, "$.table", ("$.data[0]",),
        lambda raw, s, vc: decode_canal(raw, s.struct_type(), vc)),
    # change-table capture lines: {"db","schema","table","row"}
    "sqlserver-cdc-json": Envelope(
        "$.db", "$.schema", "$.table", ("$.row",),
        lambda raw, s, vc: decode_sqlserver_cdc(raw, s.struct_type(), vc)),
    "db2-cdc-json": Envelope(
        "$.db", "$.schema", "$.table", ("$.row",),
        lambda raw, s, vc: decode_db2_cdc(raw, s.struct_type(), vc)),
    # Debezium vitess: source.keyspace stands where others put db
    "vitess-json": Envelope(
        "$.source.keyspace", None, "$.source.table", _DBZ_IMAGE,
        lambda raw, s, vc: decode_vstream(raw, s.struct_type(), vc),
        vgtid=True),
    # MongoDBEnvelope: ns.db/ns.coll, fullDocument is the image. Upsert-mode
    # change streams: key-only -D tombstones and +U without before-images —
    # what the keyed sink merge consumes; the documentKey fields (shard key
    # / _id) are the table's primary keys.
    "mongodb-json": Envelope(
        "$.ns.db", None, "$.ns.coll", ("$.fullDocument",),
        lambda raw, s, vc: decode_mongo_changestream(
            raw, s.struct_type(), key_fields=tuple(s.primary_keys) or ("_id",),
            value_col=vc),
        key="$.documentKey"),
}


@dataclass(frozen=True)
class ConnectorOffset:
    """How one connector's operator-visible offset is stored and advanced:
    the batch's newest position is the ``probes`` row with the greatest
    ``order`` among rows whose ``key`` is set."""

    file: str  # in the checkpoint dir
    parse: Callable[[str], object]
    probes: Callable[[Column], dict[str, Column]]
    key: str
    # ordering column: a probe name, or "offset" for the transport offset
    # column; ``fallback`` orders frames without one (file sources)
    order: str
    fallback: str
    build: Callable[[Row], object]


#: connector_offset -> offset kind (the reference's BinlogOffset,
#: PostgresOffset, ChangeStreamOffset, LsnOffset and RedoLogOffset state)
OFFSETS: dict[str, ConnectorOffset] = {
    "mysql-binlog": ConnectorOffset(
        "mysql_binlog_offset.json", BinlogOffset.from_json,
        lambda v: {"file": _get(v, "$.source.file"),
                   "pos": _get(v, "$.source.pos").cast("long"),
                   "gtids": _get(v, "$.source.gtids"),
                   "server_id": _get(v, "$.source.server_id")},
        "file", "offset", "pos",
        lambda m: BinlogOffset.of(file=m["file"], pos=m["pos"],
                                  gtids=m["gtids"], server_id=m["server_id"])),
    "pgoutput": ConnectorOffset(
        "postgres_offset.json", PostgresOffset.from_json,
        lambda v: {"lsn": _get(v, "$.source.lsn").cast("long"),
                   "tx": _get(v, "$.source.txId").cast("long"),
                   "ts_ms": _get(v, "$.ts_ms").cast("long")},
        "lsn", "offset", "lsn",
        lambda m: PostgresOffset(
            int(m["lsn"]), int(m["tx"]) if m["tx"] is not None else None,
            int(m["ts_ms"]) * 1000 if m["ts_ms"] is not None else None)),
    "mongodb": ConnectorOffset(
        "mongodb_resume_token.json", ChangeStreamOffset.from_json,
        lambda v: {"token": _get(v, "$._id._data"),
                   "ts64": _cluster_time_cols(v)[1]},
        "token", "ts64", "ts64",
        lambda m: ChangeStreamOffset(int(m["ts64"]), json.dumps(
            {"_data": m["token"]}, separators=(",", ":")))),
    # fixed-width hex LSNs: the lexical max IS the numeric max
    "sqlserver": ConnectorOffset(
        "sqlserver_lsn_offset.json", LsnOffset.from_json,
        lambda v: {"lsn": _get(v, "$.row['__$start_lsn']")},
        "lsn", "lsn", "lsn",
        lambda m: LsnOffset(Lsn.valueOf(None), Lsn(bytes.fromhex(m["lsn"])))),
    "db2": ConnectorOffset(
        "db2_lsn_offset.json", LsnOffset.from_json,
        lambda v: {"lsn": _get(v, "$.row.IBMSNAP_COMMITSEQ")},
        "lsn", "lsn", "lsn",
        lambda m: LsnOffset(Lsn.valueOf(None), Lsn(bytes.fromhex(m["lsn"])))),
    "oracle": ConnectorOffset(
        "oracle_scn_offset.json", RedoLogOffset.from_json,
        lambda v: {"scn": _get(v, "$.source.scn").cast("long")},
        "scn", "offset", "scn",
        lambda m: RedoLogOffset(int(m["scn"]), int(m["scn"]))),
}


@dataclass
class StreamingPipeline:
    """Streaming counterpart of PipelineExecution, sharing its control plane."""

    spark: SparkSession
    sink: DataSink
    post: PostTransform
    pre: PreTransform
    router: TableIdRouter
    registry: SchemaRegistry
    checkpoint_dir: str
    behavior: SchemaChangeBehavior = SchemaChangeBehavior.LENIENT
    parallelism: int | None = None
    serialization: str = "debezium-json"  # a key of ENVELOPES
    # Auto-register tables first seen mid-stream (full-database-sync parity:
    # a table created upstream after the pipeline started still syncs).
    # Payload schemas are inferred from the JSON after-images of the first
    # batch that mentions the table — the parallel-metadata path of
    # DataSource.isParallelMetadataSource (SURVEY.md §2.1 P8).
    discover_tables: bool = False
    # vitess-json only: halt at a reshard boundary with a resumable VGTID
    # instead of adopting the new serving set (VitessSource stopOnReshard,
    # default false — VitessSource.java:47-59)
    stop_on_reshard: bool = False
    # wire sources only (a key of OFFSETS, or None): persist the max
    # position seen per committed batch as an operator-visible offset (the
    # reference's connector checkpoint state; Structured Streaming's file
    # tracking remains the actual exactly-once offset store)
    connector_offset: str | None = None
    # sink schema-change filters + session tz — round-9 review: batch
    # compose honored these, streaming silently dropped them
    include_types: set | None = None
    exclude_types: set | None = None
    local_time_zone: str | None = None

    def __post_init__(self) -> None:
        if self.serialization not in ENVELOPES:
            raise ValueError(
                f"unknown serialization {self.serialization!r}; expected "
                f"one of {sorted(ENVELOPES)}")
        if self.connector_offset is not None and \
                self.connector_offset not in OFFSETS:
            raise ValueError(
                f"unknown connector_offset {self.connector_offset!r}; "
                f"expected one of {sorted(OFFSETS)}")

    @staticmethod
    def create(spark: SparkSession, sink: DataSink, checkpoint_dir: str,
               transforms=None, routes=None,
               behavior: SchemaChangeBehavior = SchemaChangeBehavior.LENIENT,
               parallelism: int | None = None,
               serialization: str = "debezium-json",
               discover_tables: bool = False,
               stop_on_reshard: bool = False,
               connector_offset: str | None = None,
               udfs=None,
               include_types: set | None = None,
               exclude_types: set | None = None,
               local_time_zone: str | None = None) -> "StreamingPipeline":
        return StreamingPipeline(
            spark=spark, sink=sink,
            post=PostTransform(list(transforms or []), udfs),
            pre=PreTransform(list(transforms or []), udfs),
            router=TableIdRouter(list(routes or [])),
            registry=SchemaRegistry(),
            checkpoint_dir=checkpoint_dir,
            behavior=behavior,
            parallelism=parallelism,
            serialization=serialization,
            discover_tables=discover_tables,
            stop_on_reshard=stop_on_reshard,
            connector_offset=connector_offset,
            include_types=include_types,
            exclude_types=exclude_types,
            local_time_zone=local_time_zone,
        )

    # -- vitess-json connector state (VGTID offset + reshard posture) ------
    def _vitess_state_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "vitess_vgtid.json")

    def _load_vitess_state(self):
        if os.path.exists(self._vitess_state_path()):
            with open(self._vitess_state_path()) as f:
                return VitessStreamState.from_json(f.read())
        return VitessStreamState()

    def _save_vitess_state(self, state) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        atomic_write(self._vitess_state_path(), state.to_json())

    # -- wire-source connector state (OFFSETS) ------------------------------
    def _connector_offset_path(self) -> str:
        return os.path.join(self.checkpoint_dir,
                            OFFSETS[self.connector_offset].file)

    def binlog_offset(self):
        """The last committed connector offset (None without a
        ``connector_offset`` or before the first commit): a BinlogOffset
        (mysql-binlog), PostgresOffset (pgoutput), ChangeStreamOffset
        (mongodb), LsnOffset (sqlserver, db2) or RedoLogOffset (oracle)."""
        if not self.connector_offset or \
                not os.path.exists(self._connector_offset_path()):
            return None
        with open(self._connector_offset_path()) as f:
            return OFFSETS[self.connector_offset].parse(f.read())

    def _fold_connector_offset(self, data_df: DataFrame,
                               value_col: str) -> None:
        """Advance the persisted offset to the batch's max position: one
        partial agg + a 1-row collect, committed AFTER the data lands (the
        at-least-once discipline the snapshot watermarks use). Monotone —
        a replayed batch can never regress the stored position."""
        off = OFFSETS[self.connector_offset]
        probes = off.probes(F.col(value_col))
        # streams without a transport offset column (file sources) order
        # by the connector's own monotone coordinate instead
        order = off.order if "offset" in data_df.columns else off.fallback
        sel = data_df.select(
            *[c.alias(n) for n, c in probes.items()],
            *([F.col("offset")] if order == "offset" else []))
        row = (sel.where(F.col(off.key).isNotNull())
               .agg(F.max_by(F.struct(*probes), F.col(order)).alias("m"))
               .collect())
        m = row[0]["m"] if row else None
        if m is None or m[off.key] is None:
            return
        new = off.build(m)
        cur = self.binlog_offset()
        if cur is not None and new.compare(cur) <= 0:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        atomic_write(self._connector_offset_path(), new.to_json())

    # -- shared control plane (delegates to the batch execution) ----------
    def _execution(self) -> PipelineExecution:
        if not hasattr(self, "_schema_cache"):
            # shared across per-batch executions: one Catalyst schema
            # inference per (table, schema version), not per micro-batch
            self._schema_cache: dict = {}
        return PipelineExecution(
            spark=self.spark, source=None, sink=self.sink, pre=self.pre,
            post=self.post, router=self.router, registry=self.registry,
            behavior=self.behavior, parallelism=self.parallelism, run_id="",
            include_types=self.include_types,
            exclude_types=self.exclude_types,
            local_time_zone=self.local_time_zone,
            schema_cache=self._schema_cache)

    def register_table(self, table_id: TableId, schema: Schema) -> None:
        """Declare a captured table (snapshot of the source catalog)."""
        if self.registry.original_schema(table_id) is None:
            self.registry.apply_original(CreateTableEvent(table_id, schema))
            exe = self._execution()
            pruned = self.pre.pruned_schema(table_id, schema)
            out_schema = exe._infer_output_schema(table_id, pruned)
            for sink_tid in self.router.route(table_id):
                exe._evolve_sink_table(sink_tid, out_schema)

    # -- 'initial' startup mode: snapshot backfill then stream -------------
    def _watermarks_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "snapshot_watermarks.json")

    def initial_load(self, snapshots: dict[str, DataFrame],
                     stream_watermarks: dict[str, int] | None = None) -> None:
        """StartupOptions 'initial' analog: apply a bounded snapshot of each
        table through the same transform/route/sink path before attaching to
        the log stream (started at/before the snapshot's capture offset).

        ``stream_watermarks``: table-id -> highest stream offset/seq already
        reflected in that table's snapshot (the reference's high watermark,
        HybridSplitAssigner.java:53-110). Stream records with ``__seq`` at or
        below the watermark are filtered out — the exactly-once stitch that
        PK-less/append-only tables need (PK upsert absorbs replays, appends
        cannot). Persisted in the checkpoint dir so restarts keep filtering.
        """
        exe = self._execution()
        exe.run_id = "initial"
        for tid_str, df in snapshots.items():
            tid = TableId.parse(tid_str)
            if self.registry.original_schema(tid) is None:
                self.register_table(
                    tid, Schema.from_struct_type(df.schema))
            exe._process_data(ChangeBatch(tid, [], attach_envelope(df)))
        if stream_watermarks:
            os.makedirs(self.checkpoint_dir, exist_ok=True)
            merged = dict(stream_watermarks)
            if os.path.exists(self._watermarks_path()):
                with open(self._watermarks_path()) as f:
                    merged = {**json.load(f), **merged}
            atomic_write(self._watermarks_path(), json.dumps(merged))

    def _discover_new_tables(self, data_df: DataFrame, tables: dict[str, Schema],
                             value_col: str) -> None:
        """Register tables first seen in this batch (P8 parallel-metadata
        path): distinct (db, table) pairs are read from the enriched
        ``__src_*`` columns (no second parse of the raw JSON); payload
        schemas are inferred by Spark's JSON reader over that table's
        after-images only (one driver-side inference per NEW table, not per
        batch)."""
        env = ENVELOPES[self.serialization]
        db_c, schema_c, tbl_c = (F.col("__src_db"), F.col("__src_schema"),
                                 F.col("__src_tbl"))
        pairs = (
            data_df.select(db_c.alias("db"), schema_c.alias("schema"),
                           tbl_c.alias("table"))
            .where(F.col("table").isNotNull()).distinct().collect()
        )
        for r in pairs:
            # schema-less sources (MySQL-style Debezium) get 2-part ids
            # (db.table), matching TableId.parse conventions so 2-part
            # route/transform selectors still apply to discovered tables
            if r["schema"]:
                tid = TableId(r["db"] or "", r["schema"], r["table"])
            else:
                tid = TableId("", r["db"] or "", r["table"])
            if str(tid) in tables:
                continue
            known = self.registry.original_schema(tid)
            if known is not None:
                # registry knows it (e.g. discovered before a restart) but the
                # caller's table dict doesn't — re-add so the decode loop
                # doesn't silently drop its data
                tables[str(tid)] = known
                continue
            mine = data_df.where(
                (tbl_c == tid.table_name)
                & db_c.eqNullSafe(F.lit(r["db"]))
                & schema_c.eqNullSafe(F.lit(r["schema"]))
            )
            after_json = mine.select(
                env.image_probe(value_col).alias("payload")) \
                .where(F.col("payload").isNotNull())
            if not after_json.head(1):
                # first sighting carries no image (a MongoDB delete ships
                # only documentKey): defer discovery to a later batch — a
                # delete for a never-materialized key is a no-op, and
                # registering an empty schema would poison-pill the stream
                continue
            inferred = self.spark.read.json(
                after_json.rdd.map(lambda row: row["payload"]))
            schema = Schema.from_struct_type(inferred.schema)
            if not schema.column_names():
                continue
            if env.key:
                key_row = mine.select(
                    _get(F.col(value_col), env.key)
                    .alias("k")).where(F.col("k").isNotNull()).head(1)
                try:
                    parsed = json.loads(key_row[0]["k"]) if key_row else None
                except ValueError:
                    parsed = None  # degenerate documentKey -> fallback PK
                pks = tuple(parsed) if isinstance(parsed, (dict, list)) \
                    else ("_id",)
                schema = schema.with_primary_keys(
                    [p for p in pks if p in schema.column_names()]
                    or [schema.column_names()[0]])
            self.register_table(tid, schema)
            tables[str(tid)] = schema

    # -- streaming loop ----------------------------------------------------
    @staticmethod
    def enrich_batch(batch_df: DataFrame, value_col: str,
                     serialization: str) -> DataFrame:
        """ONE projection computing every per-row routing column the
        micro-batch loop needs (__is_ddl flag + (db, schema, table)), from
        ONE parse per record: a ``from_json`` of the envelope's narrow
        routing struct (:meth:`Envelope.routing_schema`).  The parsed
        struct is a column of its own projection, so the optimizer keeps
        one ``from_json`` instead of inlining it into each routing column.
        The caller persists the result, so the parse runs once per row at
        cache-fill time; the DDL collect and every per-table slice are
        then column filters over the cached projection, and only each
        table's own slice is decoded in full."""
        env = ENVELOPES[serialization]
        # BOTH namespace coordinates ride the projection (round-9 review:
        # collapsing them with coalesce cross-contaminated two schemas
        # that share a table name on real Debezium streams, where db AND
        # schema are both set)
        return (batch_df
                .withColumn("__route", F.from_json(F.col(value_col),
                                                   env.routing_schema()))
                .withColumns(env.routing_columns("__route"))
                .drop("__route"))

    @staticmethod
    def _tid_match(tid: TableId):
        """Routing predicate over the enriched (__src_db, __src_schema,
        __src_tbl) columns for one registered table id. A 3-part id
        requires all three coordinates; a 2-part id binds its first part
        to whichever single namespace coordinate the source sets — and
        when a source sets BOTH (Debezium postgres/sqlserver/oracle), to
        the SCHEMA (TableId.parse puts a 2-part first element in
        schema_name; the finer coordinate)."""
        db = F.col("__src_db")
        sc = F.col("__src_schema")
        cond = F.col("__src_tbl") == tid.table_name
        if tid.namespace:
            return cond & (db == tid.namespace) & (sc == tid.schema_name)
        s = tid.namespace or tid.schema_name
        return cond & (
            ((db == s) & sc.isNull())
            | ((sc == s) & db.isNull())
            | (db.isNotNull() & sc.isNotNull() & (sc == s)))

    def start(self, raw_stream: DataFrame, tables: dict[str, Schema],
              value_col: str = "value"):
        """Attach to a stream of change records in this pipeline's
        ``serialization`` (one JSON record per row of ``value_col``) and
        start the query.

        ``tables``: table-id string -> payload Schema (with primary keys).
        """
        # restore FIRST, then register declared tables the checkpoint does
        # not know yet — the other order wipes tables added to the config
        # after a restart and their data would be silently skipped
        registry_ckpt = os.path.join(self.checkpoint_dir, "schema_registry.json")
        if os.path.exists(registry_ckpt):
            self.registry = SchemaRegistry.restore(registry_ckpt)
        for tid_str, schema in tables.items():
            self.register_table(TableId.parse(tid_str), schema)
        # tables discovered mid-stream in a PRIOR run live in the restored
        # registry but not in the caller's dict — seed them back, or the
        # decode loop (which iterates `tables`) would silently drop their data
        for tid in self.registry.known_tables():
            tables.setdefault(str(tid), self.registry.original_schema(tid))
        # snapshot high watermarks (initial_load): stream records already
        # reflected in the snapshot are filtered per table
        watermarks: dict[str, int] = {}
        if os.path.exists(self._watermarks_path()):
            with open(self._watermarks_path()) as f:
                watermarks = {k: int(v) for k, v in json.load(f).items()}

        env = ENVELOPES[self.serialization]
        if env.vgtid:
            vs = self._load_vitess_state()
            if vs.stopped:
                # restarting the pipeline IS the operator action after a
                # stopOnReshard halt (reference: the Flink job restarts
                # from the stored offset): clear the halt flag and arm
                # ``resuming`` — the failed (uncommitted) boundary batch
                # re-delivers and is ADOPTED (splits/merges/pending all
                # handled by the normal adopt path) instead of re-halting,
                # so the halt fires exactly once per reshard
                from dataclasses import replace as _dc_replace

                self._save_vitess_state(_dc_replace(
                    vs, stopped=False, resuming=True))

        def process(batch_df: DataFrame, batch_id: int) -> None:
            from ..common.events_json import schema_events_from_json

            vstate = None
            if env.vgtid:
                vstate = self._load_vitess_state()
                if vstate.stopped:
                    # halted at a reshard boundary: nothing may be
                    # processed under the old topology, and the epoch must
                    # NOT commit (a silent return would mark the batch
                    # consumed and lose it) — a restart re-reads the
                    # state, adopts the children, and clears the flag
                    raise StopOnReshardHalt(
                        "vitess stream is halted at a reshard boundary "
                        "(stop-on-reshard); restart the pipeline to adopt "
                        "the new shard set and resume")
            batch_df = self.enrich_batch(batch_df, value_col,
                                         self.serialization)
            batch_df.persist()
            try:
                exe = self._execution()
                exe.batches_run = batch_id
                # Pin ONE DDL ctx for the whole micro-batch: data-time sink
                # evolution inside a segmented _process_data would otherwise
                # stamp the segment-scoped id and clobber the spool marker's
                # parent-ctx group list that replay detection depends on
                exe.ddl_batch_ctx = exe._sink_batch_id()
                # new delivery of this micro-batch: sinks reset per-delivery
                # state (DDL spool ordinals) so a same-process re-delivery
                # compares against the spool marker exactly like a
                # fresh-process replay would
                self.sink.begin_batch(batch_id)
                # 1. in-stream DDL control records (Debezium schema-change
                #    topic analog) — rare, collected to the driver, applied
                #    FIRST so the whole batch decodes with the newest schema
                #    (LENIENT add-only evolution makes that sound: earlier
                #    rows null-fill the new columns). The collect is the
                #    cache-fill action: the enriched projection materializes
                #    here once; later slices are cached-column filters.
                has_offset = "offset" in batch_df.columns
                ddl_raw = batch_df.where(F.col("__is_ddl")) \
                    .select(value_col, *(
                        ["offset"] if has_offset else [])).collect()
                # Destructive table-level DDL (TRUNCATE/DROP) must respect
                # intra-batch ORDER: rows before the statement belong to the
                # old table state. Column DDL stays apply-first (sound under
                # LENIENT add-only: earlier rows null-fill). Destructive
                # events are deferred to the per-table loop, segmented by
                # the records' ts_ms against each row's __seq.
                from ..common.events import DropTableEvent, TruncateTableEvent

                destructive: dict[str, list] = {}
                for r in ddl_raw:
                    rec = json.loads(r[value_col])
                    # destructive-DDL ordering coordinate: it must use
                    # the SAME precedence decode_debezium gives the data
                    # rows' __seq — transport offset first (round-9
                    # review: with an offset column present the ts_ms
                    # fallback compared epoch-millis against small
                    # Kafka offsets and wiped post-truncate rows), then
                    # the wire bridges' "seq", then ts_ms
                    if has_offset and r["offset"] is not None:
                        ts = r["offset"]
                    else:
                        ts = rec.get("seq", rec.get("ts_ms"))
                    for ev in schema_events_from_json(rec):
                        if isinstance(ev, (TruncateTableEvent, DropTableEvent)):
                            destructive.setdefault(str(ev.table_id), []).append((ts, ev))
                        else:
                            exe._handle_schema_events(
                                ChangeBatch(ev.table_id, [ev], None))
                # 2. data records: route by the (db, table) columns the
                #    enriched projection already materialized, then run the
                #    full from_json decode only on each table's own slice —
                #    the batch is parsed once total, not once per registered
                #    table (O(batch), not O(tables × batch))
                data_df = batch_df.where(~F.col("__is_ddl"))
                if vstate is not None:
                    # VGTID offset fold + stopOnReshard (VitessSource.java
                    # stopOnReshard / Debezium offset-store parity): one
                    # raw-JSON pass advances the persisted vector offset.
                    # At a reshard boundary with stop_on_reshard: persist
                    # the halted state (VGTID stays at the last committed
                    # position, completed-split children inherit the
                    # parent entry) and FAIL the batch before any write —
                    # the uncommitted epoch re-delivers in full after the
                    # operator restarts and adopts the children, so no
                    # boundary event is lost or written twice
                    vstate, halt = fold_vstream_batch(
                        data_df, value_col, vstate,
                        stop_on_reshard=self.stop_on_reshard)
                    if halt:
                        self._save_vitess_state(vstate)
                        raise StopOnReshardHalt(
                            "reshard boundary reached (stop-on-reshard); "
                            "resume VGTID persisted — restart the "
                            "pipeline to adopt the new shard set and "
                            "re-deliver this batch")
                if self.discover_tables:
                    self._discover_new_tables(data_df, tables, value_col)
                for tid_str in tables:
                    tid = TableId.parse(tid_str)
                    schema = self.registry.original_schema(tid)
                    if schema is None:
                        continue  # dropped mid-stream
                    mine_raw = data_df.where(
                        self._tid_match(tid)
                    ).drop("__src_db", "__src_schema", "__src_tbl",
                           "__is_ddl")
                    decoded = env.decode(mine_raw, schema, value_col)
                    wm = watermarks.get(tid_str)
                    if wm is not None:
                        # high-watermark stitch: drop records the snapshot
                        # already contains; unknown (null) seq is kept
                        decoded = decoded.where(
                            F.coalesce(F.col(SEQ_COL) > F.lit(wm), F.lit(True)))
                    destr = destructive.pop(tid_str, None)
                    if not destr:
                        exe._process_data(ChangeBatch(tid, [], decoded))
                        continue
                    # segment the table's rows around each destructive event
                    # (ts-less events apply before any data — old behavior);
                    # distinct sub-batch ids keep sink replay markers sound
                    destr.sort(key=lambda p: (p[0] is not None, p[0] or 0))
                    base_bid, seg, prev_ts = exe.batches_run, 0, None

                    def emit(df_seg):
                        nonlocal seg
                        # segment ids scope the DATA idempotence markers
                        # only; every DDL apply — including data-time sink
                        # evolution inside _process_data — uses the pinned
                        # parent ddl_batch_ctx (set at batch start above)
                        exe.batches_run = f"{base_bid}s{seg}"
                        seg += 1
                        exe._process_data(ChangeBatch(tid, [], df_seg))
                        exe.batches_run = base_bid

                    for ts, ev in destr:
                        if ts is not None:
                            cond = F.coalesce(F.col(SEQ_COL) <= F.lit(ts), F.lit(False))
                            if prev_ts is not None:
                                cond = cond & (F.col(SEQ_COL) > F.lit(prev_ts))
                            emit(decoded.where(cond))
                            prev_ts = ts
                        exe._handle_schema_events(ChangeBatch(ev.table_id, [ev], None))
                        if self.registry.original_schema(tid) is None:
                            decoded = None  # table dropped: discard the rest
                            break
                    if decoded is not None:
                        tail = (decoded.where(
                            F.coalesce(F.col(SEQ_COL) > F.lit(prev_ts), F.lit(True)))
                            if prev_ts is not None else decoded)
                        emit(tail)
                    exe.batches_run = base_bid
                # destructive DDL for tables with no data in this batch
                for evs in destructive.values():
                    for _, ev in evs:
                        exe._handle_schema_events(ChangeBatch(ev.table_id, [ev], None))
                self.registry.checkpoint(registry_ckpt)
                if vstate is not None:
                    # offset commit AFTER the data lands (at-least-once,
                    # same discipline as the snapshot watermarks)
                    self._save_vitess_state(vstate)
                if self.connector_offset:
                    self._fold_connector_offset(data_df, value_col)
            finally:
                batch_df.unpersist()

        return (
            raw_stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", os.path.join(self.checkpoint_dir, "stream"))
            .trigger(availableNow=True)
            .start()
        )


def kafka_stream_source(spark: SparkSession, bootstrap_servers: str, topics: str,
                        startup: "StartupOptions | None" = None,
                        options: dict[str, str] | None = None) -> DataFrame:
    """Kafka changelog stream (production source). Keeps ``value`` and
    ``offset`` (used as the per-key ``__seq``). Requires the spark-sql-kafka
    package on the classpath; the decode path is shared with the file
    source, so everything downstream is broker-independent."""
    from ..sources.jdbc import StartupOptions

    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", (startup or StartupOptions()).kafka_starting_offsets())
    )
    if startup and startup.mode == "timestamp":
        reader = reader.option("startingTimestamp", str(startup.timestamp_ms))
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load().select(F.col("value").cast("string"), F.col("offset"))


def file_stream_source(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Debezium-JSON-lines file stream (test stand-in for Kafka; the decode
    path is identical)."""
    reader = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
    )
    df = reader.load(path)
    return df.select(F.col("value"))
