"""Pipeline composer: PipelineDef -> executable Spark pipeline.

Parity target: ``FlinkPipelineComposer.compose/translate``
(flink-cdc-composer/.../flink/FlinkPipelineComposer.java:100-260) which
chains Source → PreTransform → PostTransform → SchemaOperator →
PrePartition → Sink.

Spark-first architecture: per (micro-)batch the driver runs the **control
plane** (schema events: registry update → transform schema derivation →
route → behavior rewrite → sink MetadataApplier), and builds ONE Catalyst
plan for the **data plane** (select/where transform → route fan-out/merge →
coercion select → PK repartition → sink write). The reference's
SchemaOperator/SchemaCoordinator/FlushEvent RPC machinery collapses into the
batch boundary (SURVEY.md §3.3).
"""

from __future__ import annotations

import hashlib
import importlib
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..common.events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    ColumnWithPosition,
    CreateTableEvent,
    DropColumnEvent,
    DropTableEvent,
    SchemaChangeEvent,
    TruncateTableEvent,
)
from ..common.schema import Column, Schema
from ..common.tableid import TableId
from ..functions.zoned_time import OFFSET_SUFFIX
from ..operators.partitioning import pk_repartition
from ..operators.route import TableIdRouter
from ..operators.schema_evolution import (
    SchemaChangeBehavior,
    coercion_select,
    get_common_schema,
    is_schema_compatible,
    normalize_schema_change_events,
)
from ..operators.schema_registry import SchemaRegistry
from ..operators.transform import PostTransform, PreTransform
from ..sinks.base import DataSink
from ..sources.base import ChangeBatch, DataSource, SEQ_COL
from ..common.events import OP_COL, BEFORE_COL, META_COL
from .definition import PipelineDef


#: option keys that imply a LIVE external endpoint — one list so the
#: two environment-gating checks in _create_sink cannot drift (round-9
#: review: they already had — one copy omitted accessId/accessKey)
_LIVE_ENDPOINT_OPTS = ("fenodes", "jdbc-url", "load-url",
                       "metastore.uris", "uri", "warehouse.s3",
                       "hosts", "hostname", "endpoint",
                       "bootstrap.servers", "url",
                       "accessId", "accessKey")


def _keep_one_table(path: str) -> DataSink:
    """The upsert table a ``path``-backed sink builds without
    ``snapshots: true``: a 32-bucket copy-on-write lake table that vacuums
    to one snapshot after every commit, so ``<path>/<table>/data`` holds
    exactly the live files between commits."""
    from ..sinks.lakehouse import SnapshotLakeSink

    return SnapshotLakeSink(path, num_buckets=32, keep_last=1)


def diff_schemas(table_id: TableId, old: Schema, new: Schema) -> list[SchemaChangeEvent]:
    """Structural diff old->new as DDL events (adds / drops / type changes).

    Renames are not detected (a rename diffs as drop+add) — under the default
    LENIENT behavior this is exactly the lenientized decomposition the
    reference would apply anyway (SchemaDerivator.java:226-262).
    """
    events: list[SchemaChangeEvent] = []
    old_cols = {c.name: c for c in old.columns}
    new_cols = {c.name: c for c in new.columns}
    added = [c for c in new.columns if c.name not in old_cols]
    dropped = [n for n in old_cols if n not in new_cols]
    altered = tuple(
        (c.name, c.data_type)
        for c in new.columns
        if c.name in old_cols and old_cols[c.name].data_type != c.data_type
    )
    if added:
        events.append(AddColumnEvent(table_id, tuple(ColumnWithPosition(c) for c in added)))
    if dropped:
        events.append(DropColumnEvent(table_id, tuple(dropped)))
    if altered:
        events.append(AlterColumnTypeEvent(table_id, altered))
    return events


@dataclass
class PipelineExecution:
    """Handle over a composed pipeline; drives batches to completion."""

    spark: SparkSession
    source: DataSource
    sink: DataSink
    pre: PreTransform
    post: PostTransform
    router: TableIdRouter
    registry: SchemaRegistry
    behavior: SchemaChangeBehavior
    include_types: set[str] | None = None
    exclude_types: set[str] | None = None
    parallelism: int | None = None
    batches_run: int = field(default=0)
    # Namespace for sink idempotence markers. Batch runs get a fresh unique
    # id (two batch pipelines into one sink must both apply); the streaming
    # runner sets "stream" so markers line up with the checkpointed
    # micro-batch ids across restarts (replay dedupe).
    run_id: str = field(default="")
    # (table_id, input schema) -> inferred output schema. Inference costs one
    # Catalyst analysis; uncached it runs per table per (micro-)batch even
    # when the schema never changed. The streaming runner shares one cache
    # across its per-batch executions.
    schema_cache: dict = field(default_factory=dict)
    # pipeline.local-time-zone (PipelineOptions.java:76-81): applied around
    # run() and restored after — see run() for the ownership rationale
    local_time_zone: str | None = None

    # When set (streaming runner, for the span of one micro-batch), ALL DDL
    # appliers use this ctx regardless of where the DDL is issued — data-time
    # sink evolution inside a SEGMENTED _process_data would otherwise stamp
    # the segment-scoped id and clobber the spool marker's parent-ctx group
    # list that crash-replay detection depends on.
    ddl_batch_ctx: object = None

    def _sink_batch_id(self) -> str | int:
        return f"{self.run_id}_{self.batches_run}" if self.run_id else self.batches_run

    def _ddl_batch_ctx(self) -> object:
        return (self.ddl_batch_ctx if self.ddl_batch_ctx is not None
                else self._sink_batch_id())

    # -- schema inference -------------------------------------------------
    def _infer_output_schema(self, table_id: TableId, in_schema: Schema) -> Schema:
        """True output schema of the transform chain, via Catalyst analysis
        on an empty frame (driver-only, no job). Cached per (table, input
        schema version)."""
        cached = self.schema_cache.get((table_id, in_schema))
        if cached is not None:
            return cached
        empty = self.spark.createDataFrame([], in_schema.struct_type())
        from pyspark.sql import functions as F

        from ..functions.zoned_time import offset_col_name
        from ..sources.base import attach_envelope

        # zoned (TIMESTAMP_TZ) columns decode into instant + __tz_offset
        # side-channel columns — the inference frame must carry them too,
        # or a projection referencing the offset fails analysis
        for c in in_schema.columns:
            if c.zoned:
                empty = empty.withColumn(
                    offset_col_name(c.name), F.lit(None).cast("string"))
        # include a typed __meta so connector metadata references (op_ts)
        # analyze during inference; the data path carries the real map
        env = attach_envelope(empty).withColumn(
            META_COL, F.lit(None).cast("map<string,string>"))
        out = self.post.apply(env, table_id, in_schema)
        compiled = self.post.compile(table_id, in_schema)
        declared = compiled[0].output_schema if compiled else in_schema
        phys = [f for f in out.schema.fields if f.name not in (OP_COL, BEFORE_COL, META_COL, SEQ_COL)]
        cols = []
        for f in phys:
            d = declared.get_column(f.name)
            cols.append(Column(f.name, f.dataType, f.nullable,
                               d.comment if d else None,
                               d.default_expr if d else None,
                               zoned=d.zoned if d else False))
        out = Schema(
            columns=tuple(cols),
            primary_keys=declared.primary_keys,
            partition_keys=declared.partition_keys,
            options=declared.options,
        )
        self.schema_cache[(table_id, in_schema)] = out
        return out

    # -- control plane ----------------------------------------------------
    def _event_type_allowed(self, ev: SchemaChangeEvent) -> bool:
        t = ev.event_type().lower()
        if self.exclude_types and t in self.exclude_types:
            return False
        if self.include_types is not None and t not in self.include_types:
            return False
        return True

    def _forward_table_level_event(self, source_ev: SchemaChangeEvent,
                                   source_tid: TableId) -> None:
        """TRUNCATE/DROP TABLE don't change the column schema, so the
        diff-based sink evolution can't see them — forward them to the
        sink's MetadataApplier directly (the reference's SchemaOperator →
        MetadataApplier path for table-level events). IGNORE drops them
        (only CreateTable survives, SchemaDerivator.java:196-199);
        EXCEPTION refuses them like any other schema change."""
        if self.behavior == SchemaChangeBehavior.IGNORE:
            return
        if not self._event_type_allowed(source_ev):
            return
        if self.behavior == SchemaChangeBehavior.EXCEPTION:
            raise RuntimeError(
                f"schema change {source_ev.event_type()} on {source_tid} "
                f"refused (behavior=exception)")
        applier = self.sink.metadata_applier()
        applier.batch_ctx = self._ddl_batch_ctx()
        for sink_tid in self.router.route(source_tid):
            ev = type(source_ev)(sink_tid)
            if not applier.accepts(ev.event_type()):
                continue
            if self.registry.evolved_schema(sink_tid) is None:
                # the sink table was never created (e.g. CREATE +
                # TRUNCATE arrive in one batch, evolution runs after
                # this loop): nothing exists to truncate/drop — skip
                # instead of crashing on the unknown-table event
                # (round-9 review)
                continue
            from ..operators.schema_evolution import apply_schema_change_event

            tentative = apply_schema_change_event(
                self.registry.evolved_schema(sink_tid), ev)
            try:
                applier.apply_schema_change(sink_tid, ev, tentative)
            except Exception:
                if self.behavior == SchemaChangeBehavior.TRY_EVOLVE:
                    continue
                raise
            self.registry.apply_evolved(sink_tid, ev)

    def _handle_schema_events(self, batch: ChangeBatch) -> None:
        for ev in batch.schema_events:
            self.registry.apply_original(ev)
            if isinstance(ev, (TruncateTableEvent, DropTableEvent)):
                self._forward_table_level_event(ev, batch.table_id)
        if not batch.schema_events:
            return
        in_schema = self.registry.original_schema(batch.table_id)
        if in_schema is None:
            return  # table dropped
        pruned = self.pre.pruned_schema(batch.table_id, in_schema)
        out_schema = self._infer_output_schema(batch.table_id, pruned)
        for sink_tid in self.router.route(batch.table_id):
            self._evolve_sink_table(sink_tid, out_schema)

    def _evolve_sink_table(self, sink_tid: TableId, required: Schema) -> None:
        current = self.registry.evolved_schema(sink_tid)
        if current is None:
            ev = CreateTableEvent(sink_tid, required)
            evolved = required
            events: list[SchemaChangeEvent] = [ev]
        elif is_schema_compatible(current, required):
            return
        else:
            if self.behavior == SchemaChangeBehavior.EXCEPTION:
                # Parity: EXCEPTION refuses any sink-schema evolution
                # (SchemaChangeBehavior.java:27-33 / coordinator failure
                # path) — but only for events the include/exclude
                # filters actually admit: the table-level path drops
                # excluded events silently, and an all-excluded diff
                # must behave the same here (round-9 review)
                probe = diff_schemas(
                    sink_tid, current,
                    get_common_schema([current, required]))
                if any(self._event_type_allowed(ev) for ev in probe):
                    raise RuntimeError(
                        f"schema change required on {sink_tid} "
                        f"(behavior=exception): "
                        f"{current.pretty()} -> {required.pretty()}")
                return  # every required event is filtered out
            evolved = get_common_schema([current, required])
            events = diff_schemas(sink_tid, current, evolved)
            events = normalize_schema_change_events(
                current, events, self.behavior, self.include_types, self.exclude_types)
        applier = self.sink.metadata_applier()
        applier.batch_ctx = self._ddl_batch_ctx()
        for ev in events:
            if not applier.accepts(ev.event_type()):
                continue
            # apply to the external system FIRST; only a successful apply
            # advances the registry, so under TRY_EVOLVE a failed ALTER
            # leaves rows coerced to the schema the sink actually has (and
            # the evolution is retried on the next incompatible batch)
            from ..operators.schema_evolution import apply_schema_change_event

            tentative = apply_schema_change_event(
                self.registry.evolved_schema(sink_tid), ev)
            try:
                applier.apply_schema_change(sink_tid, ev, tentative)
            except Exception:
                if self.behavior == SchemaChangeBehavior.TRY_EVOLVE:
                    continue
                raise
            self.registry.apply_evolved(sink_tid, ev)

    # -- data plane -------------------------------------------------------
    def _process_data(self, batch: ChangeBatch) -> None:
        if batch.data is None:
            return
        table_id = batch.table_id
        in_schema = self.registry.original_schema(table_id)
        if in_schema is None:
            raise ValueError(f"data for unknown table {table_id}")
        transformed = self.post.apply(batch.data, table_id, in_schema)
        # infer from the PRUNED schema like the schema-event path — the
        # result is identical and the cache key matches (the unpruned
        # key re-ran a full Catalyst analysis per table per version)
        out_schema = self._infer_output_schema(
            table_id, self.pre.pruned_schema(table_id, in_schema))
        # data idempotence marker, scoped by SOURCE table: under an N:1
        # route every source table of the batch writes the same sink table,
        # and each of those writes needs its own marker. Deterministic, so
        # a real replay still hits it.
        data_batch_id = "%s-%s" % (self._sink_batch_id(), hashlib.sha1(
            str(table_id).encode()).hexdigest()[:10])
        for sink_tid in self.router.route(table_id):
            self._evolve_sink_table(sink_tid, out_schema)
            evolved = self.registry.evolved_schema(sink_tid)
            if evolved is None:
                # under TRY_EVOLVE a rejected CREATE TABLE leaves no
                # schema to coerce to — fail with the real cause, not
                # an AttributeError deep in coercion (round-9 review)
                raise RuntimeError(
                    f"sink table {sink_tid} was never created (the "
                    "sink rejected create.table, tolerated under "
                    "try-evolve) — no schema to write against")
            tz_extras = tuple(c for c in transformed.columns
                              if c.endswith(OFFSET_SUFFIX))
            coerced = coercion_select(
                transformed, evolved,
                keep_extra=(OP_COL, META_COL, SEQ_COL) + tz_extras)
            write_schema = evolved
            partitioned = pk_repartition(
                coerced, write_schema, self.parallelism,
                key=self.sink.partition_key(sink_tid, coerced, write_schema))
            self.sink.write(sink_tid, partitioned, write_schema, data_batch_id)

    # -- driver loop ------------------------------------------------------
    def run(self) -> "PipelineExecution":
        # Session-timezone ownership: the pipeline's local-time-zone is
        # applied around THIS run and restored afterward — composing a
        # pipeline must not leave a global zone behind (driver-contract
        # loads pin UTC; a leaked pipeline zone, or a pipeline composed
        # before a driver query ran, would render temporals in the wrong
        # zone whichever came second).
        tz_key = "spark.sql.session.timeZone"
        prior_tz = self.spark.conf.get(tz_key, None)
        if self.local_time_zone:
            self.spark.conf.set(tz_key, self.local_time_zone)
        try:
            for ev in self.source.create_table_events(self.spark):
                self.registry.apply_original(ev)
                pruned = self.pre.pruned_schema(ev.table_id, ev.schema)
                out_schema = self._infer_output_schema(ev.table_id, pruned)
                for sink_tid in self.router.route(ev.table_id):
                    self._evolve_sink_table(sink_tid, out_schema)
            for batch_set in self.source.batches(self.spark):
                for batch in batch_set:
                    self._handle_schema_events(batch)
                for batch in batch_set:
                    self._process_data(batch)
                self.batches_run += 1
        finally:
            if self.local_time_zone:
                # a session that never set the key explicitly reads None
                # even though an effective default zone exists — unset
                # restores that default instead of leaking our zone
                if prior_tz is not None:
                    self.spark.conf.set(tz_key, prior_tz)
                else:
                    self.spark.conf.unset(tz_key)
        return self


class PipelineComposer:
    """Builds a PipelineExecution from a PipelineDef (factory discovery +
    operator chaining, parity with FlinkPipelineComposer.translate)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def compose(self, pdef: PipelineDef,
                source: DataSource | None = None,
                sink: DataSink | None = None) -> PipelineExecution:
        src = source if source is not None else self._create_source(pdef)
        snk = sink if sink is not None else self._create_sink(pdef)
        udf_names = self._register_udfs(pdef)
        udf_names |= self._register_models(pdef)
        pre = PreTransform(pdef.transforms, udf_names)
        post = PostTransform(pdef.transforms, udf_names)
        router = TableIdRouter(pdef.routes)
        include = set(t.lower() for t in pdef.sink.include_schema_types) or None
        exclude = set(t.lower() for t in pdef.sink.exclude_schema_types) or None
        return PipelineExecution(
            spark=self.spark,
            source=src,
            sink=snk,
            pre=pre,
            post=post,
            router=router,
            registry=SchemaRegistry(),
            behavior=pdef.config.schema_change_behavior,
            include_types=include,
            exclude_types=exclude,
            parallelism=pdef.config.parallelism if pdef.config.parallelism > 1 else None,
            run_id=uuid.uuid4().hex[:12],
            local_time_zone=pdef.config.local_time_zone,
        )

    def _register_udfs(self, pdef: PipelineDef) -> set[str]:
        names: set[str] = set()
        for u in pdef.udfs:
            mod, _, attr = u.classpath.partition(":")
            fn = getattr(importlib.import_module(mod), attr or u.name)
            # Arrow-optimized eval (ArrowEvalPython): same per-row Python
            # function, but columnar transfer across the JVM boundary
            # instead of pickled rows. Return type stays the register()
            # default (string), so results are unchanged.
            self.spark.udf.register(u.name, F.udf(fn, useArrow=True))
            names.add(u.name)
        return names

    def _register_models(self, pdef: PipelineDef) -> set[str]:
        if not pdef.models:
            return set()
        from ..functions.ai_models import ModelSpec, register_model_functions

        specs = []
        for m in pdef.models:
            opts = dict(m.options)
            specs.append(ModelSpec(
                name=m.name, model=m.model,
                api_key=opts.get("api-key"), endpoint=opts.get("endpoint")))
        return register_model_functions(self.spark, specs)

    def _create_source(self, pdef: PipelineDef) -> DataSource:
        t = pdef.source.type.lower()
        opts = pdef.source.options_dict()
        if t == "parquet":
            from ..sources.parquet import ParquetSnapshotSource
            import json

            tables = json.loads(opts["tables"])  # {"ns.db.tbl": "/path"}
            pks = json.loads(opts.get("primary-keys", "{}"))
            return ParquetSnapshotSource(tables, pks)
        if t in ("mysql", "postgres"):
            # reference YAML parity (MySqlDataSourceFactory.java /
            # PostgresDataSourceFactory.java): hostname/port/username/
            # password/tables -> chunk-parallel JDBC snapshot. Duck-typed
            # DataSource (jdbc.py stays importable without pyspark for the
            # pure chunk-math tests).
            from ..sources.jdbc import JdbcPipelineSource

            return JdbcPipelineSource.from_options(t, opts)
        raise ValueError(f"unknown source type {t!r} (programmatic sources: pass source=)")

    # -- streaming YAML surface -------------------------------------------
    STREAMING_SOURCE_TYPES = ("debezium-file", "mongodb-file",
                              "vitess-file", "mysql-binlog-file",
                              "pgoutput-file", "sqlserver-cdc-file",
                              "db2-cdc-file", "oracle-logminer-file",
                              "kafka")

    def is_streaming(self, pdef: PipelineDef) -> bool:
        return pdef.source.type.lower() in self.STREAMING_SOURCE_TYPES

    def compose_streaming(self, pdef: PipelineDef, sink: DataSink | None = None):
        """Build a StreamingPipeline + raw stream from a streaming-source
        YAML (source types: ``debezium-file`` with ``path``; ``kafka`` with
        ``bootstrap-servers``/``topics``). Required source options:
        ``tables`` = JSON {table-id: Spark DDL schema string} (or {} with
        ``discover-tables: true``), optional ``primary-keys`` JSON map,
        ``serialization``, ``checkpoint``."""
        import json

        from pyspark.sql import types as T

        from ..streaming.runner import StreamingPipeline, file_stream_source, kafka_stream_source

        opts = pdef.source.options_dict()
        snk = sink if sink is not None else self._create_sink(pdef)
        # Streaming micro-batches execute asynchronously, so run-scoped
        # save/restore (batch run()) doesn't apply: the stream OWNS the
        # session zone for its lifetime. Don't interleave driver-contract
        # loads (which pin UTC) with a live non-UTC stream in one session.
        if pdef.config.local_time_zone:
            self.spark.conf.set("spark.sql.session.timeZone", pdef.config.local_time_zone)
        self._register_udfs(pdef)
        self._register_models(pdef)

        t_lower = pdef.source.type.lower()
        if t_lower in ("mysql-binlog-file", "pgoutput-file") \
                and "host" in opts:
            # TCP transport (toy replication server, binlog_socket.py):
            # fetch the served capture files into a local spool, then
            # compose the byte-identical file pipeline on the spool — the
            # fetch step is the BinaryLogClient / replication-slot-client
            # analog, everything downstream never knows the transport
            # existed
            import os as _os

            default_port = 3306 if t_lower == "mysql-binlog-file" else 5432
            spool = opts.get("spool") or _os.path.join(
                opts.get("checkpoint", ".cdc_checkpoint"), "wire_spool")
            if (t_lower == "mysql-binlog-file"
                    and opts.get("protocol", "").lower() == "mysql"):
                # round-7: the REAL MySQL replication protocol — packet
                # framing, V10 handshake, mysql_native_password auth,
                # COM_REGISTER_SLAVE + COM_BINLOG_DUMP, one packet per
                # event (mysql_protocol.py); `username`/`password` mirror
                # MySqlDataSourceOptions
                from ..sources.mysql_protocol import dump_binlog_stream

                # GTID startup bounds the FETCH too: the server picks
                # the start file from PREVIOUS_GTIDS headers
                # (COM_BINLOG_DUMP_GTID) and the decode-side filter
                # drops the covered transactions within it. Honored
                # ONLY under scan.startup.mode=specific-offset and a
                # non-empty set — the same gating the decode side
                # applies (mysql_binlog.resolve_startup_offset), so a
                # leftover option under earliest-offset cannot silently
                # skip history at the transport.
                gtids = None
                if (opts.get("scan.startup.mode")
                        or "earliest-offset").lower() == "specific-offset":
                    gtids = opts.get(
                        "scan.startup.specific-offset.gtid-set") or None
                dump_binlog_stream(
                    opts["host"], int(opts.get("port", default_port)),
                    spool, user=opts.get("username", "repl"),
                    password=opts.get("password", "replpass"),
                    gtid_set=gtids,
                    # round 9: TLS upgrade + verify-ca, mirroring
                    # MySqlSourceOptions' SSL options (the PG side's
                    # tls/tls.root.cert analog)
                    ssl_mode=opts.get("ssl-mode", "disabled"),
                    ssl_ca=opts.get("ssl-ca"))
            elif (t_lower == "pgoutput-file"
                    and opts.get("protocol", "").lower() == "postgres"):
                # round-7: the REAL PostgreSQL v3 protocol with a logical
                # replication slot — startup, MD5 auth, START_REPLICATION
                # into CopyBoth XLogData frames, standby status updates
                # (pg_replication.py); `slot.name`/`username`/`password`
                # mirror PostgresDataSourceOptions
                from ..sources.pg_replication import (
                    start_replication_stream)

                # round-8 (real-server validated): trust/cleartext/MD5/
                # SCRAM auth, binary publications, v2 streaming, and
                # REAL-SESSION termination — a genuine walsender never
                # sends CopyDone, so callers bound the session with
                # `stop.message.prefix` (in-band sentinel emitted via
                # pg_logical_emit_message) and/or `idle.timeout.seconds`
                # (data-idle fallback)
                idle = opts.get("idle.timeout.seconds")
                if str(opts.get("spool.prune", "")).lower() == "true":
                    # bound the append-only spool — but prune ONLY files
                    # the checkpoint PROVES processed (advice r8,
                    # medium): fetched files were durably acked (the
                    # slot never resends them), so if a prior run
                    # crashed between fetch and the downstream file
                    # pipeline, the spool is the only copy of that WAL.
                    # A file is provably processed when its max frame
                    # LSN <= the committed PostgresOffset (records take
                    # their commit frame's LSN; the offset persists only
                    # after the batch lands). No checkpoint -> no prune.
                    # The .pgwal.next sidecar keeps numbering monotonic
                    # so new files never reuse pruned names.
                    from ..sources.pg_replication import (
                        prune_processed_spool)

                    off_path = _os.path.join(
                        opts.get("checkpoint", ".cdc_checkpoint"),
                        "postgres_offset.json")
                    if _os.path.exists(off_path):
                        from ..sources.pgoutput import PostgresOffset

                        with open(off_path) as _f:
                            _done = PostgresOffset.from_json(_f.read())
                        prune_processed_spool(spool, _done.lsn)
                start_replication_stream(
                    opts["host"], int(opts.get("port", default_port)),
                    spool, user=opts.get("username", "repl"),
                    password=opts.get("password", "replpass"),
                    database=opts.get("database", "d"),
                    slot=opts.get("slot.name", "cdc_slot"),
                    publication=opts.get("publication.name", "pub"),
                    binary=str(opts.get("binary", "")).lower() == "true",
                    streaming=str(opts.get("streaming", "")).lower()
                    == "true",
                    # two-phase commit delivery (round 10): the slot
                    # must have been created WITH two_phase
                    two_phase=str(opts.get("two.phase", "")).lower()
                    == "true",
                    stop_message_prefix=opts.get("stop.message.prefix"),
                    idle_timeout=float(idle) if idle is not None
                    else None,
                    tls=str(opts.get("tls", "")).lower() == "true",
                    tls_root_cert=opts.get("tls.root.cert"))
            else:
                from ..sources.binlog_socket import fetch_binlog_files

                fetch_binlog_files(opts["host"],
                                   int(opts.get("port", default_port)),
                                   spool)
            opts["path"] = spool
        if "tables" not in opts and t_lower in ("mysql-binlog-file",
                                                "pgoutput-file"):
            # wire-native discovery: the capture files carry typed schemas
            # (TABLE_MAP optional metadata / Relation messages) — infer
            # the tables and primary keys instead of requiring DDL in the
            # YAML (bounded driver-side scan of the current file set)
            import glob as _glob
            import os as _os

            files = [p for p in _glob.glob(_os.path.join(opts["path"], "*"))
                     if _os.path.isfile(p)]
            if t_lower == "mysql-binlog-file":
                from ..sources.mysql_binlog import binlog_infer_tables

                inferred, ipks = binlog_infer_tables(files)
            else:
                from ..sources.pgoutput import pgoutput_infer_tables

                inferred, ipks = pgoutput_infer_tables(files)
            if not inferred and not (
                    opts.get("discover-tables", "false").lower() == "true"):
                raise ValueError(
                    "wire-native table inference found no tables under "
                    f"{opts['path']!r} — declare `tables` in the YAML, "
                    "start after the first capture file lands, or set "
                    "discover-tables: true")
            opts["tables"] = json.dumps(inferred)
            opts.setdefault("primary-keys", json.dumps(ipks))

        pks = json.loads(opts.get("primary-keys", "{}"))
        tables: dict[str, Schema] = {}
        for tid, ddl in json.loads(opts.get("tables", "{}")).items():
            st = T.StructType.fromDDL(ddl)
            tables[tid] = Schema.from_struct_type(st, primary_keys=pks.get(tid, ()))
        discover = opts.get("discover-tables", "false").lower() == "true"
        if not tables and not discover:
            raise ValueError(
                "streaming source %r has no tables: declare `tables` in "
                "the YAML or set discover-tables: true — an empty table "
                "map would silently drop every record" % pdef.source.type)
        if discover and pdef.source.type.lower() in (
                "sqlserver-cdc-file", "db2-cdc-file"):
            raise ValueError(
                "discover-tables is not supported for change-table "
                "sources: JSON inference over the raw rows would register "
                "the __$/IBMSNAP metadata columns as data — declare "
                "`tables` instead")

        udf_names = self._register_udfs(pdef)
        udf_names |= self._register_models(pdef)
        pipe = StreamingPipeline.create(
            self.spark, snk,
            checkpoint_dir=opts.get("checkpoint", ".cdc_checkpoint"),
            transforms=pdef.transforms, routes=pdef.routes,
            behavior=pdef.config.schema_change_behavior,
            # round-9 review: batch compose wired these, streaming
            # silently dropped them (UDF transforms failed to compile;
            # sink include/exclude filters were ignored)
            udfs=udf_names,
            include_types=set(
                t.lower() for t in pdef.sink.include_schema_types) or None,
            exclude_types=set(
                t.lower() for t in pdef.sink.exclude_schema_types) or None,
            local_time_zone=pdef.config.local_time_zone,
            parallelism=pdef.config.parallelism if pdef.config.parallelism > 1 else None,
            serialization=opts.get(
                "serialization",
                {"mongodb-file": "mongodb-json",
                 "vitess-file": "vitess-json",
                 "sqlserver-cdc-file": "sqlserver-cdc-json",
                 "db2-cdc-file": "db2-cdc-json"}.get(
                    pdef.source.type.lower(), "debezium-json")),
            discover_tables=opts.get("discover-tables", "false").lower() == "true",
            # VitessSource stopOnReshard (default false) — only meaningful
            # for vitess-json streams
            stop_on_reshard=str(opts.get(
                "stop-on-reshard", "false")).lower() == "true",
            # wire sources: persist the operator-visible connector offset
            # (BinlogOffset / PostgresOffset)
            connector_offset={"mysql-binlog-file": "mysql-binlog",
                              "pgoutput-file": "pgoutput",
                              "mongodb-file": "mongodb",
                              "sqlserver-cdc-file": "sqlserver",
                              "db2-cdc-file": "db2",
                              "oracle-logminer-file": "oracle"}.get(
                pdef.source.type.lower()),
        )
        t = pdef.source.type.lower()
        if t == "mysql-binlog-file":
            # real binlog wire bytes: decode to debezium-json records ONCE
            # (an Arrow-batched narrow stage, one file per task) and reuse
            # the entire debezium-json streaming path — the bridge Debezium
            # itself performs between the binlog and its change topic.
            # scan.startup.* options use the reference's exact names
            # (MySqlDataSourceOptions.java:123-171)
            from ..sources.mysql_binlog import (
                binlog_stream_source, binlog_to_debezium_json,
                effective_start_offset)

            start, ts_ms = effective_start_offset(opts, opts["path"])
            # declared column names, positionally applied to TABLE_MAPs
            # that shipped none (binlog_row_metadata=MINIMAL — the
            # server default; without this, name-mapped images would
            # silently null every declared column)
            names_by_table = {
                tid.split(".", 1)[-1] if tid.count(".") == 2 else tid:
                    [c.name for c in sch.columns]
                for tid, sch in tables.items()}
            raw = binlog_to_debezium_json(
                binlog_stream_source(self.spark, opts["path"]),
                start_offset=start, start_timestamp_ms=ts_ms,
                column_names=names_by_table)
        elif t == "oracle-logminer-file":
            # polled V$LOGMNR_CONTENTS rows with SQL_REDO statements; the
            # DML parser re-implements Debezium's LogMinerDmlParser and
            # bridges to debezium-json (`start-scn` = resume position)
            from ..sources.base import binary_file_stream
            from ..sources.oracle import logminer_to_debezium_json

            start_scn = opts.get("start-scn")
            raw = logminer_to_debezium_json(
                binary_file_stream(self.spark, opts["path"]),
                start_scn=int(start_scn) if start_scn is not None else None)
        elif t == "pgoutput-file":
            # byte-true pgoutput logical-replication captures; same bridge
            # pattern (the reference's default decoding.plugin.name —
            # PostgresDataSourceOptions.java:68-73). `start-lsn` mirrors
            # the slot's confirmed_flush position
            from ..sources.pgoutput import (
                pgoutput_stream_source, pgoutput_to_debezium_json)

            start_lsn = opts.get("start-lsn")
            raw = pgoutput_to_debezium_json(
                pgoutput_stream_source(self.spark, opts["path"]),
                start_lsn=int(start_lsn) if start_lsn is not None else None)
        elif t in ("debezium-file", "mongodb-file", "vitess-file",
                   "sqlserver-cdc-file", "db2-cdc-file"):
            raw = file_stream_source(self.spark, opts["path"])
        elif opts.get("protocol", "").lower() == "wire":
            # kafka over OUR wire client (round 10): drain the topic via
            # real Metadata/Fetch into a json-lines spool, then the
            # standard debezium-json file path — the same
            # transport-then-spool pattern `protocol: mysql` uses. No
            # Kafka jars ship with this Spark build, so this is the
            # only runnable live path in-sandbox.
            import os

            from ..sinks.kafka_protocol import dump_kafka_topic

            # checkpoint is optional everywhere else (StreamingPipeline
            # defaults it) — a bare KeyError on a YAML without one was
            # advice r10; isolation-level mirrors the consumer setting
            # (read_committed filters aborted transactional data via the
            # Fetch response's aborted-txn index)
            iso = opts.get("isolation-level", "read_uncommitted").lower()
            if iso not in ("read_uncommitted", "read_committed"):
                raise ValueError(
                    "isolation-level must be read_uncommitted or "
                    "read_committed, got %r" % iso)
            spool = os.path.join(
                opts.get("checkpoint", ".cdc_checkpoint"), "kafka-spool")
            # security surface mirrors the real client's property names
            # (sasl credentials inline rather than a JAAS string)
            security = {
                "security_protocol": opts.get(
                    "properties.security.protocol", "plaintext").lower(),
                "sasl_mechanism": opts.get(
                    "properties.sasl.mechanism", "PLAIN"),
                "sasl_username": opts.get("properties.sasl.username"),
                "sasl_password": opts.get("properties.sasl.password"),
                "ssl_cafile": opts.get("properties.ssl.ca.location"),
            }
            topics = [tp.strip() for tp in opts["topics"].split(",")]
            # legacy un-prefixed spool files refuse inside
            # dump_kafka_topic itself (their topic is unknowable —
            # adopting the watermark for the wrong topic silently
            # skips records); topics legally NAMED 'part-*' produce
            # '<topic>.part-...' files and are not legacy
            for topic in topics:
                dump_kafka_topic(
                    opts["bootstrap-servers"], topic, spool,
                    isolation_level=1 if iso == "read_committed" else 0,
                    security=security)
            raw = file_stream_source(self.spark, spool)
        else:
            from ..sources.jdbc import StartupOptions

            startup = StartupOptions(mode=opts.get("startup-mode", "initial"),
                                     specific_offset=opts.get("specific-offset"))
            raw = kafka_stream_source(self.spark, opts["bootstrap-servers"],
                                      opts["topics"], startup)
        return pipe, raw, tables

    def _create_sink(self, pdef: PipelineDef) -> DataSink:
        t = pdef.sink.type.lower()
        opts = pdef.sink.options_dict()
        if t in ("values", "memory"):
            from ..sinks.memory import MemorySink

            return MemorySink()
        if t == "parquet":
            return _keep_one_table(opts["path"])
        if t == "kafka":
            # JsonSerializationType.java:29-32 — debezium-json / canal-json;
            # properties.bootstrap.servers like the reference, or a local
            # output-dir spool for sandboxed runs
            from ..sinks.kafka import KafkaChangelogSink

            return KafkaChangelogSink(
                serialization=opts.get("value.format",
                                       opts.get("serialization", "debezium-json")),
                bootstrap_servers=opts.get("properties.bootstrap.servers",
                                           opts.get("bootstrap-servers")),
                topic=opts.get("topic"),
                output_dir=opts.get("output-dir"),
                partition_strategy=opts.get("partition.strategy",
                                            "all-to-zero"),
                add_table_to_header=str(opts.get(
                    "sink.add.tableId.to.header.enabled", "false"))
                .lower() == "true",
                key_format=opts.get("key.format", "json"),
                custom_headers=opts.get("sink.custom-header", ""),
                topic_mapping=opts.get("sink.tableId-to-topic.mapping"),
                include_schema=str(opts.get(
                    "debezium-json.include-schema.enabled", "false"))
                .lower() == "true",
                # properties.* forward to the producer (compression.type
                # is honored on the wire; unsupported ones warn by name)
                kafka_options={
                    k[len("properties."):]: v for k, v in opts.items()
                    if k.startswith("properties.")
                    and k != "properties.bootstrap.servers"},
            )
        _live_opts = [k for k in _LIVE_ENDPOINT_OPTS if k in opts]
        if (t in ("jdbc", "sqlite") or (
                t == "oceanbase"
                and ("database" in opts or "db-path" in opts))):
            if _live_opts:
                raise ValueError(
                    f"{t} sink: live endpoint options {_live_opts} need the "
                    "external server (environment-gated); use 'database' "
                    "(file path) for the local sqlite state contract")
            # relational sink (reference mysql/postgres pipeline sinks):
            # keyed upsert/delete via per-partition DB connections; sqlite
            # executes the state contract in-sandbox. OceanBase routes
            # here because the reference's writer IS MySQL-protocol JDBC:
            # the MySQL statement text a live server would receive
            # (RENAME/MODIFY COLUMN, OceanBaseMySQLCatalog.java:39-40) is
            # generated by the same sinks/dialects.py layer and pinned
            # byte-for-byte in test_sink_conformance — a live endpoint
            # (dialect='mysql' + 'url') is environment-gated; configs
            # carrying any live-endpoint option fall through to the
            # refusal below rather than silently writing a local file.
            from ..sinks.jdbc_sink import JdbcUpsertSink

            db = opts.get("database") or opts.get("db-path")
            if not db:
                raise ValueError(f"{t} sink needs 'database' (file path)")
            return JdbcUpsertSink(db, dialect=opts.get("dialect", "sqlite"))
        if t in ("doris", "starrocks") and ("output-dir" in opts
                                            or "frontend" in opts):
            # real Stream Load wire-format sinks: spool mode, or a live
            # `frontend` — HTTP PUT with deterministic labels (server
            # label-dedup = replay idempotence)
            from ..sinks.streamload import (DorisStreamLoadSink,
                                            StarRocksStreamLoadSink)

            cls = (DorisStreamLoadSink if t == "doris"
                   else StarRocksStreamLoadSink)
            # labels salt on the pipeline checkpoint's lifetime so a
            # checkpoint reset never collides with persisted labels
            return cls(output_dir=opts.get("output-dir"),
                       frontend=opts.get("frontend"),
                       salt_dir=pdef.source.options_dict()
                       .get("checkpoint", ".cdc_checkpoint")
                       if opts.get("frontend") else None,
                       # DorisDataSinkOptions / StarRocksDataSinkOptions
                       # credential names; Stream Load requires basic
                       # auth (Doris defaults root/empty)
                       username=opts.get("username", "root"),
                       password=opts.get("password", ""))
        if t == "elasticsearch" and ("output-dir" in opts or "hosts" in opts):
            # real _bulk wire-format sink: spool mode, or live `hosts`
            # (HTTP POST, per-item results checked)
            from ..sinks.elasticsearch import ElasticsearchBulkSink

            return ElasticsearchBulkSink(
                output_dir=opts.get("output-dir"),
                hosts=opts.get("hosts"),
                shard_suffix_col=opts.get("sharding.suffix.key"),
                # ElasticsearchDataSinkOptions username/password;
                # https:// hosts take a CA pin
                username=opts.get("username"),
                password=opts.get("password"),
                ca_cert=opts.get("ssl.ca.location"))
        if t in ("doris", "starrocks", "paimon", "iceberg", "elasticsearch",
                 "fluss", "maxcompute", "oceanbase", "mysql", "postgres"):
            # lake/OLAP sinks: same changelog-apply contract (PK upsert,
            # delete, idempotent replay) represented by the lake table; a
            # live-endpoint option without the external system is refused
            # rather than silently redirected
            live_opts = [k for k in _LIVE_ENDPOINT_OPTS if k in opts]
            if live_opts:
                raise ValueError(
                    f"{t} sink: live endpoint options {live_opts} need the "
                    "external system (environment-gated); use 'path' for the "
                    "local lake-contract stand-in")
            path = opts.get("path") or opts.get("warehouse")
            if not path:
                raise ValueError(f"{t} sink needs 'path' (or 'warehouse')")
            if t == "maxcompute":
                # Tunnel-upsert transactional tables: bucketed PK-upsert
                # data plane + the reference's exact SchemaEvolutionUtils
                # DDL text spooled per table (sinks/maxcompute.py);
                # 'buckets-num' mirrors MaxComputeOptions
                from ..sinks.maxcompute import MaxComputeSink

                return MaxComputeSink(
                    path, num_buckets=int(opts.get("buckets-num", 16)))
            if t == "fluss":
                # fluss PRIMARY KEY tables ARE a log + kv pair: an
                # append-only changelog (the log) merged per key on read
                # (the kv view) — exactly the merge-on-read lake table,
                # so fluss maps there rather than to the copy-on-write
                # stand-in: write() appends delta files (the log),
                # read() is the kv view, read_changes() reads the log
                # (FlussDataSink's log tables; bucket hashing parity via
                # the shared portable bucket fn)
                from ..sinks.lakehouse import SnapshotLakeSink

                return SnapshotLakeSink(path, mode="mor")
            if str(opts.get("snapshots", "false")).lower() == "true":
                # snapshot-isolated manifests + time travel (the
                # paimon/iceberg table-format semantics); the default
                # table keeps one snapshot.
                # changelog-mode: copy-on-write (default) or merge-on-read
                # delta commits (paimon changelog table / iceberg v2)
                from ..sinks.lakehouse import SnapshotLakeSink

                mode = str(opts.get("changelog-mode", "cow")).lower()
                return SnapshotLakeSink(
                    path, mode={"cow": "cow", "copy-on-write": "cow",
                                "mor": "mor", "merge-on-read": "mor"}.get(
                                    mode, mode))
            return _keep_one_table(path)
        raise ValueError(f"unknown sink type {t!r}")
