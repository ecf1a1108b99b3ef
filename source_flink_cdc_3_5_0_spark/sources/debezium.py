"""Debezium-JSON / Canal-JSON changelog codecs.

Parity targets:
- Kafka pipeline sink's serializers (flink-cdc-pipeline-connector-kafka/...
  /json/JsonSerializationType.java:29-32 — ``debezium-json`` and
  ``canal-json``; serializer impls under .../json/debezium/ and /canal/).
- The MySQL source consumes Debezium-format change records; our Kafka source
  path decodes the same envelope.

Debezium row envelope (value JSON):
  {"before": {...}|null, "after": {...}|null,
   "op": "c"|"u"|"d"|"r", "source": {"db": ..., "table": ...}, "ts_ms": N}
Canal row envelope:
  {"old": [{...}]|null, "data": [{...}], "type": "INSERT"|"UPDATE"|"DELETE",
   "database": ..., "table": ..., "es": N, "ts": N}

All parsing/serialization is built-in ``from_json`` / ``to_json`` — JVM-side,
codegen'd — so a Kafka topic at 100 TB/day decodes without Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..common.events import BEFORE_COL, META_COL, OP_COL
from ..common.schema import Schema
from ..common.tableid import TableId
from ..functions.zoned_time import (
    offset_col_name, render_zoned, split_zoned, wire_schema, zoned_field_names,
)
from ..sources.base import SEQ_COL

_DEBEZIUM_OPS = {"c": "+I", "r": "+I", "u": "+U", "d": "-D"}


def decode_dbz_envelope(raw: DataFrame, payload_schema: T.StructType,
                        value_col: str, *, source_fields: list[str],
                        meta_entries: list[tuple[str, str]],
                        drop_opless: bool = False) -> DataFrame:
    """Shared before/after/op/ts_ms/source envelope decode.

    One ``from_json`` projection (JVM, codegen) parameterized by the
    connector's ``source`` block layout: ``source_fields`` are the string
    fields inside ``source``; ``meta_entries`` maps ``__meta`` keys to
    envelope paths relative to the parsed struct (``"ts_ms"`` or
    ``"source.db"``).  Debezium-proper, the VStream (vitess) variant, and
    any future source-block flavor decode through this one implementation,
    so op mapping, seq fallback, and zoned-timestamp fidelity cannot
    diverge between connectors.

    ``drop_opless=True`` drops op-less rows (Kafka log-compaction
    tombstones — the null-value record emitted after a delete when
    ``tombstones.on.delete`` is set).

    Zoned (TIMESTAMP_TZ) columns arrive as ISO-8601 offset strings
    (io.debezium.time.ZonedTimestamp); each is split into the instant
    column plus a ``<name>__tz_offset`` side-channel column
    (ZonedTimestampType.java fidelity). The before-image keeps only the
    instant (its offset is not carried — documented loss; re-encoded
    before-images render at UTC).
    """
    zoned = zoned_field_names(payload_schema)
    env = T.StructType([
        T.StructField("before", wire_schema(payload_schema), True),
        T.StructField("after", wire_schema(payload_schema), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("source", T.StructType([
            T.StructField(f, T.StringType(), True) for f in source_fields
        ]), True),
    ])
    # Pushdown barrier (optimization r11, guide §4.4 analog for JVM
    # expressions): downstream op filters (drop_opless here, the
    # -U drop inside latest_image) otherwise push BELOW this projection
    # and re-inline the parse — the before-plans showed an extra
    # op-pruned from_json per row on the spool gates and, on the vitess
    # path (where `value` is itself to_json(w)), a SECOND full to_json
    # serialization per row. Referencing the non-deterministic barrier
    # column in a filter blocks PushDownPredicates and CollapseProject;
    # the `barrier < -1` disjunct is always false and the bare
    # `barrier >= -1` form is always true, so semantics are unchanged.
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), env).alias("v"),
        *([F.col("offset")] if "offset" in raw.columns else []),
        F.spark_partition_id().alias("__pushdown_barrier"),
    )
    if drop_opless:
        parsed = parsed.where(F.col("v.op").isNotNull()
                              | (F.col("__pushdown_barrier") < F.lit(-1)))
    else:
        parsed = parsed.where(F.col("__pushdown_barrier") >= F.lit(-1))
    op = F.coalesce(
        *[F.when(F.col("v.op") == k, F.lit(v)) for k, v in _DEBEZIUM_OPS.items()]
    )
    image = F.when(F.col("v.op") == "d", F.col("v.before")).otherwise(F.col("v.after"))
    # per-key ordering: the transport offset, else the envelope's explicit
    # seq (spooled streams carry the upstream __seq there), else ts_ms
    seq = (F.col("offset") if "offset" in raw.columns
           else F.coalesce(F.col("v.seq"), F.col("v.ts_ms")))
    out = parsed.select(
        image.alias("__row"),
        op.alias(OP_COL),
        F.when(F.col("v.op") == "u", F.col("v.before")).alias(BEFORE_COL),
        F.map_from_arrays(
            F.array(*[F.lit(k) for k, _ in meta_entries]),
            F.array(*[F.col(f"v.{path}").cast("string")
                      for _, path in meta_entries]),
        ).alias(META_COL),
        seq.cast("bigint").alias(SEQ_COL),
    )
    if not zoned:
        return out.select("__row.*", OP_COL, BEFORE_COL, META_COL, SEQ_COL)
    cols = []
    for f in payload_schema.fields:
        if f.name in zoned:
            instant, off = split_zoned(F.col(f"__row.{f.name}"))
            cols += [instant.alias(f.name), off.alias(offset_col_name(f.name))]
        else:
            cols.append(F.col(f"__row.{f.name}"))
    # before-image: zoned fields become instants (offset dropped); the
    # string->timestamp type change requires rebuilding the struct
    before = F.when(F.col(BEFORE_COL).isNull(), F.lit(None).cast(
        payload_schema.simpleString())).otherwise(F.struct(*[
            split_zoned(F.col(BEFORE_COL)[f.name])[0].alias(f.name)
            if f.name in zoned else F.col(BEFORE_COL)[f.name].alias(f.name)
            for f in payload_schema.fields]))
    return out.select(*cols, OP_COL, before.alias(BEFORE_COL), META_COL,
                      SEQ_COL)


def decode_debezium(raw: DataFrame, payload_schema: T.StructType,
                    value_col: str = "value") -> DataFrame:
    """Kafka value JSON -> engine changelog envelope.

    ``raw`` is a Kafka-shaped frame (``value`` binary/string, ``offset``
    long optional). Update events arrive as single rows carrying both
    images — exactly our envelope's ``__before`` convention. The Kafka
    ``offset`` (or ``ts_ms`` fallback) provides the per-key ``__seq``.
    Envelope mechanics (op map, seq, zoned-timestamp splitting) live in
    `decode_dbz_envelope`.
    """
    return decode_dbz_envelope(
        raw, payload_schema, value_col,
        source_fields=["db", "schema", "table"],
        meta_entries=[("ts_ms", "ts_ms"), ("db", "source.db"),
                      ("table", "source.table")],
    )


def encode_debezium(df: DataFrame, table_id: TableId, schema: Schema,
                    key_col: Column | None = None) -> DataFrame:
    """Engine changelog envelope -> Kafka-ready (key, value) JSON strings.

    Key = JSON of primary-key columns (Debezium key convention); update rows
    (``+U`` with a ``__before`` struct) serialize both images; ``-D`` rows
    put the image in ``before`` with ``after: null``.

    Zoned columns with a present ``<name>__tz_offset`` side-channel column
    serialize as ISO-8601 strings in their ORIGINAL offset (ZonedTimestamp
    round-trip); before-images render at UTC (offset not carried there).
    """
    phys = [c.name for c in schema.columns if c.name in df.columns]
    zoned = {c.name for c in schema.columns
             if c.zoned and offset_col_name(c.name) in df.columns}
    row = F.struct(*[
        render_zoned(F.col(c), F.col(offset_col_name(c))).alias(c)
        if c in zoned else F.col(c) for c in phys])
    has_op = OP_COL in df.columns
    op = F.col(OP_COL) if has_op else F.lit("+I")
    dbz_op = (F.when(op == "+I", "c").when(op == "+U", "u")
              .when(op == "-U", "u").when(op == "-D", "d"))
    if BEFORE_COL in df.columns:
        # zoned fields: before carries instants; render at UTC so the
        # struct type matches `row` (whose zoned fields are strings)
        bimg = F.struct(*[
            render_zoned(F.col(BEFORE_COL)[c], F.lit(None)).alias(c)
            if c in zoned else F.col(BEFORE_COL)[c].alias(c) for c in phys])
        bimg = F.when(F.col(BEFORE_COL).isNotNull(), bimg)
    else:
        bimg = F.lit(None)
    before = (
        F.when(op == "-D", row)
        .when(op.isin("+U", "-U"), bimg)
        .otherwise(F.lit(None))
    )
    after = F.when(op != "-D", row).otherwise(F.lit(None))
    source = F.struct(
        # empty id parts serialize as ABSENT (null), not "": a 2-part
        # table id (db.table) must re-ingest with the db probe falling
        # through to the schema field — an empty string would defeat the
        # coalesce and silently drop every record on the loop back
        F.lit(table_id.namespace or None).cast("string").alias("db"),
        F.lit(table_id.schema_name or None).cast("string").alias("schema"),
        F.lit(table_id.table_name).alias("table"),
    )
    # ts_ms keeps its debezium TIMESTAMP semantics (connector op_ts in
    # millis — external consumers read it as a date); the upstream __seq
    # rides a DEDICATED seq field so a re-ingested spool preserves the
    # exact original order without corrupting op_ts projections
    if META_COL in df.columns:
        # every decode path stores __meta['ts_ms'] in epoch-millis (the
        # single engine-wide meta time convention); legacy spools that
        # carried a seconds-unit 'op_ts' key still re-encode correctly
        ts_ms = F.coalesce(
            F.element_at(F.col(META_COL), "ts_ms").cast("long"),
            F.element_at(F.col(META_COL), "op_ts").cast("long")
            * F.lit(1000))
    else:
        ts_ms = F.lit(None).cast("long")
    seq_field = ([F.col(SEQ_COL).alias("seq")]
                 if SEQ_COL in df.columns else [])
    value = F.to_json(F.struct(
        before.alias("before"), after.alias("after"),
        dbz_op.alias("op"), ts_ms.alias("ts_ms"), *seq_field,
        source.alias("source"),
    ))
    pks = [k for k in schema.primary_keys if k in df.columns] or phys
    key = (key_col if key_col is not None
           else F.to_json(F.struct(*[F.col(k) for k in pks])))
    return df.select(key.alias("key"), value.alias("value"))


def connect_field_schema(col) -> dict:
    """One column's Kafka-Connect schema node, reference type mapping
    (DebeziumJsonSerializationSchema.convertCDCDataTypeToDebeziumDataType
    :250-331): int16/int32/int64/boolean/float/double/string/bytes +
    Debezium logical names for date/time/timestamp/decimal/binary."""
    dt = col.data_type
    node: dict = {}
    if isinstance(dt, (T.ByteType, T.ShortType)):
        node["type"] = "int16"
    elif isinstance(dt, T.IntegerType):
        node["type"] = "int32"
    elif isinstance(dt, T.LongType):
        node["type"] = "int64"
    elif isinstance(dt, T.DecimalType):
        node["type"] = "bytes"
        node["name"] = "org.apache.kafka.connect.data.Decimal"
        node["version"] = 1
        node["parameters"] = {
            "scale": str(dt.scale),
            "connect.decimal.precision": str(dt.precision)}
    elif isinstance(dt, T.BooleanType):
        node["type"] = "boolean"
    elif isinstance(dt, T.FloatType):
        node["type"] = "float"
    elif isinstance(dt, T.DoubleType):
        node["type"] = "double"
    elif isinstance(dt, T.DateType):
        node["type"] = "int32"
        node["name"] = "io.debezium.time.Date"
        node["version"] = 1
    elif isinstance(dt, T.TimestampNTZType) or (
            isinstance(dt, T.TimestampType) and not getattr(col, "zoned", False)):
        # reference: precision > 3 -> MicroTimestamp (Spark timestamps are
        # micros), TIMESTAMP_LTZ/TZ -> ZonedTimestamp string
        node["type"] = "int64"
        node["name"] = "io.debezium.time.MicroTimestamp"
        node["version"] = 1
    elif isinstance(dt, T.TimestampType):
        node["type"] = "string"
        node["name"] = "io.debezium.time.ZonedTimestamp"
        node["version"] = 1
    elif isinstance(dt, T.BinaryType):
        node["type"] = "bytes"
        node["name"] = "io.debezium.data.Bits"
        node["version"] = 1
        node["parameters"] = {"length": "0"}
    else:
        node["type"] = "string"
    node["optional"] = bool(col.nullable)
    if col.default_expr is not None:
        node["default"] = col.default_expr
    if col.comment:
        node["doc"] = col.comment
    node["field"] = col.name
    return node


def connect_schema_json(schema: Schema) -> str:
    """The ``"schema"`` block for debezium-json.include-schema.enabled —
    a Kafka-Connect struct schema with optional ``before``/``after`` row
    structs (DebeziumJsonSerializationSchema.convertSchemaToDebeziumSchema
    :234-248). Rendered once per table at schema-change time (driver
    side); data rows splice the precomputed string."""
    import json as _json

    fields = [connect_field_schema(c) for c in schema.columns]

    def row_struct(name: str) -> dict:
        return {"type": "struct", "fields": fields, "optional": True,
                "field": name}

    return _json.dumps(
        {"type": "struct",
         "fields": [row_struct("before"), row_struct("after")],
         "optional": False},
        separators=(",", ":"))


def canal_value_schema(payload: T.StructType) -> T.StructType:
    return T.StructType([
        T.StructField("old", T.ArrayType(payload), True),
        T.StructField("data", T.ArrayType(payload), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("database", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("es", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
    ])


def decode_canal(raw: DataFrame, payload_schema: T.StructType,
                 value_col: str = "value") -> DataFrame:
    """Canal-JSON -> engine changelog envelope (INSERT/UPDATE/DELETE; canal
    batches multiple rows per record in ``data`` — exploded here)."""
    env = canal_value_schema(payload_schema)
    # same pushdown barrier as decode_dbz_envelope: keep downstream op
    # filters from re-inlining a second (schema-pruned) parse below this
    # projection (optimization r11)
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), env).alias("v"),
        *([F.col("offset")] if "offset" in raw.columns else []),
        F.spark_partition_id().alias("__pushdown_barrier"),
    ).where(F.col("__pushdown_barrier") >= F.lit(-1))
    exploded = parsed.select(
        "v.type", "v.database", "v.table", "v.ts",
        F.posexplode("v.data").alias("pos", "__row"),
        F.col("v.old").alias("old"),
        *([F.col("offset")] if "offset" in raw.columns else []),
    )
    op = (F.when(F.col("type") == "INSERT", "+I")
          .when(F.col("type") == "UPDATE", "+U")
          .when(F.col("type") == "DELETE", "-D"))
    before = F.when(F.col("type") == "UPDATE", F.col("old")[F.col("pos")])
    seq = F.col("offset") if "offset" in raw.columns else F.col("ts")
    out = exploded.select(
        F.col("__row"),
        op.alias(OP_COL),
        before.alias(BEFORE_COL),
        F.map_from_arrays(
            F.array(F.lit("db"), F.lit("table")),
            F.array(F.col("database"), F.col("table"))).alias(META_COL),
        seq.cast("bigint").alias(SEQ_COL),
    )
    return out.select("__row.*", OP_COL, BEFORE_COL, META_COL, SEQ_COL)


_CANAL_TYPES = {"+I": "INSERT", "+U": "UPDATE", "-U": "UPDATE", "-D": "DELETE"}


def encode_canal(df: DataFrame, table_id: TableId, schema: Schema,
                 key_col: Column | None = None) -> DataFrame:
    """Engine changelog envelope -> canal-json values (one row per event)."""
    phys = [c.name for c in schema.columns if c.name in df.columns]
    row = F.struct(*[F.col(c) for c in phys])
    has_op = OP_COL in df.columns
    op = F.col(OP_COL) if has_op else F.lit("+I")
    ctype = F.coalesce(
        *[F.when(op == k, F.lit(v)) for k, v in _CANAL_TYPES.items()])
    old = (F.when(op.isin("+U", "-U"),
                  F.array(F.col(BEFORE_COL)) if BEFORE_COL in df.columns
                  else F.lit(None))
           .otherwise(F.lit(None)))
    value = F.to_json(F.struct(
        old.alias("old"),
        F.array(row).alias("data"),
        ctype.alias("type"),
        F.lit(table_id.schema_name or table_id.namespace).alias("database"),
        F.lit(table_id.table_name).alias("table"),
    ))
    pks = [k for k in schema.primary_keys if k in df.columns] or phys
    key = (key_col if key_col is not None
           else F.to_json(F.struct(*[F.col(k) for k in pks])))
    return df.select(key.alias("key"), value.alias("value"))
