"""Kafka changelog sink: debezium-json / canal-json serialization.

Parity target: flink-cdc-pipeline-connector-kafka (JsonSerializationType
debezium-json | canal-json; topic = table id by default, or a fixed topic).

The serialization path (envelope -> key/value JSON) is pure Catalyst
(``to_json``) and fully tested without a broker; the physical write uses
Spark's built-in Kafka batch writer when ``bootstrap.servers`` is given, or
a JSON-lines directory (one file tree per topic) for local runs/tests —
the bytes written are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..common.events import SchemaChangeEvent
from ..common.schema import Schema
from ..common.tableid import TableId
from ..sources.debezium import encode_canal, encode_debezium
from .base import DataSink, MetadataApplier
from .ddl_spool import spool_batch


class _KafkaMetadataApplier(MetadataApplier):
    """Kafka has no DDL surface; schema changes only update the registry.
    (The reference's Kafka sink likewise applies nothing; consumers see the
    new fields appear in the JSON.)"""

    def apply_schema_change(self, table_id: TableId, event: SchemaChangeEvent,
                            evolved_schema: Schema) -> None:
        return


class KafkaChangelogSink(DataSink):
    def __init__(self, serialization: str = "debezium-json",
                 bootstrap_servers: str | None = None,
                 topic: str | None = None,
                 output_dir: str | None = None,
                 kafka_options: dict[str, str] | None = None,
                 partition_strategy: str = "all-to-zero",
                 add_table_to_header: bool = False,
                 key_format: str = "json",
                 custom_headers: str = "",
                 topic_mapping: str | None = None,
                 include_schema: bool = False):
        if serialization not in ("debezium-json", "canal-json"):
            raise ValueError(f"unknown serialization {serialization!r}")
        if partition_strategy not in ("all-to-zero", "hash-by-key"):
            # PartitionStrategy.java:26-29
            raise ValueError(
                f"unknown partition.strategy {partition_strategy!r} "
                "(all-to-zero | hash-by-key)")
        if key_format not in ("json", "csv"):
            # KafkaDataSinkOptions.KEY_FORMAT:52-58
            raise ValueError(f"unknown key.format {key_format!r} (json | csv)")
        if include_schema and serialization != "debezium-json":
            # KafkaDataSinkOptions:105-108 ("only supported ... debezium-json")
            raise ValueError(
                "debezium-json.include-schema.enabled requires "
                "value.format debezium-json")
        if not bootstrap_servers and not output_dir:
            raise ValueError("need bootstrap_servers (real Kafka) or output_dir (local)")
        self.serialization = serialization
        self.bootstrap_servers = bootstrap_servers
        self.topic = topic
        self.output_dir = output_dir
        self.kafka_options = kafka_options or {}
        self.partition_strategy = partition_strategy
        self.add_table_to_header = add_table_to_header
        self.key_format = key_format
        # "k1:v1,k2:v2" (KafkaDataSinkOptions.SINK_CUSTOM_HEADER:80-85)
        self.custom_headers: list[tuple[str, str]] = []
        for part in (custom_headers or "").split(","):
            part = part.strip()
            if not part:
                continue
            if ":" not in part:
                raise ValueError(
                    f"sink.custom-header entry {part!r} must be key:value")
            k, v = part.split(":", 1)
            self.custom_headers.append((k.strip(), v.strip()))
        # "selector:topic;selector:topic"
        # (KafkaDataSinkOptions.SINK_TABLE_ID_TO_TOPIC_MAPPING:87-108)
        self.topic_mapping: list[tuple[str, str]] = []
        for part in (topic_mapping or "").split(";"):
            part = part.strip()
            if not part:
                continue
            sel, _, top = part.rpartition(":")
            if not sel or not top:
                raise ValueError(
                    f"sink.tableId-to-topic.mapping entry {part!r} must be "
                    "selector:topic")
            self.topic_mapping.append((sel, top))
        self.include_schema = include_schema

    def metadata_applier(self) -> MetadataApplier:
        return _KafkaMetadataApplier()

    def _encode(self, table_id: TableId, df: DataFrame, schema: Schema) -> DataFrame:
        key_col = self._record_key(table_id, df, schema)
        if self.serialization == "debezium-json":
            return encode_debezium(df, table_id, schema, key_col=key_col)
        return encode_canal(df, table_id, schema, key_col=key_col)

    def topic_for(self, table_id: TableId) -> str:
        """Fixed topic > first matching tableId-to-topic selector > the
        table identifier (reference resolution order)."""
        if self.topic:
            return self.topic
        from ..common.tableid import cached_selectors

        for sel, top in self.topic_mapping:
            if cached_selectors(sel).is_match(table_id):
                return top
        return table_id.identifier()

    def _record_key(self, table_id: TableId, df: DataFrame,
                    schema: Schema) -> F.Column:
        """Producer-record key per ``key.format`` (KeySerializationFactory
        + {Json,Csv}SerializationSchema: a (TableId, pk...) row; csv with
        RFC-style quoting like Flink's CsvRowDataSerializationSchema).

        A pk-less table keys every record by TableId alone — the
        reference does the same (its key row is TableId + primaryKeys,
        which is empty here), so under hash-by-key such a table lands on
        one partition; use all-to-zero (the default) or add PKs. The
        standalone codecs (`encode_debezium`/`encode_canal` without
        key_col) keep their all-physical-columns fallback for pk-less
        Debezium-convention keys."""
        pks = [k for k in schema.primary_keys if k in df.columns]
        tid = F.lit(table_id.identifier())
        if self.key_format == "json":
            return F.to_json(F.struct(
                tid.alias("TableId"),
                *[F.col(k) for k in pks]))
        fields = [tid] + [F.col(k).cast("string") for k in pks]

        def csv_field(c):
            quoted = F.concat(F.lit('"'),
                              F.regexp_replace(c, '"', '""'), F.lit('"'))
            return (F.when(c.isNull(), F.lit(""))
                    .when(c.rlike('[",\n\r]'), quoted)
                    .otherwise(c))

        return F.concat_ws(",", *[csv_field(c) for c in fields])

    def encode_records(self, table_id: TableId, df: DataFrame,
                       schema: Schema) -> DataFrame:
        """Producer-record columns, reference parity
        (PipelineKafkaRecordSerializationSchema.java:102-135):
        ``partition`` = 0 under all-to-zero (the default — total order per
        topic), ABSENT under hash-by-key (the producer's partitioner hashes
        the record key, preserving per-key order); optional tableId headers
        (namespace/schemaName/tableName) when
        ``sink.add.tableId.to.header.enabled``."""
        out = self._encode(table_id, df, schema)
        if self.include_schema:
            # {"schema": <connect schema>, "payload": <envelope>} — the
            # schema block is rendered ONCE per table (driver-side) and
            # spliced as a literal (DebeziumJsonSerializationSchema:211-215)
            from ..sources.debezium import connect_schema_json

            out = out.withColumn("value", F.concat(
                F.lit('{"schema":' + connect_schema_json(schema)
                      + ',"payload":'),
                F.col("value"), F.lit("}")))
        if self.partition_strategy == "all-to-zero":
            out = out.withColumn("partition", F.lit(0).cast("int"))
        hdr_pairs: list[tuple[str, str]] = []
        if self.add_table_to_header:
            hdr_pairs += [("namespace", table_id.namespace),
                          ("schemaName", table_id.schema_name),
                          ("tableName", table_id.table_name)]
        hdr_pairs += self.custom_headers
        if hdr_pairs:
            hdr = F.array(*[
                F.struct(F.lit(k).alias("key"),
                         F.lit(v or "").cast("binary").alias("value"))
                for k, v in hdr_pairs])
            out = out.withColumn("headers", hdr)
        return out

    def write(self, table_id: TableId, df: DataFrame, schema: Schema, batch_id: int) -> None:
        encoded = self.encode_records(table_id, df, schema)
        topic = self.topic_for(table_id)
        if self.bootstrap_servers:
            # the REAL wire (round 10): Metadata + Produce v3 with v2
            # record batches over our own protocol client — no Kafka
            # jars ship with this Spark build, so format("kafka") was
            # never runnable here. Bounded driver-side collect of the
            # encoded batch (one record per change), the same pattern
            # the ES/Stream-Load live paths use. all-to-zero pins the
            # partition column; hash-by-key leaves routing to the
            # client's murmur2 default partitioner — both exactly the
            # reference's PartitionStrategy semantics.
            from .kafka_protocol import KafkaWireProducer

            # Arrow collect (optimization r11, guide §6 "Arrow for driver
            # transfers"): the row-path collect() built one Row object per
            # record (~19k Row allocations + per-field fromInternal on the
            # wire gate); toArrow ships the batch columnar and to_pylist
            # yields plain str/bytes. The per-column loop below replaces a
            # per-row `"headers" in encoded.columns` re-check that ran once
            # per record.
            cols = encoded.columns
            fixed = None
            if "partition" in cols:
                fixed = 0  # all-to-zero
            tbl = encoded.toArrow()
            keys = tbl.column("key").to_pylist()
            values = tbl.column("value").to_pylist()
            if "headers" in cols:
                hdr_lists = [
                    [(h["key"], bytes(h["value"])) for h in hl or []]
                    for hl in tbl.column("headers").to_pylist()]
            else:
                hdr_lists = None
            records = [
                (k.encode("utf-8"), v.encode("utf-8"),
                 hdr_lists[i] if hdr_lists is not None else [])
                for i, (k, v) in enumerate(zip(keys, values))]
            # properties.* the wire client can honor: compression.type
            # rides the batch attributes; anything else is surfaced, not
            # silently dropped (advice r10: configured client options
            # vanishing without a word is how acks/timeouts get "set"
            # in YAML and never applied)
            compression = self.kafka_options.get("compression.type",
                                                 "none")
            handled = ("compression.type", "bootstrap.servers",
                       "security.protocol", "sasl.mechanism",
                       "sasl.username", "sasl.password",
                       "ssl.ca.location")
            ignored = sorted(k for k in self.kafka_options
                             if k not in handled)
            if ignored:
                import warnings

                warnings.warn(
                    "kafka wire producer ignores unsupported "
                    "properties: %s" % ", ".join(ignored),
                    stacklevel=2)
            # full bootstrap list: the wire client walks it for failover
            KafkaWireProducer(
                self.bootstrap_servers,
                security_protocol=self.kafka_options.get(
                    "security.protocol", "plaintext").lower(),
                sasl_mechanism=self.kafka_options.get(
                    "sasl.mechanism", "PLAIN"),
                sasl_username=self.kafka_options.get("sasl.username"),
                sasl_password=self.kafka_options.get("sasl.password"),
                ssl_cafile=self.kafka_options.get("ssl.ca.location")) \
                .produce(topic, records, partition=fixed,
                         compression=compression)
        else:
            spool_batch(os.path.join(self.output_dir, topic,
                                     f"batch_{batch_id}"),
                        encoded.select(F.col("value")))
