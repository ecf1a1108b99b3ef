"""JDBC table sink — changelog upsert into a SQL database.

Parity target: the reference's relational pipeline sinks
(flink-cdc-pipeline-connector-mysql / -postgres sink side), which apply
+I/+U as primary-key upserts (``INSERT ... ON DUPLICATE KEY UPDATE`` /
``ON CONFLICT DO UPDATE``), -D as keyed DELETEs, and execute upstream DDL
through a ``MetadataApplier`` (MetadataApplier.java:33-37), all under the
``DataSinkWriterOperator`` idempotent-replay contract
(DataSinkWriterOperator.java:65).

Spark-first shape: the batch is first reduced to ONE final image per key
(map-side-combinable window, same reduction the lake table uses), hash-
repartitioned by primary key so each executor partition owns disjoint keys,
then written via per-partition DB-API connections with batched upsert
statements — the exact analog of the reference's per-subtask JDBC writers.
Replay safety needs no transactions ACROSS partitions: final-image upserts
and keyed deletes are idempotent per row, so re-running a half-applied
batch converges (at-least-once delivery + idempotent apply = exactly-once
table state, the same argument the reference's sinks make).

Dialects: all statement text (upsert/delete DML + 7-event DDL) is rendered
by :mod:`.dialects`; ``sqlite`` is fully executable (file-backed, testable
in this sandbox; its single-writer lock serializes concurrent partition
commits — busy_timeout handles the contention). MySQL/Postgres statement
text comes from the same generators and is pinned byte-for-byte by
``tests/test_sink_conformance.py``, but connecting is environment-gated
(no server in the sandbox).
"""

from __future__ import annotations

import datetime
import decimal
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..common.events import OP_COL
from ..common.schema import Schema
from ..common.tableid import TableId
from ..sources.base import SEQ_COL
from .base import DataSink, MetadataApplier
from .dialects import SqliteDialect, get_dialect

_MARKERS = "__cdc_batches"
_BUSY_TIMEOUT_MS = 60_000
_SQLITE = SqliteDialect()


def _quote(name: str) -> str:
    return _SQLITE.quote(name)


def _to_sql_value(v):
    """Python row value -> DB-API parameter (deterministic text forms so a
    readback round-trips)."""
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _from_sql_value(v, dt: T.DataType):
    if v is None:
        return None
    if isinstance(dt, T.TimestampNTZType) or isinstance(dt, T.TimestampType):
        return datetime.datetime.fromisoformat(str(v))
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(str(v))
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal(str(v))
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(v)
    return v


def _connect(db_path: str):
    import sqlite3

    con = sqlite3.connect(db_path, timeout=_BUSY_TIMEOUT_MS / 1000)
    con.execute(f"PRAGMA busy_timeout={_BUSY_TIMEOUT_MS}")
    # WAL lets readers proceed during a write and makes the many short
    # per-partition commits cheap
    con.execute("PRAGMA journal_mode=WAL")
    return con


class _SqliteMetadataApplier(MetadataApplier):
    """Executes the 7-event DDL algebra on the SQLite target.

    Statement text comes from :class:`.dialects.SqliteDialect` (AlterColumnType
    renders as a table rebuild — create-new + INSERT SELECT + swap, the
    standard SQLite migration; MySQL/Postgres render MODIFY/ALTER TYPE)."""

    def __init__(self, sink: "JdbcUpsertSink"):
        self.sink = sink

    def apply_schema_change(self, table_id, event, evolved_schema) -> None:
        stmts = _SQLITE.ddl_sql(self.sink.table_name(table_id), event,
                                evolved_schema)
        con = _connect(self.sink.db_path)
        try:
            cur = con.cursor()
            for stmt in stmts:
                cur.execute(stmt)
            con.commit()
        finally:
            con.close()


class JdbcUpsertSink(DataSink):
    """SQL-database changelog sink (see module docstring)."""

    def __init__(self, db_path: str, dialect: str = "sqlite",
                 write_partitions: int | None = None):
        self.sql = get_dialect(dialect)  # validates the name
        if dialect != "sqlite":
            raise NotImplementedError(
                f"dialect {dialect!r} is environment-gated: its statement "
                "text is generated by sinks.dialects and pinned in "
                "tests/test_sink_conformance.py, but no MySQL/Postgres "
                "server exists in this sandbox; use dialect='sqlite'")
        self.db_path = db_path
        self.dialect = dialect
        self.write_partitions = write_partitions
        os.makedirs(os.path.dirname(os.path.abspath(db_path)), exist_ok=True)
        con = _connect(db_path)
        try:
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {_MARKERS} "
                "(table_name TEXT, batch_id TEXT, PRIMARY KEY (table_name, batch_id))")
            con.commit()
        finally:
            con.close()

    @staticmethod
    def table_name(table_id: TableId) -> str:
        return table_id.identifier()

    def metadata_applier(self) -> MetadataApplier:
        return _SqliteMetadataApplier(self)

    # -- write path --------------------------------------------------------
    def write(self, table_id: TableId, df: DataFrame, schema: Schema,
              batch_id) -> None:
        tname = self.table_name(table_id)
        con = _connect(self.db_path)
        try:
            seen = con.execute(
                f"SELECT 1 FROM {_MARKERS} WHERE table_name=? AND batch_id=?",
                (tname, str(batch_id))).fetchone()
        finally:
            con.close()
        if seen:
            return  # replayed batch (idempotence marker)

        from ..streaming.materialize import latest_image

        pks = [k for k in schema.primary_keys if k in df.columns]
        names = [c.name for c in schema.columns if c.name in df.columns]
        if not pks:
            raise ValueError(
                f"jdbc sink requires primary keys for {table_id} "
                "(the reference's relational sinks are keyed upserts)")
        has_op = OP_COL in df.columns
        if has_op:
            final = latest_image(
                df, pks, seq_col=SEQ_COL if SEQ_COL in df.columns else None,
                keep_delete_marker=True)
        else:
            final = df.withColumn(OP_COL, F.lit("+I"))
        final = final.select(*names, OP_COL)

        # default writer parallelism is dialect-aware (optimization r11,
        # guide §2.6): SQLite serializes writers on the database file
        # lock, so 32 partition writers only queue on it (measured
        # 1.49 s -> 1.09 s at 4 on the upsert gate); a real MySQL/
        # Postgres target takes cluster parallelism. Explicit
        # write_partitions always wins.
        n_parts = self.write_partitions or (
            min(4, final.sparkSession.sparkContext.defaultParallelism)
            if self.dialect == "sqlite"
            else final.sparkSession.sparkContext.defaultParallelism)
        db_path = self.db_path
        upsert_sql = self.sql.upsert_sql(tname, names, pks)
        delete_sql = self.sql.delete_sql(tname, pks)
        pk_idx = [names.index(k) for k in pks]

        def apply_partition(rows):
            ups, dels = [], []
            for r in rows:
                vals = tuple(_to_sql_value(r[c]) for c in names)
                if r[OP_COL] == "-D":
                    dels.append(tuple(vals[i] for i in pk_idx))
                else:
                    ups.append(vals)
            if not ups and not dels:
                return
            con = _connect(db_path)
            try:
                cur = con.cursor()
                if ups:
                    cur.executemany(upsert_sql, ups)
                if dels:
                    cur.executemany(delete_sql, dels)
                con.commit()
            finally:
                con.close()

        # disjoint key ownership per partition: no two partitions upsert the
        # same PK, so per-partition commits can't interleave within one key
        final.repartition(n_parts, *[F.col(k) for k in pks]) \
            .foreachPartition(apply_partition)

        con = _connect(self.db_path)
        try:
            con.execute(f"INSERT OR IGNORE INTO {_MARKERS} VALUES (?, ?)",
                        (tname, str(batch_id)))
            con.commit()
        finally:
            con.close()

    # -- read back ---------------------------------------------------------
    def read(self, spark: SparkSession, table_id: TableId,
             schema: Schema) -> DataFrame:
        """Driver-side readback for tests/verification (a production read
        of a JDBC table is spark.read.jdbc with the chunk splitter)."""
        con = _connect(self.db_path)
        try:
            names = [c.name for c in schema.columns]
            rows = con.execute(
                "SELECT " + ", ".join(_quote(n) for n in names)
                + f" FROM {_quote(self.table_name(table_id))}").fetchall()
        finally:
            con.close()
        typed = [tuple(_from_sql_value(v, c.data_type)
                       for v, c in zip(r, schema.columns)) for r in rows]
        return spark.createDataFrame(typed, schema.struct_type())
