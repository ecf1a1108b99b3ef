"""JSON (de)serialization of the schema-change event algebra.

The streaming analog of Debezium's schema-change topic: DDL travels through
the same stream as data, as self-describing control records
``{"ddl": {"type": ..., "table": ..., ...}}``, applied on the driver between
decode and process (SURVEY.md §3.3 — the micro-batch is the barrier).

Types serialize as Spark DDL strings (``simpleString`` / ``fromDDL``).
"""

from __future__ import annotations

import json

from pyspark.sql import types as T

from .events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    ColumnPosition,
    ColumnWithPosition,
    CreateTableEvent,
    DropColumnEvent,
    DropTableEvent,
    RenameColumnEvent,
    SchemaChangeEvent,
    TruncateTableEvent,
)
from .schema import Column, Schema
from .tableid import TableId


_SIMPLE_TYPES = {
    "string": T.StringType(), "boolean": T.BooleanType(), "binary": T.BinaryType(),
    "tinyint": T.ByteType(), "smallint": T.ShortType(), "int": T.IntegerType(),
    "integer": T.IntegerType(), "bigint": T.LongType(), "float": T.FloatType(),
    "double": T.DoubleType(), "date": T.DateType(), "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
}


def parse_type(s: str) -> T.DataType:
    """Parse a simpleString type without needing an active SparkSession."""
    s = s.strip().lower()
    if s in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[s]
    if s.startswith("decimal"):
        inner = s[s.index("(") + 1 : s.index(")")]
        p, sc = (inner.split(",") + ["0"])[:2]
        return T.DecimalType(int(p), int(sc))
    if s.startswith("array<") and s.endswith(">"):
        return T.ArrayType(parse_type(s[6:-1]))
    if s.startswith("map<") and s.endswith(">"):
        # split on the top-level comma
        inner = s[4:-1]
        depth = 0
        for i, ch in enumerate(inner):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                return T.MapType(parse_type(inner[:i]), parse_type(inner[i + 1:]))
    # fall back to Spark's parser (needs an active session)
    return T._parse_datatype_string(s)


def _col_from_json(d: dict) -> Column:
    return Column(d["name"], parse_type(d["type"]),
                  d.get("nullable", True), d.get("comment"), d.get("default"))


def schema_events_from_json(s: str | dict) -> list[SchemaChangeEvent]:
    """Decode a schema-change record: either this engine's structured form
    (``{"ddl": {...}}``) or Debezium's schema-change-topic form carrying the
    RAW SQL statement (``{"databaseName": "db", "ddl": "ALTER TABLE …"}``,
    io.debezium.relational.history.HistoryRecord) — parsed through the
    CustomMySqlAntlrDdlParser analog, which may yield several events (e.g.
    CHANGE = rename + retype)."""
    d = json.loads(s) if isinstance(s, str) else s
    if isinstance(d.get("ddl"), str):
        from .ddl_parser import parse_ddl

        try:
            # 'dialect' on the record selects the statement grammar
            # (LogMiner-captured Oracle DDL vs the MySQL default)
            return parse_ddl(d["ddl"], d.get("databaseName"),
                             d.get("dialect", "mysql"))
        except ValueError:
            # Debezium forwards EVERY statement (CREATE INDEX, GRANT, …);
            # the reference's ANTLR listener only reacts to column-schema
            # changes — parity is to ignore the rest, not fail the stream
            return []
    return [schema_event_from_json(d)]


def schema_event_from_json(s: str | dict) -> SchemaChangeEvent:
    d = json.loads(s) if isinstance(s, str) else s
    body = d["ddl"] if "ddl" in d else d
    tid = TableId.parse(body["table"])
    t = body["type"].upper()
    if t == "CREATE_TABLE":
        return CreateTableEvent(tid, Schema(
            columns=tuple(_col_from_json(c) for c in body["columns"]),
            primary_keys=tuple(body.get("primary_keys", ())),
            partition_keys=tuple(body.get("partition_keys", ()))))
    if t == "ADD_COLUMN":
        return AddColumnEvent(tid, tuple(
            ColumnWithPosition(
                _col_from_json(c),
                ColumnPosition(c.get("position", "LAST")),
                c.get("anchor"))
            for c in body["columns"]))
    if t == "DROP_COLUMN":
        return DropColumnEvent(tid, tuple(body["names"]))
    if t == "RENAME_COLUMN":
        return RenameColumnEvent(tid, tuple(body["mapping"].items()))
    if t == "ALTER_COLUMN_TYPE":
        return AlterColumnTypeEvent(tid, tuple(
            (k, parse_type(v)) for k, v in body["mapping"].items()))
    if t == "TRUNCATE_TABLE":
        return TruncateTableEvent(tid)
    if t == "DROP_TABLE":
        return DropTableEvent(tid)
    raise ValueError(f"unknown ddl type {t!r}")
