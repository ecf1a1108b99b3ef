"""Schema model: ordered columns + primary keys + partition keys + options.

Parity target: ``flink-cdc-common/.../schema/Schema.java`` (:47-100),
``schema/Column.java`` / ``PhysicalColumn.java`` / ``MetadataColumn.java``.

Implementation choice (Spark-first): a :class:`Schema` is a thin veneer over
``StructType``; primary/partition keys and table options ride along as plain
Python attributes and are serialized into ``StructField.metadata`` /
a JSON sidecar when persisted. Spark DataFrames produced by the engine use
``schema.struct_type()`` directly, so Catalyst sees ordinary structs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace
from pyspark.sql import types as T


@dataclass(frozen=True)
class Column:
    """A physical or metadata column.

    ``default_expr`` is a SQL expression string (reference keeps the raw
    default-value expression, ``PhysicalColumn.java``); ``metadata_key``
    marks metadata columns mapped from the source event's meta map;
    ``zoned`` marks a TIMESTAMP_TZ column (``ZonedTimestampType.java``) —
    carried as an instant plus a ``<name>__tz_offset`` side-channel column
    (see ``functions/zoned_time.py``).
    """

    name: str
    data_type: T.DataType
    nullable: bool = True
    comment: str | None = None
    default_expr: str | None = None
    metadata_key: str | None = None
    zoned: bool = False

    def to_struct_field(self) -> T.StructField:
        md = {}
        if self.comment:
            md["comment"] = self.comment
        if self.default_expr is not None:
            md["default_expr"] = self.default_expr
        if self.metadata_key is not None:
            md["metadata_key"] = self.metadata_key
        if self.zoned:
            md["zoned"] = True
        return T.StructField(self.name, self.data_type, self.nullable, md)

    @staticmethod
    def from_struct_field(f: T.StructField) -> "Column":
        md = f.metadata or {}
        return Column(
            name=f.name,
            data_type=f.dataType,
            nullable=f.nullable,
            comment=md.get("comment"),
            default_expr=md.get("default_expr"),
            metadata_key=md.get("metadata_key"),
            zoned=bool(md.get("zoned", False)),
        )


@dataclass(frozen=True)
class Schema:
    """Ordered columns + primaryKeys + partitionKeys + options + comment."""

    columns: tuple[Column, ...]
    primary_keys: tuple[str, ...] = ()
    partition_keys: tuple[str, ...] = ()
    options: tuple[tuple[str, str], ...] = ()
    comment: str | None = None

    # -- construction ---------------------------------------------------
    @staticmethod
    def of(*cols: tuple | Column, primary_keys: tuple[str, ...] | list[str] = (),
           partition_keys: tuple[str, ...] | list[str] = (),
           options: dict[str, str] | None = None, comment: str | None = None) -> "Schema":
        columns = tuple(
            c if isinstance(c, Column) else Column(c[0], c[1], *(c[2:]))
            for c in cols
        )
        return Schema(
            columns=columns,
            primary_keys=tuple(primary_keys),
            partition_keys=tuple(partition_keys),
            options=tuple(sorted((options or {}).items())),
            comment=comment,
        )

    @staticmethod
    def from_struct_type(st: T.StructType, primary_keys=(), partition_keys=(),
                         options=None, comment=None) -> "Schema":
        return Schema(
            columns=tuple(Column.from_struct_field(f) for f in st.fields),
            primary_keys=tuple(primary_keys),
            partition_keys=tuple(partition_keys),
            options=tuple(sorted((options or {}).items())),
            comment=comment,
        )

    # -- accessors ------------------------------------------------------
    def struct_type(self) -> T.StructType:
        return T.StructType([c.to_struct_field() for c in self.columns])

    def column_names(self) -> list[str]:
        return [c.name for c in self.columns]

    def get_column(self, name: str) -> Column | None:
        for c in self.columns:
            if c.name == name:
                return c
        return None

    def options_dict(self) -> dict[str, str]:
        return dict(self.options)

    # -- rewriting ------------------------------------------------------
    def with_columns(self, columns: list[Column] | tuple[Column, ...]) -> "Schema":
        return replace(self, columns=tuple(columns))

    def with_primary_keys(self, pks: list[str]) -> "Schema":
        return replace(self, primary_keys=tuple(pks))

    def with_partition_keys(self, pks: list[str]) -> "Schema":
        return replace(self, partition_keys=tuple(pks))

    def with_options(self, options: dict[str, str]) -> "Schema":
        merged = self.options_dict()
        merged.update(options)
        return replace(self, options=tuple(sorted(merged.items())))

    # -- persistence ----------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "struct": json.loads(self.struct_type().json()),
                "primary_keys": list(self.primary_keys),
                "partition_keys": list(self.partition_keys),
                "options": dict(self.options),
                "comment": self.comment,
            }
        )

    @staticmethod
    def from_json(s: str) -> "Schema":
        d = json.loads(s)
        st = T.StructType.fromJson(d["struct"])
        return Schema.from_struct_type(
            st,
            primary_keys=d.get("primary_keys", ()),
            partition_keys=d.get("partition_keys", ()),
            options=d.get("options"),
            comment=d.get("comment"),
        )

    def pretty(self) -> str:
        cols = ", ".join(f"{c.name} {c.data_type.simpleString()}" for c in self.columns)
        pk = f", PK({','.join(self.primary_keys)})" if self.primary_keys else ""
        return f"({cols}{pk})"
