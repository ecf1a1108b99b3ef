"""Schema-evolution calculus: DDL application, behavior rewriting, coercion.

Parity targets:
- ``SchemaUtils.applySchemaChangeEvent`` (flink-cdc-common/.../utils/SchemaUtils.java)
- ``SchemaDerivator.rewriteSchemaChangeEvents`` + LENIENT decomposition
  (flink-cdc-runtime/.../schema/common/SchemaDerivator.java:183-295)
- ``SchemaMergingUtils.getCommonSchema`` (:177) / ``coerceRow`` (:258-323)
- behaviors enum ``SchemaChangeBehavior.java:27-33`` (default LENIENT,
  ``PipelineOptions.java:55-57``)

All of this is **driver-side** control-plane code operating on
:class:`~..common.schema.Schema`; the data-plane effect of a coercion is one
Catalyst ``select`` with casts/null-fills (:func:`coercion_select`).
"""

from __future__ import annotations

import enum
from typing import Sequence

from pyspark.sql import DataFrame, functions as F, types as T

from ..common.events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    ColumnPosition,
    CreateTableEvent,
    DropColumnEvent,
    DropTableEvent,
    RenameColumnEvent,
    SchemaChangeEvent,
    TruncateTableEvent,
    ColumnWithPosition,
)
from ..common.schema import Column, Schema
from ..common.types import get_least_common_type, is_type_compatible


class SchemaChangeBehavior(str, enum.Enum):
    """Parity: ``SchemaChangeBehavior.java:27-33``; default LENIENT."""

    IGNORE = "ignore"
    LENIENT = "lenient"
    TRY_EVOLVE = "try_evolve"
    EVOLVE = "evolve"
    EXCEPTION = "exception"


# ---------------------------------------------------------------------------
# 1. Applying one DDL event to a Schema (SchemaUtils.applySchemaChangeEvent)
# ---------------------------------------------------------------------------

def apply_schema_change_event(schema: Schema | None, event: SchemaChangeEvent) -> Schema | None:
    """Pure function: (schema, ddl-event) -> new schema.

    ``None`` schema means the table does not exist (only CreateTableEvent is
    legal then); DropTableEvent returns ``None``.
    """
    if isinstance(event, CreateTableEvent):
        return event.schema
    if schema is None:
        raise ValueError(f"schema change {event.event_type()} on unknown table {event.table_id}")
    if isinstance(event, AddColumnEvent):
        cols = list(schema.columns)
        existing = {c.name for c in cols}
        for cwp in event.added_columns:
            if cwp.column.name in existing:
                raise ValueError(f"duplicate column {cwp.column.name!r} in {event.table_id}")
            if cwp.position == ColumnPosition.FIRST:
                cols.insert(0, cwp.column)
            elif cwp.position == ColumnPosition.LAST:
                cols.append(cwp.column)
            else:
                anchor = next(i for i, c in enumerate(cols) if c.name == cwp.existed_column_name)
                cols.insert(anchor if cwp.position == ColumnPosition.BEFORE else anchor + 1, cwp.column)
            existing.add(cwp.column.name)
        return schema.with_columns(cols)
    if isinstance(event, DropColumnEvent):
        dropped = set(event.dropped_column_names)
        return schema.with_columns([c for c in schema.columns if c.name not in dropped])
    if isinstance(event, RenameColumnEvent):
        mapping = event.mapping_dict()
        cols = [
            Column(mapping.get(c.name, c.name), c.data_type, c.nullable, c.comment,
                   c.default_expr, c.metadata_key)
            for c in schema.columns
        ]
        pks = tuple(mapping.get(k, k) for k in schema.primary_keys)
        return schema.with_columns(cols).with_primary_keys(list(pks))
    if isinstance(event, AlterColumnTypeEvent):
        mapping = event.mapping_dict()
        cols = []
        for c in schema.columns:
            if c.name in mapping:
                new_type = mapping[c.name]
                nullable = c.nullable or event.force_nullable
                cols.append(Column(c.name, new_type, nullable, c.comment, c.default_expr, c.metadata_key))
            else:
                cols.append(c)
        return schema.with_columns(cols)
    if isinstance(event, TruncateTableEvent):
        return schema  # data-only effect; handled by sinks
    if isinstance(event, DropTableEvent):
        return None
    raise TypeError(f"unknown schema change event: {event!r}")


# ---------------------------------------------------------------------------
# 2. Behavior rewriting (SchemaDerivator.rewriteSchemaChangeEvents:183-204,
#    lenientize* :206-295)
# ---------------------------------------------------------------------------

def _nullable(c: Column) -> Column:
    return Column(c.name, c.data_type, True, c.comment, c.default_expr, c.metadata_key)


def lenientize(old_schema: Schema, event: SchemaChangeEvent) -> list[SchemaChangeEvent]:
    """LENIENT decomposition: never lose data at the sink.

    - ADD_COLUMN   -> ADD_COLUMN with all added columns made nullable, LAST
      position (positions are dropped; parity SchemaDerivator.java:283-295).
    - DROP_COLUMN  -> AlterColumnType(nullable) for previously non-nullable
      dropped columns, else nothing (column is retained, null-filled).
    - RENAME a->b  -> ADD_COLUMN(b nullable, same type) + AlterColumnType
      making old non-nullable ``a`` nullable (both retained).
    - everything else passes through.
    """
    tid = event.table_id
    if isinstance(event, AddColumnEvent):
        return [AddColumnEvent(tid, tuple(ColumnWithPosition(_nullable(c.column)) for c in event.added_columns))]
    if isinstance(event, DropColumnEvent):
        to_relax = {
            name: old_schema.get_column(name).data_type
            for name in event.dropped_column_names
            if old_schema.get_column(name) is not None and not old_schema.get_column(name).nullable
        }
        if not to_relax:
            return []
        return [AlterColumnTypeEvent(tid, tuple(to_relax.items()), force_nullable=True)]
    if isinstance(event, RenameColumnEvent):
        adds, relax = [], {}
        for old_name, new_name in event.name_mapping:
            col = old_schema.get_column(old_name)
            if col is None:
                raise ValueError(f"rename of non-existent column {old_name!r}")
            if not col.nullable:
                relax[old_name] = col.data_type
            adds.append(ColumnWithPosition(Column(new_name, col.data_type, True, col.comment, col.default_expr)))
        out: list[SchemaChangeEvent] = [AddColumnEvent(tid, tuple(adds))]
        if relax:
            out.append(AlterColumnTypeEvent(tid, tuple(relax.items()), force_nullable=True))
        return out
    return [event]


def normalize_schema_change_events(
    old_schema: Schema | None,
    events: Sequence[SchemaChangeEvent],
    behavior: SchemaChangeBehavior = SchemaChangeBehavior.LENIENT,
    included_types: set[str] | None = None,
    excluded_types: set[str] | None = None,
) -> list[SchemaChangeEvent]:
    """Behavior rewrite + fine-grained include/exclude filters.

    Parity: ``SchemaDerivator.normalizeSchemaChangeEvents`` (:154-180) +
    ``rewriteSchemaChangeEvents`` (:183-204). CreateTable survives IGNORE.
    """
    if behavior in (SchemaChangeBehavior.EVOLVE, SchemaChangeBehavior.TRY_EVOLVE,
                    SchemaChangeBehavior.EXCEPTION):
        rewritten = list(events)
    elif behavior == SchemaChangeBehavior.LENIENT:
        rewritten = []
        schema = old_schema
        for e in events:
            if isinstance(e, CreateTableEvent):
                rewritten.append(e)
            else:
                rewritten.extend(lenientize(schema, e))
            schema = apply_schema_change_event(schema, e)
    elif behavior == SchemaChangeBehavior.IGNORE:
        rewritten = [e for e in events if isinstance(e, CreateTableEvent)]
    else:  # pragma: no cover
        raise ValueError(behavior)

    def allowed(e: SchemaChangeEvent) -> bool:
        t = e.event_type().lower()
        if excluded_types and t in excluded_types:
            return False
        if included_types is not None and t not in included_types:
            return False
        return True

    return [e for e in rewritten if allowed(e)]


# ---------------------------------------------------------------------------
# 3. Schema merging across tables (route N:1 merge)
# ---------------------------------------------------------------------------

def get_common_schema(schemas: Sequence[Schema]) -> Schema:
    """Widest common schema: union of columns by name (first-seen order),
    types widened via the merging lattice, a column missing from any input
    becomes nullable.

    Parity: ``SchemaMergingUtils.getCommonSchema`` (:177) +
    ``SchemaDerivator.deduceMergedCreateTableEvent`` (:347-389). Primary keys
    are kept only if identical across all inputs (reference keeps the first
    table's keys; we require consistency and fall back to the first's).
    """
    if not schemas:
        raise ValueError("no schemas to merge")
    if len(schemas) == 1:
        return schemas[0]
    order: list[str] = []
    types: dict[str, T.DataType] = {}
    nullable: dict[str, bool] = {}
    seen_in: dict[str, int] = {}
    extras: dict[str, Column] = {}  # first declaration: default/comment/zoned
    for s in schemas:
        for c in s.columns:
            if c.name not in types:
                order.append(c.name)
                types[c.name] = c.data_type
                nullable[c.name] = c.nullable
                seen_in[c.name] = 1
                extras[c.name] = c
            else:
                types[c.name] = get_least_common_type(types[c.name], c.data_type)
                nullable[c.name] = nullable[c.name] or c.nullable
                seen_in[c.name] += 1
    n = len(schemas)
    cols = [
        Column(name, types[name], nullable[name] or seen_in[name] < n,
               comment=extras[name].comment,
               default_expr=extras[name].default_expr,
               zoned=extras[name].zoned)
        for name in order
    ]
    return Schema(
        columns=tuple(cols),
        primary_keys=schemas[0].primary_keys,
        partition_keys=schemas[0].partition_keys,
        options=schemas[0].options,
    )


# ---------------------------------------------------------------------------
# 4. Row coercion — the data-plane half, as a single Catalyst select
# ---------------------------------------------------------------------------

def coercion_select(df: DataFrame, target: Schema, keep_extra: Sequence[str] = ()) -> DataFrame:
    """Project ``df`` onto ``target``: cast widened columns, fill missing
    ones with their declared default expression (null when none), drop
    unknown ones; envelope columns in ``keep_extra`` pass through untouched.

    Parity: ``SchemaMergingUtils.coerceRow`` (:258-323) /
    ``SchemaDerivator.coerceDataRecord`` (:298-344); default-value fill
    mirrors ``PhysicalColumn.defaultValueExpression`` applied on ADD COLUMN.
    Expressed declaratively so Catalyst folds it into the surrounding stage
    (no shuffle, codegen'd).
    """
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for c in target.columns:
        if c.name in have:
            if have[c.name] == c.data_type:
                cols.append(F.col(c.name))
            else:
                cols.append(F.col(c.name).cast(c.data_type).alias(c.name))
        elif c.default_expr is not None:
            cols.append(F.expr(str(c.default_expr)).cast(c.data_type).alias(c.name))
        else:
            cols.append(F.lit(None).cast(c.data_type).alias(c.name))
    for extra in keep_extra:
        if extra in have:
            cols.append(F.col(extra))
    return df.select(*cols)


def is_schema_compatible(current: Schema | None, upcoming: Schema) -> bool:
    """True if rows of ``upcoming`` can be written into ``current`` without
    evolution (every upcoming column exists with a compatible type)."""
    if current is None:
        return False
    cur = {c.name: c.data_type for c in current.columns}
    return all(is_type_compatible(cur.get(c.name), c.data_type) for c in upcoming.columns)
