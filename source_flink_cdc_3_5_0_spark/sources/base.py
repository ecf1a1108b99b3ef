"""Source abstraction + the changelog envelope convention.

Parity target: ``DataSource`` / ``EventSourceProvider``
(flink-cdc-common/.../source/DataSource.java) — a source announces tables
(CreateTableEvents) and emits change events.

**Envelope convention (the data plane).** A change batch for one table is a
DataFrame whose columns are the table's physical columns (the *after* image;
for ``-D`` rows they carry the *before/deleted* image, like Debezium's
flattened output) plus:

- ``__op``     STRING in ('+I','-U','+U','-D') — omitted for pure-snapshot
               batches (all rows implicitly '+I');
- ``__before`` STRUCT of the physical columns — present only when the source
               ships update before-images (MySQL binlog does);
- ``__meta``   MAP<STRING,STRING> — connector metadata (e.g. MySQL ``op_ts``);
- ``__seq``    BIGINT monotone per-key sequence (binlog position / batch
               ordinal) — required by changelog materialization to order
               events of one key. Sources that cannot provide it get one from
               the runner's batch counter.

Keeping the envelope *flat* (after-image as top-level columns, not nested in
a struct) is deliberate: Catalyst predicate pushdown, column pruning and
whole-stage codegen all see plain columns, so a projection/filter transform
compiles to a vanilla scan→project→filter plan with pushed filters.
"""

from __future__ import annotations

import abc
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..common.events import CreateTableEvent, SchemaChangeEvent, OP_COL, BEFORE_COL, META_COL
from ..common.schema import Schema
from ..common.tableid import TableId

SEQ_COL = "__seq"
ENVELOPE = (OP_COL, BEFORE_COL, META_COL, SEQ_COL)


@dataclass
class ChangeBatch:
    """One (micro-)batch for one table: schema events first, then data."""

    table_id: TableId
    schema_events: list[SchemaChangeEvent]
    data: DataFrame | None  # None when the batch is schema-only


class DataSource(abc.ABC):
    """A CDC source: announces tables and yields change batches."""

    @abc.abstractmethod
    def create_table_events(self, spark: SparkSession) -> list[CreateTableEvent]:
        ...

    @abc.abstractmethod
    def batches(self, spark: SparkSession) -> Iterator[list[ChangeBatch]]:
        """Yield successive batch-sets; one list element per table per batch.
        Batch boundaries are the schema-evolution barriers (§3.3 analog)."""
        ...

def attach_envelope(df: DataFrame, op: str = "+I", seq: int = 0) -> DataFrame:
    """Stamp snapshot rows with envelope columns (constant op + seq)."""
    out = df
    if OP_COL not in out.columns:
        out = out.withColumn(OP_COL, F.lit(op))
    if SEQ_COL not in out.columns:
        out = out.withColumn(SEQ_COL, F.lit(seq).cast("bigint"))
    return out


def strip_envelope(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in ENVELOPE if c in df.columns])


_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length long, content binary")


def binary_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming reader over opaque capture files (binlog / pgoutput):
    new files under ``path`` become micro-batches; Structured Streaming's
    file tracking is the offset store (consumed files never re-deliver
    across restarts)."""
    return (spark.readStream.format("binaryFile")
            .schema(_BINARY_FILE_SCHEMA).load(path))


def binary_files(spark: SparkSession, path: str) -> DataFrame:
    """Batch variant of :func:`binary_file_stream`."""
    return spark.read.format("binaryFile").load(path)


def hex_pair_seq(commit_hex, intra_hex, opcode, *, before_code: int):
    """Monotone int64 ``__seq`` from fixed-width-hex (commit, intra-txn)
    positions plus an update-before bit: low 44 bits of the commit
    position (11 hex chars), low 18 of the intra-transaction sequence,
    and 0 for the before-image opcode so -U orders before +U. Shared by
    the SQL Server and Db2 change-table decodes."""
    from pyspark.sql import functions as F

    c = F.conv(F.substring(commit_hex, -11, 11), 16, 10).cast("long")
    i = F.conv(F.substring(intra_hex, -5, 5), 16, 10).cast("long") \
        .bitwiseAND(F.lit((1 << 18) - 1))
    op_bit = F.when(opcode == before_code, F.lit(0)).otherwise(F.lit(1))
    return (F.shiftleft(c, 19) + F.shiftleft(i, 1) + op_bit).cast("long")
