"""Parquet directory sink with bucketed PK-upsert merge — the scalable local sink.

Parity target: the changelog-applying sinks (doris/starrocks/paimon/iceberg
writers) whose contract is: upsert +I/+U by primary key, delete on -D,
idempotent per batch replay. Without Delta Lake in this environment we
implement copy-on-write merge over **bucket-partitioned** parquet:

- state lives at ``<root>/<table_id>/data/bucket=<b>/`` — hash-bucketed by
  primary key (the same portable bucket hash the PrePartition operator uses);
- a batch is applied as: reduce batch to final image per key → compute the
  set of TOUCHED buckets → read only those buckets (partition pruning) →
  anti-join out old versions of batch keys → union new images (minus
  deletes) → overwrite only those bucket directories (dynamic partition
  overwrite);
- an atomically renamed ``_batch_<id>`` marker makes replay idempotent.

Scale math: with B buckets and a batch touching k keys, the rewrite is
O(B_touched/B · table) instead of O(table); at 100 TB with B=1024 and a
typical CDC batch touching a few hundred buckets, the merge reads/writes a
bounded slice. This is the same physical shape as Delta/Iceberg MERGE
copy-on-write with file-level pruning; bucket count is the knob
(``num_buckets``), mirroring Paimon's bucket option in the reference's sink.
"""

from __future__ import annotations

import os

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


class _ParquetMetadataApplier(MetadataApplier):
    """DDL on a parquet directory = schema registry bookkeeping only; data
    files are coerced on read (schema-on-read), so ALTERs are free and
    existing files stay valid (null-fill on evolution)."""

    def __init__(self, sink: "ParquetUpsertSink"):
        self.sink = sink

    def apply_schema_change(self, table_id: TableId, event: SchemaChangeEvent,
                            evolved_schema: Schema) -> None:
        import shutil

        if isinstance(event, DropTableEvent):
            shutil.rmtree(self.sink._table_dir(table_id), ignore_errors=True)
            return
        if isinstance(event, TruncateTableEvent):
            # data files go, schema and batch markers stay (a replayed
            # pre-truncate batch must NOT resurrect rows)
            shutil.rmtree(self.sink._data_dir(table_id), ignore_errors=True)
            return
        path = self.sink._schema_path(table_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        atomic_write(path, evolved_schema.to_json())


class ParquetUpsertSink(DataSink):
    def __init__(self, root: str, num_buckets: int = 32):
        self.root = root
        self.num_buckets = num_buckets

    def _table_dir(self, table_id: TableId) -> str:
        return os.path.join(self.root, table_id.identifier())

    def _data_dir(self, table_id: TableId) -> str:
        return os.path.join(self._table_dir(table_id), "data")

    def _schema_path(self, table_id: TableId) -> str:
        return os.path.join(self._table_dir(table_id), "_schema.json")

    def metadata_applier(self) -> MetadataApplier:
        return _ParquetMetadataApplier(self)

    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")

    @staticmethod
    def _file_schema(schema: Schema) -> T.StructType:
        """Read schema of the data files: the evolved table schema plus the
        bucket partition column. Files written before a widening or an ADD
        COLUMN read through it (widened, null-filled) — mergeSchema would
        refuse int and bigint files of one column."""
        return schema.struct_type().add(_BUCKET_COL, T.LongType())

    def _bucket_of(self, df: DataFrame, pks: list[str]):
        # numeric single PK: portable multiplicative hash (oracle-checkable,
        # matches the PrePartition operator); any other key shape: Spark's
        # hash — casting a string PK to bigint would yield NULL and funnel
        # the whole table into bucket 0.
        if len(pks) == 1 and dict(df.dtypes).get(pks[0]) in self._INTEGRAL:
            key = F.coalesce(F.col(pks[0]).cast("bigint"), F.lit(0))
        else:
            key = F.abs(F.hash(*pks).cast("bigint"))
        return portable_bucket_expr(key, self.num_buckets)

    def write(self, table_id: TableId, df: DataFrame, schema: Schema, batch_id: int) -> None:
        tdir = self._table_dir(table_id)
        data_dir = self._data_dir(table_id)
        marker = os.path.join(tdir, f"_batch_{batch_id}")
        if os.path.exists(marker):
            return  # replayed batch: already applied (idempotence)
        os.makedirs(tdir, exist_ok=True)
        spark = df.sparkSession

        pks = [k for k in schema.primary_keys if k in df.columns]
        names = [c.name for c in schema.columns if c.name in df.columns]
        has_op = OP_COL in df.columns

        if not pks or not has_op:
            # append-only path (no PK / pure inserts): still bucket-partition
            # the layout when a PK exists so later upserts can prune
            out = df.select(*names, *([OP_COL] if has_op else []))
            if has_op:
                # PK-less changelog: -D/-U rows carry BEFORE images — without
                # a key there is nothing to retract against, and appending
                # them would resurrect deleted rows as live data (the
                # reference's upsert sinks require a key for changelogs)
                out = out.where(~F.col(OP_COL).isin("-D", "-U")).drop(OP_COL)
            if pks:
                out = out.withColumn(_BUCKET_COL, self._bucket_of(out, pks))
                self._write_bucketed(out, "append", data_dir)
            else:
                out.write.mode("append").parquet(data_dir)
        else:
            self._merge(spark, df, data_dir, pks, names, schema)
        atomic_write(marker, "ok")

    @staticmethod
    def _write_bucketed(df: DataFrame, mode: str, data_dir: str,
                        dynamic: bool = False) -> None:
        """partitionBy(bucket) write with ONE file per bucket: without the
        keyed repartition, every shuffle task holds a mix of buckets and
        the write emits tasks×buckets small files (590 files for a 15k-row
        table in the round-3 profile) — bloating later listing/mergeSchema
        reads. The repartition is the standard write-distribution step
        (Delta optimized writes / Paimon write-buffer do the same)."""
        w = df.repartition(F.col(_BUCKET_COL)).write.mode(mode)
        if dynamic:
            # per-write option, NOT spark.conf.set — mutating the session
            # conf would affect unrelated overwrite-with-partitionBy writes
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy(_BUCKET_COL).parquet(data_dir)

    def _merge(self, spark: SparkSession, df: DataFrame, data_dir: str,
               pks: list[str], names: list[str], schema: Schema) -> None:
        from ..streaming.materialize import latest_image

        batch_final = latest_image(
            df, pks, seq_col=SEQ_COL if SEQ_COL in df.columns else None,
            keep_delete_marker=True)
        batch_final = batch_final.withColumn(_BUCKET_COL, self._bucket_of(batch_final, pks))
        if not os.path.exists(data_dir):
            # first commit: no merge, so no persist and no touched-bucket
            # collect either (optimization r11 — they were computed before
            # this branch and unused by it: one wasted full-batch job)
            self._write_bucketed(
                batch_final.where(F.col(OP_COL) != "-D")
                .select(*names, _BUCKET_COL), "overwrite", data_dir)
            return
        batch_final = batch_final.persist()
        try:
            touched = [r[0] for r in batch_final.select(_BUCKET_COL).distinct().collect()]
            out_cols = names + [_BUCKET_COL]
            current = (
                spark.read.schema(self._file_schema(schema))
                .option("basePath", data_dir).parquet(data_dir)
                .where(F.col(_BUCKET_COL).isin(touched))
                .select(*out_cols)
            )
            merged = (
                current.join(batch_final.select(*pks), on=pks, how="left_anti")
                .unionByName(
                    batch_final.where(F.col(OP_COL) != "-D").select(*out_cols),
                    allowMissingColumns=True)
            )
            # staged write-then-move (optimization r11, guide §2.4/§5):
            # write the merged touched buckets ONCE to a staging dir, then
            # swap every touched bucket dir for what was staged.  This
            # replaces the previous persist + distinct().collect() +
            # dynamic-partition-overwrite sequence (two materializations
            # of `merged`) with a single pass, and the all-rows-deleted
            # bucket case (dynamic overwrite writes nothing and would
            # resurrect old data) is handled by the swap itself: a bucket
            # with no staged dir is simply removed.
            import shutil
            import uuid as _uuid

            staging = "%s.stage-%d-%s" % (data_dir.rstrip("/"), os.getpid(),
                                          _uuid.uuid4().hex[:8])
            (merged.repartition(F.col(_BUCKET_COL)).write.mode("overwrite")
             .partitionBy(_BUCKET_COL).parquet(staging))
            try:
                staged = [d for d in os.listdir(staging)
                          if d.startswith(f"{_BUCKET_COL}=")]
                for b in touched:
                    d = os.path.join(data_dir, f"{_BUCKET_COL}={b}")
                    if os.path.exists(d):
                        shutil.rmtree(d)
                for d in staged:  # staged buckets ⊆ touched (merged holds
                    os.rename(os.path.join(staging, d),  # only touched)
                              os.path.join(data_dir, d))
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        finally:
            batch_final.unpersist()

    def compact(self, spark: SparkSession, table_id: TableId,
                target_files_per_bucket: int = 1) -> None:
        """Small-file compaction: rewrite each bucket directory down to
        ``target_files_per_bucket`` parquet files. Long-running CDC upserts
        accumulate one file set per touched batch; compaction is the
        standard background maintenance (Delta OPTIMIZE / Paimon compaction
        analog). Buckets compact independently, so at scale this can run on
        a slice of buckets per pass."""
        import shutil

        data_dir = self._data_dir(table_id)
        if not os.path.exists(data_dir):
            return
        for d in sorted(os.listdir(data_dir)):
            if not d.startswith(f"{_BUCKET_COL}="):
                continue
            bucket_dir = os.path.join(data_dir, d)
            files = [x for x in os.listdir(bucket_dir) if x.endswith(".parquet")]
            if len(files) <= target_files_per_bucket:
                continue
            tmp = bucket_dir + ".compact_tmp"
            (spark.read.parquet(bucket_dir)
             .coalesce(target_files_per_bucket)
             .write.mode("overwrite").parquet(tmp))
            shutil.rmtree(bucket_dir)
            os.rename(tmp, bucket_dir)

    def read(self, spark: SparkSession, table_id: TableId) -> DataFrame:
        data_dir = self._data_dir(table_id)
        has_data = os.path.exists(data_dir) and any(
            files for _, _, files in os.walk(data_dir)
            for f in [files] if any(x.endswith(".parquet") for x in f))
        # the evolved schema from the registry sidecar (absent when the
        # sink is written without its metadata applier): older files widen
        # and null-fill to it, and column order follows the registry
        schema = None
        if os.path.exists(self._schema_path(table_id)):
            with open(self._schema_path(table_id)) as f:
                schema = Schema.from_json(f.read())
        if not has_data:
            # fully-deleted (or never-written) table: empty frame
            return spark.createDataFrame([], schema.struct_type())
        reader = (spark.read.schema(self._file_schema(schema)) if schema
                  else spark.read)
        return reader.parquet(data_dir).drop(_BUCKET_COL)
