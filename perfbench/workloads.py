"""The closed-loop workloads.

A round lands one pre-generated input file and then drains it: the CDC
workload composes its YAML pipeline with ``PipelineComposer`` and runs
``StreamingPipeline.start`` until ``awaitTermination`` returns (the engine
triggers with ``availableNow``, so it is deployed as a scheduled drain);
``neardup_corpus`` runs one MinHash and one SRP pass over its corpus. The
next round starts only after the previous one returned.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

import gen
import oracle

ORDERS_DDL = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING, "
              "o_qty INT, o_comment STRING")
ORDERS_AFTER = ("STRUCT(o_orderkey BIGINT, o_custkey BIGINT, "
                "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate DATE, "
                "o_orderpriority VARCHAR, o_qty BIGINT, o_comment VARCHAR)")


class Workload:
    """One workload: inputs, a set-up, rounds, a read and an oracle."""

    name = ""
    #: untimed rounds after the first one, before the measured window
    warmup_rounds = 1
    #: untimed reads after them: the first read of a session runs cold
    warmup_reads = 1
    #: nominal wall time of a warm round and of a read on 4 cores; they
    #: turn ``--seconds`` into the window's round and read counts
    round_s = 1.0
    read_s = 1.0
    #: set-ups per run; setup_s is their median
    setups = 9

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.staged = os.path.join(work, "staged")
        self.run_dir = ""
        self.landed: list[str] = []
        self.records: list[int] = []  # input records per staged round
        #: StreamingQuery.recentProgress of the last round (upsert_stream)
        self.last_progress: list[dict] = []
        self.run_ids: set[str] = set()
        self.rounds_run = 0

    # -- overridden per workload -------------------------------------------
    def generate(self, n_rounds: int) -> None:
        raise NotImplementedError

    def setup(self, spark, run_dir: str) -> None:
        """Everything before the first round, in a fresh ``run_dir``."""
        raise NotImplementedError

    def round(self, spark) -> None:
        """Process input ``rounds_run`` (``records[rounds_run]`` records)."""
        raise NotImplementedError

    def read(self, spark) -> None:
        raise NotImplementedError

    def check(self, spark) -> int:
        """Oracle mismatches of the current output (0 = correct)."""
        raise NotImplementedError

    def layer_stats(self, spark) -> dict[str, float]:
        return {}

    # -- shared --------------------------------------------------------------
    def begin(self, run_dir: str) -> None:
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        self.run_dir = run_dir
        self.landed = []
        self.rounds_run = 0


def _lines(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


# -- upsert_stream ---------------------------------------------------------------

UPSERT_PROJECTION = ("o_orderkey, o_custkey, o_totalprice, "
                     "UPPER(o_orderstatus) AS status, o_orderdate, "
                     "o_orderpriority")
UPSERT_FILTER = "o_custkey % 7 <> 0"
UPSERT_SRC, UPSERT_SINK = "bench.sales.orders", "lake.sales.orders_mirror"


class UpsertStream(Workload):
    """Debezium-JSON orders churn through projection+filter and a route
    rename into the merge-on-read lake sink, then PK, full and changelog
    reads of the lake table."""

    name = "upsert_stream"
    #: a small snapshot and ~15k changes per churn round (15k updates, 200
    #: deletes, 200 inserts): the round, not the snapshot, is what is timed
    n_keys = 20_000
    update_share = 0.75
    round_s = 2.0
    read_s = 2.7
    #: each round plans and compiles a new query, and its CPU keeps falling
    #: for dozens of rounds while the JIT compiles the planner; the
    #: warm-up takes the steepest part of that curve
    warmup_rounds = 3

    def generate(self, n_rounds: int) -> None:
        files = gen.upsert_stream_inputs(self.seed, self.staged, self.n_keys,
                                         n_rounds, self.update_share)
        self.records = [_lines(f) for f in files]

    def yaml(self, run_dir: str) -> str:
        return f"""
source:
  type: debezium-file
  path: {run_dir}/in
  checkpoint: {run_dir}/ckpt
  tables: '{json.dumps({UPSERT_SRC: ORDERS_DDL})}'
  primary-keys: '{json.dumps({UPSERT_SRC: ["o_orderkey"]})}'
sink:
  type: paimon
  path: {run_dir}/sink
  snapshots: true
  changelog-mode: mor
transform:
  - source-table: {UPSERT_SRC}
    projection: "{UPSERT_PROJECTION}"
    filter: "{UPSERT_FILTER}"
route:
  - source-table: {UPSERT_SRC}
    sink-table: {UPSERT_SINK}
"""

    def pdef(self, run_dir: str):
        from source_flink_cdc_3_5_0_spark.pipeline import parse_yaml_pipeline

        return parse_yaml_pipeline(self.yaml(run_dir))

    def setup(self, spark, run_dir: str) -> None:
        """Compose the pipeline and start it on an empty input directory:
        it registers its tables, writes its first checkpoint and drains
        nothing, so it is ready for its first batch."""
        from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer

        os.makedirs(os.path.join(run_dir, "in"), exist_ok=True)
        pipe, raw, tables = PipelineComposer(spark).compose_streaming(
            self.pdef(run_dir))
        q = pipe.start(raw, tables)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"set-up: {q.exception()}")

    def round(self, spark) -> None:
        from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer

        # land the round whole: a hard link appears atomically
        name = sorted(os.listdir(self.staged))[self.rounds_run]
        os.makedirs(os.path.join(self.run_dir, "in"), exist_ok=True)
        os.link(os.path.join(self.staged, name),
                os.path.join(self.run_dir, "in", name))
        self.landed.append(os.path.join(self.staged, name))
        pipe, raw, tables = PipelineComposer(spark).compose_streaming(
            self.pdef(self.run_dir))
        q = pipe.start(raw, tables)
        self.run_ids.add(str(q.runId))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"round {self.rounds_run}: {q.exception()}")
        self.last_progress = q.recentProgress
        self.rounds_run += 1

    def sink_dir(self) -> str:
        return os.path.join(self.run_dir, "sink")

    def layer_stats(self, spark) -> dict[str, float]:
        sink, tid = self._sink()
        total = len(sink.read(spark, tid).inputFiles())
        kept = len(sink.read(spark, tid, filters=[
            ("o_orderkey", "=", self._probe_key())]).inputFiles())
        data = meta = files = 0
        for root, _dirs, names in os.walk(self.sink_dir()):
            for nm in names:
                size = os.path.getsize(os.path.join(root, nm))
                if nm.endswith(".parquet"):
                    files += 1
                    data += size
                else:
                    meta += size
        return {"sinks.files_written": files, "sinks.bytes_written": data,
                "sinks.meta_bytes": meta,
                "sinks.scan_kept_ratio": kept / total if total else 0.0}

    def _sink(self):
        from source_flink_cdc_3_5_0_spark.common.tableid import TableId
        from source_flink_cdc_3_5_0_spark.sinks.lakehouse import (
            SnapshotLakeSink)

        tid = TableId.parse(UPSERT_SINK)
        return SnapshotLakeSink.for_table(self.sink_dir(), tid), tid

    def _probe_key(self) -> int:
        return 1 + self.seed * 7919 % self.n_keys

    def read(self, spark) -> None:
        sink, tid = self._sink()
        with self.tracer.span("sinks", "sinks.read_ms"):
            sink.read(spark, tid, filters=[
                ("o_orderkey", "=", self._probe_key())]).collect()
            sink.read(spark, tid).agg(F.count(F.lit(1)),
                                      F.sum("o_totalprice")).collect()
            snaps = sink.snapshots(tid)
            sink.read_changes(spark, tid, snaps[max(0, len(snaps) - 4)]) \
                .agg(F.count(F.lit(1))).collect()

    def check(self, spark) -> int:
        import duckdb

        sink, tid = self._sink()
        cols = ["o_orderkey", "o_custkey", "o_totalprice", "status",
                "o_orderdate", "o_orderpriority"]
        got = sink.read(spark, tid).select(*cols).toPandas()
        con = duckdb.connect()
        try:
            want = oracle.replay_debezium(
                con, self.landed, ORDERS_AFTER, "o_orderkey",
                UPSERT_PROJECTION, UPSERT_FILTER)
        finally:
            con.close()
        return oracle.diff(oracle.rows_of(want, cols), oracle.rows_of(got, cols))


# -- neardup_corpus ----------------------------------------------------------------

class NeardupCorpus(Workload):
    """One MinHash-LSH pass over the documents and one SRP pass over the
    embeddings per round, each writing its pair list; the read is the pair
    lists read back."""

    name = "neardup_corpus"
    warmup_rounds = 2
    warmup_reads = 3
    setups = 5
    round_s = 3.0
    read_s = 0.5
    n_base = 3000
    families = 100
    replicas = 4

    def generate(self, n_rounds: int) -> None:
        (self.docs, self.vecs, self.doc_pairs, self.vec_pairs, n_docs,
         n_vecs) = gen.neardup_inputs(self.seed, self.staged, self.n_base,
                                      self.families, self.replicas)
        self.records = [n_docs + n_vecs] * (n_rounds + 1)
        self.pairs_out = 0

    def setup(self, spark, run_dir: str) -> None:
        """Build the corpus's MinHash signature store, the state an
        incremental dedup keeps, and resolve the embeddings scan."""
        from source_flink_cdc_3_5_0_spark.extensions import dedup

        dedup.build_signature_store(spark.read.parquet(self.docs),
                                    os.path.join(run_dir, "signatures"))
        spark.read.parquet(self.vecs).schema  # noqa: B018 - resolves the scan

    def round(self, spark) -> None:
        from source_flink_cdc_3_5_0_spark.extensions import dedup

        out = os.path.join(self.run_dir, "pairs")
        with self.tracer.span("extensions", "extensions.minhash_ms"):
            dedup.minhash_lsh_pairs(spark.read.parquet(self.docs)) \
                .select("id_a", "id_b").write.mode("overwrite") \
                .parquet(os.path.join(out, "minhash"))
        with self.tracer.span("extensions", "extensions.srp_ms"):
            dedup.srp_neardup_pairs(spark.read.parquet(self.vecs),
                                    min_cosine=0.999) \
                .select("id_a", "id_b").write.mode("overwrite") \
                .parquet(os.path.join(out, "srp"))
        self.rounds_run += 1

    def _pairs(self, spark, which: str):
        return spark.read.parquet(
            os.path.join(self.run_dir, "pairs", which)).collect()

    def read(self, spark) -> None:
        with self.tracer.span("extensions", "extensions.read_ms"):
            self.pairs_out = len(self._pairs(spark, "minhash")) + \
                len(self._pairs(spark, "srp"))

    def check(self, spark) -> int:
        return (oracle.check_pairs(self._pairs(spark, "minhash"),
                                   self.doc_pairs)
                + oracle.check_pairs(self._pairs(spark, "srp"),
                                     self.vec_pairs))

    def layer_stats(self, spark) -> dict[str, float]:
        return {"extensions.pairs_out": self.pairs_out}


WORKLOADS = {w.name: w for w in (UpsertStream, NeardupCorpus)}
