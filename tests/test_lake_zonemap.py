"""Zone-map file skipping, clustered compaction, incremental reads.

Parity target: Iceberg manifest column bounds / Paimon file statistics
(what `rewrite_data_files` + min-max pruning give a 100-TB table), and
Paimon streaming read / Iceberg incremental scan for `read_changes`.
The stats are harvested from parquet footers at commit time (driver-side,
O(new files)); pruning must be conservative — these tests pin both the
pruning wins and the can't-prune cases.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from source_flink_cdc_3_5_0_spark.common.events import (CreateTableEvent,
                                                        OP_COL)
from source_flink_cdc_3_5_0_spark.common.schema import Schema
from source_flink_cdc_3_5_0_spark.common.tableid import TableId
from source_flink_cdc_3_5_0_spark.sinks.lakehouse import (SnapshotLakeSink,
                                                          _file_excluded)
from source_flink_cdc_3_5_0_spark.sources.base import SEQ_COL, attach_envelope

SF = "/root/testdata/sf0.001"


def _mk(spark, tmp_path, mode="cow", num_buckets=4, **sink_kw):
    ev = (spark.read.parquet(os.path.join(SF, "events.parquet"))
          .select("event_id", "ts", "user_id", "event_type", "value"))
    tid = TableId.parse("lake.db.events")
    schema = Schema.from_struct_type(ev.schema, primary_keys=["event_id"])
    sink = SnapshotLakeSink(str(tmp_path / mode), num_buckets=num_buckets,
                            mode=mode, **sink_kw)
    sink.metadata_applier().apply_schema_change(
        tid, CreateTableEvent(tid, schema), schema)
    sink.write(tid, attach_envelope(ev, "+I", seq=0), schema, batch_id=0)
    return sink, tid, schema, ev


class TestZoneMaps:
    def test_manifest_carries_footer_stats(self, spark, tmp_path):
        sink, tid, _, ev = _mk(spark, tmp_path)
        m = sink._manifest(tid)
        rels = [p for fs in m["buckets"].values() for p in fs]
        stats = sink.file_stats(tid)
        assert rels and set(rels) <= set(stats)
        st = stats[rels[0]]
        assert st["rows"] > 0
        assert st["cols"]["event_id"]["t"] == "n"
        assert st["cols"]["ts"]["t"] == "ts"
        assert st["cols"]["event_type"]["t"] == "s"

    def test_stats_shards_are_o_new_files(self, spark, tmp_path):
        """Each commit's shard holds only ITS new files (Iceberg
        manifest-list shape): a commit touching one bucket must not
        re-serialize the carried buckets' stats, and old shards are
        immutable."""
        from source_flink_cdc_3_5_0_spark.operators.partitioning import \
            portable_bucket_py

        sink, tid, schema, ev = _mk(spark, tmp_path)
        m1 = sink._manifest(tid)
        shards1 = m1["stats_shards"]
        assert len(shards1) == 1
        sizes1 = {s: os.path.getsize(os.path.join(sink._stats_dir(tid), s))
                  for s in shards1}
        # fresh ids confined to bucket 0 so other buckets carry forward
        ids = [v for v in range(70000, 71000)
               if portable_bucket_py(v, sink.num_buckets) == 0][:10]
        fresh = (spark.createDataFrame([(v,) for v in ids], "event_id long")
                 .crossJoin(ev.limit(1).drop("event_id"))
                 .select(*ev.columns))
        sink.write(tid, attach_envelope(fresh, "+I", seq=1), schema,
                   batch_id=1)
        m2 = sink._manifest(tid)
        shards2 = m2["stats_shards"]
        assert shards2[:1] == shards1 and len(shards2) == 2
        # first shard untouched byte-for-byte; second covers only the
        # files the second commit wrote
        assert os.path.getsize(os.path.join(
            sink._stats_dir(tid), shards1[0])) == sizes1[shards1[0]]
        new_shard = sink._load_shard(tid, shards2[1])
        rels2 = {p for fs in m2["buckets"].values() for p in fs}
        rels1 = {p for fs in m1["buckets"].values() for p in fs}
        assert set(new_shard) <= rels2
        assert not (set(new_shard) & rels1 & rels2)

    def test_full_rewrite_resets_shard_chain(self, spark, tmp_path):
        """Compaction rewrites every live file, so the new manifest's
        shard list starts over — shard-ref growth is bounded by commits
        since the last full compaction, not table lifetime."""
        sink, tid, schema, ev = _mk(spark, tmp_path)
        assert len(sink._manifest(tid)["stats_shards"]) == 1
        sink.compact(spark, tid)
        m = sink._manifest(tid)
        assert len(m["stats_shards"]) == 1  # reset, not appended
        assert set(sink.file_stats(tid)) == \
            {p for fs in m["buckets"].values() for p in fs}

    def test_vacuum_reclaims_unreferenced_shards_after_grace(
            self, spark, tmp_path):
        """A stats shard no snapshot references (an in-flight commit's,
        or a lost commit race's) survives vacuum's one-hour grace; the
        shard of an EXPIRED snapshot goes at once, like its data files."""
        import time

        sink, tid, schema, ev = _mk(spark, tmp_path)
        sdir = sink._stats_dir(tid)
        [first] = sink._manifest(tid)["stats_shards"]
        orphan = os.path.join(sdir, "s9_0_inflight.json")
        with open(orphan, "w") as f:
            f.write("{}")
        sink.compact(spark, tid)  # full rewrite: chain reset, old shard dead
        assert first in os.listdir(sdir) and len(os.listdir(sdir)) == 3
        sink.vacuum(tid, keep_last=1)
        live = set(sink._manifest(tid).get("stats_shards") or [])
        # the expired snapshot's shard is gone; the young orphan survives
        # the in-flight-commit grace
        assert set(os.listdir(sdir)) == live | {"s9_0_inflight.json"}
        old = time.time() - 7200
        os.utime(orphan, (old, old))
        sink.vacuum(tid, keep_last=1)
        assert set(os.listdir(sdir)) == live
        # pruning still works off the shards after vacuum
        sink._shard_cache.clear()
        assert sink.read(spark, tid).count() == ev.count()

    def test_keep_one_table_bounds_its_stats_shards(self, spark, tmp_path):
        """A keep-one copy-on-write table (the default ``path`` sink):
        32 buckets, 64 rows, then 40 single-row update commits.  Every
        shard the head carries still covers a live file, so the chain is
        bounded by the live files instead of growing by one shard per
        commit, and ``_stats/`` holds exactly the head's shards."""
        from pyspark.sql import types as T

        from source_flink_cdc_3_5_0_spark.common.schema import Column

        tid = TableId.parse("lake.db.kv")
        schema = Schema.of(Column("id", T.LongType(), False),
                           Column("v", T.StringType()), primary_keys=["id"])
        sink = SnapshotLakeSink(str(tmp_path / "kv"), num_buckets=32,
                                keep_last=1)
        sink.metadata_applier().apply_schema_change(
            tid, CreateTableEvent(tid, schema), schema)

        def commit(rows, bid):
            df = spark.createDataFrame(rows, "id long, v string")
            sink.write(tid, attach_envelope(df, "+U", seq=bid), schema,
                       batch_id=bid)
        commit([(k, "v0") for k in range(64)], 0)
        for i in range(40):
            commit([((i * 7) % 64, f"u{i}")], i + 1)
        m = sink._manifest(tid)
        live = {p for fs in m["buckets"].values() for p in fs}
        shards = m["stats_shards"]
        assert all(live & sink._load_shard(tid, sh).keys() for sh in shards)
        assert len(shards) <= len(live) <= 32
        assert set(os.listdir(sink._stats_dir(tid))) == set(shards)
        assert live <= set(sink.file_stats(tid))
        got = dict(sink.read(spark, tid, filters=[("id", "=", 14)])
                   .select("id", "v").collect())
        assert got == {14: "u2"}

    def test_commit_writes_only_touched_filelist_shards(
            self, spark, tmp_path):
        """The live-file LIST is sharded by bucket range like the stats
        (Iceberg manifest files under the manifest list): a commit
        confined to one bucket writes exactly ONE new file-list shard and
        carries every other shard forward by reference — commit
        control-plane is O(touched shards), never O(live files)."""
        from source_flink_cdc_3_5_0_spark.operators.partitioning import \
            portable_bucket_py

        sink, tid, schema, ev = _mk(spark, tmp_path,
                                    filelist_shard_span=1)
        refs1 = dict(sink._manifest_raw(tid)["file_shards"])
        fdir = sink._filelist_dir(tid)
        n_files1 = len(os.listdir(fdir))
        assert set(refs1.values()) <= set(os.listdir(fdir))
        ids = [v for v in range(70000, 71000)
               if portable_bucket_py(v, sink.num_buckets) == 0][:10]
        fresh = (spark.createDataFrame([(v,) for v in ids], "event_id long")
                 .crossJoin(ev.limit(1).drop("event_id"))
                 .select(*ev.columns))
        sink.write(tid, attach_envelope(fresh, "+I", seq=1), schema,
                   batch_id=1)
        refs2 = dict(sink._manifest_raw(tid)["file_shards"])
        # exactly one group rewritten; all others carried by reference
        assert refs2["0"] != refs1["0"]
        for g in refs1:
            if g != "0":
                assert refs2[g] == refs1[g]
        assert len(os.listdir(fdir)) == n_files1 + 1
        # resolved manifest unchanged in shape: full listing materializes
        m = sink._manifest(tid)
        assert set(ids) <= {r["event_id"]
                            for r in sink.read(spark, tid).collect()}
        assert sum(len(fs) for fs in m["buckets"].values()) == \
            len(set(p for fs in m["buckets"].values() for p in fs))

    def test_mor_delta_commit_touches_only_its_shards(self, spark, tmp_path):
        """A MoR churn batch confined to one bucket rewrites only that
        bucket's file-list shard (the delta listing lives in the same
        shard as its bucket's base files)."""
        from source_flink_cdc_3_5_0_spark.operators.partitioning import \
            portable_bucket_py

        sink, tid, schema, ev = _mk(spark, tmp_path, mode="mor",
                                    filelist_shard_span=1)
        refs1 = dict(sink._manifest_raw(tid)["file_shards"])
        one = ev.where(
            F.col("event_id").isin([r["event_id"] for r in
                                    ev.limit(50).collect()
                                    if portable_bucket_py(
                                        r["event_id"],
                                        sink.num_buckets) == 2][:5]))
        sink.write(tid, attach_envelope(one, "+U", seq=1), schema,
                   batch_id=1)
        refs2 = dict(sink._manifest_raw(tid)["file_shards"])
        assert refs2["2"] != refs1.get("2")
        for g in refs1:
            if g != "2":
                assert refs2[g] == refs1[g]

    def test_rollback_reuses_old_snapshots_shards(self, spark, tmp_path):
        """Rolling back to a snapshot whose content matches writes ZERO
        new file-list shards — the new manifest references the old
        snapshot's shards wholesale."""
        sink, tid, schema, ev = _mk(spark, tmp_path, filelist_shard_span=1)
        s0 = sink.snapshots(tid)[-1]
        refs0 = dict(sink._manifest_raw(tid, s0)["file_shards"])
        churn = (ev.limit(20).withColumn("value", F.col("value") + 1))
        sink.write(tid, attach_envelope(churn, "+U", seq=1), schema,
                   batch_id=1)
        fdir = sink._filelist_dir(tid)
        n_before = len(os.listdir(fdir))
        sink.rollback(tid, s0)
        assert len(os.listdir(fdir)) == n_before  # zero shard writes
        assert dict(sink._manifest_raw(tid)["file_shards"]) == refs0
        assert sink.read(spark, tid).count() == ev.count()

    def test_point_lookup_resolves_only_owning_shard(self, spark, tmp_path):
        """A PK point lookup reads ONLY the file-list shard group that
        owns the key's bucket — metadata cost O(touched shards), never
        O(live files) — and still returns exactly the right rows."""
        from source_flink_cdc_3_5_0_spark.operators.partitioning import \
            portable_bucket_py

        sink, tid, schema, ev = _mk(spark, tmp_path, filelist_shard_span=1)
        key = ev.limit(1).collect()[0]["event_id"]
        sink._filelist_cache.clear()
        rows = sink.read(spark, tid,
                         filters=[("event_id", "=", key)]).collect()
        assert len(rows) == 1 and rows[0]["event_id"] == key
        owning = str(portable_bucket_py(key, sink.num_buckets))
        refs = sink._manifest_raw(tid)["file_shards"]
        loaded = {s for (_, s) in sink._filelist_cache}
        assert loaded == {refs[owning]}, (loaded, refs)
        # a full read afterwards still resolves everything
        sink._filelist_cache.clear()
        assert sink.read(spark, tid).count() == ev.count()

    def test_span_change_reshards_on_next_commit(self, spark, tmp_path):
        """Re-opening a table with a different filelist_shard_span forces
        a full re-shard on the next commit, so the recorded span is true
        for every ref the new snapshot carries (pruned lookups depend on
        it)."""
        from source_flink_cdc_3_5_0_spark.sinks.lakehouse import (
            SnapshotLakeSink,
        )

        sink, tid, schema, ev = _mk(spark, tmp_path, filelist_shard_span=1)
        assert sink._manifest_raw(tid)["filelist_span"] == 1
        sink2 = SnapshotLakeSink(sink.root, num_buckets=sink.num_buckets,
                                 mode=sink.mode, filelist_shard_span=4)
        churn = ev.limit(5).withColumn("value", F.col("value") + 1)
        sink2.write(tid, attach_envelope(churn, "+U", seq=1), schema,
                    batch_id=1)
        raw = sink2._manifest_raw(tid)
        assert raw["filelist_span"] == 4
        # every group id valid under the NEW span (num_buckets=4, span=4
        # → single group "0")
        assert set(raw["file_shards"]) == {"0"}
        assert sink2.read(spark, tid).count() == ev.count()

    def test_vacuum_reclaims_dead_filelist_shards(self, spark, tmp_path):
        import time

        sink, tid, schema, ev = _mk(spark, tmp_path, filelist_shard_span=1)
        sink.compact(spark, tid)  # full rewrite: all old shards dead
        fdir = sink._filelist_dir(tid)
        n_all = len(os.listdir(fdir))
        sink.vacuum(tid, keep_last=1)
        assert len(os.listdir(fdir)) == n_all  # grace window holds
        for f in os.listdir(fdir):
            old = time.time() - 7200
            os.utime(os.path.join(fdir, f), (old, old))
        sink.vacuum(tid, keep_last=1)
        live = set(sink._manifest_raw(tid)["file_shards"].values())
        assert set(os.listdir(fdir)) == live
        sink._filelist_cache.clear()
        assert sink.read(spark, tid).count() == ev.count()

    def test_legacy_inline_manifest_reads_and_migrates(
            self, spark, tmp_path):
        """A pre-shard snapshot (inline buckets) still resolves, and the
        next commit migrates the listing into shards."""
        import json as _json

        sink, tid, schema, ev = _mk(spark, tmp_path, filelist_shard_span=1)
        seq = sink.snapshots(tid)[-1]
        m = sink._manifest(tid)
        # rewrite the snapshot doc as a legacy inline manifest
        legacy = {k: v for k, v in m.items() if k != "file_shards"}
        path = os.path.join(sink._snap_dir(tid), f"{seq}.json")
        with open(path, "w") as f:
            _json.dump(legacy, f)
        sink._filelist_cache.clear()
        assert sink._manifest(tid)["buckets"] == m["buckets"]
        assert sink.read(spark, tid).count() == ev.count()
        churn = ev.limit(10).withColumn("value", F.col("value") + 1)
        sink.write(tid, attach_envelope(churn, "+U", seq=1), schema,
                   batch_id=1)
        raw = sink._manifest_raw(tid)
        assert raw.get("file_shards")  # migrated
        assert "buckets" not in raw
        assert sink.read(spark, tid).count() == ev.count()

    def test_unclustered_scan_keeps_everything(self, spark, tmp_path):
        """Before clustering, event_id is scattered across files — a range
        predicate cannot prune (bounds overlap everywhere)."""
        sink, tid, _, _ = _mk(spark, tmp_path)
        kept, total = sink.scan_files(tid, filters=[("ts", ">=",
                                                     dt.datetime(2024, 1, 5))])
        assert total >= 4 and len(kept) == total

    def test_clustered_compaction_prunes_range_scan(self, spark, tmp_path):
        sink, tid, _, ev = _mk(spark, tmp_path)
        sink.compact(spark, tid, order_by=["ts"], files_per_bucket=4)
        lo = dt.datetime(2024, 1, 1)
        hi = dt.datetime(2024, 1, 2)
        kept, total = sink.scan_files(
            tid, filters=[("ts", ">=", lo), ("ts", "<", hi)])
        # 4 range files per bucket; a ~1-day slice of a multi-day table
        # must skip most of them
        assert total == 4 * sink.num_buckets
        assert len(kept) <= total // 2, (len(kept), total)
        got = sink.read(spark, tid,
                        filters=[("ts", ">=", lo), ("ts", "<", hi)])
        want = ev.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        assert sorted(r["event_id"] for r in got.collect()) == \
            sorted(r["event_id"] for r in want.collect())

    def test_filters_are_reapplied_not_just_pruned(self, spark, tmp_path):
        """Pruning is file-granular; the residual predicate must still drop
        the non-matching rows inside kept files."""
        sink, tid, _, ev = _mk(spark, tmp_path)
        got = sink.read(spark, tid, filters=[("event_type", "=", "click")])
        want = ev.where(F.col("event_type") == "click")
        assert got.count() == want.count() != ev.count()

    def test_equality_and_in_pruning(self, spark, tmp_path):
        sink, tid, _, _ = _mk(spark, tmp_path)
        sink.compact(spark, tid, order_by=["user_id"], files_per_bucket=4)
        kept, total = sink.scan_files(tid, filters=[("user_id", "=", 3)])
        assert len(kept) < total
        kept_in, _ = sink.scan_files(tid, filters=[("user_id", "in", [3, 4])])
        assert len(kept_in) < total
        # a value outside the global domain prunes every file
        kept0, _ = sink.scan_files(tid, filters=[("user_id", "=", -1)])
        assert kept0 == []
        assert sink.read(spark, tid,
                         filters=[("user_id", "=", -1)]).count() == 0

    def test_mor_deltas_never_pruned(self, spark, tmp_path):
        """An update moving a row OUT of the predicate range must shadow
        the old in-range base image even though the delta file's bounds
        fall outside the scan predicate."""
        sink, tid, schema, ev = _mk(spark, tmp_path, mode="mor")
        sink.compact(spark, tid, order_by=["value"], files_per_bucket=4)
        moved = (ev.where(F.col("value") < 10.0)
                 .withColumn("value", F.col("value") + 1000.0)
                 .select("*", F.lit("+U").alias(OP_COL),
                         F.lit(1).cast("bigint").alias(SEQ_COL)))
        n_moved = moved.count()
        assert n_moved > 0
        sink.write(tid, moved, schema, batch_id=1)
        got = sink.read(spark, tid, filters=[("value", "<", 50.0)])
        want = (ev.where((F.col("value") >= 10.0) & (F.col("value") < 50.0)))
        assert got.count() == want.count()

    def test_time_travel_prunes_against_its_own_manifest(self, spark,
                                                         tmp_path):
        sink, tid, _, _ = _mk(spark, tmp_path)
        s0 = sink.snapshots(tid)[-1]
        sink.compact(spark, tid, order_by=["ts"], files_per_bucket=4)
        f = [("ts", "<", dt.datetime(2024, 1, 2))]
        kept0, total0 = sink.scan_files(tid, snapshot=s0, filters=f)
        kept1, total1 = sink.scan_files(tid, filters=f)
        assert len(kept0) == total0  # pre-cluster snapshot: no pruning
        assert len(kept1) < total1
        assert sink.read(spark, tid, snapshot=s0, filters=f).count() == \
            sink.read(spark, tid, filters=f).count()


class TestFileExcluded:
    ST = {"rows": 10, "cols": {"x": {"lo": 5, "hi": 9, "nulls": 0, "t": "n"},
                               "s": {"lo": "b", "hi": "d", "nulls": 0,
                                     "t": "s"}}}

    def test_range_ops(self):
        assert _file_excluded(self.ST, [("x", ">", 9)])
        assert not _file_excluded(self.ST, [("x", ">", 8)])
        assert _file_excluded(self.ST, [("x", "<", 5)])
        assert not _file_excluded(self.ST, [("x", "<=", 5)])
        assert _file_excluded(self.ST, [("x", "=", 4)])
        assert _file_excluded(self.ST, [("x", "in", [1, 12])])
        assert not _file_excluded(self.ST, [("x", "in", [1, 7])])

    def test_conservative_cases(self):
        # unknown column / type mismatch / missing stats: keep the file
        assert not _file_excluded(self.ST, [("y", ">", 100)])
        assert not _file_excluded(self.ST, [("x", ">", "zzz")])
        assert not _file_excluded({}, [("x", ">", 100)])
        # all-null column excludes under any comparison
        st = {"rows": 4, "cols": {"x": {"lo": None, "hi": None, "nulls": 4,
                                        "t": None}}}
        assert _file_excluded(st, [("x", "=", 1)])

    def test_string_bounds(self):
        assert _file_excluded(self.ST, [("s", ">", "e")])
        assert not _file_excluded(self.ST, [("s", "=", "c")])

    def test_decimal_bounds_compare_numerically(self):
        """Decimal stats are stored as strings for JSON but MUST compare
        as numbers: lexicographic '30' > '100' once silently pruned a
        file whose bounds [2, 100] contain 30 (code-review find)."""
        from decimal import Decimal

        st = {"rows": 5, "cols": {"d": {"lo": "2", "hi": "100",
                                        "nulls": 0, "t": "c"}}}
        assert not _file_excluded(st, [("d", "=", Decimal("30"))])
        assert not _file_excluded(st, [("d", ">", Decimal("30"))])
        assert _file_excluded(st, [("d", ">", Decimal("100"))])
        assert _file_excluded(st, [("d", "=", Decimal("101"))])

    def test_tz_aware_stats_never_pruned_by_naive_filter(self):
        """UTC-instant (tz-aware) footer stats can't be soundly compared
        with a naive session-local filter value — the mismatch must keep
        the file; an aware filter value compares fine."""
        import datetime as _dt

        aware = _dt.datetime(1996, 1, 1, 1, 0,
                             tzinfo=_dt.timezone.utc)
        st = {"rows": 5, "cols": {"ts": {
            "lo": "1996-01-01 00:00:00", "hi": "1996-01-01 01:00:00",
            "nulls": 0, "t": "tsz"}}}
        naive = _dt.datetime(1996, 1, 1, 2, 0)
        assert not _file_excluded(st, [("ts", ">", naive)])  # keep: unsound
        assert _file_excluded(st, [("ts", ">", aware)])      # sound: prune


class TestReadChanges:
    def test_mor_delta_fast_path(self, spark, tmp_path):
        sink, tid, schema, ev = _mk(spark, tmp_path, mode="mor")
        s0 = sink.snapshots(tid)[-1]
        upd = (ev.where(F.col("event_id") % 100 == 0)
               .withColumn("value", F.col("value") + 1.0)
               .select("*", F.lit("+U").alias(OP_COL),
                       F.lit(1).cast("bigint").alias(SEQ_COL)))
        dels = (ev.where(F.col("event_id") % 177 == 0)
                .select("*", F.lit("-D").alias(OP_COL),
                        F.lit(2).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, upd.unionByName(dels), schema, batch_id=1)
        ch = sink.read_changes(spark, tid, from_snapshot=s0)
        rows = {(r["event_id"], r[OP_COL]) for r in ch.collect()}
        # the commit reduces the batch to final images first, so a key hit
        # by both rules appears once, with the later (-D) op
        want = {}
        for r in upd.collect():
            want[r["event_id"]] = "+U"
        for r in dels.collect():
            want[r["event_id"]] = "-D"
        assert rows == set(want.items())

    def test_mor_empty_range(self, spark, tmp_path):
        sink, tid, _, _ = _mk(spark, tmp_path, mode="mor")
        s0 = sink.snapshots(tid)[-1]
        ch = sink.read_changes(spark, tid, from_snapshot=s0, to_snapshot=s0)
        assert ch.count() == 0
        assert OP_COL in ch.columns

    def test_cow_state_diff(self, spark, tmp_path):
        sink, tid, schema, ev = _mk(spark, tmp_path, mode="cow")
        s0 = sink.snapshots(tid)[-1]
        upd = (ev.where(F.col("event_id") % 100 == 0)
               .withColumn("value", F.col("value") + 1.0)
               .select("*", F.lit("+U").alias(OP_COL),
                       F.lit(1).cast("bigint").alias(SEQ_COL)))
        dels = (ev.where(F.col("event_id") % 177 == 0)
                .select("*", F.lit("-D").alias(OP_COL),
                        F.lit(2).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, upd.unionByName(dels), schema, batch_id=1)
        ch = sink.read_changes(spark, tid, from_snapshot=s0)
        got = {(r["event_id"], r[OP_COL]) for r in ch.collect()}
        # ids hit by both rules resolve to their final image (% 17700):
        # deleted wins because latest_image keeps the -D marker
        want = {}
        for r in upd.collect():
            want[r["event_id"]] = "+U"
        for r in dels.collect():
            want[r["event_id"]] = "-D"
        assert got == set(want.items())

    def test_compaction_diffs_to_zero(self, spark, tmp_path):
        sink, tid, _, _ = _mk(spark, tmp_path, mode="cow")
        s0 = sink.snapshots(tid)[-1]
        sink.compact(spark, tid, order_by=["ts"], files_per_bucket=2)
        ch = sink.read_changes(spark, tid, from_snapshot=s0)
        assert ch.count() == 0

    def test_truncate_emits_delete_all(self, spark, tmp_path):
        from source_flink_cdc_3_5_0_spark.common.events import \
            TruncateTableEvent

        sink, tid, schema, ev = _mk(spark, tmp_path, mode="cow")
        s0 = sink.snapshots(tid)[-1]
        sink.metadata_applier().apply_schema_change(
            tid, TruncateTableEvent(tid), schema)
        ch = sink.read_changes(spark, tid, from_snapshot=s0)
        assert ch.where(F.col(OP_COL) != "-D").count() == 0
        assert ch.count() == ev.count()

    def test_new_inserts_classified(self, spark, tmp_path):
        sink, tid, schema, ev = _mk(spark, tmp_path, mode="cow")
        s0 = sink.snapshots(tid)[-1]
        fresh = (ev.limit(10)
                 .withColumn("event_id", F.col("event_id") + 10_000_000))
        sink.write(tid, attach_envelope(fresh, "+I", seq=3), schema,
                   batch_id=2)
        ch = sink.read_changes(spark, tid, from_snapshot=s0)
        assert {r[OP_COL] for r in ch.collect()} == {"+I"}
        assert ch.count() == 10


class TestZOrder:
    def test_zorder_prunes_on_every_column(self, spark, tmp_path):
        """Morton clustering gives useful bounds on BOTH columns — a
        single-column sort would prune only its own column."""
        sink, tid, _, ev = _mk(spark, tmp_path, num_buckets=2)
        sink.compact(spark, tid, zorder=["user_id", "value"],
                     files_per_bucket=8)
        total = 8 * sink.num_buckets
        kept_u, tot = sink.scan_files(tid, filters=[("user_id", "=", 3)])
        kept_v, _ = sink.scan_files(tid, filters=[("value", ">", 250.0)])
        assert tot == total
        assert len(kept_u) < total, (len(kept_u), total)
        assert len(kept_v) < total, (len(kept_v), total)
        # and the reads stay correct
        got = sink.read(spark, tid, filters=[("user_id", "=", 3)])
        assert got.count() == ev.where(F.col("user_id") == 3).count()
        got_v = sink.read(spark, tid, filters=[("value", ">", 250.0)])
        assert got_v.count() == ev.where(F.col("value") > 250.0).count()

    def test_zorder_point_query_prunes_harder_than_either(self, spark,
                                                          tmp_path):
        sink, tid, _, ev = _mk(spark, tmp_path, num_buckets=2)
        sink.compact(spark, tid, zorder=["user_id", "value"],
                     files_per_bucket=8)
        both = [("user_id", "=", 3), ("value", ">", 250.0)]
        kept_b, total = sink.scan_files(tid, filters=both)
        kept_u, _ = sink.scan_files(tid, filters=both[:1])
        assert len(kept_b) <= len(kept_u)
        got = sink.read(spark, tid, filters=both)
        want = ev.where((F.col("user_id") == 3) & (F.col("value") > 250.0))
        assert got.count() == want.count()

    def test_zorder_on_timestamp_column(self, spark, tmp_path):
        """ts reads as TIMESTAMP_NTZ from this repo's parquet fixtures —
        z-ordering it must route through a monotonic timestamp cast
        instead of crashing on a direct double cast (code-review find)."""
        sink, tid, _, ev = _mk(spark, tmp_path, num_buckets=2)
        sink.compact(spark, tid, zorder=["ts", "user_id"],
                     files_per_bucket=8)
        lo = dt.datetime(2024, 1, 1)
        hi = dt.datetime(2024, 1, 8)
        kept, total = sink.scan_files(
            tid, filters=[("ts", ">=", lo), ("ts", "<", hi)])
        assert len(kept) < total
        got = sink.read(spark, tid, filters=[("ts", ">=", lo),
                                             ("ts", "<", hi)])
        want = ev.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        assert got.count() == want.count()

    def test_zorder_rejects_string_column(self, spark, tmp_path):
        sink, tid, _, _ = _mk(spark, tmp_path, num_buckets=2)
        with pytest.raises(ValueError, match="zorder column"):
            sink.compact(spark, tid, zorder=["event_type", "value"])

    def test_zorder_exclusive_with_order_by(self, spark, tmp_path):
        sink, tid, _, _ = _mk(spark, tmp_path, num_buckets=2)
        with pytest.raises(ValueError, match="mutually exclusive"):
            sink.compact(spark, tid, order_by=["ts"], zorder=["value"])

    def test_zorder_mor_fold_then_cluster(self, spark, tmp_path):
        sink, tid, schema, ev = _mk(spark, tmp_path, mode="mor",
                                    num_buckets=2)
        sink.compact(spark, tid, zorder=["user_id", "value"],
                     files_per_bucket=8)
        m = sink._manifest(tid)
        assert m["buckets"] and not m.get("deltas")
        kept, total = sink.scan_files(tid, filters=[("user_id", "=", 3)])
        assert len(kept) < total
        assert sink.read(spark, tid).count() == ev.count()


class TestCommitConflict:
    def test_concurrent_commit_raises_not_clobbers(self, spark, tmp_path):
        """Optimistic concurrency (Iceberg CommitFailedException): a
        second writer racing to the same snapshot seq must get a conflict
        error, and the first writer's manifest must survive untouched."""
        import json as _json
        from source_flink_cdc_3_5_0_spark.sinks.lakehouse import \
            CommitConflictError

        sink, tid, schema, ev = _mk(spark, tmp_path, num_buckets=2)
        seqs = list(sink.snapshots(tid))
        nxt = seqs[-1] + 1
        # freeze this writer's view of the snapshot list, then land a
        # concurrent winner — the race window between reading the latest
        # seq and linking the manifest
        orig = sink.snapshots
        sink.snapshots = lambda t: list(seqs)
        winner = os.path.join(sink._snap_dir(tid), f"{nxt}.json")
        with open(winner, "w") as f:
            _json.dump({"seq": nxt, "buckets": {}, "marker": "winner"}, f)
        try:
            with pytest.raises(CommitConflictError,
                               match="committed concurrently"):
                sink._commit(tid, {})
        finally:
            sink.snapshots = orig
        with open(winner) as f:
            assert _json.load(f)["marker"] == "winner"  # not clobbered
        # losing writer's tmp file was cleaned up
        assert not [f for f in os.listdir(sink._snap_dir(tid))
                    if f.endswith(".tmp")]


class TestContinuousIngestDedup:
    def test_lake_changes_feed_incremental_dedup(self, spark, tmp_path):
        """The continuous-ingestion composition: corpus lives in a MoR
        lake table with a parquet signature store; an increment commits
        as delta files, read_changes serves EXACTLY the new docs, the
        incremental dedup flags them against the store, and the store
        grows by the surviving uniques — no stage ever re-reads or
        re-shuffles the existing corpus."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            build_signature_store, incremental_dedup_flags)

        docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
                .select("doc_id", "source", "text"))
        corpus0 = docs.where(F.col("source") != "src1") \
                      .select("doc_id", "text")
        tid = TableId.parse("lake.db.docs")
        schema = Schema.from_struct_type(corpus0.schema,
                                         primary_keys=["doc_id"])
        sink = SnapshotLakeSink(str(tmp_path / "lake"), num_buckets=2,
                                mode="mor")
        sink.metadata_applier().apply_schema_change(
            tid, CreateTableEvent(tid, schema), schema)
        sink.write(tid, attach_envelope(corpus0, "+I", seq=0), schema,
                   batch_id=0)
        store_dir = str(tmp_path / "store")
        build_signature_store(sink.read(spark, tid), store_dir)
        s0 = sink.snapshots(tid)[-1]

        # increment: fresh src1 docs + 3 exact re-ingests under new ids
        fresh = docs.where(F.col("source") == "src1") \
                    .select("doc_id", "text")
        copies = (docs.where((F.col("source") == "src2") &
                             (F.col("doc_id") % 7 == 0)).limit(3)
                  .select((F.col("doc_id") + 900000).alias("doc_id"),
                          "text"))
        inc = fresh.unionByName(copies)
        sink.write(tid, attach_envelope(inc, "+I", seq=1), schema,
                   batch_id=1)

        changes = (sink.read_changes(spark, tid, from_snapshot=s0)
                   .where(F.col(OP_COL) == "+I").select("doc_id", "text"))
        assert changes.count() == inc.count()

        store = spark.read.parquet(store_dir)
        corpus_at_s0 = sink.read(spark, tid, snapshot=s0)
        flags = incremental_dedup_flags(changes, store, corpus_at_s0)
        by = {r["doc_id"]: r["status"] for r in flags.collect()}
        n_copies = copies.count()
        assert sum(1 for v in by.values() if v == "exact") == n_copies
        assert all(by[r["doc_id"]] == "exact" for r in copies.collect())

        # grow the store by the surviving uniques only
        keep_ids = flags.where(F.col("status") == "unique") \
                        .select("doc_id")
        build_signature_store(
            changes.join(keep_ids, on="doc_id", how="leftsemi"),
            store_dir, mode="append")
        n0 = store.count()
        assert spark.read.parquet(store_dir).count() == \
            n0 + keep_ids.count()


class TestZoneMapsSchemaEvolution:
    def test_filter_on_added_column_keeps_old_files(self, spark, tmp_path):
        """Old files predate an ADD COLUMN: they have no stats for it, so
        pruning must conservatively keep them (their rows null-fill and
        the residual comparison drops them for real) while new files
        prune normally."""
        from source_flink_cdc_3_5_0_spark.common.events import \
            AddColumnEvent
        from source_flink_cdc_3_5_0_spark.common.schema import Column as C
        from source_flink_cdc_3_5_0_spark.operators.schema_evolution import \
            apply_schema_change_event
        from pyspark.sql import types as T

        sink, tid, schema, ev = _mk(spark, tmp_path, num_buckets=2)
        add = AddColumnEvent.last(tid, C("score", T.DoubleType()))
        schema2 = apply_schema_change_event(schema, add)
        sink.metadata_applier().apply_schema_change(tid, add, schema2)
        newrows = (ev.limit(50)
                   .withColumn("event_id", F.col("event_id") + 50000)
                   .withColumn("score", (F.col("event_id") % 10)
                               .cast("double")))
        sink.write(tid, attach_envelope(newrows, "+I", seq=1), schema2,
                   batch_id=1)
        kept, total = sink.scan_files(tid, filters=[("score", ">", 100.0)])
        # old files kept (no stats for score); new files pruned (max 9)
        m = sink._manifest(tid)
        stats = sink.file_stats(tid)
        old_files = [p for fs in m["buckets"].values() for p in fs
                     if "score" not in stats[p]["cols"]]
        assert set(kept) == set(old_files), (kept, old_files)
        got = sink.read(spark, tid, filters=[("score", ">", 5.0)])
        assert got.count() == newrows.where(F.col("score") > 5.0).count()


class TestRollbackAndTags:
    def test_rollback_restores_state_keeps_history(self, spark, tmp_path):
        sink, tid, schema, ev = _mk(spark, tmp_path, num_buckets=2)
        s0 = sink.snapshots(tid)[-1]
        bad = (ev.limit(100)
               .withColumn("value", F.lit(-1.0))
               .select("*", F.lit("+U").alias(OP_COL),
                       F.lit(1).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, bad, schema, batch_id=1)
        assert sink.read(spark, tid).where(
            F.col("value") == -1.0).count() == 100
        new_seq = sink.rollback(tid, s0)
        assert new_seq == sink.snapshots(tid)[-1]
        # latest reads the restored state; the bad snapshot stays readable
        assert sink.read(spark, tid).where(
            F.col("value") == -1.0).count() == 0
        assert sink.read(spark, tid).count() == ev.count()
        assert sink.read(spark, tid, snapshot=new_seq - 1).where(
            F.col("value") == -1.0).count() == 100

    def test_rollback_mor_deltas(self, spark, tmp_path):
        sink, tid, schema, ev = _mk(spark, tmp_path, mode="mor",
                                    num_buckets=2)
        s0 = sink.snapshots(tid)[-1]
        dels = (ev.limit(10)
                .select("*", F.lit("-D").alias(OP_COL),
                        F.lit(1).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, dels, schema, batch_id=1)
        assert sink.read(spark, tid).count() == ev.count() - 10
        sink.rollback(tid, s0)
        assert sink.read(spark, tid).count() == ev.count()

    def test_tags_pin_snapshots_through_vacuum(self, spark, tmp_path):
        sink, tid, schema, ev = _mk(spark, tmp_path, num_buckets=2)
        s0 = sink.snapshots(tid)[-1]
        sink.tag(tid, "v1.0")
        upd = (ev.limit(50)
               .withColumn("value", F.col("value") + 1.0)
               .select("*", F.lit("+U").alias(OP_COL),
                       F.lit(1).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, upd, schema, batch_id=1)
        sink.compact(spark, tid)
        assert sink.tags(tid)["v1.0"] == s0
        sink.vacuum(tid, keep_last=1)
        # tagged snapshot survived expiration and still reads
        assert s0 in sink.snapshots(tid)
        assert sink.read(spark, tid,
                         snapshot=sink.tags(tid)["v1.0"]).count() == \
            ev.count()

    def test_unknown_tag_and_snapshot_raise(self, spark, tmp_path):
        sink, tid, _, _ = _mk(spark, tmp_path, num_buckets=2)
        assert "nope" not in sink.tags(tid)
        with pytest.raises(ValueError, match="unknown snapshot"):
            sink.tag(tid, "x", snapshot=999)


class TestPkPointLookup:
    def test_point_lookup_reads_one_bucket(self, spark, tmp_path):
        """pk = v scans exactly the owning bucket's files — the Iceberg
        bucket-transform guarantee, from the driver-side Python replica
        of the write path's bucket expression."""
        from source_flink_cdc_3_5_0_spark.operators.partitioning import \
            portable_bucket_py

        sink, tid, _, ev = _mk(spark, tmp_path, num_buckets=4)
        some = [r["event_id"] for r in ev.limit(3).collect()]
        for v in some:
            kept, total = sink.scan_files(tid, filters=[("event_id", "=", v)])
            b = portable_bucket_py(v, sink.num_buckets)
            assert all(p.startswith(f"__bucket={b}/") for p in kept), kept
            assert len(kept) < total
            got = sink.read(spark, tid, filters=[("event_id", "=", v)])
            assert got.count() == 1

    def test_in_list_unions_buckets(self, spark, tmp_path):
        from source_flink_cdc_3_5_0_spark.operators.partitioning import \
            portable_bucket_py

        sink, tid, _, ev = _mk(spark, tmp_path, num_buckets=4)
        vals = [r["event_id"] for r in ev.limit(5).collect()]
        kept, _ = sink.scan_files(tid, filters=[("event_id", "in", vals)])
        want_b = {portable_bucket_py(v, 4) for v in vals}
        got_b = {int(p.split("=")[1].split("/")[0]) for p in kept}
        assert got_b <= want_b
        got = sink.read(spark, tid, filters=[("event_id", "in", vals)])
        assert got.count() == len(vals)

    def test_mor_point_lookup_restricts_deltas_and_stays_correct(
            self, spark, tmp_path):
        """A MoR update to the looked-up key must still be visible (its
        delta lives in the same bucket), and an update to a key in a
        DIFFERENT bucket must not widen the scan."""
        sink, tid, schema, ev = _mk(spark, tmp_path, mode="mor",
                                    num_buckets=4)
        v = ev.limit(1).collect()[0]["event_id"]
        upd = (ev.where(F.col("event_id") == v)
               .withColumn("value", F.lit(777.0))
               .select("*", F.lit("+U").alias(OP_COL),
                       F.lit(1).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, upd, schema, batch_id=1)
        got = sink.read(spark, tid, filters=[("event_id", "=", v)])
        rows = got.collect()
        assert len(rows) == 1 and rows[0]["value"] == 777.0

    def test_range_filters_do_not_bucket_prune(self, spark, tmp_path):
        sink, tid, _, ev = _mk(spark, tmp_path, num_buckets=4)
        kept, total = sink.scan_files(
            tid, filters=[("event_id", ">", 10)])
        assert len(kept) == total  # hash buckets are useless for ranges


class TestFileExcludedProperty:
    """Soundness property: pruning may only drop files that provably
    contain NO matching row — brute-force checked over random files and
    filters (pure Python, no Spark)."""

    @staticmethod
    def _matches(row, op, val):
        if row is None:
            return False  # comparisons are null-rejecting
        if op == "=":
            return row == val
        if op == "in":
            return row in val
        if op == "<":
            return row < val
        if op == "<=":
            return row <= val
        if op == ">":
            return row > val
        if op == ">=":
            return row >= val
        raise AssertionError(op)

    def test_pruned_files_have_no_matching_rows(self):
        from hypothesis import given, settings, strategies as st
        from source_flink_cdc_3_5_0_spark.sinks.lakehouse import \
            _file_excluded

        values = st.lists(
            st.one_of(st.none(), st.integers(-1000, 1000)),
            min_size=1, max_size=12)
        ops = st.sampled_from(["=", "in", "<", "<=", ">", ">="])

        @settings(max_examples=300, deadline=None)
        @given(rows=values, op=ops,
               val=st.integers(-1000, 1000),
               inlist=st.lists(st.integers(-1000, 1000), max_size=4))
        def check(rows, op, val, inlist):
            present = [r for r in rows if r is not None]
            stats = {"rows": len(rows), "cols": {"x": {
                "lo": min(present) if present else None,
                "hi": max(present) if present else None,
                "nulls": sum(1 for r in rows if r is None),
                "t": "n" if present else None}}}
            v = inlist if op == "in" else val
            filt = [("x", op, v)]
            if _file_excluded(stats, filt):
                assert not any(self._matches(r, op, v) for r in rows), \
                    (rows, op, v, stats)

        check()


class TestReadChangesMixedRange:
    def test_deltas_plus_compaction_in_range_falls_back_to_diff(
            self, spark, tmp_path):
        """A range containing churn commits AND a compaction can't use
        the delta fast path (buckets changed) — the state diff must
        still produce exactly the logical changes of the churn."""
        sink, tid, schema, ev = _mk(spark, tmp_path, mode="mor",
                                    num_buckets=2)
        s0 = sink.snapshots(tid)[-1]
        upd = (ev.where(F.col("event_id") % 50 == 0)
               .withColumn("value", F.col("value") + 1.0)
               .select("*", F.lit("+U").alias(OP_COL),
                       F.lit(1).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, upd, schema, batch_id=1)
        sink.compact(spark, tid)  # folds deltas -> buckets change
        dels = (ev.where(F.col("event_id") % 177 == 0)
                .select("*", F.lit("-D").alias(OP_COL),
                        F.lit(2).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, dels, schema, batch_id=2)
        ch = sink.read_changes(spark, tid, from_snapshot=s0)
        got = {(r["event_id"], r[OP_COL]) for r in ch.collect()}
        want = {}
        for r in upd.collect():
            want[r["event_id"]] = "+U"
        for r in dels.collect():
            want[r["event_id"]] = "-D"
        assert got == set(want.items())


class TestLayoutAuthority:
    def test_bucket_count_mismatch_refused(self, spark, tmp_path):
        """Opening a table with the wrong bucket count must ERROR — a
        silent mismatch would make point lookups miss existing rows
        (code-review find)."""
        sink, tid, schema, ev = _mk(spark, tmp_path, num_buckets=4)
        other = SnapshotLakeSink(sink.root, num_buckets=16)
        with pytest.raises(ValueError, match="num_buckets"):
            other.scan_files(tid, filters=[("event_id", "=", 1)])
        with pytest.raises(ValueError, match="num_buckets"):
            other.read(spark, tid)
        with pytest.raises(ValueError, match="num_buckets"):
            other.write(tid, attach_envelope(ev.limit(1), "+I", seq=9),
                        schema, batch_id=99)

    def test_for_table_resolves_persisted_layout(self, spark, tmp_path):
        sink, tid, _, ev = _mk(spark, tmp_path, mode="mor", num_buckets=4)
        opened = SnapshotLakeSink.for_table(sink.root, tid)
        assert opened.num_buckets == 4 and opened.mode == "mor"
        assert opened.read(spark, tid).count() == ev.count()
        with pytest.raises(ValueError, match="num_buckets"):
            SnapshotLakeSink.for_table(sink.root, tid, num_buckets=8)
        with pytest.raises(ValueError, match="mode"):
            SnapshotLakeSink.for_table(sink.root, tid, mode="cow")

    def test_point_lookup_survives_mistyped_batch(self, spark, tmp_path):
        """Bucket placement derives from the TABLE SCHEMA, not a batch's
        incidental dtypes: a batch arriving with a string-typed PK still
        lands in the integral bucket a later point lookup scans
        (code-review find)."""
        sink, tid, schema, ev = _mk(spark, tmp_path, num_buckets=4)
        v = 987654
        oddball = (ev.limit(1)
                   .withColumn("event_id", F.lit(str(v)))  # STRING pk!
                   .select("*", F.lit("+I").alias(OP_COL),
                           F.lit(5).cast("bigint").alias(SEQ_COL)))
        sink.write(tid, oddball, schema, batch_id=5)
        got = sink.read(spark, tid, filters=[("event_id", "=", v)])
        assert got.count() == 1


class TestFlussRouting:
    def test_yaml_fluss_is_log_plus_kv(self, spark, tmp_path):
        """YAML type=fluss routes to the MoR lake table — fluss PK tables
        ARE a log (append-only changelog) + kv (merged-by-key) pair: the
        pipeline's commits land as delta files only, read() is the kv
        view."""
        from source_flink_cdc_3_5_0_spark.pipeline import (PipelineComposer,
                                                           parse_yaml_pipeline)
        from source_flink_cdc_3_5_0_spark.sinks.lakehouse import \
            SnapshotLakeSink

        root = str(tmp_path / "fluss")
        yaml = f"""
source:
  type: parquet
  tables: '{{"tpch.main.nation": "{SF}/nation.parquet"}}'
  primary-keys: '{{"tpch.main.nation": ["n_nationkey"]}}'
sink:
  type: fluss
  path: {root}
route:
  - source-table: tpch.main.nation
    sink-table: out.db.nation
"""
        exe = PipelineComposer(spark).compose(parse_yaml_pipeline(yaml))
        exe.run()
        sink = exe.sink
        assert isinstance(sink, SnapshotLakeSink) and sink.mode == "mor"
        tid = TableId.parse("out.db.nation")
        m = sink._manifest(tid)
        assert m.get("deltas") and not m["buckets"]  # log: append-only
        kv = sink.read(spark, tid)  # kv: merged view
        want = spark.read.parquet(f"{SF}/nation.parquet")
        assert kv.count() == want.count()
