"""Physical-plan assertions — the 100 TB posture, pinned as tests.

Checks what .explain shows, not what we hope: filters reach the parquet scan
(PushedFilters), projections prune the read schema (ReadSchema), small dims
broadcast, single-shuffle operators stay single-shuffle, hot paths stay in
WholeStageCodegen.
"""

import pytest
from pyspark.sql import functions as F

from source_flink_cdc_3_5_0_spark import entry_queries as EQ
from source_flink_cdc_3_5_0_spark.api import transform_table

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_transform_filter_pushed_down(spark):
    df = EQ.q_transform_projection_arith(spark, SF)
    p = plan_of(df)
    pushed = p.split("PushedFilters: [")[1].split("]")[0] if "PushedFilters: [" in p else ""
    # note: toString() truncates long filter lists — assert on prefixes
    assert "LessThan(l_quantity,25" in pushed, f"filter not pushed: {pushed!r}"
    assert "GreaterThan(l_discount" in pushed


def test_transform_prunes_read_schema(spark):
    df = transform_table(
        spark.read.parquet(f"{SF}/lineitem.parquet"),
        projection="l_orderkey, l_quantity * 2 AS q2",
    )
    p = plan_of(df)
    rs = p.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs, f"column pruning failed: {rs}"


def test_transform_stays_in_codegen(spark):
    df = EQ.q_transform_string_funcs(spark, SF)
    # '*(N)' prefixes mark WholeStageCodegen stages in the compact plan form
    assert "*(1)" in plan_of(df)


def test_not_filter_keeps_reference_semantics(spark):
    """NOT over a nullable comparison must keep the null-is-false guard
    (rows with NULL operand are KEPT under reference semantics)."""
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(a=1, b=10), Row(a=2, b=None), Row(a=3, b=1)])
    out = transform_table(df, projection="a", filter="NOT (b > 5)")
    assert sorted(r["a"] for r in out.collect()) == [2, 3]


def test_join_broadcasts_small_dims(spark):
    p = plan_of(EQ.q_join_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # AQE/broadcast hints at this scale


def test_materialize_single_shuffle(spark):
    p = plan_of(EQ.q_cdc_materialize_latest(spark, SF))
    assert p.count("Exchange") == 1, "latest_image should shuffle once on the key"


def test_dedup_partial_aggregation(spark):
    p = plan_of(EQ.q_dedup_exact(spark, SF))
    # map-side partial agg before the exchange (two HashAggregate levels)
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange") == 1


def test_ann_broadcasts_queries(spark):
    p = plan_of(EQ.q_ann_cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_ivf_bucket_assign_adds_no_exchange(spark):
    """Round-1 'weak' finding: bucket assignment windowed over the full row
    (vector included) — a shuffle with ARRAY<DOUBLE> keys. The rewrite is a
    pure projection: centroid literals + array_sort argmin."""
    from source_flink_cdc_3_5_0_spark.extensions.similarity import nearest_buckets

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned = emb.select(
        "vec_id",
        F.element_at(nearest_buckets(
            F.transform("embedding", lambda x: x.cast("double")),
            [[0.0] * 8, [1.0] * 8], 1), 1).alias("bucket"),
    )
    p = plan_of(assigned)
    assert "Exchange" not in p, f"bucket assignment must not shuffle:\n{p}"
    assert "Window" not in p


def test_ivf_topk_matches_bruteforce_on_probed_buckets(spark):
    """IVF with nprobe=K (probe everything) must equal brute force exactly;
    with small nprobe it returns a subset ranking of the same K."""
    from source_flink_cdc_3_5_0_spark.extensions.similarity import (
        cosine_topk_bruteforce, ivf_topk, train_centroids)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 4)
    cents = train_centroids(emb, n_centroids=4)
    exact = {(r.query_id, r.rank): r.cand_id
             for r in cosine_topk_bruteforce(emb, q, k=3).collect()}
    full_probe = {(r.query_id, r.rank): r.cand_id
                  for r in ivf_topk(emb, q, cents, k=3, nprobe=4).collect()}
    assert full_probe == exact


def _final_plan(plan: str) -> str:
    """The first ``== Final Plan ==`` section of an adaptive plan string."""
    return plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def test_lsh_exact_single_udf_pass_and_no_payload_in_band_join(spark):
    """minhash_lsh_exact_pairs: the pandas-UDF signature stage runs ONCE
    and nothing persists the signatures: the exploded (id, hx, hv) slots
    are hash-partitioned on (hx, hv) above the UDF and both band-join
    sides read that one exchange (column pruning used to clone the UDF
    into every branch — 6 ArrowEvalPython nodes before the fix). The band
    self-join carries only (id, hx, hv) — never gram arrays."""
    import re

    from source_flink_cdc_3_5_0_spark.extensions.dedup import (
        minhash_lsh_exact_pairs)

    # the trivially-true filter makes this input canonically DISTINCT from
    # other tests' calls (e.g. oracle parity at the same sf): a cache entry
    # they materialized would otherwise be reused here, and a materialized
    # InMemoryRelation prints its cached build with AQE Initial/Final Plan
    # sections the depth-based stripper below can't bracket
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .where("doc_id IS NOT NULL OR doc_id IS NULL")
    out = minhash_lsh_exact_pairs(docs, jaccard_threshold=0.5)
    p = plan_of(out)

    def outside_cached_builds(plan: str) -> str:
        """Drop every InMemoryRelation subtree (each InMemoryTableScan
        re-prints the cached BUILD plan — twice once materialized), keeping
        only operators the query itself executes."""
        kept, skip_depth = [], None
        for line in plan.splitlines():
            body = line.lstrip(" :+-")
            depth = len(line) - len(body)
            if skip_depth is not None:
                if depth > skip_depth:
                    continue
                skip_depth = None
            if body.startswith("InMemoryRelation"):
                skip_depth = depth
                continue
            kept.append(line)
        return "\n".join(kept)

    live = outside_cached_builds(p)
    assert "ArrowEvalPython" not in live, live
    # the only persisted relations are the survivor pairs and their grams
    assert not re.search(r"InMemoryRelation \[[^\]]*\bsig#", p), p
    out.collect()
    # the survivor-pair cache holds the band join; once built, its plan
    # prints the build's final adaptive plan first
    build = _final_plan(plan_of(out.lsh_pruned))
    assert build.count("ArrowEvalPython") == 1, build
    assert re.search(r"ReusedExchange \[doc_id#\d+L, hx#\d+, hv#\d+L\], "
                     r"Exchange hashpartitioning\(hx#", build), build
    # the outer generator: no inferred size(sig) > 0 filter sinks below
    # the spread exchange as a second UDF pass
    assert re.search(r"Generate posexplode\(sig#\d+\), \[doc_id#\d+L\], "
                     r"true", build), build


def test_windowed_counts_single_shuffle_partial_agg(spark):
    """Event-time windowed agg (batch mode of the shared plan): map-side
    partial aggregation, exactly one exchange on (window, keys)."""
    from source_flink_cdc_3_5_0_spark.streaming.windowed import windowed_counts

    ev = EQ.load(spark, SF, "events")  # handles the nanos-timestamp parquet
    p = plan_of(windowed_counts(ev, window="1 hour"))
    import re
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert p.count("HashAggregate") == 2, p  # partial + final


def test_sessionize_single_shuffle(spark):
    """Sessionization: lag-window + session agg share ONE exchange on
    user_id — HashPartitioning(user_id) satisfies the (user_id, session_id)
    clustering requirement, so no second shuffle appears."""
    import re
    p = plan_of(EQ.q_sessionize_events(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert p.count("HashAggregate") == 2, p  # partial + final


def test_ngram_top_partial_agg_small_window(spark):
    """Bigram frequency: partial agg before the (lang, gram) exchange; the
    top-k window runs on the aggregated set only (2 exchanges total)."""
    import re
    p = plan_of(EQ.q_text_ngram_top(spark, SF))
    assert p.count("HashAggregate") >= 2, p
    assert len(re.findall(r"\bExchange\b", p)) == 2, p


def test_pivot_single_shuffle(spark):
    """Conditional-aggregate pivot: one exchange on user_id (the
    DataFrame.pivot two-shuffle shape is deliberately avoided)."""
    import re
    p = plan_of(EQ.q_agg_event_type_pivot(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert p.count("HashAggregate") == 2, p


def test_decontam_broadcasts_eval_side(spark):
    """Decontamination joins the exploded eval grams by BROADCAST — the
    corpus side is never shuffled for the join; the only exchange is the
    pair aggregate."""
    import re
    p = plan_of(EQ.q_decontam_ngram_overlap(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert len(re.findall(r"\bExchange\b", p)) == 1, p


def test_hash_split_no_presplit_shuffle(spark):
    """Hash split is a tag + single-shuffle aggregate (the split column is
    computed map-side; only the (lang, split) agg exchanges)."""
    import re
    p = plan_of(EQ.q_sample_hash_split(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert p.count("HashAggregate") == 2, p


def test_tfidf_broadcasts_df_and_single_window(spark):
    """text_tfidf_top_terms below the vocab gate: term document-frequencies
    must broadcast onto the (doc,term) counts (vocabulary << corpus — a
    SortMergeJoin would shuffle the tf table a second time), and exactly
    one window computes the top-k rank."""
    p = plan_of(EQ.q_text_tfidf_top_terms(spark, SF))
    assert "BroadcastHashJoin" in p or "BroadcastQueryStage" in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("RunningWindowFunction") <= 1 and p.count("Window") >= 1, p


def test_tfidf_vocab_gate_falls_back_to_shuffle_join(spark):
    """Above the vocab gate our code must NOT pin the broadcast (a pinned
    broadcast of a 10^8-term vocabulary would OOM at 100 TB).  At sandbox
    scale the optimizer still auto-broadcasts the tiny df table from its
    own statistics — that's the correct division of labor — so to observe
    the fallback shape we disable auto-broadcast and assert a shuffle
    join: proof the hint is gone and stats alone decide."""
    thresholds = ["spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold"]
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    try:
        for k in thresholds:
            spark.conf.set(k, "-1")
        p = plan_of(
            EQ.q_text_tfidf_top_terms(spark, SF, broadcast_vocab_limit=0))
        assert "BroadcastHashJoin" not in p and "BroadcastExchange" not in p, p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_tfidf_gate_paths_agree(spark):
    """Both sides of the gate compute the identical result (the gate is a
    physical-plan decision only)."""
    key = ["doc_id", "term"]
    fast = EQ.q_text_tfidf_top_terms(spark, SF).orderBy(*key).collect()
    slow = EQ.q_text_tfidf_top_terms(
        spark, SF, broadcast_vocab_limit=0).orderBy(*key).collect()
    assert fast == slow


def test_quality_filters_no_shuffle(spark):
    """text_quality_filters is one codegen'd projection — zero exchanges."""
    import re
    p = plan_of(EQ.q_text_quality_filters(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 0, p
    assert "CartesianProduct" not in p


def test_token_budget_single_shuffle(spark):
    """sample_token_budget: one group-key exchange feeding the running-sum
    window — never a global sort."""
    import re
    p = plan_of(EQ.q_sample_token_budget(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert "rangepartitioning" not in p.lower(), p


def test_ngram_jaccard_no_cartesian(spark):
    """dedup_ngram_jaccard pairs via the gram equi-join — an all-pairs
    CartesianProduct would be the 100-TB killer."""
    p = plan_of(EQ.q_dedup_ngram_jaccard(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_dedup_lines_no_cartesian_and_partial_agg(spark):
    """dedup_lines: line-frequency groupBy must partial-aggregate (map-side
    combine collapses repeated lines before the shuffle); the freq join is
    an equi-join."""
    p = plan_of(EQ.q_dedup_lines(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 2 or p.count("ObjectHashAggregate") >= 2, p


def test_corpus_prep_composition_bounded_shuffles(spark):
    """The 4-stage corpus-prep flagship composes into ONE plan with a
    bounded handful of exchanges (quality gate is a projection above the
    spread exchange; dedup one fingerprint window — r11: min-over-window
    replaced the agg + self-join; decontam gram agg + broadcast
    semi-join; split one window; final count) and no cartesian anywhere.
    The bound covers the r11 spread_scan round-robin exchanges
    (REPARTITION_BY_NUM), which exist ONLY when the local single-row-group
    fixtures cap the scan at fewer partitions than cores — at scale
    spread_scan is an eager no-op and those nodes are absent entirely."""
    import re
    p = plan_of(EQ.q_pipeline_corpus_prep(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    spreads = p.count("REPARTITION_BY_NUM")
    assert len(re.findall(r"\bExchange\b", p)) - spreads <= 5, p
    assert spreads <= 3, p


def test_pack_sequences_single_shuffle(spark):
    """pack_sequences: one group-key exchange feeding the running-sum
    window — the span arithmetic is pure projection on top."""
    import re
    p = plan_of(EQ.q_pack_sequences(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert "rangepartitioning" not in p.lower(), p


def test_lake_filtered_read_pushes_residual_to_scan(spark, tmp_path):
    """Zone-map pruning and parquet-footer pushdown STACK: after the
    driver-side file skip, the residual predicate must still reach the
    parquet scan of the kept files (row-group skipping + codegen filter),
    and the broadcast decontam-bloom probe side must broadcast."""
    import datetime
    from source_flink_cdc_3_5_0_spark.common.events import CreateTableEvent
    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
    from source_flink_cdc_3_5_0_spark.sources.base import attach_envelope

    orders = EQ.load(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate")
    tid = TableId.parse("lake.db.orders")
    schema = Schema.from_struct_type(orders.schema,
                                     primary_keys=["o_orderkey"])
    sink = SnapshotLakeSink(str(tmp_path / "t"), num_buckets=2)
    sink.metadata_applier().apply_schema_change(
        tid, CreateTableEvent(tid, schema), schema)
    sink.write(tid, attach_envelope(orders, "+I", seq=0), schema, batch_id=0)
    sink.compact(spark, tid, order_by=["o_orderdate"], files_per_bucket=4)
    lo = datetime.datetime(1996, 1, 1)
    df = sink.read(spark, tid, filters=[("o_orderdate", ">=", lo)])
    p = plan_of(df)
    pushed = p.split("PushedFilters: [")[1].split("]")[0] \
        if "PushedFilters: [" in p else ""
    assert "GreaterThanOrEqual(o_orderdate" in pushed, pushed or p


def test_decontam_bloom_broadcasts_positions(spark):
    """The bloom probe joins corpus gram positions against the BROADCAST
    eval-position set — the corpus side is never shuffled for the join."""
    p = plan_of(EQ.q_decontam_bloom(spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_incremental_dedup_no_cartesian_store_reused(spark):
    """Batch-vs-store dedup: candidates come from the banded signature
    equi-join (no cartesian, no nested-loop anywhere), and the corpus
    text is only read behind the survivor semi-join."""
    p = plan_of(EQ.q_dedup_incremental(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_srp_neardup_no_cartesian_band_join(spark):
    """SRP-LSH: the only self-join is the (band, key) equi-join — no
    cartesian / nested-loop fallback anywhere in the plan."""
    p = plan_of(EQ.q_embedding_srp_neardup(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def _lsh_pairs(spark, fn):
    from source_flink_cdc_3_5_0_spark.extensions import dedup

    table, key = (("embeddings", "vec_id") if fn == "srp_neardup_pairs"
                  else ("documents", "doc_id"))
    # a trivially-true filter no other test uses: keeps the input
    # canonically distinct from other tests' calls, whose cache entries
    # (minhash_lsh_exact_pairs persists the same signature subtree) would
    # otherwise replace the UDF stage with a cached scan
    return getattr(dedup, fn)(spark.read.parquet(f"{SF}/{table}.parquet")
                              .where(f"{key} IS NULL OR {key} = {key}"))


@pytest.mark.parametrize("fn, band_key", [
    ("minhash_lsh_pairs", "band"),
    ("simhash_neardup_pairs", "band"),
    ("srp_neardup_pairs", "bx"),
])
def test_lsh_band_self_join_runs_udf_once(spark, fn, band_key):
    """The band self-join reads ONE exchange hash-partitioned on the band
    key above the pandas UDF: AQE serves the second join side as a
    ReusedExchange, so the UDF runs once per row.  Without it each side
    re-ran the UDF (SRP a third time, for a generator filter pushed below
    the spread exchange).  Pinned on the final adaptive plan of the
    DataFrame that ran — a ``.write`` plans its own QueryExecution."""
    import re

    df = _lsh_pairs(spark, fn)
    df.collect()
    p = plan_of(df)
    assert p.startswith("AdaptiveSparkPlan isFinalPlan=true"), p
    # no cached relation or subquery here, so the first Initial Plan
    # marker is the top-level one
    final = p.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert re.search(r"ReusedExchange \[.*\], Exchange hashpartitioning\("
                     rf"{band_key}#", final), final


def test_minhash_pairs_after_exact_pairs_still_reuses_band_exchange(spark):
    """A minhash_lsh_exact_pairs run on the same input leaves no cached
    signature subtree behind: the later minhash_lsh_pairs still evaluates
    its UDF once and serves the second band-join side as a
    ReusedExchange (a cached subtree made each side read its own cache
    stage and run the band exchange twice). Its candidate pairs
    deduplicate as scalars: no SortAggregate of first(sig_…) and no
    array through the post-join exchange."""
    import re

    from source_flink_cdc_3_5_0_spark.extensions import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .where("doc_id IS NULL OR doc_id <= doc_id")
    dedup.minhash_lsh_exact_pairs(docs, jaccard_threshold=0.5).collect()
    df = dedup.minhash_lsh_pairs(docs)
    df.collect()
    final = _final_plan(plan_of(df))
    assert final.count("ArrowEvalPython") == 1, final
    assert re.search(r"ReusedExchange \[.*\], Exchange hashpartitioning\("
                     r"band#", final), final
    assert "SortAggregate" not in final and "first(" not in final, final
    assert re.search(r"Exchange hashpartitioning\(id_a#\d+L, id_b#\d+L, "
                     r"est_jaccard#\d+, \d+\)", final), final


def test_json_schema_infer_runs_map_in_pandas_once(spark):
    """The inferred type per key is a window over the key, not a
    self-join of the observations: one MapInPandas in the final plan."""
    df = EQ.q_json_schema_infer(spark, SF)
    df.collect()
    final = _final_plan(plan_of(df))
    assert final.count("MapInPandas") == 1, final


def _spread_partitions(df) -> int:
    """The partition count of ``_spread``'s RepartitionByExpression."""
    from source_flink_cdc_3_5_0_spark.extensions.dedup import _spread

    return _spread(df, df.columns[0])._jdf.queryExecution().analyzed() \
        .numPartitions()


def test_spread_sizes_udf_stage_by_estimated_bytes(spark):
    """ceil(estimated bytes / _UDF_TASK_BYTES) tasks, clamped to
    [1, defaultParallelism]: a small parquet input runs in one task, and
    spark.range (exact statistics, 8 bytes a row) gets one task per
    _UDF_TASK_BYTES up to the core count."""
    from source_flink_cdc_3_5_0_spark.extensions.dedup import _UDF_TASK_BYTES

    cores = spark.sparkContext.defaultParallelism
    assert cores >= 3
    assert _spread_partitions(
        spark.read.parquet(f"{SF}/documents.parquet")) == 1
    rows = 2 * _UDF_TASK_BYTES // 8 + 1          # just over 2 x B
    assert _spread_partitions(spark.range(rows)) == 3
    big = cores * _UDF_TASK_BYTES // 8 * 10       # 10 x (cores x B)
    assert _spread_partitions(spark.range(big)) == cores


def test_spread_without_statistics_keeps_the_core_count(spark):
    """An RDD-backed frame reports spark.sql.defaultSizeInBytes, i.e. no
    estimate: the spread keeps one task per core."""
    df = spark.createDataFrame(spark.sparkContext.parallelize([(1,)]),
                               "id bigint")
    assert _spread_partitions(df) == spark.sparkContext.defaultParallelism


def test_rolling_revenue_single_shuffle(spark):
    """Time-RANGE frame: one hash exchange on o_custkey, the frame sort
    rides the same exchange."""
    import re
    p = plan_of(EQ.q_window_rolling_revenue(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p


def test_scd2_history_single_shuffle(spark):
    """SCD2 construction = latest_image's shape: one key exchange feeds
    the lead window, interval algebra stays in the projection."""
    import re
    p = plan_of(EQ.q_cdc_scd2_history(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p


def test_grouping_sets_one_expand_one_shuffle(spark):
    """Four grouping sets share ONE Expand over one scan and one final
    exchange — not four separate aggregate passes."""
    import re
    p = plan_of(EQ.q_agg_grouping_sets(spark, SF))
    assert p.count("Expand") == 1, p
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert p.count("Scan parquet") == 1, p


def test_text_normalize_zero_shuffle(spark):
    p = plan_of(EQ.q_text_normalize(spark, SF))
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p, p


def test_dedup_url_single_shuffle_no_python(spark):
    """Canonicalization is one codegen projection; the dedup groupBy is
    the only hash shuffle (group stats come back via broadcast)."""
    import re
    p = plan_of(EQ.q_dedup_url(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p, p


def test_funnel_no_cartesian_all_equijoins(spark):
    """Funnel stages chain by user_id equi-joins — never a cross join;
    with small stage outputs the joins broadcast."""
    p = plan_of(EQ.q_funnel_conversion(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_split_leakage_bipartite_no_cartesian(spark):
    """Leakage candidates come from the gram equi-join between the two
    split sides — no all-pairs shuffle anywhere."""
    p = plan_of(EQ.q_decontam_split_leakage(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_correlated_subquery_decorrelates(spark):
    """Catalyst must rewrite the Q17-shape correlated aggregates into
    partkey equi-joins — never a per-row re-scan or a nested-loop join."""
    p = plan_of(EQ.q_agg_correlated_subquery(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_gapfill_single_shuffle(spark):
    import re
    p = plan_of(EQ.q_gapfill_forward(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 1, p


def test_tidb_kv_decode_two_exchanges_arrow_python(spark):
    """TiDB raw-KV pipeline shape: exactly TWO exchanges (the explicit
    repartition spreading the Python codec stages to executor width + the
    materialize key shuffle); the codec stages are Arrow mapInPandas, never
    row-at-a-time Python; no BatchEvalPython anywhere."""
    import re
    p = plan_of(EQ.q_cdc_tidb_kv_decode(spark, SF))
    assert len(re.findall(r"\bExchange\b", p)) == 2, p
    assert p.count("MapInPandas") == 2, p   # encode + decode, Arrow-batched
    assert "BatchEvalPython" not in p, p


def test_wire_decoder_plan_shapes(spark):
    """Round-6 wire-decoder oracle gates, 100 TB posture pinned:

    - pgoutput: TWO exchanges (the explicit repartition spreading the
      Python encode to executor width + the materialize key shuffle),
      TWO Arrow MapInPandas stages (encode + decode/bridge) — one capture
      file per task, the unit a real reader consumes;
    - binlog (round-7: TCP transport inside the gate): the returned plan
      is the DECODE half — a binaryFile scan of the spool fetched over
      the real MySQL replication protocol (handshake + auth + dump),
      ONE Arrow decode stage, ONE materialize exchange; the encode half
      runs as its own job first (asserted below: one Arrow encode stage,
      one spreading exchange) — two Arrow stages across the pipeline,
      same as before, now with the transport between them;
    - sqlserver / vitess: PURE Catalyst (zero Python stages) — from_json
      decode + window pairing/materialize;
    - logminer: ONE exchange (materialize) around two Arrow stages (line
      pack + redo-SQL parse bridge);
    - db2: zero Python; 3 exchanges = the composite-key dedup aggregation
      (fixture prep, done ONCE — the script derives all wire rows from a
      single explode pass) + the decode window + materialize.
    Every fixture script is a SINGLE table scan (explode over conditional
    wire rows, not an N-branch union re-scanning the table N times).
    Never a row-at-a-time BatchEvalPython or a cartesian product.
    """
    import re

    shapes = {
        # name -> (exchanges, map_in_pandas)
        # r11: the scripted-churn builders spread the narrow single-file
        # scan (spread_scan round-robin exchange) before the struct-build
        # + explode so the expression/codec work parallelizes; the
        # exchange is a no-op at production file counts.  Counts below
        # include that exchange for the affected fixtures.
        "cdc_mysql_binlog_decode": (1, 1),  # decode half; encode below
        # (the spread exchange lives in the encode job, not this plan)
        # round-10 payload/partial gate: all-in-one plan — encode Arrow
        # stage + spreading exchange, decode Arrow stage + materialize
        # exchange; the TRANSACTION_PAYLOAD unwrap happens inside the
        # per-file sequential decode and adds NO shuffle
        "cdc_mysql_binlog_payload_decode": (2, 2),
        "cdc_pgoutput_decode": (3, 2),
        "cdc_pgoutput_binary_decode": (3, 2),
        # walsender-routed twin: decode half over the respooled files
        # (one Arrow bridge + materialize exchange), encode in its own job
        "cdc_pgoutput_walsender_decode": (1, 1),
        "cdc_sqlserver_changetable": (2, 0),
        "cdc_db2_asn": (3, 0),
        "cdc_oracle_logminer": (2, 2),
        "cdc_vitess_vstream": (2, 0),
        # round-11 wire gate: the produce half is a bounded driver-side
        # socket client (runs before the plan); the returned plan is the
        # consume half — text scan over the spool, from_json decode
        # (pure Catalyst, ZERO Python stages), one key-shuffle
        # materialize window
        "cdc_kafka_wire_roundtrip": (1, 0),
    }
    for name, (n_exchange, n_arrow) in shapes.items():
        p = plan_of(EQ.QUERIES[name](spark, SF))
        assert len(re.findall(r"\bExchange\b", p)) == n_exchange, (name, p)
        assert p.count("MapInPandas") == n_arrow, (name, p)
        assert "BatchEvalPython" not in p, (name, p)
        assert "Cartesian" not in p, (name, p)
    # the binlog gate's decode half must scan the protocol-fetched spool...
    p = plan_of(EQ.QUERIES["cdc_mysql_binlog_decode"](spark, SF))
    assert "binaryFile" in p or "FileScan" in p, p
    # ...and its encode half stays one Arrow stage over the deterministic
    # key exchange plus the r11 spread_scan exchange on the narrow scan
    # (the capture-file job that feeds the TCP server)
    pe = plan_of(EQ.binlog_capture_files(spark, SF))
    assert pe.count("MapInPandas") == 1, pe
    assert len(re.findall(r"\bExchange\b", pe)) == 2, pe
    assert "BatchEvalPython" not in pe, pe


def _steady_mor_rounds(spark, root, monkeypatch, value_type, n_rounds=3):
    """Drive ``n_rounds`` Debezium micro-batches (50 keys each, the same
    shape every round) through the composer into a merge-on-read lake
    table; per round, return (Spark jobs, Janino compiles, the plan of the
    frame the commit wrote).  ``value_type`` is the payload column's type:
    one no other test writes keeps code compiled by earlier tests out of
    the compile count (generated code knows types, not column names)."""
    import json
    import os

    from source_flink_cdc_3_5_0_spark.pipeline import (PipelineComposer,
                                                       parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks import lakehouse

    pdef = parse_yaml_pipeline(f"""
source:
  type: debezium-file
  path: {root}/in
  checkpoint: {root}/ckpt
  tables: '{json.dumps({"db.t": f"id BIGINT, v {value_type}"})}'
  primary-keys: '{json.dumps({"db.t": ["id"]})}'
sink:
  type: paimon
  path: {root}/sink
  snapshots: true
  changelog-mode: mor
""")
    os.makedirs(f"{root}/in")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    plans = []
    staged_write = lakehouse.SnapshotLakeSink._staged_write

    def recording(self, df, dest_dir):
        plans.append(plan_of(df))
        return staged_write(self, df, dest_dir)

    monkeypatch.setattr(lakehouse.SnapshotLakeSink, "_staged_write",
                        recording)
    out = []
    for rnd in range(n_rounds):
        with open(f"{root}/in/r{rnd}.json", "w") as f:
            for i in range(50):
                f.write(json.dumps({
                    "op": "u" if rnd else "c", "ts_ms": rnd * 100 + i,
                    "before": None,
                    "after": {"id": i, "v": rnd * 1000 + i},
                    "source": {"db": "db", "table": "t"}}) + "\n")
        compiles = codegen.METRIC_COMPILATION_TIME().getCount()
        pipe, raw, tables = PipelineComposer(spark).compose_streaming(pdef)
        q = pipe.start(raw, tables)
        q.awaitTermination()
        assert q.exception() is None, q.exception()
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            str(q.runId))
        out.append((len(jobs),
                    codegen.METRIC_COMPILATION_TIME().getCount() - compiles,
                    plans[-1]))
    return out


def test_steady_mor_micro_batch_one_exchange_per_commit(spark, tmp_path,
                                                        monkeypatch):
    """The lake sink supplies the pre-partition key (``__bucket``), so the
    composer's one exchange serves both the per-key dedup window and the
    bucket-partitioned write: a steady micro-batch runs 3 jobs (the
    cache-filling DDL collect, the shuffle map stage, the write), not 4,
    and the commit plan holds exactly one Exchange, on ``__bucket``."""
    import re

    rounds = _steady_mor_rounds(spark, tmp_path, monkeypatch, "STRING")
    for jobs, _compiles, plan in rounds[1:]:
        assert jobs == 3, (jobs, plan)
        exchanges = re.findall(r"\bExchange\b.*", plan)
        assert len(exchanges) == 1, plan
        assert "hashpartitioning(__bucket" in exchanges[0], plan


def test_second_mor_commit_compiles_no_code(spark, tmp_path, monkeypatch):
    """A commit's ``__commit_seq`` reaches generated code as a reference,
    not an inlined long, so a later commit of the same shape in a warm
    session hits the codegen cache: 0 Janino compiles."""
    rounds = _steady_mor_rounds(spark, tmp_path, monkeypatch,
                                "DECIMAL(11, 3)")
    assert [c for _j, c, _p in rounds[1:]] == [0, 0], rounds


def test_enriched_projection_parses_each_record_once(spark):
    """The routing projection reads ddl, db, schema and table from ONE
    ``from_json`` of the envelope's narrow routing struct: the optimized
    plan of the enriched batch holds exactly one JSON parse and no
    ``get_json_object`` probe."""
    from source_flink_cdc_3_5_0_spark.streaming.runner import (
        ENVELOPES, StreamingPipeline)

    raw = spark.createDataFrame([('{"source": {"db": "d", "table": "t"}}',)],
                                "value string")
    for serialization in ENVELOPES:
        enriched = StreamingPipeline.enrich_batch(raw, "value",
                                                  serialization)
        plan = enriched._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json(") == 1, (serialization, plan)
        assert "get_json_object" not in plan, (serialization, plan)
