"""Skew operators + property-based tests (hypothesis) for the type lattice."""

from decimal import Decimal

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from source_flink_cdc_3_5_0_spark.common.types import (
    STRING,
    get_least_common_type,
    is_type_compatible,
)
from source_flink_cdc_3_5_0_spark.operators.skew import salted_agg

SCALAR_TYPES = [
    T.StringType(), T.BooleanType(), T.BinaryType(),
    T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
    T.FloatType(), T.DoubleType(),
    T.DecimalType(10, 2), T.DecimalType(20, 5), T.DecimalType(38, 0),
    T.DateType(), T.TimestampType(), T.TimestampNTZType(),
]

types_st = st.sampled_from(SCALAR_TYPES)


@settings(max_examples=300, deadline=None)
@given(a=types_st, b=types_st)
def test_lattice_commutative(a, b):
    assert get_least_common_type(a, b) == get_least_common_type(b, a)


@settings(max_examples=300, deadline=None)
@given(a=types_st)
def test_lattice_idempotent(a):
    assert get_least_common_type(a, a) == a


@settings(max_examples=300, deadline=None)
@given(a=types_st, b=types_st)
def test_merge_is_compatible_upper_bound(a, b):
    """The merged type must accept data of both inputs (the whole point of
    getCommonSchema): merge(a,b) compatible-with a and b."""
    m = get_least_common_type(a, b)
    assert is_type_compatible(m, a) or m == a
    assert is_type_compatible(m, b) or m == b


@settings(max_examples=200, deadline=None)
@given(a=types_st, b=types_st, c=types_st)
def test_lattice_monotone_string_absorbs(a, b, c):
    """STRING is the top: once a merge hits STRING it stays there."""
    if get_least_common_type(a, b) == STRING:
        assert get_least_common_type(get_least_common_type(a, b), c) == STRING


class TestSkewOperators:
    def test_salted_agg_matches_plain(self, spark):
        df = spark.range(0, 10000).select(
            (F.col("id") % 3).alias("k"), (F.col("id") * 2).alias("v"))
        plain = {(r["k"]): (r["s"], r["c"], r["mn"], r["mx"])
                 for r in df.groupBy("k").agg(
                     F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"),
                     F.min("v").alias("mn"), F.max("v").alias("mx")).collect()}
        salted = {(r["k"]): (r["s"], r["c"], r["mn"], r["mx"])
                  for r in salted_agg(df, ["k"], {
                      "s": "sum(v)", "c": "count(*)", "mn": "min(v)", "mx": "max(v)",
                  }, n_salts=7).collect()}
        assert plain == salted

    def test_salted_agg_two_shuffles(self, spark):
        df = spark.range(0, 100).select((F.col("id") % 2).alias("k"), F.col("id").alias("v"))
        p = salted_agg(df, ["k"], {"s": "sum(v)"})._jdf.queryExecution() \
            .executedPlan().toString()
        assert p.count("Exchange") == 2  # salted partial + final


class TestMinhashHotShingle:
    """Hot-shingle skew fixture (round-2 verdict finding): every doc shares
    one corpus-wide trigram, so one (hx, hv) bucket holds a large fraction
    of the corpus. The r=1/b=64 tier-1 must neither blow up nor change the
    exact answer."""

    N_DOCS = 300
    HOT = "the quick fox"  # the shared hot trigram

    @pytest.fixture(scope="class")
    def hot_docs(self, spark):
        # pairs of near-dup docs (J >= 0.5) + singletons; ALL contain the
        # hot trigram, so its bucket holds every doc that has it as a
        # minhash minimum for some slot.
        rows = []
        for i in range(self.N_DOCS):
            base = f"{self.HOT} doc{i // 2} alpha beta gamma delta epsilon"
            if i % 2 == 1 and i < 100:
                base += " zeta"  # near-dup of the even sibling
            elif i % 2 == 1:
                base = f"{self.HOT} unique{i} one two three four five six"
            rows.append((i, base))
        return spark.createDataFrame(rows, "doc_id int, text string")

    @staticmethod
    def _brute_force(df):
        from source_flink_cdc_3_5_0_spark.extensions.dedup import word_ngrams_col
        g = df.select("doc_id", word_ngrams_col("text").alias("g"))
        j = (g.alias("a").crossJoin(g.alias("b"))
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"),
                     F.round(F.size(F.array_intersect("a.g", "b.g")).cast("double")
                             / F.size(F.array_union("a.g", "b.g")).cast("double"),
                             6).alias("jaccard"))
             .where(F.col("jaccard") >= 0.5))
        return {(r.id_a, r.id_b): r.jaccard for r in j.collect()}

    def test_exact_matches_bruteforce_on_hot_corpus(self, spark, hot_docs):
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            minhash_lsh_exact_pairs)
        got = {(r.id_a, r.id_b): r.jaccard
               for r in minhash_lsh_exact_pairs(hot_docs).collect()}
        assert got == self._brute_force(hot_docs)

    def test_hot_bucket_cap_keeps_true_pairs(self, spark, hot_docs):
        """A generous cap drops only buckets bigger than any true-dup
        cluster; the answer is unchanged while the worst-case per-bucket
        join cost is bounded at cap²."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            minhash_lsh_exact_pairs)
        got = {(r.id_a, r.id_b): r.jaccard
               for r in minhash_lsh_exact_pairs(
                   hot_docs, hot_bucket_cap=50).collect()}
        assert got == self._brute_force(hot_docs)

    def test_tight_cap_only_loses_cluster_pairs(self, spark, hot_docs):
        """With a cap below the near-dup pair count the output stays a
        SUBSET of the truth (never a false positive — tier-2/3 still
        verify), and singleton non-dups stay absent."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            minhash_lsh_exact_pairs)
        got = {(r.id_a, r.id_b): r.jaccard
               for r in minhash_lsh_exact_pairs(
                   hot_docs, hot_bucket_cap=5).collect()}
        truth = self._brute_force(hot_docs)
        assert set(got).issubset(set(truth))
        for k, v in got.items():
            assert truth[k] == v


class TestConnectedComponents:
    def test_known_graph(self, spark):
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            connected_components)
        # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 20)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
            "id_a bigint, id_b bigint")
        got = {(r.id, r.rep_id) for r in connected_components(pairs).collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                       (10, 10), (11, 10),
                       (20, 20), (21, 20), (22, 20)}

    def test_long_chain_converges(self, spark):
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            connected_components)
        n = 24  # diameter 24 chain still converges under max_iter
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint")
        got = connected_components(pairs)
        assert {r.rep_id for r in got.collect()} == {0}
        assert got.count() == n + 1

    def test_pathological_chain_star_fallback(self, spark):
        """A 200-node chain (diameter >> max_iter) must still produce the
        component minimum — the default on_max_iter='star' finishes with
        the alternating-star algorithm instead of silently returning
        partial labels."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            connected_components)
        n = 200
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint")
        got = connected_components(pairs, max_iter=5)
        assert {r.rep_id for r in got.collect()} == {0}
        assert got.count() == n + 1

    def test_string_ids_converge_exactly(self, spark):
        """Non-integral ids must not ride the r11 Σlabel convergence
        probe (a string→decimal cast yields NULL, and NULL sums would
        fake instant convergence) — the join+count probe must kick in
        and the chain must still fully propagate to the lexicographic
        minimum."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            connected_components)
        # chain a-b-c-d needs 3+ rounds; a second component {x,y}
        pairs = spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("c", "d"), ("x", "y")],
            "id_a string, id_b string")
        got = {(r.id, r.rep_id) for r in connected_components(pairs).collect()}
        assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                       ("x", "x"), ("y", "x")}

    def test_nonconvergence_raises_with_guidance(self, spark):
        import pytest as _pytest

        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            connected_components)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint")
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iter=3, on_max_iter="raise")

    def test_nonconvergence_warns_partial(self, spark):
        import warnings

        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            connected_components)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = connected_components(pairs, max_iter=3, on_max_iter="warn")
            got.collect()
        assert any("NOT component minima" in str(w.message) for w in caught)

    def test_alternating_star_multi_component(self, spark):
        """Star algorithm alone on a mixed graph: chain + star + pair."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            _alternating_star)
        und = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
            "u bigint, v bigint")
        got = {(r.id, r.label) for r in _alternating_star(und).collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                       (10, 10), (11, 10),
                       (20, 20), (21, 20), (22, 20)}


class TestNgramJaccard:
    def test_exact_pairs_match_bruteforce(self, spark):
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            ngram_jaccard_pairs)
        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d x"), (3, "q r s t u"),
             (4, "q r s t u"), (5, "zz")],
            "doc_id bigint, text string")
        got = {(r.id_a, r.id_b): r.jaccard
               for r in ngram_jaccard_pairs(
                   docs, k=2, jaccard_threshold=0.3).collect()}
        # 1-2 share 3 of 5 distinct 2-grams -> 3/5; 3-4 identical -> 1.0
        assert got == {(1, 2): 0.6, (3, 4): 1.0}

    def test_max_gram_df_prunes_hot_grams(self, spark):
        """With a df cap, a gram shared by every doc stops generating
        pairs; Jaccard is computed over the surviving (rare) gram sets."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            ngram_jaccard_pairs)
        # 'h h' appears in all 4 docs (hot); rare grams pair 1-2 only
        docs = spark.createDataFrame(
            [(1, "h h a b"), (2, "h h a b"), (3, "h h z1 z2"),
             (4, "h h y1 y2")],
            "doc_id bigint, text string")
        full = {(r.id_a, r.id_b)
                for r in ngram_jaccard_pairs(
                    docs, k=2, jaccard_threshold=0.2).collect()}
        pruned = {(r.id_a, r.id_b): r.jaccard
                  for r in ngram_jaccard_pairs(
                      docs, k=2, jaccard_threshold=0.2,
                      max_gram_df=2).collect()}
        assert (3, 4) not in pruned and (1, 3) in full
        assert pruned[(1, 2)] == 1.0  # rare-subset Jaccard: identical rares

    def test_star_fallback_keeps_self_pair_ids(self, spark):
        """Ids appearing only in self-pairs must survive the star fallback
        (the converged propagation path keeps them; the fallback must too)."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import (
            connected_components)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40)] + [(777, 777)],
            "id_a bigint, id_b bigint")
        got = {r.id: r.rep_id
               for r in connected_components(pairs, max_iter=3).collect()}
        assert got[777] == 777
        assert all(v == 0 for k, v in got.items() if k != 777)


class TestPortableBucketPyEquivalence:
    def test_python_replica_matches_spark_expression(self, spark):
        """portable_bucket_py must be bit-identical to the Spark column
        expression under the lenient (non-ANSI) mode the pipeline runs,
        including 64-bit wrap and Java % sign semantics."""
        from pyspark.sql import functions as F
        from source_flink_cdc_3_5_0_spark.functions.dialect import \
            ensure_lenient_sql
        from source_flink_cdc_3_5_0_spark.operators.partitioning import (
            portable_bucket_expr, portable_bucket_py)

        ensure_lenient_sql(spark)
        keys = [0, 1, 2, 7, 16, 12345, 10**6, 2**31 - 1, 2**31, 2**40,
                2**62, 2**63 // 2654435761 + 5, -1, -7, -2**31, -2**40,
                999999999999]
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        for n in (4, 16, 37):
            got = [r[0] for r in
                   df.select(portable_bucket_expr(F.col("k"), n)).collect()]
            want = [portable_bucket_py(k, n) for k in keys]
            assert got == want, (n, list(zip(keys, got, want)))


class TestWinnowingGuarantee:
    def test_shared_span_detected_regardless_of_alignment(self, spark):
        """The winnowing theorem: a shared token run of length >=
        k + window - 1 (= 11 here) yields >= 1 identical fingerprint in
        both docs, whatever offsets the run sits at."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import \
            winnowed_fingerprint_pairs

        span = " ".join(f"s{i}" for i in range(11))
        rows = [
            (1, "a1 a2 a3 " + span + " a4 a5"),            # offset 3
            (2, "b1 " + span + " b2 b3 b4 b5 b6 b7"),      # offset 1
            (3, " ".join(f"c{i}" for i in range(30))),     # no overlap
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        pairs = {(r["id_a"], r["id_b"])
                 for r in winnowed_fingerprint_pairs(df, k=8, window=4)
                 .collect()}
        assert (1, 2) in pairs
        assert not any(3 in p for p in pairs)

    def test_short_shared_span_may_miss_long_always_hits(self, spark):
        """Below the guarantee (10 shared tokens) detection is allowed
        to miss; at and above it never does — pinned over several
        alignments."""
        from source_flink_cdc_3_5_0_spark.extensions.dedup import \
            winnowed_fingerprint_pairs

        span = " ".join(f"s{i}" for i in range(11))
        for off_a, off_b in [(0, 5), (2, 9), (7, 0)]:
            rows = [
                (1, " ".join(f"a{i}" for i in range(off_a)) + " " + span),
                (2, " ".join(f"b{i}" for i in range(off_b)) + " " + span),
            ]
            df = spark.createDataFrame(rows, "doc_id bigint, text string")
            got = winnowed_fingerprint_pairs(df, k=8, window=4).collect()
            assert len(got) == 1 and got[0]["n_shared_fps"] >= 1, \
                (off_a, off_b)


class TestLshNullInputs:
    @pytest.mark.parametrize("fn", [
        "minhash_lsh_pairs", "simhash_neardup_pairs", "srp_neardup_pairs"])
    def test_null_input_row_joins_nothing(self, spark, fn):
        """A NULL text or embedding pairs with nothing and does not fail
        the query: the other rows still pair."""
        from source_flink_cdc_3_5_0_spark.extensions import dedup

        if fn == "srp_neardup_pairs":
            v = [float(i + 1) for i in range(8)]
            w = [(-1.0) ** i for i in range(8)]
            df = spark.createDataFrame(
                [(1, v), (2, v), (3, None), (4, w)],
                "vec_id bigint, embedding array<double>")
        else:
            df = spark.createDataFrame(
                [(1, "a b c d e f"), (2, "a b c d e f"), (3, None),
                 (4, "q r s t u v")],
                "doc_id bigint, text string")
        got = sorted((r.id_a, r.id_b) for r in getattr(dedup, fn)(df).collect())
        assert got == [(1, 2)]
