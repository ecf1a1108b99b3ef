"""Benchmark decontamination: exact word-k-gram overlap between a (small)
eval/benchmark set and the training corpus.

The standard LLM-pipeline hygiene step (reference has no analog — this is a
declared extension alongside dedup/similarity, SURVEY §2.4 posture): any
training document sharing ≥1 distinct word k-gram with an eval document is
flagged, with the shared-gram count as evidence strength.

Scale shape: distinct k-grams are computed JVM-side (no Python), both sides
explode to (doc_id, gram) rows, and the join BROADCASTS the exploded eval
side — eval suites are tiny (thousands of docs) next to a 100 TB corpus, so
the corpus is never shuffled: one codegen'd scan+explode+broadcast-join+
partial-agg pass. If the eval side ever outgrows broadcast range, dropping
the hint degrades gracefully to a hash join on the gram key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import tokens_col, word_ngrams_col


def ngram_overlap_pairs(corpus: DataFrame, eval_df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 4) -> DataFrame:
    """(eval_doc_id, corpus_doc_id, n_shared_grams) for every corpus doc
    sharing at least one distinct word k-gram with an eval doc."""
    def grams_of(df: DataFrame, out_id: str) -> DataFrame:
        # tokens materialized as a real column first — the higher-order
        # gram builder is interpreted and would re-tokenize per element_at
        # reference otherwise (see word_ngrams_col docstring; was 4x wall
        # time on this query). No whole-text fallback: a doc shorter than
        # k words cannot contain a k-gram of the eval set.
        return (
            df.withColumn("__toks", tokens_col(text_col))
            .select(
                F.col(id_col).alias(out_id),
                F.explode(word_ngrams_col(
                    "__toks", k, fallback_whole_text=False,
                    from_tokens=True)).alias("gram"),
            ))

    ev = F.broadcast(grams_of(eval_df, "eval_doc_id"))
    co = grams_of(corpus, "corpus_doc_id")
    return (
        co.join(ev, on="gram")
        .groupBy("eval_doc_id", "corpus_doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


# -- Bloom-filter membership variant ---------------------------------------

def bloom_position_sql(dialect: str, col: str, salt: int, m_bits: int) -> str:
    """Bloom hash position in [0, m_bits) — positional hex parse (the
    same cross-engine trick as ``sketches.uniform_fraction_sql``) of the
    salt-th DISJOINT 8-nibble window of ONE md5(col): one hash call
    serves up to 4 independent 32-bit probe values (disjoint bits of a
    strong hash are independent — cheaper than the k-salted-md5 form,
    which tripled the per-gram string work in the bench profile).  Spark
    and DuckDB compute bit-identical positions, so the whole approximate
    operator stays exactly oracle-able (false positives included)."""
    if not 0 <= salt <= 3:
        raise ValueError(f"salt must be 0..3 (md5 has 4 disjoint 8-nibble "
                         f"windows), got {salt}")
    off = salt * 8 + 1
    if dialect == "spark":
        win = f"substring(md5(CAST({col} AS STRING)), {off}, 8)"
        return f"(CAST(conv({win}, 16, 10) AS BIGINT) % {m_bits})"
    win = f"substring(md5(CAST({col} AS VARCHAR)), {off}, 8)"
    return f"(CAST(('0x' || {win}) AS BIGINT) % {m_bits})"


def bloom_decontam_flags(corpus: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 4, m_bits: int = 1 << 18,
                         n_hashes: int = 3) -> DataFrame:
    """(corpus_doc_id, n_bloom_grams): corpus docs whose word k-grams test
    positive against a Bloom filter of the eval suite's grams.

    Why a Bloom variant next to :func:`ngram_overlap_pairs`: the broadcast
    there ships the eval grams as STRINGS (tens of bytes each).  Here the
    broadcast state is the filter's set-bit POSITIONS — bounded by
    ``n_hashes × |eval grams|`` 8-byte ints regardless of gram length, and
    by ``m_bits`` overall — so a 100-TB run broadcasts a few MB however
    long the grams are, and the probe join is int-keyed.  The price is the
    classic FP rate (1 - e^(-kn/m))^k, acceptable for decontamination
    (flagging slightly too much is safe; missing overlap is not — Bloom
    filters have NO false negatives).

    Scale shape: both sides stay JVM codegen (no Python).  The eval side
    reduces to DISTINCT positions and broadcasts; the corpus side explodes
    each distinct gram to its n_hashes positions, joins on the int
    position, and a gram is positive iff ALL n_hashes probes hit
    (count == n_hashes per (doc, gram) — each probe matches at most one
    distinct position row).  The corpus is never shuffled: explode →
    broadcast-join → two partial aggs, one pass."""
    def _grams(df: DataFrame, out_id: str) -> DataFrame:
        from .dedup import tokens_col, word_ngrams_col

        return (df.withColumn("__toks", tokens_col(text_col))
                .select(F.col(id_col).alias(out_id),
                        F.explode(word_ngrams_col(
                            "__toks", k, fallback_whole_text=False,
                            from_tokens=True)).alias("gram")))

    pos_exprs = [F.expr(bloom_position_sql("spark", "gram", s, m_bits))
                 for s in range(n_hashes)]
    eval_pos = (_grams(eval_df, "eval_doc_id")
                .select(F.explode(F.array(*pos_exprs)).alias("pos"))
                .distinct())
    probes = (_grams(corpus, "corpus_doc_id")
              .select("corpus_doc_id", "gram",
                      F.explode(F.array(*pos_exprs)).alias("pos")))
    return (probes.join(F.broadcast(eval_pos), on="pos")
            .groupBy("corpus_doc_id", "gram")
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .where(F.col("n_hit") == n_hashes)
            .groupBy("corpus_doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bloom_grams")))


def cross_split_leakage(df: DataFrame, split_col: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        from_split: str = "train", to_split: str = "test",
                        k: int = 3,
                        jaccard_threshold: float = 0.5) -> DataFrame:
    """Train/test split-leakage detection: near-duplicate pairs that CROSS
    the split — a test document sharing ≥ ``jaccard_threshold`` word-k-gram
    Jaccard with any train document means the eval split leaks training
    content (the eval-integrity failure decontamination exists to prevent).

    Exact bipartite variant of ``dedup.ngram_jaccard_pairs``: one distinct
    gram explode carrying the split tag, ONE gram equi-join restricted to
    (train side) × (test side) — the bipartite restriction means intra-split
    candidate pairs never materialize (strictly cheaper than pairing the
    union and filtering after), per-pair partial-agg intersection counts,
    exact Jaccard on the rare side. Returns (test id, train id, jaccard),
    complete for J > 0 like the underlying shared-gram blocking."""
    # one task per core, like dedup.ngram_jaccard_pairs: a JVM-only explode
    # has no per-task Python cost for dedup._spread's byte sizing to save
    # (sized to one task at sf0.1 on 4 cores: CPU within noise, wall
    # 7.6 -> 19.9 s)
    cores = df.sparkSession.sparkContext.defaultParallelism
    grams = (df.repartition(cores, F.col(id_col))
             .select(F.col(id_col).alias("id"), F.col(split_col).alias("s"),
                     F.explode(word_ngrams_col(text_col, k=k)).alias("gram"))
             .persist())
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.where(F.col("s") == from_split).select(
        F.col("id").alias("train_id"), "gram")
    b = grams.where(F.col("s") == to_split).select(
        F.col("id").alias("test_id"), "gram")
    inter = (b.join(a, "gram")
              .groupBy("test_id", "train_id")
              .agg(F.count(F.lit(1)).alias("inter")))
    jac = F.round(F.col("inter")
                  / (F.col("na") + F.col("nb") - F.col("inter")), 6)
    out = (inter
           .join(sizes.select(F.col("id").alias("train_id"),
                              F.col("n").alias("na")), "train_id")
           .join(sizes.select(F.col("id").alias("test_id"),
                              F.col("n").alias("nb")), "test_id")
           .withColumn("jaccard", jac)
           .where(F.col("jaccard") >= jaccard_threshold)
           .select("test_id", "train_id", "jaccard"))
    out.gram_base = grams   # caller may unpersist (ngram_jaccard convention)
    return out
