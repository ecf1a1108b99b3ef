"""Deduplication operators for training-data pipelines (100 TB-minded).

- exact_dedup: hash-groupBy on a normalized fingerprint — one shuffle on the
  fingerprint, map-side partial aggregation, no skew (md5 is uniform).
- minhash_lsh_pairs: MinHash + banded LSH near-dup candidate pairs —
  the scale path: shingle→minhash (vectorized pandas UDF, Arrow-batched)
  →band→bucket join (shuffle on band key only; candidate verification by
  exact Jaccard on the candidates, never all-pairs).
- simhash64: 64-bit SimHash per document (pandas UDF); near-dups via
  banding on 16-bit chunks + hamming verify.
- embedding_neardup_pairs: cosine-similar pairs over an embedding column
  with key blocking — built-in functions only.

Design note for 1000-executor scale: every operator here avoids all-pairs
comparisons; candidate generation is always a hash-bucket equi-join so the
shuffle is O(n·bands), and verification touches only bucket-mates.

Python-UDF cost: a pandas-UDF task has a fixed Python-worker cost before
its first row. Stock pyspark's per-task ``setup_spark_files`` →
``importlib.invalidate_caches()`` re-reads the ``pyspark.zip`` directory
(1,328 entries) once per zipimporter on ``sys.path``; the engine's worker
module (``pyspark_engine_worker``, set in ``common/session.py``) re-reads
an archive only when it changed. Measured on a 4-core host (Python 3.11,
pyspark 4.1, identity UDF, 64 tasks, warm session): 87 ms of worker CPU
per task without the module, 28-35 ms with it. The fixed cost still
exceeds a small UDF body, so the input's estimated bytes, not the core
count, set how many tasks a UDF stage gets: ``_spread`` sizes the stage
(see ``_UDF_TASK_BYTES``) and uses the cores only as the ceiling. And
each LSH band self-join here evaluates its UDF once: the band table is
hash-partitioned on the join key above the UDF, and AQE serves both join
sides from that one exchange (a ShuffleQueryStage plus a ReusedExchange).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from .text import fingerprint_sql

# Deterministic MinHash parameters (seeded; no runtime randomness).
# Hash family: multiply-shift over uint64 with natural wraparound —
# h_i(x) = (a_i * x + b_i) mod 2^64 with odd a_i. Overflow-free and fully
# numpy-vectorizable (the (a*x+b) mod Mersenne family needs 128-bit products,
# which forces slow object-dtype arithmetic).
_N_HASHES = 64
_BANDS = 16
_ROWS_PER_BAND = _N_HASHES // _BANDS


def _hash_params(n: int = _N_HASHES) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(42)
    a = rng.randint(1, 1 << 62, size=n).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 1 << 62, size=n).astype(np.uint64)
    return a, b


_A, _B = _hash_params()


# position multipliers for combining 3 consecutive token hashes into one
# gram hash (odd 64-bit constants → bijective per-term mixing mod 2^64)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)


@pandas_udf(T.ArrayType(T.LongType()))
def minhash_signature(texts: pd.Series) -> pd.Series:
    """64-value MinHash signature over word-3-gram shingles (Arrow-batched,
    numpy-vectorized). ALL tokens of the batch are SipHashed in one
    ``pd.util.hash_array`` call (fixed key → deterministic across
    processes); a doc's gram hashes are then position-weighted sums of 3
    consecutive token hashes (wraparound uint64) — no per-gram string
    building, which dominated the round-2 profile. The gram-hash set
    bijects with the distinct word-3-gram set (mod 2^-64 collisions), so
    the LSH superset argument in ``minhash_lsh_exact_pairs`` is unchanged.
    Docs shorter than 3 words collapse to one whole-text gram (mirrors
    ``word_ngrams_col``); min over a multiset equals min over the set, so
    duplicate grams need no dedup pass."""
    tok_lists = [(t or "").lower().split() for t in texts]
    flat = [tok for toks in tok_lists for tok in toks]
    th_all = (pd.util.hash_array(np.asarray(flat, dtype=object))
              if flat else np.empty(0, dtype=np.uint64))
    sigs = []
    pos = 0
    with np.errstate(over="ignore"):
        for toks in tok_lists:
            n = len(toks)
            th = th_all[pos:pos + n]
            pos += n
            if n == 0:
                sigs.append([0] * _N_HASHES)
                continue
            if n >= 3:
                g = th[:-2] * _P1 + th[1:-1] * _P2 + th[2:] * _P3
            elif n == 2:
                g = th[0:1] * _P1 + th[1:2] * _P2
            else:
                g = th * _P1
            # (a*g + b) mod 2^64 for all 64 params at once -> min per hash;
            # shift >>1 so the value fits Spark's signed LongType
            vals = g[None, :] * _A[:, None] + _B[:, None]
            sigs.append((vals.min(axis=1) >> np.uint64(1)).view(np.int64).tolist())
    return pd.Series(sigs)


@pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word-level md5 hashes."""
    out = []
    shifts = np.arange(64, dtype=np.uint64)
    tok_cache: dict[str, np.ndarray] = {}  # per-batch token->bits memo
    for t in texts:
        toks = (t or "").lower().split()
        if not toks:
            out.append(0)
            continue
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            bits = tok_cache.get(tok)
            if bits is None:
                h = struct.unpack("<Q", hashlib.md5(tok.encode()).digest()[:8])[0]
                bits = ((np.uint64(h) >> shifts) & np.uint64(1)).astype(np.int64)
                tok_cache[tok] = bits
            acc += bits * 2 - 1
        val = int(np.packbits((acc > 0).astype(np.uint8), bitorder="little")
                  .view(np.uint64)[0])
        out.append(val - (1 << 64) if val >= (1 << 63) else val)
    return pd.Series(out)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per normalized-content fingerprint."""
    fp = F.expr(fingerprint_sql("spark", text_col))
    return (
        df.withColumn("__fp", fp)
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


# Input bytes (the Catalyst size estimate of a UDF stage's input) per
# pandas-UDF task. Set on a 4-core host over the benchmark's 3,300-document
# / 3,300-vector corpus (parquet, ~0.63 MB estimated each), when a task
# cost ~0.23 s of Python-worker CPU before its first row: the MinHash body
# takes 0.185 s per 0.63 MB (0.29 s/MB), the SRP body 0.054 s (0.09 s/MB),
# so the break-even was 0.23/0.29 ≈ 0.8 MB, rounded to 1 MiB. With the
# engine's worker module a task costs ~30 ms (identity UDF; ~87 ms on
# stock pyspark on the same host), which would put the break-even near
# 0.1 MB, but fewer tasks still measure cheaper: one task per core
# (``repartition(defaultParallelism)``) instead of this sizing gave
# ``neardup_corpus`` ``cpu_ms_per_krecord`` 344 → 382 (1 of 5 pairs
# lower) and ``peak_rss_mb`` 1692 → 1893 (0 of 5), though the set-up's
# wall time fell 0.334 → 0.295 s. So the constant stays until a ≥10-pair
# measurement says otherwise. Bytes are a proxy:
# MinHash costs 0.61 s/MB over the sf0.1 documents table
# (better-compressed text), and the SimHash body 1.9 s/MB, so a sub-MiB
# SimHash stage runs in one task, trading wall time for CPU.
_UDF_TASK_BYTES = 1 << 20


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition ahead of a pandas-UDF stage into
    ``clamp(ceil(estimated_bytes / _UDF_TASK_BYTES), 1, defaultParallelism)``
    partitions. A UDF task's fixed cost, not the core count, sets the
    count: a task is worth adding only when its share of the UDF body
    outweighs what the task adds, so a small input runs in one task
    and a large one (or one whose size is unknown) spreads over every core,
    as a single-file scan (ONE partition) would otherwise serialize it.
    The estimate is the input plan's Catalyst statistics, computed on the
    driver without a job. Unknown statistics (an RDD-backed frame) report
    ``spark.sql.defaultSizeInBytes``, Long.MaxValue unless a session lowers
    it, so they and overflowing estimates clamp to the core count.
    Hash (not round-robin) partitioning keeps the subtree deterministic.
    This exchange sits BELOW the UDF, so reusing it does not spare a
    self-join its second UDF pass: callers that join the UDF output with
    itself hash-partition that output on the join key, and both join
    sides read the one exchange above the UDF."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n = min(cores, max(1, -(-size // _UDF_TASK_BYTES)))
    return df.repartition(n, F.col(key))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      jaccard_threshold: float = 0.7) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH, verified by
    signature-level Jaccard estimate. Returns (id_a, id_b, est_jaccard)."""
    sig = _spread(df, id_col).select(F.col(id_col), minhash_signature(F.col(text_col)).alias("sig"))
    bands = sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[F.col("sig")[b * _ROWS_PER_BAND + r]
                                 for r in range(_ROWS_PER_BAND)]).alias("bucket"),
                )
                for b in range(_BANDS)
            ])
        ).alias("bk"),
    ).select(id_col, "sig", "bk.band", "bk.bucket").repartition("band", "bucket")
    est = F.aggregate(
        F.zip_with("l.sig", "r.sig", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(_N_HASHES)
    # the estimate is a function of the pair, so it is computed and
    # filtered right after the band join and the pairs deduplicate as
    # scalars: no signature crosses the post-join exchange
    return (
        bands.alias("l").join(bands.alias("r"), on=["band", "bucket"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            est.cast("double").alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .distinct()
    )


def tokens_col(text_col: str):
    """THE one tokenization definition (lowercase, whitespace split, drop
    empties) shared by dedup, decontamination and corpus n-gram stats."""
    return F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")


def word_ngrams_col(text_col: str, k: int = 3, distinct: bool = True,
                    fallback_whole_text: bool = True, from_tokens: bool = False):
    """Word k-grams as a Column, built on ``tokens_col`` so 'a word' can't
    silently diverge between dedup/decontam/corpus-stats (and their oracles).

    ``distinct``: set semantics (dedup/Jaccard) vs multiset (frequency
    counts). ``fallback_whole_text``: texts shorter than k words collapse
    to one whole-text gram (mirrors ``minhash_signature``; turn OFF when a
    short doc genuinely contains no k-gram, e.g. decontamination).
    ``from_tokens``: ``text_col`` is already a tokenized array column —
    pre-materializing tokens matters inside higher-order functions, where
    the lambda body is interpreted (no codegen subexpression elimination):
    an inlined split+filter subtree re-tokenizes per element_at reference,
    a 3.6× slowdown on the round-2 profile."""
    toks = F.col(text_col) if from_tokens else tokens_col(text_col)
    n = F.size(toks)
    kgrams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
    )
    empty = F.array().cast("array<string>")
    short = (F.when(n > 0, F.array(F.array_join(toks, " "))).otherwise(empty)
             if fallback_whole_text else empty)
    out = F.when(n >= k, kgrams).otherwise(short)
    return F.array_distinct(out) if distinct else out


def prefix_dup_pairs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     min_prefix_tokens: int = 16,
                     side: str = "prefix") -> DataFrame:
    """Prefix-containment dedup — the CONTAINMENT member of the dedup
    family (exact / MinHash / SimHash / n-gram-Jaccard / embedding /
    prefix): find (dup, kept) pairs where dup's token sequence is an
    exact prefix of kept's — truncated re-crawls, articles republished
    with appended boilerplate, partial captures. Similarity dedup misses
    these when the longer doc dwarfs the shorter (Jaccard ≈ |a|/|b|).

    Semantics: only documents with >= ``min_prefix_tokens`` tokens
    participate (standard practice — a 3-token doc being a "prefix" of
    half the corpus is noise, and the threshold is what makes blocking
    COMPLETE: any qualifying pair shares its first-P-token fingerprint).
    Equal-content pairs tie-break by id (smaller id is the dup).

    Shape: one md5-fingerprint equi-join on the first-P-token key (no
    cross join); the token arrays ride only into the candidate verify,
    same posture as ngram_jaccard's gram verify. Returns (dup_id,
    kept_id, n_tokens_dup, n_tokens_kept).

    ``side="suffix"`` finds SUFFIX containment instead (prepended
    boilerplate / headers): fingerprint the LAST P tokens, verify against
    the tail — same complete-blocking argument on the reversed
    sequence."""
    if side not in ("prefix", "suffix"):
        raise ValueError(f"side must be prefix|suffix, got {side!r}")
    P = min_prefix_tokens
    toks = tokens_col(text_col)
    base = (df.select(F.col(id_col).alias("id"), toks.alias("t"))
            .withColumn("n", F.size("t"))
            .where(F.col("n") >= P))
    if side == "prefix":
        base = base.withColumn("pkey", F.md5(F.concat_ws(
            " ", F.slice("t", 1, P))))
        verify = F.expr("slice(b.t, 1, a.n) = a.t")
    else:
        base = base.withColumn("pkey", F.md5(F.concat_ws(
            " ", F.slice("t", -P, P))))
        verify = F.expr("slice(b.t, -a.n, a.n) = a.t")
    a, b = base.alias("a"), base.alias("b")
    cand = (a.join(b, "pkey")
            .where((F.col("a.n") < F.col("b.n"))
                   | ((F.col("a.n") == F.col("b.n"))
                      & (F.col("a.id") < F.col("b.id")))))
    return (cand.where(verify)
            .select(F.col("a.id").alias("dup_id"),
                    F.col("b.id").alias("kept_id"),
                    F.col("a.n").cast("int").alias("n_tokens_dup"),
                    F.col("b.n").cast("int").alias("n_tokens_kept")))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        jaccard_threshold: float = 0.5,
                        max_gram_df: int | None = None) -> DataFrame:
    """Exact word-k-gram Jaccard near-dup pairs via shared-gram blocking —
    the direct member of the dedup family (exact / MinHash+LSH / SimHash /
    n-gram Jaccard / embedding): two documents pair iff they share at
    least one k-gram, so the blocking misses nothing with J > 0 and the
    output is the complete exact answer (unlike the probabilistic MinHash
    pruner, there is no 1e-19 miss bound to argue about — at the cost of
    a candidate set that grows with gram document-frequency).

    Shape: explode distinct grams -> (id, gram); self-join on gram (the
    one shuffle that matters, equi-join on the gram key); per-pair
    partial-agg count = |A∩B|; per-doc gram counts broadcast back;
    jaccard = inter / (|A| + |B| - inter). A gram shared by d documents
    contributes d² join rows — ``max_gram_df`` drops grams with corpus
    df > the cap BEFORE pairing (sizes are then post-pruning too, i.e.
    Jaccard over the rare-gram subsets — the standard stop-shingle
    trade); leave None for the exact full-set semantics."""
    # persist the exploded gram table: it feeds BOTH self-join sides and
    # the per-doc size aggregate — uncached, the tokenize+explode subtree
    # runs three times (the join sides' exchange reuse doesn't cover the
    # separate sizes aggregation). The spread keeps one task per core, not
    # _spread's byte sizing: the explode is JVM work with no per-task
    # Python cost to amortize, and sized to one task at sf0.1 on 4 cores
    # the query took 47-68 s of CPU and ~60 s wall against 53-58 s and 15 s
    cores = df.sparkSession.sparkContext.defaultParallelism
    grams = (df.repartition(cores, F.col(id_col))
             .select(F.col(id_col).alias("id"),
                     F.explode(word_ngrams_col(text_col, k=k)).alias("gram"))
             .persist())
    if max_gram_df is not None:
        dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
        grams = (grams.join(dfreq.where(F.col("__df") <= max_gram_df), "gram")
                 .drop("__df"))
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        grams.alias("a").join(grams.alias("b"), on="gram")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(F.col("inter")
                  / (F.col("na") + F.col("nb") - F.col("inter")), 6)
    out = (
        inter
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")),
              "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")),
              "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # release handle, same convention as minhash_lsh_exact_pairs'
    # lsh_pruned/lsh_grams: callers that are done with the result call
    # out.gram_base.unpersist() (re-invocations canonicalize to the same
    # cache entry, so a long session holds ONE copy, not one per call)
    out.gram_base = grams
    return out


def minhash_lsh_exact_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                            jaccard_threshold: float = 0.5,
                            hot_bucket_cap: int | None = None) -> DataFrame:
    """Near-duplicate pairs by TRUE word-3-gram Jaccard, with MinHash LSH as
    the candidate pruner (r=1, b=64 banding: a pair is a candidate if ANY of
    the 64 minhash values collide — miss probability (1-J)^64 ≤ 1e-19 at
    J≥0.5, so the output equals the all-pairs exact answer, checkable by a
    DuckDB oracle). Verification runs JVM-side (array_intersect/union on the
    gram sets of candidate pairs only) — never all-pairs.

    Returns (id_a, id_b, jaccard) with jaccard = |∩|/|∪| over distinct
    3-gram sets, rounded to 6 dp.

    Shape (two tiers; the round-2 three-tier plan shuffled the raw r=1
    candidate-pair set three times — dropDuplicates + two signature joins —
    which is quadratic in the size of a hot bucket):
      1. band self-join on exploded (id, hx, hv) rows — never the document
         payload — immediately aggregated by pair: slot hx of a pair matches
         iff both docs land in bucket (hx, h_x(a)), so
         count(collisions per pair) IS the signature-match count and
         count/64 IS the tier-2 Jaccard estimate. One groupBy(id_a, id_b)
         with map-side partial aggregation replaces the old
         dropDuplicates + two sig joins: the only full shuffle after the
         join carries the ~1000×-pruned est-filtered pairs. Keep pairs with
         est ≥ threshold − 0.35; a true pair at J = threshold sits ≥ 5σ
         above that floor (Binom(64, J)), so the superset property holds.
      2. true-Jaccard verify on the gram arrays of the survivors only.
    Hot-bucket posture: a shingle shared corpus-wide skews one (hx, hv)
    bucket. The join-side skew is split by AQE's OptimizeSkewedJoin (tests
    pin adaptive=on), the post-join rows hit a pipelined partial aggregate
    (no m² materialization/shuffle), and ``hot_bucket_cap`` optionally
    drops buckets with > cap members before the join — a dropped bucket
    only loses pairs whose EVERY matching slot is overfull, i.e. members
    of massive mutual-dup clusters, which belong to ``exact_dedup``
    upstream; leave None for the oracle-exact answer.

    The signature is not persisted: one pandas-UDF pass explodes each
    document's 64 (hx, hv) slots, hash-partitioned on (hx, hv) above the
    UDF, and both sides of the band self-join (and the ``hot_bucket_cap``
    window) read that one exchange. The outer generator infers no
    ``size(sig) > 0`` filter, which predicate pushdown would sink below
    the spread exchange as a second UDF pass. Gram arrays — the
    heavyweight payload — are NEVER persisted or shuffled corpus-wide: the
    verify tier re-derives them only for the est-filtered survivor ids via
    a semi-join back to the source (re-reads the text column of survivors;
    trade memory for that re-scan by persisting grams if survivors are
    ever a large fraction). The tiny survivor pair set is persist()ed too
    (it fans out into three branches). Callers that want deterministic
    release can unpersist via the returned DataFrame's ``lsh_pruned`` /
    ``lsh_grams`` attributes."""
    from pyspark import StorageLevel

    hashes = (
        _spread(df, id_col)
        .select(F.col(id_col), minhash_signature(F.col(text_col)).alias("sig"))
        .select(F.col(id_col), F.posexplode_outer("sig").alias("hx", "hv"))
        .repartition("hx", "hv")
    )
    if hot_bucket_cap is not None:
        from pyspark.sql import Window

        cnt = Window.partitionBy("hx", "hv")
        hashes = (hashes.withColumn("__bn", F.count(F.lit(1)).over(cnt))
                  .where(F.col("__bn") <= hot_bucket_cap).drop("__bn"))
    est_floor = max(jaccard_threshold - 0.35, 0.05)
    min_slots = int(np.ceil(est_floor * _N_HASHES))
    pruned = (
        hashes.alias("l").join(hashes.alias("r"), on=["hx", "hv"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__slots"))
        .where(F.col("__slots") >= min_slots)
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # verify tier: grams computed ONLY for survivor docs (semi-join prunes
    # the source before tokenization; tokens materialized as a real column
    # — see word_ngrams_col docstring; grams stay multiset because
    # array_intersect/array_union dedupe at verify time anyway).
    surv_ids = (pruned.select(F.col("id_a").alias(id_col))
                .union(pruned.select(F.col("id_b").alias(id_col))))
    # (no .distinct(): surv_ids only feeds the LeftSemi below, which
    # dedups by construction — the distinct was a spare exchange)
    # survivor grams persisted ONCE (optimization r12, guide §2.4): the
    # id_a and id_b join sides below are different projections of this
    # subtree, so without the persist each side re-ran the documents
    # scan + semi-join + tokenization (profiled: the verify tier paid
    # the whole gram derivation twice). This does NOT persist corpus-
    # wide grams — only the est-filtered survivors' (bounded by the
    # ~1000×-pruned candidate set), MEMORY_AND_DISK so a large survivor
    # fraction spills instead of OOMing.
    grams = (
        df.join(surv_ids, on=id_col, how="leftsemi")
        .withColumn("__toks", tokens_col(text_col))
        .select(F.col(id_col),
                word_ngrams_col("__toks", distinct=False,
                                from_tokens=True).alias("grams"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = (
        pruned.join(grams.select(F.col(id_col).alias("id_a"),
                                 F.col("grams").alias("ga")), on="id_a")
        .join(grams.select(F.col(id_col).alias("id_b"),
                           F.col("grams").alias("gb")), on="id_b")
    )
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    out = (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .where(union > 0)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out.lsh_pruned = pruned   # release handles: out.lsh_pruned.unpersist()
    out.lsh_grams = grams     # out.lsh_grams.unpersist()
    return out


def _alternating_star(und: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — O(log² n)
    rounds regardless of component diameter, the fallback for pathological
    long-chain graphs where min-label propagation's O(diameter) bound is
    too slow.  Both phases are one partial-agg groupBy (per-node min — no
    per-node neighbor lists materialize) + one shuffle join each; rounds
    are ``localCheckpoint``ed for the same lineage-truncation reason as
    the propagation loop.

    Input: undirected edges as (u, v) rows, u != v, any orientation.
    Output: (id, label) with label = component minimum."""

    def large_star(e):
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m")))
        return (sym.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v")).distinct())

    def small_star(e):
        d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        leaves = (d.join(mins, "u").where(F.col("v") != F.col("m"))
                  .select(F.col("v").alias("u"), F.col("m").alias("v")))
        centers = mins.select("u", F.col("m").alias("v"))
        return (leaves.unionAll(centers)
                .where(F.col("u") != F.col("v")).distinct())

    # lazy checkpoints (optimization r12, guide §5): eager localCheckpoint
    # is its OWN driver job; with eager=False the blocks materialize as a
    # side effect of the convergence count that immediately follows, so
    # each round runs one job instead of two (lineage truncation is
    # identical — the count computes every partition)
    edges = (und.select(F.col("u"), F.col("v"))
             .where(F.col("u") != F.col("v")).distinct()
             .localCheckpoint(eager=False))
    for _ in range(max_rounds):
        new_edges = small_star(large_star(edges)) \
            .localCheckpoint(eager=False)
        same = (new_edges.count() == edges.count()
                and new_edges.exceptAll(edges).count() == 0)
        edges = new_edges
        if same:
            break
    else:  # pragma: no cover - log²n bound makes this unreachable in practice
        raise RuntimeError(
            f"alternating-star did not converge in {max_rounds} rounds")
    # converged: every edge is leaf -> component-min center
    return (edges.select(F.col("u").alias("id"), F.col("v").alias("label"))
            .unionAll(edges.select(F.col("v").alias("id"),
                                   F.col("v").alias("label")))
            .groupBy("id").agg(F.min("label").alias("label")))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 30,
                         on_max_iter: str = "star") -> DataFrame:
    """Near-dup pairs -> dedup clusters: (id, rep_id) where rep_id is the
    MINIMUM id reachable through the pair graph — the step that turns
    candidate pairs into actual keep/drop decisions (keep rep, drop rest).

    Distributed min-label propagation: each iteration joins the symmetric
    edge list against current labels and takes the per-node min — one
    shuffle join + one partial-agg groupBy per iteration, converging in
    O(component diameter) rounds (near-dup clusters are shallow: dozens of
    mutually-similar docs, not long chains). Each round's labels are
    ``localCheckpoint``ed: iterative plans double in size per round
    otherwise (persist caches execution, NOT the logical tree — a
    24-round chain OOMed the driver just PRINTING its plan), and the
    checkpoint truncates lineage to the materialized blocks. The driver
    loop only runs a bounded-count convergence check per round (control
    plane, O(1) rows).

    A component with diameter > max_iter cannot converge here; silently
    returning partial labels would mis-assign keep/drop decisions, so
    ``on_max_iter`` decides: ``"star"`` (default) finishes the job with
    the O(log² n) alternating-star fallback (:func:`_alternating_star`),
    ``"raise"`` raises with guidance, ``"warn"`` emits a warning and
    returns the partial labels (callers that only need *some* merging).

    Only ids appearing in ≥1 pair are returned (singletons are their own
    representative by definition and need no shuffle)."""
    if on_max_iter not in ("star", "raise", "warn"):
        raise ValueError(f"on_max_iter must be star|raise|warn, got {on_max_iter!r}")
    from pyspark import StorageLevel

    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # lazy checkpoint (optimization r12, guide §5): the convergence probe
    # right below is the materializing action, so seeding labels costs
    # one job, not two (eager localCheckpoint ran its own job and the
    # probe then re-scanned the blocks)
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=False))

    # convergence probe (optimization r11, guide §2.4): labels are
    # monotone non-increasing (min over a union that includes the node's
    # own label), so Σlabel is strictly decreasing until the fixpoint —
    # equality ⇔ zero labels changed.  A single partial-agg scan over the
    # checkpointed blocks replaces a shuffle-join + count job per round;
    # decimal(38,0) keeps the sum exact at any id magnitude / component
    # count.  The sum is only exact for integral ids — for any other id
    # type (a string cast would yield NULL and fake convergence) keep the
    # join+count probe.
    _integral = {"tinyint", "smallint", "int", "bigint"}
    sum_probe = dict(labels.dtypes)["label"] in _integral

    def label_sum(df):
        return (df.agg(F.sum(F.col("label").cast("decimal(38,0)")))
                .collect()[0][0])

    prev_sum = label_sum(labels) if sum_probe else None
    changed = 0
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges.dst == labels.id)
                 .select(edges.src.alias("id"), "label"))
        # eager=False: the convergence probe below (sum or join+count) is
        # the action that computes every partition, checkpointing as a
        # side effect — one driver job per round instead of two (r12)
        new_labels = (labels.unionAll(neigh)
                      .groupBy("id").agg(F.min("label").alias("label"))
                      .localCheckpoint(eager=False))
        if sum_probe:
            new_sum = label_sum(new_labels)
            changed = 0 if new_sum == prev_sum else 1
            prev_sum = new_sum
        else:
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), on="id")
                       .where(F.col("n.label") < F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        if on_max_iter == "raise":
            edges.unpersist()
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "iterations (labels still improving): a component "
                "has diameter > max_iter. Raise max_iter, or use "
                "on_max_iter='star' for the O(log² n) alternating-star "
                "fallback.")
        if on_max_iter == "warn":
            import warnings

            warnings.warn(
                f"connected_components hit max_iter={max_iter} with "
                "labels still improving; returned rep_ids are "
                "NOT component minima for the unconverged components",
                RuntimeWarning, stacklevel=2)
        else:  # star fallback: restart from the raw edges, diameter-proof
            stars = _alternating_star(
                fwd.select(F.col("src").alias("u"), F.col("dst").alias("v")))
            # the star rounds drop u==v rows, but the output contract keeps
            # every id that appears in >=1 pair — ids seen ONLY in
            # self-pairs re-enter as their own representative
            all_ids = edges.select(F.col("src").alias("id")).distinct()
            labels = (all_ids.join(stars, "id", "left")
                      .select("id", F.coalesce("label", F.col("id"))
                              .alias("rep_id")))
            labels = labels.localCheckpoint()  # release edges afterwards
            edges.unpersist()
            return labels
    edges.unpersist()
    return labels.select(F.col("id"), F.col("label").alias("rep_id"))


def simhash_neardup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                          max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit hash into 4×16-bit keys
    (pigeonhole: hamming≤3 ⇒ ≥1 identical band), verify hamming distance."""
    sh = _spread(df, id_col).select(F.col(id_col), simhash64(F.col(text_col)).alias("sh"))
    bands = sh.select(
        id_col, "sh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned(F.col("sh"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"))
            for b in range(4)
        ])).alias("bk"),
    ).select(id_col, "sh", "bk.band", "bk.key").repartition("band", "key")
    cand = (
        bands.alias("l").join(bands.alias("r"), on=["band", "key"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.sh").alias("sh_a"), F.col("r.sh").alias("sh_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def embedding_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id", block_col: str | None = "label",
                            min_cosine: float = 0.95,
                            allow_all_pairs: bool = False) -> DataFrame:
    """Cosine-similar pairs with equi-join blocking (no all-pairs shuffle).

    ``block_col=None`` means an O(n²) cross join — refused unless
    ``allow_all_pairs=True`` (tiny inputs only); at scale use a blocking
    column or LSH (``minhash_lsh_pairs`` / ``simhash_neardup_pairs``).

    Cosine is computed in double precision with an explicit left-to-right
    fold so the DuckDB oracle can reproduce it bit-for-bit.
    """
    if block_col is None and not allow_all_pairs:
        raise ValueError(
            "embedding_neardup_pairs without block_col is an all-pairs cross "
            "join; pass a blocking column, use an LSH variant, or opt in "
            "explicitly with allow_all_pairs=True for small inputs")
    # Hoist the L2 norm to one evaluation PER ROW before the join
    # (optimization r11, guide §1.2 step 2): computed inside the pair
    # condition it re-folds each 64-element vector once per CANDIDATE
    # PAIR (within-label all-pairs — orders of magnitude more evaluations
    # than rows).  Bit-exact: the hoisted expression is the identical
    # left-to-right double fold over the identical per-row array, so
    # cos = dot / (nrm_l * nrm_r) reproduces the pre-hoist double exactly.
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    v = df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        vec.alias("v"),
        F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x),
                           F.lit(0.0), lambda a, x: a + x)).alias("nrm"),
    )
    on = [block_col] if block_col else []
    joined = (
        v.alias("l").join(v.alias("r"), on=on) if on
        else v.alias("l").crossJoin(v.alias("r"))
    ).where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    dot = F.aggregate(F.zip_with("l.v", "r.v", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("l.nrm") * F.col("r.nrm"))
    return (
        joined.select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )


# -- incremental dedup against a persisted signature store -----------------

def build_signature_store(df: DataFrame, path: str, text_col: str = "text",
                          id_col: str = "doc_id",
                          mode: str = "overwrite") -> None:
    """Persist the corpus's dedup state: (id, normalized-content md5
    fingerprint, 64-long MinHash signature) — ~550 B/doc of parquet,
    the ONLY thing a growing corpus needs to keep for dedup.  New batches
    (e.g. a lake table's ``read_changes`` output) are checked against the
    store without ever re-reading the corpus text for candidate
    generation; ``mode="append"`` grows the store with a batch's
    surviving uniques."""
    fp = F.expr(fingerprint_sql("spark", text_col))
    (_spread(df, id_col)
     .select(F.col(id_col), fp.alias("fp"),
             minhash_signature(F.col(text_col)).alias("sig"))
     .write.mode(mode).parquet(path))


def incremental_dedup_flags(batch: DataFrame, store: DataFrame,
                            corpus: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            jaccard_threshold: float = 0.5) -> DataFrame:
    """(id, status) for every batch document: ``exact`` (fingerprint
    already in the store), ``near`` (true word-3-gram Jaccard ≥ threshold
    against some corpus doc), else ``unique`` — batch-vs-store only;
    within-batch duplicates are ``exact_dedup``/``minhash_lsh_exact_pairs``
    on the batch itself, run upstream.

    Scale shape (the incremental counterpart of
    :func:`minhash_lsh_exact_pairs`): candidate generation joins the
    batch's exploded signature slots against the STORED signatures —
    r=1/b=64 banding, miss probability (1-J)^64 at true Jaccard J, so the
    flagged set equals the exact answer and stays oracle-checkable.  The
    corpus text is touched ONLY by the verify semi-join on est-filtered
    survivor ids (at 100 TB: point reads the lake sink's zone maps can
    serve), and the batch-sized side of every join is the small one.  The
    store never re-shuffles the corpus: it IS the reusable shuffle."""
    batch_fp = F.expr(fingerprint_sql("spark", text_col))
    bsig = (_spread(batch, id_col)
            .select(F.col(id_col), batch_fp.alias("fp"),
                    minhash_signature(F.col(text_col)).alias("sig"))
            .persist())
    # no .distinct() on the semi-join build sides here or below (r12):
    # LeftSemi dedups by construction — each distinct was a full
    # exchange + aggregate stage spent pre-deduplicating rows the join's
    # hash build dedups anyway
    exact = (bsig.join(store.select("fp"), on="fp", how="leftsemi")
             .select(id_col))
    est_floor = max(jaccard_threshold - 0.35, 0.05)
    min_slots = int(np.ceil(est_floor * _N_HASHES))
    bh = bsig.select(F.col(id_col).alias("__bid"),
                     F.posexplode("sig").alias("hx", "hv"))
    sh = store.select(F.col(id_col).alias("__cid"),
                      F.posexplode("sig").alias("hx", "hv"))
    cand = (bh.join(sh, on=["hx", "hv"])
            .groupBy("__bid", "__cid")
            .agg(F.count(F.lit(1)).alias("__slots"))
            .where(F.col("__slots") >= min_slots)
            .select("__bid", "__cid")
            .persist())
    gb = (batch.join(cand.select(F.col("__bid").alias(id_col)),
                     on=id_col, how="leftsemi")
          .withColumn("__toks", tokens_col(text_col))
          .select(F.col(id_col).alias("__bid"),
                  word_ngrams_col("__toks", distinct=False,
                                  from_tokens=True).alias("gb")))
    gc = (corpus.join(cand.select(F.col("__cid").alias(id_col)),
                      on=id_col, how="leftsemi")
          .withColumn("__toks", tokens_col(text_col))
          .select(F.col(id_col).alias("__cid"),
                  word_ngrams_col("__toks", distinct=False,
                                  from_tokens=True).alias("gc")))
    inter = F.size(F.array_intersect("gb", "gc")).cast("double")
    union = F.size(F.array_union("gb", "gc")).cast("double")
    near = (cand.join(gb, on="__bid").join(gc, on="__cid")
            .where(union > 0)
            .where(F.round(inter / union, 6) >= jaccard_threshold)
            .select(F.col("__bid").alias(id_col))
            .distinct())
    out = (batch.select(id_col)
           .join(exact.withColumn("__e", F.lit(1)), on=id_col, how="left")
           .join(near.withColumn("__n", F.lit(1)), on=id_col, how="left")
           .select(F.col(id_col),
                   F.when(F.col("__e").isNotNull(), F.lit("exact"))
                   .when(F.col("__n").isNotNull(), F.lit("near"))
                   .otherwise(F.lit("unique")).alias("status")))
    out.inc_base = bsig   # release handles, same contract as
    out.inc_cand = cand   # minhash_lsh_exact_pairs
    return out


# -- signed-random-projection LSH for embeddings ---------------------------

_SRP_BITS = 64
_SRP_BANDS = 8
_SRP_PLANES: np.ndarray | None = None


def _srp_planes(dim: int) -> np.ndarray:
    """±1 hyperplanes, seeded (no runtime randomness) — Charikar's SRP:
    P(sign bit agrees) = 1 - θ/π for angle θ between two vectors."""
    global _SRP_PLANES
    if _SRP_PLANES is None or _SRP_PLANES.shape[1] != dim:
        rng = np.random.RandomState(7)
        _SRP_PLANES = rng.choice(np.array([-1.0, 1.0]),
                                 size=(_SRP_BITS, dim))
    return _SRP_PLANES


@pandas_udf(T.ArrayType(T.IntegerType()))
def srp_band_keys(vecs: pd.Series) -> pd.Series:
    """8 band keys (8 sign bits each) per vector — Arrow-batched numpy
    matmul, no per-row Python.  A NULL vector gets NULL keys, so it
    joins nothing."""
    present = vecs.notna().to_numpy()
    if not present.any():
        return pd.Series([None] * len(vecs), dtype=object)
    X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs[present]])
    bits = (X @ _srp_planes(X.shape[1]).T) >= 0.0     # (n, 64) bool
    r = _SRP_BITS // _SRP_BANDS
    weights = (1 << np.arange(r))[::-1]
    bands = iter((bits.reshape(len(X), _SRP_BANDS, r) @ weights)  # (n, 8)
                 .astype(np.int32).tolist())
    return pd.Series([next(bands) if p else None for p in present],
                     dtype=object)


def srp_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      min_cosine: float = 0.99) -> DataFrame:
    """Near-identical embedding pairs WITHOUT a blocking column — the LSH
    variant :func:`embedding_neardup_pairs` points to when no label/block
    key exists.  Candidates must collide on ≥2 of 8 SRP bands (8 sign
    bits each); per-bit agreement is 1 - θ/π.  The banding is tuned for
    NEAR-IDENTICAL vectors (re-ingested/re-encoded duplicates): at
    cos ≥ 0.999 a band matches with p ≈ 0.92 and missing two bands has
    probability ≈ 1.5e-7 — the verified output equals the all-pairs
    exact answer (checkable by a DuckDB all-pairs oracle) — while a
    random pair (cos ≈ 0, band p = 2^-8) reaches two bands with ~4e-4
    of its already-tiny one-band rate, keeping the verify tier ~70×
    smaller than any-band banding.  At a looser cos 0.99 gate the miss
    rate grows to ~2e-3 — quantify before claiming exactness there.
    One UDF pass over the spread (id, vector) rows, then one shuffle
    of (id, band, key) rows on (band, key) that both sides of the band
    self-join read — the vectors never enter it; verification computes
    true cosine for bucket-mates only, via id joins back to the vector
    table."""
    v = df.select(F.col(id_col),
                  F.transform(F.col(vec_col),
                              lambda x: x.cast("double")).alias("v"))
    keyed = (_spread(df, id_col)
             .select(F.col(id_col),
                     srp_band_keys(F.col(vec_col)).alias("bands")))
    # the OUTER generator infers no `size(bands) > 0` filter, which
    # predicate pushdown would sink below the spread exchange as a second
    # UDF pass; a NULL-keyed row still joins nothing
    h = (keyed.select(F.col(id_col),
                      F.posexplode_outer("bands").alias("bx", "bv"))
         .repartition("bx", "bv"))
    # ≥2 matching bands (same slot-count trick as minhash_lsh_exact_pairs):
    # a random pair matches one band with 2^-8 but two with ~4e-4 of that,
    # while a near-identical pair (per-band p ≈ 0.92) misses two bands with
    # ~1.5e-7 — ~70× fewer candidate verifies for free recall
    cand = (h.alias("l").join(h.alias("r"), on=["bx", "bv"])
            .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__bands"))
            .where(F.col("__bands") >= 2)
            .select("id_a", "id_b"))
    pairs = (cand
             .join(v.select(F.col(id_col).alias("id_a"),
                            F.col("v").alias("va")), on="id_a")
             .join(v.select(F.col(id_col).alias("id_b"),
                            F.col("v").alias("vb")), on="id_b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x), F.lit(0.0),
        lambda a, x: a + x))
    return (pairs.withColumn("cosine",
                             F.round(dot / (norm("va") * norm("vb")), 6))
            .where(F.col("cosine") >= min_cosine)
            .select("id_a", "id_b", "cosine"))


# -- winnowed fingerprints (substring-level dedup) -------------------------

def winnowed_fingerprint_pairs(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", k: int = 8,
                               window: int = 4) -> DataFrame:
    """Cross-document SHARED-SUBSTRING detection via winnowing
    (Schleimer, Wilkerson & Aiken 2003 — the MOSS fingerprinter; the
    practical stand-in for Lee et al. 2022's suffix-array substring
    dedup at cluster scale): hash every k-token window, then keep only
    the MINIMUM hash of each ``window``-length run of consecutive
    hashes.  The winnowing THEOREM makes the sampling alignment-free:
    any token run of length ≥ k + window - 1 shared by two documents
    contributes at least one IDENTICAL selected fingerprint to both —
    unlike stride sampling, which misses shared spans that start at
    different offsets.

    Returns (id_a, id_b, n_shared_fps) for document pairs sharing ≥1
    selected fingerprint — repeated-boilerplate / quotation / near-copy
    span evidence, complementary to whole-doc (MinHash) and prefix
    containment.

    Scale shape: fingerprints are ~1/window of the gram stream, each an
    md5 string; candidate generation is the usual hash-bucket equi-join
    on the fingerprint (shuffle carries ids + 32-char hashes, never
    text), partial-agg counts per pair.  Everything is JVM higher-order
    functions over one tokens array — no Python, no shuffle before the
    fingerprint join.  md5 keeps the whole computation engine-exact, so
    the DuckDB oracle replays it bit-for-bit."""
    toks = tokens_col(text_col)
    n = F.size(F.col("__toks"))
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("__toks"), i + j + 1)
                   for j in range(k)]))
    hashes = F.transform(F.col("__grams"), lambda g: F.md5(g))
    nh = F.size(F.col("__hashes"))
    fps = F.when(
        nh >= window,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), nh - window),
            lambda i: F.array_min(F.slice(F.col("__hashes"), i + 1,
                                          window))))
    ).otherwise(F.array_distinct(F.array(F.array_min(F.col("__hashes")))))
    fp_rows = (df.withColumn("__toks", toks)
               .where(F.size(F.col("__toks")) >= k)
               .withColumn("__grams", grams)
               .withColumn("__hashes", hashes)
               .select(F.col(id_col), F.explode(fps).alias("fp"))
               # persist the selected fingerprints: they feed BOTH sides
               # of the self-join, and when the planner broadcasts one
               # side the exchanges differ so ReusedExchange can't fire —
               # uncached, the tokenize + per-gram md5 + window-min
               # subtree (the expensive part) runs twice (optimization
               # r11, guide §2.4; same convention as gram_base/lsh_pruned)
               .persist())
    out = (fp_rows.alias("l").join(fp_rows.alias("r"), on="fp")
           .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
           .select(F.col(f"l.{id_col}").alias("id_a"),
                   F.col(f"r.{id_col}").alias("id_b"))
           .groupBy("id_a", "id_b")
           .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps")))
    # release handle, same convention as ngram_jaccard_pairs' gram_base
    out.fp_base = fp_rows
    return out
