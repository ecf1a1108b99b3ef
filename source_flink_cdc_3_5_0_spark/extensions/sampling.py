"""Deterministic hash-based sampling and dataset splitting.

`DataFrame.sample` is seed-dependent on partitioning (row order), so at
cluster scale the same logical dataset can sample differently between runs
or between engines. The content-hash formulation below is the reproducible
alternative every large training pipeline uses: bucket each row by a stable
hash of its key, then carve buckets into splits / keep-sets. Pure codegen
(md5 on the key string), embarrassingly parallel, no shuffle, and byte-for-
byte reproducible across engines — which is exactly what makes it DuckDB-
oracle-able, unlike rand()-based sampling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# 16 hex buckets from the last md5 nibble: 13 train / 2 val / 1 test
_VAL_NIBBLES = ("d", "e")
_TEST_NIBBLES = ("f",)


def md5_priority(id_col: str) -> Column:
    """THE deterministic ordering priority (md5 of the id's string form,
    callers tie-break by id) shared by every sampling/packing/batching op
    in this module — one definition so the convention can't diverge."""
    return F.md5(F.col(id_col).cast("string"))


def hash_bucket_col(id_col: str) -> Column:
    """Last hex nibble of md5(key-as-string) — uniform 1/16 buckets,
    identical in any engine with md5 (Spark, DuckDB, Trino, ...)."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 32, 1)


_HEX = "0123456789abcdef"


def hash_bucket_int(id_col: str, num_buckets: int) -> Column:
    """Integer bucket in [0, num_buckets) from the last two md5 nibbles
    (value % n) — engine-portable positional hex parse (same technique as
    sketches.uniform_fraction_sql). For num_buckets=16 this equals the
    numeric value of :func:`hash_bucket_col`'s nibble (16a+b ≡ b mod 16)."""
    if not 1 <= num_buckets <= 256:
        raise ValueError(f"num_buckets must be in [1, 256], got {num_buckets}")
    h = f"md5(CAST({id_col} AS STRING))"
    val = (f"(instr('{_HEX}', substring({h}, 31, 1)) - 1) * 16"
           f" + (instr('{_HEX}', substring({h}, 32, 1)) - 1)")
    return F.expr(f"({val}) % {num_buckets}")


def hash_split_col(id_col: str = "doc_id") -> Column:
    """'train' / 'val' / 'test' assignment at 13:2:1 by content hash."""
    b = hash_bucket_col(id_col)
    return (
        F.when(b.isin(*_TEST_NIBBLES), F.lit("test"))
        .when(b.isin(*_VAL_NIBBLES), F.lit("val"))
        .otherwise(F.lit("train"))
    )


def _budget_expr(group_cols: list[str], budget) -> Column:
    """Per-row budget as a Column: an int applies to every group; a dict
    (single group column only) maps group values to budgets, with
    unlisted groups getting 0 (excluded) — THE dict-budget semantics
    shared by token_budget_sample and repeat_to_budget."""
    if isinstance(budget, dict):
        if len(group_cols) != 1:
            raise ValueError("dict budget needs exactly one group column")
        bexpr = None
        for k, v in budget.items():
            cond = F.col(group_cols[0]) == F.lit(k)
            bexpr = (F.when(cond, F.lit(v)) if bexpr is None
                     else bexpr.when(cond, F.lit(v)))
        return bexpr.otherwise(F.lit(0)).cast("bigint")
    return F.lit(int(budget)).cast("bigint")


def token_budget_sample(df: DataFrame, group_cols: list[str], id_col: str,
                        weight_col: str, budget) -> DataFrame:
    """Deterministic per-group WEIGHTED budget sample — the corpus-mixing
    primitive: take documents in md5-priority order until each group's
    cumulative weight (token count) reaches its budget. A doc is kept iff
    the running total INCLUDING it is <= the group's budget, so the
    selection never overshoots and is invariant to rows in other groups.

    ``budget`` is an int (same budget for every group) or a dict
    {group-value: budget} for single-column grouping (per-domain /
    per-language token mixing ratios).

    Scale shape: one shuffle on the group key; the window carries one
    running sum, never a global sort. Same skew posture as quota_sample
    (a giant group serializes into one partition's window — split such a
    group with a salt-bucket sub-key upstream if a single group exceeds
    executor throughput)."""
    from pyspark.sql import Window

    pri = md5_priority(id_col)
    w = (Window.partitionBy(*group_cols).orderBy(pri, F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    bexpr = _budget_expr(group_cols, budget)
    cum = F.sum(F.col(weight_col)).over(w)
    return (df.withColumn("__cum", cum)
            .where(F.col("__cum") <= bexpr)
            .drop("__cum"))


def stratified_split(df: DataFrame, strata_cols: list[str], id_col: str,
                     fractions: dict[str, float]) -> DataFrame:
    """Exact-count stratified split: within every stratum, rows are ordered
    by md5 priority and cut at floor(n·cum_fraction) boundaries, so each
    stratum's split sizes are exact (±1 from flooring) rather than the
    hash-split's binomial approximation — the difference matters for small
    strata (a 6-doc language keeps its val/test representation).

    Deterministic and engine-reproducible: same rows land in the same
    split on every run and every engine (the window arithmetic is integer
    + one double multiply, identical everywhere). One shuffle on the
    strata key; window state is a counter, never a global sort.

    ``fractions`` values must sum to 1 (e.g. {"train": .8, "val": .1,
    "test": .1}); the LAST named split absorbs the flooring remainder."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    from pyspark.sql import Window

    pri = md5_priority(id_col)
    w = Window.partitionBy(*strata_cols).orderBy(pri, F.col(id_col))
    wn = Window.partitionBy(*strata_cols)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wn)
    names = list(fractions)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += fractions[name]
        cut = F.floor(n * F.lit(cum)).cast("int")
        cond = rn <= cut
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = (expr.otherwise(F.lit(names[-1])) if expr is not None
            else F.lit(names[-1]))
    return df.withColumn("split", expr)


def pack_sequences(df: DataFrame, group_cols: list[str], id_col: str,
                   weight_col: str, capacity: int) -> DataFrame:
    """Deterministic sequence packing (concat-then-chunk): lay the group's
    documents end-to-end in md5-priority order and cut the resulting token
    stream into fixed ``capacity`` windows — the GPT-style training-batch
    packing step. Each document gets:

    - ``bin_id``      window index where the document STARTS
    - ``bin_offset``  token offset of the document inside that window
    - ``straddles``   true iff the document crosses a window boundary
      (training pipelines use this to decide whether to mask the
      cross-document attention span)

    All integer window arithmetic over one running sum — engine-portable
    and byte-for-byte reproducible, hence DuckDB-oracle-able. Scale shape:
    ONE shuffle on the group key; the window state is a single running
    counter (never a global sort). A giant group serializes into one
    partition's window — same documented posture as token_budget_sample."""
    from pyspark.sql import Window

    pri = md5_priority(id_col)
    w = (Window.partitionBy(*group_cols).orderBy(pri, F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(F.col(weight_col).cast("bigint")).over(w)
    start = (cum - F.col(weight_col)).cast("bigint")
    end_bin = F.floor((cum - F.lit(1)) / F.lit(capacity))
    return (df.withColumn("__start", start)
            .withColumn("bin_id", F.floor(F.col("__start") / F.lit(capacity)))
            .withColumn("bin_offset", F.col("__start") % F.lit(capacity))
            .withColumn("straddles",
                        (F.col(weight_col) > 0) & (end_bin > F.col("bin_id")))
            .drop("__start"))


def length_bucket_batches(df: DataFrame, id_col: str, weight_col: str,
                          bucket_width: int = 64,
                          batch_size: int = 32) -> DataFrame:
    """Length-bucketed inference batching: group similar-length documents
    into fixed-size batches so padding waste is bounded by the bucket
    width — the standard serving/embedding-prep step. Adds
    ``length_bucket`` (floor(weight / width)), ``batch_idx`` (dense batch
    number within the bucket, md5-priority order — deterministic and
    engine-reproducible) and ``slot`` (position in the batch).

    One shuffle on the bucket key; window state is a single counter.
    Same single-group skew posture as the other window ops."""
    from pyspark.sql import Window

    if bucket_width < 1 or batch_size < 1:
        raise ValueError("bucket_width and batch_size must be >= 1")
    bucket = F.floor(F.col(weight_col) / F.lit(bucket_width)).cast("int")
    pri = md5_priority(id_col)
    w = Window.partitionBy("length_bucket").orderBy(pri, F.col(id_col))
    rn = F.row_number().over(w) - 1
    return (df.withColumn("length_bucket", bucket)
            .withColumn("batch_idx",
                        F.floor(rn / F.lit(batch_size)).cast("int"))
            .withColumn("slot", (rn % F.lit(batch_size)).cast("int")))


def negative_samples(df: DataFrame, id_col: str, k: int = 4,
                     num_buckets: int = 16) -> DataFrame:
    """Deterministic pseudo-random negative sampling (contrastive
    training): each anchor gets the next ``k`` ids along an md5-ordered
    ring — uniform-looking, engine-reproducible pairs without rand().

    The ring is per md5-BUCKET, not global: a single global ring would
    need a one-partition window (the single-reducer anti-pattern), while
    per-bucket rings keep every step bucket-parallel and are equally
    "random" — bucket assignment and in-bucket order are both md5-driven,
    so neighbors on the ring are unrelated documents.

    Shape: one bucket shuffle for the ranking window (position + bucket
    size), then an equi-join on (bucket, (pos + i) % size) to fetch the
    neighbor ids — k rows per anchor, no cross join, no collected arrays
    (a per-bucket collect_list would OOM at corpus scale). Self-pairs
    (bucket smaller than k+1) are filtered; such tiny buckets can also
    repeat a negative — dedup keeps one. ``num_buckets`` (1..256, md5
    modulo via :func:`hash_bucket_int`) sizes the rings: more buckets =
    smaller rings for huge corpora; tune so buckets stay > k+1."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = F.md5(F.col(id_col).cast("string"))
    bucket = hash_bucket_int(id_col, num_buckets)
    w = Window.partitionBy("__bkt").orderBy("__h", "id")
    wn = Window.partitionBy("__bkt")
    ranked = (df.select(F.col(id_col).alias("id"), h.alias("__h"),
                        bucket.alias("__bkt"))
              .withColumn("__pos", F.row_number().over(w) - 1)
              .withColumn("__m", F.count(F.lit(1)).over(wn)))
    targets = ranked.select(
        F.col("id").alias("anchor_id"), "__bkt", "__m",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("__i"),
        F.col("__pos"),
    ).select("anchor_id", "__bkt",
             ((F.col("__pos") + F.col("__i")) % F.col("__m")).alias("__tpos"))
    members = ranked.select("__bkt", F.col("__pos").alias("__tpos"),
                            F.col("id").alias("negative_id"))
    return (targets.join(members, ["__bkt", "__tpos"])
            .where(F.col("negative_id") != F.col("anchor_id"))
            .select("anchor_id", "negative_id").distinct())


def quota_sample(df: DataFrame, group_cols: list[str], id_col: str,
                 n_per_group: int) -> DataFrame:
    """Deterministic per-group quota sample: exactly min(n, |group|) rows
    per group, chosen by md5-priority order — the data-mixing primitive for
    training corpora (per-source/per-language quotas). A hash priority is
    the deterministic form of reservoir sampling (Efraimidis-Spirakis with
    uniform weights): every engine picks the SAME rows, runs are
    reproducible, and adding rows to OTHER groups never changes a group's
    selection. One shuffle on the group key; per-group window state is one
    counter (rank), never a global sort."""
    from pyspark.sql import Window

    pri = md5_priority(id_col)
    w = Window.partitionBy(*group_cols).orderBy(pri, F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= n_per_group).drop("__rn"))


def temperature_sample(df: DataFrame, group_cols: list[str], id_col: str,
                       target_total: int, alpha: float = 0.5) -> DataFrame:
    """Temperature-based corpus mixing (the CC-100 / mT5 multilingual
    sampling scheme): group g receives a share of ``target_total``
    proportional to n_g^alpha — alpha < 1 up-weights small languages /
    domains relative to raw proportional sampling.

    Deterministic across engines by construction: alpha is restricted to
    {0, 0.5, 1} so the group weight is INTEGER (1, floor(sqrt(n_g)) —
    IEEE sqrt of an int is exact, floor makes it an int — or n_g), and
    quotas use exact integer arithmetic: floor(target·w/W) plus a
    largest-remainder round so quotas SUM TO target exactly (remainder
    ties broken on the group value).  A group's quota caps at its size —
    the standard oversampling caveat (real mixing repeats small-group
    data across epochs; repetition is a separate op).  Selection within
    a group is md5-priority (:func:`md5_priority`), same convention as
    every sampler here.

    Scale shape: the group-count table is control-plane tiny (#groups
    rows) — its windows/joins are driver-cheap and it broadcasts onto
    the corpus; the corpus itself pays ONE group-key shuffle for the
    rank window, rank-only state."""
    from pyspark.sql import Window

    if alpha not in (0.0, 0.5, 1.0):
        raise ValueError(
            f"alpha must be 0, 0.5 or 1 (integer-exact weights; libm pow "
            f"drifts across engines), got {alpha}")
    counts = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"))
    if alpha == 0.0:
        w = F.lit(1).cast("bigint")
    elif alpha == 1.0:
        w = F.col("__n")
    else:
        w = F.floor(F.sqrt(F.col("__n"))).cast("bigint")
    counts = counts.withColumn("__w", w)
    tw = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    t = F.lit(int(target_total)).cast("bigint")
    quotas = (counts
              .withColumn("__wsum", F.sum("__w").over(tw))
              .withColumn("__q", F.expr(
                  f"CAST(({int(target_total)} * __w) DIV __wsum AS BIGINT)"))
              .withColumn("__rem", (t * F.col("__w")) % F.col("__wsum"))
              .withColumn("__extra_rank", F.row_number().over(
                  Window.orderBy(F.col("__rem").desc(),
                                 *[F.col(c) for c in group_cols])))
              .withColumn("__deficit", t - F.sum("__q").over(tw))
              .withColumn("__quota", F.least(
                  F.col("__q")
                  + F.when(F.col("__extra_rank") <= F.col("__deficit"),
                           F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
                  F.col("__n")))
              .select(*group_cols, "__quota"))
    pri = md5_priority(id_col)
    rw = Window.partitionBy(*group_cols).orderBy(pri, F.col(id_col))
    # null-safe equi-join: a NULL group value is a real group (the count
    # above included it) — a plain on=[cols] join would silently drop
    # those rows and break the quotas-sum-to-target contract
    q = quotas.select(*[F.col(c).alias(f"__g_{c}") for c in group_cols],
                      "__quota")
    cond = None
    for c in group_cols:
        e = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
        cond = e if cond is None else (cond & e)
    return (df.join(F.broadcast(q), on=cond)
            .withColumn("__rn", F.row_number().over(rw))
            .where(F.col("__rn") <= F.col("__quota"))
            .drop("__rn", "__quota", *[f"__g_{c}" for c in group_cols]))


def repeat_to_budget(df: DataFrame, group_cols: list[str], id_col: str,
                     weight_col: str, budget) -> DataFrame:
    """Deterministic data REPETITION up to a per-group token budget — the
    other half of corpus mixing (:func:`temperature_sample` caps a
    group's quota at its size; real multilingual runs instead repeat
    small-language data for multiple epochs).  Documents cycle in
    md5-priority order: full epochs while the whole group's token weight
    fits, then one partial epoch cut by the running sum — every emitted
    row carries ``epoch`` (0-based), so downstream can cap repetition or
    decay sample weight per epoch.

    ``budget`` is an int or a {group-value: budget} dict (single group
    column), same contract as :func:`token_budget_sample`.  A document
    is emitted in epoch e iff e·W_g + cum_w(doc) ≤ budget_g where W_g is
    the group's total weight and cum_w the running sum including the doc
    — pure integer arithmetic, engine-exact, never overshoots.

    Scale shape: one group-key shuffle for the running-sum window; the
    epoch fan-out is a posexplode of a per-row epoch count (no cross
    join, no per-group collect)."""
    from pyspark.sql import Window

    bexpr = _budget_expr(group_cols, budget)
    pri = md5_priority(id_col)
    w = (Window.partitionBy(*group_cols).orderBy(pri, F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wg = Window.partitionBy(*group_cols)
    cum = F.sum(F.col(weight_col).cast("bigint")).over(w)
    tot = F.sum(F.col(weight_col).cast("bigint")).over(wg)
    # max epoch e with e*tot + cum <= budget  ->  e_max = (budget - cum) DIV tot
    # (negative -> the doc never fits; emitted 0 times)
    n_epochs = F.when(
        (F.col("__cum") <= F.col("__budget")) & (F.col("__tot") > 0),
        F.expr("(__budget - __cum) DIV __tot") + 1).otherwise(F.lit(0))
    return (df.withColumn("__cum", cum)
            .withColumn("__tot", tot)
            .withColumn("__budget", bexpr)
            .withColumn("__n_ep", n_epochs)
            .where(F.col("__n_ep") > 0)
            .select("*", F.explode(F.sequence(
                F.lit(0).cast("bigint"),
                F.col("__n_ep") - 1)).alias("epoch"))
            .drop("__cum", "__tot", "__budget", "__n_ep"))


def merge_corpora(sources: list[tuple[DataFrame, str, int]],
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Merge N document corpora with source-priority dedup: identical
    content appearing in several sources keeps ONE copy, from the
    highest-priority (lowest number) source — the "wiki beats common
    crawl" rule every mixture build applies before weighting. Ties break
    on id (first-seen wins deterministically).

    Each entry is ``(frame, source_name, priority)``.  Shape: tag + union
    (no shuffle), md5 content fingerprint, ONE hash shuffle on the
    fingerprint for the rank-1 window — rank state only, the standard
    latest_image shape.  Returns winners with provenance: ``source``,
    ``priority``, ``n_copies`` (how many source rows carried this
    content) and ``n_sources`` (how many distinct sources)."""
    if not sources:
        raise ValueError("merge_corpora needs at least one source")
    tagged = None
    for frame, name, prio in sources:
        t = frame.select(
            F.col(id_col), F.col(text_col),
            F.lit(name).alias("source"),
            F.lit(int(prio)).cast("int").alias("priority"))
        tagged = t if tagged is None else tagged.unionByName(t)
    from pyspark.sql import Window
    fp = F.md5(F.col(text_col))
    w = (Window.partitionBy("__fp")
               .orderBy(F.col("priority"), F.col(id_col), F.col("source")))
    return (tagged.withColumn("__fp", fp)
            .withColumn("__rn", F.row_number().over(w))
            .withColumn("n_copies", F.count(F.lit(1)).over(
                Window.partitionBy("__fp")))
            .withColumn("n_sources", F.size(F.collect_set("source").over(
                Window.partitionBy("__fp"))))
            .where(F.col("__rn") == 1)
            .select(id_col, text_col, "source", "priority",
                    "n_copies", "n_sources"))


def mixture_interleave(df: DataFrame, group_col: str,
                       id_col: str = "doc_id",
                       num_partitions: int = 8) -> DataFrame:
    """Deterministic mixture interleaving: a dense global training order
    in which every group's documents are spread EVENLY end-to-end (small
    groups don't cluster at the front the way sorted-by-group orders do,
    and no window of the stream over- or under-samples a group) — the
    low-discrepancy schedule mixture training wants after quotas are
    fixed.

    Each document gets the interleave key ``(2·rank + 1) / (2·n_g)`` —
    the midpoint of its [rank/n_g, (rank+1)/n_g) stratum, so group g's
    items sit at the odd multiples of 1/(2·n_g): uniformly spaced, and no
    two groups collide except at exactly-equal fractions (broken by the
    total order (key, group, rank)).  Within a group, documents are
    ordered by md5 priority (deterministic shuffle).  The one IEEE
    division is computed identically in any engine; dense positions come
    from the two-phase range-shuffle numbering (``global_row_ids``) — no
    single-reducer sort.  Shuffles: one group-key window + one range
    exchange."""
    from pyspark.sql import Window

    from .indexing import global_row_ids

    w = Window.partitionBy(group_col).orderBy(md5_priority(id_col), id_col)
    n = Window.partitionBy(group_col)
    keyed = (df.withColumn("rank_in_group",
                           (F.row_number().over(w) - 1).cast("bigint"))
               .withColumn("__n_g", F.count(F.lit(1)).over(n))
               .withColumn("interleave_key",
                           (2 * F.col("rank_in_group") + 1)
                           / (2 * F.col("__n_g"))))
    return (global_row_ids(keyed.drop("__n_g"),
                           ["interleave_key", group_col, "rank_in_group"],
                           id_name="position",
                           num_partitions=num_partitions))
