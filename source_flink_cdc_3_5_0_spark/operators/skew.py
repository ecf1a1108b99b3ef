"""Skew mitigation: two-phase salted aggregation.

At 100 TB a hot key (one table id dominating the changelog, one customer
dominating orders) turns the PK shuffle into a straggler. The standard
remedy: groupBy(key, salt) partial -> groupBy(key) final. The first
shuffle spreads a hot key over ``n_salts`` reducers; the second is tiny
(one row per (key, salt)). Works for any algebraic aggregate
(sum/count/min/max); avg = salted(sum)+salted(count).

AQE's skew-join handling (``spark.sql.adaptive.skewJoin.enabled``, on by
default in our sessions) already splits oversized *sort-merge* join
partitions at runtime; this helper covers aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_agg(df: DataFrame, keys: list[str], aggs: dict[str, str],
               n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation: ``aggs`` maps output column -> 'fn(input)'
    with fn in {sum, count, min, max}.

    Example: ``salted_agg(li, ["l_returnflag"], {"qty": "sum(l_quantity)"})``
    """
    salt = F.pmod(F.hash(*[F.col(k) for k in keys], F.monotonically_increasing_id()),
                  F.lit(n_salts)).alias("__salt")
    partial_exprs = []
    final_exprs = []
    for out, spec in aggs.items():
        fn, _, arg = spec.partition("(")
        fn = fn.strip().lower()
        arg = arg.rstrip(")").strip()
        if fn == "sum":
            partial_exprs.append(F.sum(arg).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "count":
            partial_exprs.append(F.count(F.lit(1) if arg in ("*", "1") else F.col(arg)).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").cast("bigint").alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(arg).alias(f"__p_{out}"))
            final_exprs.append(F.min(f"__p_{out}").alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(arg).alias(f"__p_{out}"))
            final_exprs.append(F.max(f"__p_{out}").alias(out))
        else:
            raise ValueError(f"salted_agg supports sum/count/min/max, got {fn!r}")
    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


