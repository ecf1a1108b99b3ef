"""Distributed JSON schema inference over a semi-structured string column.

Heterogeneous JSONL feeds (event streams, API dumps, crawl sidecars) need
"what shape is this data" answered before a typed pipeline can consume it —
Spark's own ``spark.read.json`` does exactly this inference pass.  This
operator makes that pass a reusable, incremental aggregate: each document
contributes its top-level ``(key, json-type)`` observations, and one
partial-agg shuffle on the (tiny) ``(key, jtype)`` domain produces the
observed-type histogram per key, plus the least-common-supertype verdict a
typed loader would pick (BIGINT+DOUBLE → DOUBLE, anything else mixed →
VARCHAR — the same widening idea as the schema-evolution lattice in
``common/types.py``).

The per-document tokenizer is an Arrow-batched ``mapInPandas`` stage over
stdlib ``json`` (type tokens aligned with DuckDB's ``json_type`` names so
the oracle can replay observations engine-side: OBJECT/ARRAY/VARCHAR/
BIGINT/DOUBLE/BOOLEAN/NULL).  Malformed documents yield a single
``(None, '__MALFORMED__')`` observation instead of failing the batch —
corrupt-record accounting, like ``_corrupt_record`` in Spark's JSON source.

Scale: the Python stage is map-only (no state), emits a few rows per doc,
and the shuffle key domain is the *schema*, not the data — counts are
mergeable across files/partitions/days.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

_OBS_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), True),
    T.StructField("jtype", T.StringType(), False),
])

MALFORMED = "__MALFORMED__"
CORRUPT_KEY = "__corrupt__"


def _jtype(v) -> str:
    if v is None:
        return "NULL"
    if v is True or v is False:
        return "BOOLEAN"
    if isinstance(v, int):
        return "BIGINT"
    if isinstance(v, float):
        return "DOUBLE"
    if isinstance(v, str):
        return "VARCHAR"
    if isinstance(v, list):
        return "ARRAY"
    return "OBJECT"


def json_type_observations(df: DataFrame, col: str = "props") -> DataFrame:
    """Explode each JSON document into ``(key, jtype)`` rows for its
    top-level object keys.  Non-object roots and unparseable documents
    emit ``('__corrupt__', '__MALFORMED__')``; NULL input rows emit
    nothing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, types = [], []
            for raw in pdf[col]:
                if raw is None:
                    continue
                try:
                    doc = json.loads(raw)
                except (ValueError, TypeError):
                    doc = None
                if not isinstance(doc, dict):
                    keys.append(CORRUPT_KEY)
                    types.append(MALFORMED)
                    continue
                for k, v in doc.items():
                    keys.append(k)
                    types.append(_jtype(v))
            yield pd.DataFrame({"key": pd.Series(keys, dtype=object),
                                "jtype": pd.Series(types, dtype=object)})

    return df.select(col).mapInPandas(run, schema=_OBS_SCHEMA)


def infer_json_schema(df: DataFrame, col: str = "props") -> DataFrame:
    """Per-(key, observed-type) counts plus the inferred loader type for
    the key: the single observed type; BIGINT+DOUBLE (±NULL) widen to
    DOUBLE; NULL alone stays NULL; any other mix falls back to VARCHAR —
    JSON's universal donor.  Returns ``(key, jtype, n, inferred)``."""
    from pyspark.sql import Window

    obs = (json_type_observations(df, col)
           .groupBy("key", "jtype").agg(F.count(F.lit(1)).alias("n")))
    # a window over the key, not a self-join, so the mapInPandas stage
    # runs once
    ts = F.collect_set(F.when(F.col("jtype") != "NULL", F.col("jtype"))) \
        .over(Window.partitionBy("key"))
    inferred = (
        F.when(F.size("ts") == 0, F.lit("NULL"))
         .when(F.size("ts") == 1, F.element_at("ts", 1))
         .when((F.size("ts") == 2)
               & F.array_contains("ts", "BIGINT")
               & F.array_contains("ts", "DOUBLE"), F.lit("DOUBLE"))
         .otherwise(F.lit("VARCHAR")))
    return (obs.withColumn("ts", ts)
               .select("key", "jtype", "n", inferred.alias("inferred")))
