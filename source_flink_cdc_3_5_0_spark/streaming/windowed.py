"""Event-time windowed aggregation.

The reference is a CDC tool, but its streams feed exactly this shape
downstream; on Spark it is a first-class Structured Streaming citizen:
``windowed_counts`` runs tumbling/sliding event-time windows with a
watermark bounding state for late data (``withWatermark`` + ``F.window``).
The SAME code path works on a batch DataFrame (no watermark needed), which
is what lets a DuckDB oracle check the streaming query's semantics.

State sizing at 100 TB: the watermark bounds window state to
(watermark horizon / slide) windows per key; the aggregation shuffles once
on its keys and scales with executors (state lives in the state store,
partitioned by the same keys).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F, types as T


def windowed_counts(df: DataFrame, ts_col: str = "ts",
                    window: str = "1 hour", slide: str | None = None,
                    keys: Sequence[str] = ("event_type",),
                    watermark: str = "30 minutes") -> DataFrame:
    """Event-time windowed counts + value sum. Streaming input gets a
    watermark (late rows beyond it are dropped and window state is evicted);
    batch input runs the identical plan minus the watermark."""
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    win = (F.window(ts_col, window, slide) if slide
           else F.window(ts_col, window))
    # DECIMAL sum: exact and order-independent (a double sum's value depends
    # on reduction order — unreproducible across partitionings/oracles)
    vsum = F.sum(F.col("value").cast(T.DecimalType(18, 2))).cast("double")
    return (
        src.groupBy(win.alias("w"), *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             vsum.alias("value_sum"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                *keys, "n_events", "value_sum")
    )


