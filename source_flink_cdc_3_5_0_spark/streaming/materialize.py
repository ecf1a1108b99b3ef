"""Changelog -> table-state materialization.

The reference never materializes (its sinks do, e.g. Doris/Paimon upsert);
our engine needs the equivalent operator to (a) reduce a batch to one final
image per key before sink merge and (b) answer "current state" queries over
a changelog. Implemented with a window rank over (pk) ordered by sequence —
a single shuffle on the key, no driver loop, skew handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..common.events import BEFORE_COL, META_COL, OP_COL


def latest_image(df: DataFrame, pk_cols: list[str], seq_col: str | None = None,
                 keep_delete_marker: bool = False) -> DataFrame:
    """Reduce a changelog to the latest image per key.

    ``-U`` (update-before) rows never represent final state and are dropped
    up front; the winner among the rest is the highest ``seq_col`` (ties
    broken by op rank: a ``-D``/``+U`` after a ``+I`` at the same seq wins).
    With ``keep_delete_marker`` the surviving ``-D`` row is kept (callers
    doing sink merges need the tombstone); otherwise deleted keys vanish.
    """
    if OP_COL in df.columns:
        df = df.where(F.col(OP_COL) != "-U")
    # NOTE (r12, measured): a max_by(struct(*cols)) aggregate looks like
    # the cheaper shape (guide §2.3), but the row_number window is ALREADY
    # map-side-reduced by Spark's WindowGroupLimit rewrite (rn=1 → partial
    # top-1 per key BEFORE the exchange), and — decisively — the window
    # stays transparent to column pruning: consumers selecting a column
    # subset prune unused inputs straight through it (the sqlserver gate's
    # pairing-lag window is eliminated entirely this way), while a max_by
    # payload struct pins every column alive and re-grew the plan by one
    # exchange + the pruned window. Keep the window form.
    order = []
    if seq_col is not None:
        order.append(F.col(seq_col).desc())
    if OP_COL in df.columns:
        # at equal seq, deletes/updates ordered after inserts win
        order.append(
            F.when(F.col(OP_COL) == "+I", F.lit(0)).otherwise(F.lit(1)).desc()
        )
    if not order:
        order.append(F.monotonically_increasing_id().desc())
    w = Window.partitionBy(*[F.col(c) for c in pk_cols]).orderBy(*order)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    out = ranked.where(F.col("__rn") == 1).drop("__rn")
    if OP_COL in df.columns and not keep_delete_marker:
        out = out.where(F.col(OP_COL) != "-D")
    return out


#: pseudo-sequence for carried-in state rows — sorts before any real event
_STATE_SEQ = -(1 << 62)


def changelog_normalize(df: DataFrame, pk_cols: list[str], seq_col: str,
                        emit_update_before: bool = False,
                        state_df: DataFrame | None = None) -> DataFrame:
    """Upsert changelog -> complete retraction changelog (Flink's
    ChangelogNormalize analog).

    Sources like the reference's MongoDB connector emit an UPSERT stream
    (MongoDBConnectorDeserializationSchema.java:137-160): +I/+U rows carry
    the full post-image but no before-image, -D rows carry only the
    document key, and there are no -U events. Flink plants a
    ChangelogNormalize operator (keyed last-image state) before any
    consumer that needs retractions; this is the batch/micro-batch
    equivalent — ONE key shuffle, a lag window instead of keyed state:

    - upsert row with no visible predecessor (first event, or follows a
      -D) -> ``+I``;
    - upsert row with a visible predecessor -> ``+U`` with ``__before`` =
      the predecessor's image (every upsert carries the FULL document, so
      lag(1) IS the prior state — no running scan needed);
    - -D with a visible predecessor -> ``-D`` whose payload columns are
      REPLACED by the predecessor's image (restores the deleted image
      MongoDB never shipped — key-only tombstone in, full tombstone out);
    - -D with no visible predecessor -> dropped.

    ``emit_update_before=True`` renders +U rows as Flink's two-row
    -U(before)/+U(after) form instead of the engine's single-row
    ``__before`` convention.

    ``state_df`` is the micro-batch form's cross-batch state: the CURRENT
    materialized table (plain payload rows — e.g. the sink's own latest
    image, which IS Flink's ChangelogNormalize keyed state, persisted in
    the sink instead of an operator store). Its rows enter as pseudo
    upserts at a sentinel sequence that sorts before every real event, so
    a batch's first upsert of a known key emits +U with the state image as
    its before, and a first -D emits the full tombstone instead of being
    dropped; the pseudo rows themselves are filtered from the output. One
    extra scan of the state per batch, same single key shuffle.
    """
    payload = [c for c in df.columns
               if c not in (OP_COL, BEFORE_COL, META_COL, seq_col)]
    if state_df is not None:
        seed = state_df.select(
            *[F.col(c) for c in payload],
            F.lit("+I").alias(OP_COL),
            *([F.lit(None).cast(T.MapType(T.StringType(), T.StringType()))
               .alias(META_COL)] if META_COL in df.columns else []),
            F.lit(_STATE_SEQ).cast("long").alias(seq_col))
        df = df.drop(*([BEFORE_COL] if BEFORE_COL in df.columns else [])) \
            .unionByName(seed, allowMissingColumns=True)
    img = F.struct(*[F.col(c) for c in payload])
    w = Window.partitionBy(*[F.col(c) for c in pk_cols]) \
        .orderBy(F.col(seq_col).asc())
    prev_img = F.lag(img).over(w)
    prev_op = F.lag(F.col(OP_COL)).over(w)
    visible = prev_op.isNotNull() & (prev_op != "-D")
    is_del = F.col(OP_COL) == "-D"
    norm = df.select(
        *payload,
        F.col(OP_COL), F.col(seq_col),
        *([F.col(META_COL)] if META_COL in df.columns else []),
        prev_img.alias("__prev"), visible.alias("__vis"),
    ).where(~(is_del & ~F.col("__vis")))
    op_out = (F.when(is_del, F.lit("-D"))
              .when(F.col("__vis"), F.lit("+U"))
              .otherwise(F.lit("+I")))
    out = norm.select(
        *[F.when(is_del, F.col(f"__prev.{c}")).otherwise(F.col(c)).alias(c)
          for c in payload],
        op_out.alias(OP_COL),
        F.when(F.col("__vis") & ~is_del, F.col("__prev"))
         .alias(BEFORE_COL),
        *([F.col(META_COL)] if META_COL in df.columns else []),
        F.col(seq_col),
    )
    if state_df is not None:
        # the carried-in state rows seeded before-images; they are not
        # themselves batch output
        out = out.where(F.col(seq_col) != _STATE_SEQ)
    if not emit_update_before:
        return out
    upd = out.where(F.col(OP_COL) == "+U")
    ub = upd.select(
        *[F.col(f"{BEFORE_COL}.{c}").alias(c) for c in payload],
        F.lit("-U").alias(OP_COL),
        F.lit(None).cast(upd.schema[BEFORE_COL].dataType).alias(BEFORE_COL),
        *([F.col(META_COL)] if META_COL in df.columns else []),
        F.col(seq_col),
    )
    ua = upd.withColumn(BEFORE_COL, F.lit(None).cast(
        upd.schema[BEFORE_COL].dataType))
    rest = out.where(F.col(OP_COL) != "+U")
    return rest.unionByName(ub).unionByName(ua)


