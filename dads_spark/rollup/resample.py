"""Arbitrary-step grid resampling over irregular or bucketed series.

``resample_grid`` re-indexes each (key) series onto an epoch-aligned grid of
``step_seconds`` — downsampling (coarser grid) and upsampling (finer grid)
with linear interpolation or LOCF between the enclosing observations. This
generalizes the fixed-tier gap-fill (gapfill.py): gap-fill densifies the
series' OWN bucket grid; resample projects onto ANY grid.

Unlike the Python gap-fill kernels, this operator is fully
relational — grid generation is ``sequence()`` + ``explode``, neighbor
lookup is two growing-frame window passes (last ignoreNulls, forward for
the previous observation and reversed for the next one), and the
interpolation arithmetic is codegen expressions — so Catalyst owns the
whole plan: one shuffle on the series key, no Python stage, and the same
formulation runs as ANSI SQL in the correctness oracle. At warehouse scale
the window partitions by the series key exactly like the tier rollups, so
a domain-bucketed layout makes the sort partition-local.

Grid anchoring: epoch-aligned points in [ceil(min_ts/step), floor(max_ts/
step)] * step — every grid point lies between two observations (or on
one), so interpolation never extrapolates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def resample_grid(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    step_seconds: int,
    method: str = "linear",
) -> DataFrame:
    """Resample each series onto the epoch-aligned ``step_seconds`` grid.

    Output: key columns + ``bucket_ts`` (timestamp, the grid point) +
    ``v`` (double) + ``exact`` (boolean — the grid point coincided with an
    observation). ``method``: 'linear' interpolates between the enclosing
    observations; 'locf' carries the last observation forward.
    """
    if method not in ("linear", "locf"):
        raise ValueError(f"method must be 'linear' or 'locf' (got {method!r})")
    step = int(step_seconds)
    s = df.select(
        *key_cols,
        F.col(ts_col).cast("long").alias("_t"),
        F.col(value_col).cast("double").alias("_sv"),
    )
    # integer-exact epoch-aligned bounds: ceil-div via (mn + step-1) div step
    bounds = s.groupBy(*key_cols).agg(
        F.expr(f"(min(_t) + {step - 1}) div {step} * {step}").alias("_g0"),
        F.expr(f"max(_t) div {step} * {step}").alias("_g1"),
    )
    grid = bounds.filter(F.col("_g0") <= F.col("_g1")).select(
        *key_cols,
        F.explode(F.sequence("_g0", "_g1", F.lit(step))).alias("_t"),
        F.lit(None).cast("double").alias("_sv"),
        F.lit(True).alias("_isg"),
    )
    union = grid.unionByName(s.withColumn("_isg", F.lit(False)))
    # order samples BEFORE grid points at equal _t so an exact-match grid
    # point sees its own observation as "previous" (frac 0 -> exact value)
    order = [F.col("_t"), F.col("_isg")]
    w_prev = (
        W.partitionBy(*key_cols).orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    )
    # the next observation is the last one up to this row in REVERSED order:
    # a frame that grows from the partition start is evaluated in O(n), while
    # Spark re-aggregates a (0, unboundedFollowing) frame per row, O(n^2)
    w_next = (
        W.partitionBy(*key_cols)
        .orderBy(*[c.desc() for c in order])
        .rowsBetween(W.unboundedPreceding, 0)
    )
    st = F.when(~F.col("_isg"), F.col("_t"))
    enriched = (
        union.withColumn("_pv", F.last("_sv", ignorenulls=True).over(w_prev))
        .withColumn("_pt", F.last(st, ignorenulls=True).over(w_prev))
        .withColumn("_nv", F.last("_sv", ignorenulls=True).over(w_next))
        .withColumn("_nt", F.last(st, ignorenulls=True).over(w_next))
        .filter(F.col("_isg"))
    )
    if method == "locf":
        v = F.col("_pv")
    else:
        frac = (F.col("_t") - F.col("_pt")) / (F.col("_nt") - F.col("_pt"))
        v = F.when(
            (F.col("_pt") == F.col("_t")) | (F.col("_nt") == F.col("_pt")),
            F.col("_pv"),
        ).otherwise(F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac)
    return enriched.select(
        *key_cols,
        F.col("_t").cast("timestamp").alias("bucket_ts"),
        v.alias("v"),
        (F.col("_pt") == F.col("_t")).alias("exact"),
    )
