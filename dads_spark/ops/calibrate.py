"""Cross-group score calibration: quantile normalization.

A corpus-wide quality score is only comparable across domains/languages
if each group's score DISTRIBUTION is comparable — a perplexity of 180
means something different for German than for English, and a length
score skews by site template. Quantile normalization is the standard
fix (borrowed from microarray statistics, routine in LLM-data quality
pipelines): replace each value by the GLOBAL distribution's value at
the same within-group rank, so every group ends up with an identical
(the pooled) distribution and downstream threshold filters cut each
group at the same quantile.

EXACT-integer construction: within-group rank r of n maps to global
target rank ceil(r*N/n) computed as (r*N + n - 1) div N-free integer
arithmetic — no float quantile interpolation anywhere, so results are
bit-identical on any engine. Ties break on an explicit id column
(ordinal ranks), making the map a deterministic permutation-invariant
function of the table.

Scale shape: one window rank per group (shuffle keyed by group), one
GLOBAL ordinal rank (a total sort — this is the definition of the
statistic, same cost class as any exact global quantile), then a join
keyed on the dense integer rank. At 100 TB the exact global rank is
the costly step; the approximate production path substitutes the
mergeable quantile digest (ops/sketch.py) for the global side and keeps
the per-group ranks exact — this module is the exact reference the
digest path is validated against.

Reference analog: none in DADS (pure web-corpus op); SURVEY §2.4 suite.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F

from ..groups import per_series


def quantile_normalize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Map each row's value to the pooled distribution's value at the
    same within-group quantile.

    Returns the input key columns plus ``rank_in_group``, ``group_n``,
    ``target_rank`` (the exact global rank the row maps to) and
    ``normalized`` (the global value at that rank). The highest row of
    every group maps to the global maximum (r=n -> ceil(N) = N); the
    lowest maps to the global value at rank ceil(N/n).
    """
    base = df.select(*group_cols, id_col, F.col(value_col).alias("_v"))
    gw = W.partitionBy(*group_cols).orderBy("_v", id_col)
    ranked = base.select(
        *group_cols,
        id_col,
        "_v",
        F.row_number().over(gw).cast("long").alias("rank_in_group"),
        F.count(F.lit(1)).over(W.partitionBy(*group_cols)).cast("long").alias(
            "group_n"
        ),
    )
    n_total = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    # global ordinal rank -> value lookup (the pooled distribution)
    gg = W.orderBy("_v", *[F.col(c) for c in group_cols], id_col)
    glob = base.select(
        F.row_number().over(gg).cast("long").alias("target_rank"),
        F.col("_v").alias("normalized"),
    )
    # ceil(r*N/n) in pure integer arithmetic; r,n >= 1 so the result is
    # in [1, N] and the rank join below never misses
    target = (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn(
            # `div` is true 64-bit integer division — a double quotient
            # cast long can round across the boundary once r*N nears 2^53
            "target_rank",
            F.expr("(rank_in_group * _n + group_n - 1) div group_n"),
        )
        .drop("_n")
    )
    return target.join(glob, "target_rank").select(
        *group_cols,
        id_col,
        F.col("_v").alias(value_col),
        "rank_in_group",
        "group_n",
        "target_rank",
        "normalized",
    )


def _pav_blocks(xs, ns, ss):
    """Pool-adjacent-violators over tie-pooled (x, n, sum_y) triples in
    x order — EXACT integer pooling: means compared by cross-
    multiplication, never divided. Returns per input triple the pooled
    block's (num, den). Shared by the Spark kernel and the test brute
    force (the gate's independence comes from the staged minimax
    oracle, a different characterization entirely)."""
    blocks: list[list[int]] = []  # [n, s]
    for n, s in zip(ns, ss):
        blocks.append([int(n), int(s)])
        # violation: prev_mean > cur_mean  <=>  s_p * n_c > s_c * n_p
        while (
            len(blocks) >= 2
            and blocks[-2][1] * blocks[-1][0]
            > blocks[-1][1] * blocks[-2][0]
        ):
            n2, s2 = blocks.pop()
            blocks[-1][0] += n2
            blocks[-1][1] += s2
    # expand back to one (num, den) per input triple
    expanded = []
    i = 0
    for n, s in blocks:
        covered = 0
        while covered < n:
            covered += int(ns[i])
            expanded.append((s, n))
            i += 1
    return expanded


def isotonic_fit(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Isotonic (PAV) calibration per group: the monotone step function
    mapping a raw score to an outcome rate — the standard calibration
    for quality-classifier scores before thresholding them corpus-wide.

    Exact integer construction end-to-end: ties on x pool first (one
    hash aggregation), then pool-adjacent-violators runs per group in
    one :func:`dads_spark.groups.per_series` kernel call with means
    compared by CROSS-MULTIPLICATION (never divided), so the fitted
    value of each x is an exact rational (yhat_num / yhat_den) plus its
    half-up micro-unit quantize. Output
    one row per distinct (group, x).

    Scale shape: the corpus collapses to |group| x |distinct scores|
    aggregate rows BEFORE the Python stage; PAV is O(levels) per group
    over that small frame (the legitimate per-series kernel case: an
    order-dependent sequential fit per group). Gated against a staged
    oracle computing the minimax characterization ``max_{j<=i}
    min_{k>=i} avg(y[j..k])`` — a different algorithm entirely.

    Reference analog: none; SURVEY §2.4 curation suite (Barlow et al.
    1972 PAV; public method).
    """
    pooled = df.groupBy(
        *group_cols, F.col(x_col).cast("long").alias("x")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(y_col).cast("long")).alias("y_sum"),
    )

    def fit(x, n, y_sum):
        n, y_sum = n.astype(np.int64), y_sum.astype(np.int64)
        pairs = _pav_blocks(x.tolist(), n.tolist(), y_sum.tolist())
        # lowest terms, so the representation matches the minimax
        # oracle's reduced fractions exactly
        red = [(s // math.gcd(s, n) if s else 0,
                n // math.gcd(s, n) if s else 1) for s, n in pairs]
        q6 = [(10**6 * s) // n + (1 if (10**6 * s) % n * 2 >= n else 0) for s, n in red]
        return x, n, y_sum, *zip(*red), q6

    fields = "x long, n long, y_sum long, yhat_num long, yhat_den long, yhat_q6 long"
    return per_series(pooled, group_cols, "x", ["n", "y_sum"], fit, fields)
