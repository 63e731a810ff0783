"""V-optimal histogram construction per series, exact-integer DP.

The optimizer-statistics workhorse (Jagadish et al., VLDB 1998):
partition a series of n points into B contiguous buckets minimizing
the total within-bucket sum of squared errors. V-optimal histograms
are what a cost-based planner wants from ANALYZE for range-selectivity
estimation, and what a tier-summary wants as a fixed-size sketch of a
series' shape — LTTB keeps visual extremes, V-optimal keeps variance.

Exact-decision variant: the SSE of segment [i, j] is

    SSE = sum2 - sum^2/len = (len*sum2 - sum^2) / len

whose numerator is an exact long on integer-valued points. The DP
minimizes the FLOOR-QUANTIZED cost  c_q3 = (1000*(len*sum2 - sum^2))
DIV len  — an integer objective both engines share exactly, within
n*1e-3 of true SSE (ties in the DP break to the SMALLEST split
index). No float enters any comparison, so the chosen boundaries are
bit-reproducible under any engine and any partitioning.

Caller bound: n^2 * max(v)^2 * 1000 < 2^63 — bucketed count series by
construction (e.g. n = 10^4 hourly points of counts up to 10^5).

Scale shape: one :func:`dads_spark.groups.per_series` kernel call per
series behind ``mapInArrow`` (the grouped-S2G discipline); the DP is
O(B n^2) with vectorized NumPy rows (prefix-sum segment costs, one
argmin per (k, j) row).

Reference analog: none; spec source is §2.3 (tier summaries /
profiling) — composes with ops/profile.py's per-key histograms, which
are equi-width; this is the optimal-boundary upgrade.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..groups import per_series

__all__ = ["vopt_histogram_grouped", "vopt_boundaries"]


def _seg_cost_row(ps: np.ndarray, ps2: np.ndarray, j: int) -> np.ndarray:
    """q3-floored SSE of segments [i, j] for all i in [0, j], as int64.
    ps/ps2 are 0-prefixed prefix sums of v and v*v (int64)."""
    i = np.arange(j + 1, dtype=np.int64)
    length = (j + 1) - i
    s = ps[j + 1] - ps[i]
    s2 = ps2[j + 1] - ps2[i]
    return (1000 * (length * s2 - s * s)) // length


def vopt_boundaries(v: np.ndarray, b: int) -> list[int]:
    """Start indices of the B buckets (first always 0), chosen by the
    exact-integer DP; ties break to the smallest split index (np.argmin
    keeps the first minimum; the scalar oracle uses strict '<')."""
    n = len(v)
    b = min(b, n)
    if b <= 1 or n == 0:
        return [0] if n else []
    v = np.asarray(v, dtype=np.int64)
    ps = np.zeros(n + 1, dtype=np.int64)
    ps2 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(v, out=ps[1:])
    np.cumsum(v * v, out=ps2[1:])
    big = np.iinfo(np.int64).max // 4
    dp = np.full((b + 1, n), big, dtype=np.int64)
    back = np.zeros((b + 1, n), dtype=np.int64)
    for j in range(n):
        dp[1, j] = _seg_cost_row(ps, ps2, j)[0]
    for k in range(2, b + 1):
        for j in range(k - 1, n):
            costs = _seg_cost_row(ps, ps2, j)  # cost of [i, j]
            # last bucket starts at i in [k-1, j]; prior = dp[k-1, i-1]
            i = np.arange(k - 1, j + 1)
            tot = dp[k - 1, i - 1] + costs[i]
            pos = int(np.argmin(tot))  # first min = smallest start
            dp[k, j] = tot[pos]
            back[k, j] = k - 1 + pos
    starts = []
    j = n - 1
    for k in range(b, 1, -1):
        i = int(back[k, j])
        starts.append(i)
        j = i - 1
    starts.append(0)
    return starts[::-1]


def vopt_histogram_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    b: int = 6,
) -> DataFrame:
    """Per-series V-optimal histogram: one row per bucket with exact
    moment columns — (keys..., bucket, t_start, t_end, n, sum_v,
    sum2_v, cost_q3). ``order_col`` must be a unique-per-key long."""

    def f(t, v):
        v = v.astype(np.int64)
        starts = np.array(vopt_boundaries(v, b))
        ends = np.append(starts[1:], len(v))
        ps = np.concatenate(([0], np.cumsum(v)))
        ps2 = np.concatenate(([0], np.cumsum(v * v)))
        n = ends - starts
        sv, s2 = ps[ends] - ps[starts], ps2[ends] - ps2[starts]
        cost = (1000 * (n * s2 - sv * sv)) // n
        return np.arange(1, len(n) + 1), t[starts], t[ends - 1], n, sv, s2, cost

    fields = (
        "bucket long, t_start long, t_end long, n long, sum_v long, sum2_v long, "
        "cost_q3 long"
    )
    return per_series(df, key_cols, order_col, [value_col], f, fields)
