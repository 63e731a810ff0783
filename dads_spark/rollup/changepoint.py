"""Exact penalized changepoint segmentation (PELT) per series.

CUSUM (forecast.py) raises sequential alarms; PELT solves the OFFLINE
problem exactly: the segmentation minimizing

    sum over segments of SSE(segment)  +  penalty * (#changepoints)

via the pruned-exact-linear-time dynamic program (Killick et al. 2012,
public method). SSE cost is computed from prefix sums, candidates that can
never again be optimal are pruned each step (valid with pruning constant
K=0 because SSE is subadditive under splitting), and ties in the argmin
resolve to the earliest candidate — the same rule the O(n^2) reference DP
in ``dads_spark/oracles.py:pelt_oracle`` uses, so the two implementations
agree BITWISE, not just approximately (both build costs from the identical
cumsum expressions; float ops are elementwise IEEE in each).

Spark shape: one ``mapInArrow`` over tier-sized series through the
per-series runner ``dads_spark.groups.per_series`` — the same grouped-kernel
contract as the S2G, discord and matrix-profile operators: shuffle
carries rolled-up points (orders below raw), each task segments its own
series with a vectorized candidate scan, output is just the changepoint
rows. At 10^12 raw docs the hour tier is ~10^4 points/series — the DP is
micro-scale per task; skew follows series length like every grouped
kernel here (LPT notes in BASELINE.md apply).

Reference analog: none (DADS detects subsequence discords, not mean-shift
regimes); spec source BASELINE.json:6 (anomaly pre-stage on rolled-up
series: regime boundaries separate "level changed" from "point outlier").
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..groups import per_series

__all__ = ["auto_penalty", "pelt_changepoints", "pelt_grouped"]


def auto_penalty(x: np.ndarray, factor: float = 1.0) -> float:
    """BIC-style penalty = factor * varhat * log(n), with varhat built from
    the same prefix-sum expression the DP costs use — shared verbatim by
    the staged oracle so both sides segment with the identical scalar."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if n < 2:
        return 0.0
    s1 = float(np.cumsum(x)[-1])
    s2 = float(np.cumsum(x * x)[-1])
    varhat = (s2 - s1 * s1 / n) / n
    return factor * varhat * float(np.log(np.float64(n)))


def pelt_changepoints(x: np.ndarray, penalty: float) -> list[int]:
    """Exact minimizers of penalized SSE segmentation: the sorted list of
    changepoint indices (each cp is the first index of a new segment).
    Empty/singleton input or penalty too high -> []."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if n < 2:
        return []
    s1 = np.concatenate([[0.0], np.cumsum(x)])
    s2 = np.concatenate([[0.0], np.cumsum(x * x)])

    F = np.empty(n + 1, dtype=np.float64)
    F[0] = -penalty
    prev = np.zeros(n + 1, dtype=np.int64)
    cands = np.array([0], dtype=np.int64)
    for t in range(1, n + 1):
        ln = (t - cands).astype(np.float64)
        cost = (s2[t] - s2[cands]) - (s1[t] - s1[cands]) ** 2 / ln
        vals = F[cands] + cost + penalty
        i = int(np.argmin(vals))  # first minimum: earliest candidate wins
        F[t] = vals[i]
        prev[t] = cands[i]
        # PELT prune (K=0): s with F[s] + C(s,t) > F[t] never optimal again
        keep = vals - penalty <= F[t]
        cands = np.append(cands[keep], t)

    cps: list[int] = []
    t = n
    while t > 0:
        s = int(prev[t])
        if s > 0:
            cps.append(s)
        t = s
    return cps[::-1]


def pelt_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    penalty: float | None = None,
) -> DataFrame:
    """Per-series exact PELT segmentation:
    (keys..., cp_rank, cp_idx, n) — cp_idx is the 0-based position (in
    ``order_col`` order) where a new segment begins, cp_rank its 1-based
    ordinal, n the series length. All-integer output columns.
    ``penalty=None`` -> per-series :func:`auto_penalty`."""

    def segments(_, x):
        cps = pelt_changepoints(x, auto_penalty(x) if penalty is None else penalty)
        return np.arange(1, len(cps) + 1), cps, np.full(len(cps), len(x))

    return per_series(
        df, key_cols, order_col, [value_col], segments, "cp_rank long, cp_idx long, n long"
    )
