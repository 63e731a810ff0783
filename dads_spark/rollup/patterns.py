"""Subsequence pattern search: z-normalized similarity of a query shape
against every window of every series.

The query-side counterpart of discord detection: where the matrix profile
finds each window's nearest NEIGHBOR, pattern search finds each series'
windows nearest to a user-supplied SHAPE (MASS distance profile — Mueen's
FFT-based algorithm, the same public kernel the DRAG operator calibrates
with). The classic "find me days that look like this outage" query over
rolled-up per-domain series.

Distribution shape: one kernel per series behind ``mapInArrow``, through
the per-series runner ``dads_spark.groups.per_series`` (the grouped
zero-coordination shape shared with the S2G scorer); each
task emits only its top-k rows, so the shuffle is k rows per series no
matter how long the series is.

Ranking is tie-free by construction: windows are ordered by the micro-unit
quantized distance (floor(d*1e6+0.5)) with the window index as tiebreak,
so independent distance implementations (FFT MASS vs direct z-norm, which
agree to ~1e-12 at these magnitudes) produce identical top-k lists.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..groups import per_series
from ..s2g.discord import mass_distance_profile


def pattern_topk_kernel(
    x: np.ndarray, pattern: np.ndarray, k: int
) -> list[tuple[int, int]]:
    """Top-k (window_idx, dist_q6) for one series, best match first."""
    m = len(pattern)
    if len(x) < m:
        return []
    d = mass_distance_profile(np.asarray(pattern, dtype=np.float64), x)
    q = np.floor(d * 1e6 + 0.5).astype(np.int64)
    order = sorted(range(len(q)), key=lambda i: (q[i], i))[:k]
    return [(i, int(q[i])) for i in order]


def pattern_topk(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    pattern: list[float],
    k: int = 5,
) -> DataFrame:
    """Per-series top-k best-matching windows:
    (keys..., rank, window_idx, dist_q6)."""
    pat = np.asarray(pattern, dtype=np.float64)

    def run(_, x):
        top = pattern_topk_kernel(x, pat, k)
        return np.arange(1, len(top) + 1), *zip(*top)

    fields = "rank long, window_idx long, dist_q6 long"
    return per_series(df, key_cols, order_col, [value_col], run, fields)
