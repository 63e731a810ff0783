"""Bounded-error piecewise-linear approximation (swing filter) — the
LOSSY compression tier beside the lossless codecs (Gorilla/Chimp/ALP):
keep one segment per quasi-linear run instead of one point per sample,
with a hard per-point error guarantee.

Algorithm (the "swing filter" family — Elmeleegy et al., PVLDB 2009:
greedy one-pass PLA with a shrinking feasible-slope cone): anchor a
segment at a retained sample point (t_a, v_a); for each later point the
cone of slopes that keeps EVERY covered point within +-eps narrows to

    lo = max(lo, (v - eps - v_a) / (t - t_a))
    hi = min(hi, (v + eps - v_a) / (t - t_a))

and the moment lo > hi the segment is emitted ending at the PREVIOUS
point, which becomes the next anchor (segments chain: end_i == start_{i+1},
so n_segments knots reconstruct the whole series).

Exactness: timestamps/values/eps are integers, so every bound is the
rational (v +- eps - v_a) / (t - t_a); lo/hi comparisons use exact
cross-multiplication on Python ints (never float division) — segment
boundaries are bit-reproducible on any engine and any partitioning, with
no epsilon-of-an-epsilon float ambiguity at cone-collapse points. That is
the property the staged scalar oracle pins.

Scale shape: one kernel call per POST-ROLLUP series behind ``mapInArrow``,
through the per-series runner ``dads_spark.groups.per_series`` (the
grouped-S2G layout); O(n) per series,
no cross-task traffic. At 100 TB the segment table IS the compressed
tier: reads reconstruct by join-free interpolation between knots.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..groups import per_series


def swing_segments(
    t: np.ndarray, v: np.ndarray, eps: int
) -> list[tuple[int, int, int, int, int]]:
    """Greedy swing-filter segmentation of one integer series.

    Returns [(t_start, v_start, t_end, v_end, n_points), ...] where
    consecutive segments share their boundary point. A segment's
    guarantee: some line from (t_start, v_start) keeps every covered
    point within +-eps (the line through the final feasible cone); the
    RETAINED knots are actual samples, so knot values are exact.
    """
    t = np.asarray(t, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    n = len(t)
    if n == 0:
        return []
    if n == 1:
        return [(int(t[0]), int(v[0]), int(t[0]), int(v[0]), 1)]
    eps = int(eps)
    segs: list[tuple[int, int, int, int, int]] = []
    a = 0  # anchor index
    # feasible slope cone as exact fractions (num, den), den > 0
    lo_n, lo_d = None, None
    hi_n, hi_d = None, None
    covered = 1
    i = 1
    while i < n:
        dt = int(t[i]) - int(t[a])
        cand_lo_n, cand_hi_n = int(v[i]) - eps - int(v[a]), int(v[i]) + eps - int(v[a])
        if covered == 1:
            lo_n, lo_d, hi_n, hi_d = cand_lo_n, dt, cand_hi_n, dt
            covered = 2
            i += 1
            continue
        new_lo_n, new_lo_d = lo_n, lo_d
        if cand_lo_n * lo_d > lo_n * dt:  # cand_lo > lo
            new_lo_n, new_lo_d = cand_lo_n, dt
        new_hi_n, new_hi_d = hi_n, hi_d
        if cand_hi_n * hi_d < hi_n * dt:  # cand_hi < hi
            new_hi_n, new_hi_d = cand_hi_n, dt
        if new_lo_n * new_hi_d > new_hi_n * new_lo_d:  # cone collapsed
            prev = i - 1
            segs.append(
                (int(t[a]), int(v[a]), int(t[prev]), int(v[prev]), prev - a + 1)
            )
            a = prev
            covered = 1
            # re-process point i against the new anchor (do NOT advance)
            continue
        lo_n, lo_d, hi_n, hi_d = new_lo_n, new_lo_d, new_hi_n, new_hi_d
        covered += 1
        i += 1
    segs.append((int(t[a]), int(v[a]), int(t[n - 1]), int(v[n - 1]), n - a))
    return segs


def pla_segments_grouped(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    eps: int,
) -> DataFrame:
    """Per-series swing-filter PLA: keys..., seg_idx, t_start, v_start,
    t_end, v_end, n_points — all exact integers."""

    def f(t, v):
        segs = swing_segments(t, v.astype(np.int64), eps)
        return np.arange(len(segs)), *zip(*segs)

    fields = "seg_idx long, t_start long, v_start long, t_end long, v_end long, n_points long"
    return per_series(df, key_cols, ts_col, [value_col], f, fields)


def pla_max_error(
    t: np.ndarray, v: np.ndarray, segs: list[tuple[int, int, int, int, int]]
) -> float:
    """Max |reconstruction - sample| using knot-to-knot linear
    interpolation (the read path): the ERROR AUDIT for a segmentation.
    Note the knot-interpolation line is generally steeper/flatter than
    the cone line the filter certified, so the knot-read error is
    bounded by 2*eps (each knot is a true sample; the certified line and
    the knot line differ by <= eps at the far end). Tests assert that
    bound; callers wanting <= eps store the cone line instead."""
    t = np.asarray(t, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    worst = 0.0
    for t0, v0, t1, v1, _ in segs:
        m = (t >= t0) & (t <= t1)
        if t1 == t0:
            rec = np.full(m.sum(), float(v0))
        else:
            rec = v0 + (v1 - v0) * (t[m] - t0) / (t1 - t0)
        if m.any():
            worst = max(worst, float(np.max(np.abs(rec - v[m]))))
    return worst
