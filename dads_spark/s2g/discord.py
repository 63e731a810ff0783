"""DRAG-style discord detection: z-normalized Euclidean subsequence scoring
with candidate selection + refinement and anomalous-range merging.

Complements the Series2Graph pipeline (the reference's algorithm) with the
classic distance-based discord definition the north star names: a length-m
subsequence is a discord if its z-normalized Euclidean distance to every
non-overlapping subsequence exceeds a range r (Yankov/Keogh DRAG, "Disk
aware discord discovery", ICDM 2007 — public algorithm, reimplemented from
the paper's two-phase structure).

Implementation is pure vectorized NumPy:
- distance profiles via MASS (Mueen's FFT-based algorithm, public):
  dist^2 = 2m(1 - (QT - m*mu_q*mu_t) / (m*sig_q*sig_t))
- phase 1 (candidate selection): one pass; a window is a candidate if it is
  not within r of any previously seen candidate (trivial-match exclusion
  zone m//2); phase 2 (refinement): exact nearest-non-trivial-neighbor
  distance for each surviving candidate.
- discord ranges overlapping or adjacent are merged.

Spark surface: ``discord_series_grouped`` — same shape as
``score_series_grouped`` (one rolled-up series per kernel call, behind the
``mapInArrow`` runner ``dads_spark.groups.per_series``).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..groups import per_series


def _sliding_stats(x: np.ndarray, m: int):
    """Per-window mean and std (population), numerically safe."""
    csum = np.cumsum(np.concatenate([[0.0], x]))
    csum2 = np.cumsum(np.concatenate([[0.0], x * x]))
    n = len(x) - m + 1
    s = csum[m:] - csum[:-m]
    s2 = csum2[m:] - csum2[:-m]
    mu = s / m
    var = np.maximum(s2 / m - mu * mu, 0.0)
    return mu, np.sqrt(var)


def mass_distance_profile(query: np.ndarray, x: np.ndarray) -> np.ndarray:
    """z-normalized Euclidean distances of ``query`` to every window of x.

    MASS: sliding dot products via FFT convolution, O(n log n).
    Constant (zero-variance) windows are treated as distance sqrt(2m) ("no
    shape information"), matching the common matrix-profile convention.
    """
    m = len(query)
    n = len(x)
    mu_t, sig_t = _sliding_stats(x, m)
    mu_q = query.mean()
    sig_q = query.std()
    # sliding dot product: correlate(x, query) valid mode via FFT
    size = 1 << int(np.ceil(np.log2(n + m)))
    fx = np.fft.rfft(x, size)
    fq = np.fft.rfft(query[::-1], size)
    qt = np.fft.irfft(fx * fq, size)[m - 1 : n]
    denom = m * sig_q * sig_t
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = (qt - m * mu_q * mu_t) / denom
    d2 = 2.0 * m * (1.0 - corr)
    d2 = np.where((sig_q == 0) | (sig_t == 0), 2.0 * m, d2)
    return np.sqrt(np.maximum(d2, 0.0))


def matrix_profile_self(x: np.ndarray, m: int, excl: int | None = None) -> np.ndarray:
    """Self-join matrix profile: for each window, the z-normalized distance
    to its nearest non-trivial match (exclusion zone ``excl``, default m//2).

    O(n^2 / batch) with fully vectorized inner loops — intended for
    rolled-up series (n up to ~10^5 per task), not raw 100 TB scans.
    """
    x = np.asarray(x, dtype=np.float64)
    n_win = len(x) - m + 1
    if excl is None:
        excl = max(1, m // 2)
    mp = np.full(n_win, np.inf)
    for i in range(n_win):
        d = mass_distance_profile(x[i : i + m], x)
        lo, hi = max(0, i - excl), min(n_win, i + excl + 1)
        d[lo:hi] = np.inf
        mp[i] = d.min()
    return mp


def drag_discords(
    x: np.ndarray, m: int, r: float, excl: int | None = None
) -> list[tuple[int, float]]:
    """DRAG two-phase discord discovery: windows whose nearest non-trivial
    neighbor distance exceeds ``r``. Returns [(window_idx, nn_dist), ...].

    Phase 1 prunes with one distance profile per surviving candidate; phase 2
    computes the exact nearest-neighbor distance of each candidate. Total
    profiles computed ~ O(#candidates), a large factor below the full
    matrix profile when r is well chosen.
    """
    x = np.asarray(x, dtype=np.float64)
    n_win = len(x) - m + 1
    if excl is None:
        excl = max(1, m // 2)

    # phase 1: candidate selection
    candidates: list[int] = []
    is_pruned = np.zeros(n_win, dtype=bool)
    for i in range(n_win):
        if is_pruned[i]:
            continue
        d = mass_distance_profile(x[i : i + m], x)
        lo, hi = max(0, i - excl), min(n_win, i + excl + 1)
        d[lo:hi] = np.inf
        # anything within r of window i can never be a discord w.r.t. i
        close = d < r
        close[: i + 1] = False
        is_pruned |= close
        if not (d < r).any():
            candidates.append(i)
        else:
            is_pruned[i] = True

    # phase 2: refinement — exact NN distance per candidate
    out = []
    for i in candidates:
        d = mass_distance_profile(x[i : i + m], x)
        lo, hi = max(0, i - excl), min(n_win, i + excl + 1)
        d[lo:hi] = np.inf
        nn = float(d.min())
        if nn >= r:
            out.append((i, nn))
    return out


def merge_ranges(
    indices: list[int], m: int, gap: int = 0
) -> list[tuple[int, int]]:
    """Merge overlapping/adjacent discord windows into anomalous ranges
    [start, end) over raw positions."""
    if not indices:
        return []
    spans = sorted((i, i + m) for i in indices)
    merged = [list(spans[0])]
    for s, e in spans[1:]:
        if s <= merged[-1][1] + gap:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def discord_series_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    m: int,
    r_quantile: float = 0.995,
    decision_quantum: float | None = None,
) -> DataFrame:
    """Per-key DRAG discord ranges over rolled-up series.

    The range threshold r is self-calibrated per series: the ``r_quantile``
    of a sampled matrix profile (every k-th window), which keeps the operator
    parameter-light across heterogeneous domains. Output: key columns +
    (range_start, range_end, peak_nn_dist).

    ``decision_quantum`` (e.g. 1e-6): snap r to the nearest half-grid
    boundary, making the ``nn >= r`` decision equal to comparing
    grid-quantized values — tie-free across independent distance
    implementations (MASS/FFT vs direct z-norm agree to ~1e-12 at discord
    magnitudes, far inside a 1e-6 grid cell). Needed because the calibrated
    r can saturate EXACTLY at the flat-window ceiling sqrt(2m) on short or
    heavily gap-filled series, where a raw >= flips on ulps.
    """

    def ranges(_, x):
        if len(x) < 4 * m:
            return None
        n_win = len(x) - m + 1
        step = max(1, n_win // 200)  # ~200 sampled profiles for calibration
        sample = matrix_profile_self_sampled(x, m, step)
        r = float(np.quantile(sample[np.isfinite(sample)], r_quantile))
        if decision_quantum is not None:
            # nn >= r' with r' on the half-grid <=> floor-quantized nn >= r
            r = (np.floor(r / decision_quantum + 0.5) - 0.5) * decision_quantum
        found = drag_discords(x, m, r)
        if not found:
            return None
        nn_by_idx = dict(found)
        spans = merge_ranges([i for i, _ in found], m)
        peaks = [max(v for i, v in nn_by_idx.items() if s <= i < e) for s, e in spans]
        return [s for s, _ in spans], [e for _, e in spans], peaks

    return per_series(
        df,
        key_cols,
        order_col,
        [value_col],
        ranges,
        "range_start long, range_end long, peak_nn_dist double",
    )


def matrix_profile_self_sampled(x: np.ndarray, m: int, step: int) -> np.ndarray:
    """Matrix profile at every ``step``-th window (threshold calibration)."""
    x = np.asarray(x, dtype=np.float64)
    n_win = len(x) - m + 1
    excl = max(1, m // 2)
    idx = np.arange(0, n_win, step)
    out = np.empty(len(idx))
    for j, i in enumerate(idx):
        d = mass_distance_profile(x[i : i + m], x)
        lo, hi = max(0, i - excl), min(n_win, i + excl + 1)
        d[lo:hi] = np.inf
        out[j] = d.min()
    return out
