"""Matrix profile (STOMP) discord detection over rolled-up series.

The matrix profile [Yeh et al., ICDM'16; Zhu et al., ICDM'16 "STOMP"] maps
each length-m subsequence to the z-normalized Euclidean distance of its
nearest non-trivial neighbor; subsequences with the LARGEST profile values
are discords — the same notion of "most isolated subsequence" the
reference's Series2Graph/DRAG pipeline scores (dads_spark/s2g/discord.py),
computed by an independent method. Complements S2G: MP is exact and
parameter-light, S2G is graph-based and streaming-friendly.

Distribution shape: one vectorized NumPy kernel per series behind
``mapInArrow``, through the per-series runner ``dads_spark.groups.per_series``
— identical to the grouped S2G scorer. Each
series must fit one task (true post-rollup: a year of hourly buckets is
8,760 points); millions of series parallelize across tasks. The kernel is
O(n^2) with O(n) memory via the STOMP dot-product recurrence (no n^2
matrix is ever materialized).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..groups import per_series


def sliding_stats(x: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-window mean and population sigma via cumulative sums."""
    c = np.cumsum(np.concatenate(([0.0], x)))
    c2 = np.cumsum(np.concatenate(([0.0], x * x)))
    s = c[m:] - c[:-m]
    s2 = c2[m:] - c2[:-m]
    mu = s / m
    var = np.maximum(s2 / m - mu * mu, 0.0)
    return mu, np.sqrt(var)


def _sliding_dots(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """dot(q, x[j:j+m]) for every j, via one FFT correlation (MASS)."""
    n, m = len(x), len(q)
    size = 1 << int(np.ceil(np.log2(n + m)))
    fx = np.fft.rfft(x, size)
    fq = np.fft.rfft(q[::-1], size)
    prod = np.fft.irfft(fx * fq, size)
    return prod[m - 1 : n]


def matrix_profile(
    x: np.ndarray, m: int, exclusion: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Self-join matrix profile: (mp, mp_idx) over the w = n-m+1 windows.

    dist^2(i,j) = 2m * (1 - (QT_ij - m mu_i mu_j) / (m sigma_i sigma_j)),
    QT advanced row-to-row by the STOMP recurrence. Trivial matches inside
    the exclusion zone |i-j| <= exclusion (default ceil(m/2)) are skipped.
    Flat (sigma=0) windows: two flats are distance 0; flat-vs-moving is the
    maximal sqrt(2m) (the stumpy convention).
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    w = n - m + 1
    if w < 2:
        return np.empty(0), np.empty(0, dtype=np.int64)
    excl = int(np.ceil(m / 2)) if exclusion is None else int(exclusion)
    mu, sig = sliding_stats(x, m)
    flat = sig == 0.0
    qt0 = _sliding_dots(x[:m], x)  # row 0 AND column 0 (self-join symmetry)
    mp = np.full(w, np.inf)
    mpi = np.zeros(w, dtype=np.int64)
    j_idx = np.arange(w)
    qt = qt0.copy()
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(w):
            if i > 0:
                # QT_i(j) = QT_{i-1}(j-1) - x[j-1] x[i-1] + x[j+m-1] x[i+m-1]
                qt[1:] = qt[:-1] - x[: w - 1] * x[i - 1] + x[m:] * x[i + m - 1]
                qt[0] = qt0[i]
            if flat[i]:
                d = np.where(flat, 0.0, np.sqrt(2.0 * m)) * np.ones(w)
            else:
                corr = (qt - m * mu[i] * mu) / (m * sig[i] * sig)
                d2 = np.maximum(2.0 * m * (1.0 - corr), 0.0)
                d = np.sqrt(d2)
                d = np.where(flat, np.sqrt(2.0 * m), d)
            d[np.abs(j_idx - i) <= excl] = np.inf
            k = int(np.argmin(d))
            mp[i] = d[k]
            mpi[i] = k
    return mp, mpi


def top_discords(
    mp: np.ndarray, m: int, k: int = 3, exclusion: int | None = None
) -> list[int]:
    """Greedy non-overlapping top-k discord indices (largest profile
    first; later picks must clear the exclusion zone of earlier ones)."""
    excl = int(np.ceil(m / 2)) if exclusion is None else int(exclusion)
    order = np.argsort(-np.where(np.isfinite(mp), mp, -np.inf), kind="stable")
    picked: list[int] = []
    for i in order:
        if not np.isfinite(mp[i]):
            continue
        if all(abs(int(i) - p) > excl for p in picked):
            picked.append(int(i))
        if len(picked) == k:
            break
    return picked


def matrix_profile_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    m: int,
    exclusion: int | None = None,
) -> DataFrame:
    """Per-series matrix profile: (keys..., idx, mp, mp_idx).

    Series shorter than m+ceil(m/2)+1 points yield no rows (no non-trivial
    neighbor exists).
    """

    def profile(_, x):
        mp, mpi = matrix_profile(x, m, exclusion)
        if len(mp) == 0 or not np.isfinite(mp).any():
            return None
        return np.arange(len(mp)), mp, mpi

    return per_series(
        df, key_cols, order_col, [value_col], profile, "idx long, mp double, mp_idx long"
    )


def discords_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    m: int,
    k: int = 3,
    exclusion: int | None = None,
) -> DataFrame:
    """Top-k non-overlapping discords per series:
    (keys..., rank, idx, mp)."""

    def discords(_, x):
        mp, _ = matrix_profile(x, m, exclusion)
        picks = top_discords(mp, m, k, exclusion) if len(mp) else []
        return np.arange(1, len(picks) + 1), picks, mp[picks]

    return per_series(
        df, key_cols, order_col, [value_col], discords, "rank long, idx long, mp double"
    )


def top_motifs(
    mp: np.ndarray,
    mpi: np.ndarray,
    m: int,
    k: int = 3,
    exclusion: int | None = None,
) -> list[tuple[int, int]]:
    """Greedy non-overlapping top-k MOTIF PAIRS — the discord's mirror:
    smallest profile value first (most-repeated shape), each pick is the
    pair (i, mp_idx[i]), and later picks must clear the exclusion zone of
    every previously picked window (both pair members). Stable on index
    for equal values."""
    excl = int(np.ceil(m / 2)) if exclusion is None else int(exclusion)
    # greedy-order on the 1e-6-QUANTIZED profile (the same grid the gate
    # emits): raw float order among near-zero ties differs between STOMP
    # and a brute-force scan, which would flip pick order engine-to-engine
    key = np.where(
        np.isfinite(mp), np.floor(mp * 1e6 + 0.5), np.inf
    )
    order = np.argsort(key, kind="stable")
    picked: list[tuple[int, int]] = []
    occupied: list[int] = []
    for i in order:
        if not np.isfinite(mp[i]):
            continue
        j = int(mpi[i])
        if any(
            abs(int(i) - p) <= excl or abs(j - p) <= excl for p in occupied
        ):
            continue
        picked.append((int(i), j))
        occupied.extend((int(i), j))
        if len(picked) == k:
            break
    return picked


def motifs_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    m: int,
    k: int = 3,
    exclusion: int | None = None,
) -> DataFrame:
    """Top-k non-overlapping motif pairs per series:
    (keys..., rank, idx_a, idx_b, mp) — idx_a the picked window, idx_b
    its nearest neighbor, mp their z-normalized distance."""

    def motifs(_, x):
        mp, mpi = matrix_profile(x, m, exclusion)
        picks = top_motifs(mp, mpi, m, k, exclusion) if len(mp) else []
        # a motif pair is unordered (the members are mutual neighbors up
        # to float noise) — canonicalize to (min, max) and report the
        # profile at the min index so the emitted row is orientation-free
        lo = [min(p) for p in picks]
        hi = [max(p) for p in picks]
        return np.arange(1, len(picks) + 1), lo, hi, mp[lo]

    return per_series(
        df,
        key_cols,
        order_col,
        [value_col],
        motifs,
        "rank long, idx_a long, idx_b long, mp double",
    )
