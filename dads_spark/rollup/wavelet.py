"""Haar wavelet synopsis per series, exact-integer coefficients.

The classic wavelet synopsis (Matias, Vitter & Wang, SIGMOD 1998):
keep the top-k Haar coefficients of a series by energy as a fixed-size
sketch supporting approximate range sums and shape reconstruction —
the multi-resolution sibling of the V-optimal histogram (vopt.py) and
a standard optimizer-statistics structure.

Exact construction over integer-valued points:

- truncate each series to the largest power-of-two prefix m = 2^J
  (documented; Haar is dyadic);
- the UNNORMALIZED transform keeps everything in longs: at step j the
  pairwise sums become the next level and the pairwise differences
  d = s_L - s_R are the detail coefficients for block size 2^j;
- the orthonormal coefficient is d / 2^(j/2) with energy d^2 / 2^j, so
  ranking by the INTEGER key  e = d^2 * 2^(J-j)  (energy x 2^J) gives
  the exact top-k order with no square roots; the approximation
  coefficient (the series total S) ranks with e = S^2;
- ties break (energy desc, level asc, pos asc) — fully deterministic.

Caller bound: (m * max|v|)^2 < 2^63 — bucketed count series by
construction.

Scale shape: one :func:`dads_spark.groups.per_series` kernel call per
series behind ``mapInArrow`` (the grouped-S2G discipline); the
transform is J ~ log2(m) vectorized halvings.

Reference analog: none; spec source is §2.3 (tier summaries) beside
vopt_histogram and the PLA/LTTB downsamplers.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..groups import per_series

__all__ = ["haar_topk_grouped", "haar_coefficients"]


def haar_coefficients(v: np.ndarray):
    """All (level, pos, coef, energy) rows of the dyadic prefix:
    level 0 = the approximation (series total), level j >= 1 = details
    at block size 2^j. Integer energies e = d^2 * 2^(J-j)."""
    v = np.asarray(v, dtype=np.int64)
    m = 1
    while m * 2 <= len(v):
        m *= 2
    s = v[:m].copy()
    j_max = m.bit_length() - 1
    out = []
    for j in range(1, j_max + 1):
        left, right = s[0::2], s[1::2]
        d = left - right
        s = left + right
        scale = 1 << (j_max - j)
        for pos in range(len(d)):
            di = int(d[pos])
            out.append((j, pos, di, di * di * scale))
    total = int(s[0]) if len(s) else 0
    out.append((0, 0, total, total * total))
    return out


def haar_topk_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    k: int = 12,
) -> DataFrame:
    """Per-series top-k Haar synopsis: (keys..., rank, level, pos,
    coef, energy), ranked by (energy desc, level asc, pos asc)."""

    def f(_, v):
        coeffs = haar_coefficients(v.astype(np.int64))
        coeffs.sort(key=lambda r: (-r[3], r[0], r[1]))
        top = coeffs[:k]
        return np.arange(1, len(top) + 1), *zip(*top)

    fields = "rank long, level long, pos long, coef long, energy long"
    return per_series(df, key_cols, order_col, [value_col], f, fields)
