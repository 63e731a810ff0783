"""Seasonal-hybrid generalized ESD anomaly detection, integer-exact.

The S-H-ESD scheme (Hochenbaum, Vallis & Kejariwal, "Automatic Anomaly
Detection in the Cloud Via Statistical Learning", 2017): remove the
seasonal component, then run the generalized Extreme Studentized
Deviate test — made robust ("hybrid") by replacing mean/std with
MEDIAN/MAD. This catches MULTIPLE outliers that mask each other (a
single 3-sigma rule misses two adjacent spikes because each inflates
the deviation estimate that judges the other; ESD re-estimates after
every removal).

Exact-decision construction over integer count series:

- seasonal component = per hour-of-day MEDIAN, carried as ``2*median``
  (the sum of the two middle order statistics — always an integer);
- residual ``r2 = 2*v - sm2`` (integer, 2x units);
- at ESD step i over the remaining residuals: ``m4 = 2*median(r2)``
  (4x units), deviation ``u = |2*r2 - m4|`` (4x units), MAD carried as
  ``md = 2*median(u)`` (8x units);
- the test statistic |r - med| / MAD > lambda_i becomes the INTEGER
  comparison ``2 * u * 10^6  >  lambda_q6 * md`` — the only float in
  the whole pipeline is the published critical value, quantized to q6
  once, identically, before either engine sees it.

Critical values lambda_i are the standard ESD one-sided points

    lambda_i = (n-i) * t_{p, n-i-1} / sqrt((n-i-1+t^2) * (n-i+1)),
    p = 1 - alpha / (2 * (n-i+1))

computed by a pure-Python Student-t inverse CDF (regularized
incomplete beta via the Numerical Recipes continued fraction +
bisection). These are PUBLISHED TABLE CONSTANTS — the unit tests
anchor the quantile function against textbook t-table values — so the
oracle sharing the constant generator is sharing an input parameter,
not arithmetic.

Scale shape: one :func:`dads_spark.groups.per_series` kernel call per
series behind ``mapInArrow``, zero cross-task coordination (the
grouped-S2G discipline); the ESD loop is K <= 10 re-medians of an
in-memory array.

Reference analog: none; spec source is BASELINE.json:6 (per-tier
series diagnostics) — the robust multi-outlier complement of
seasonal_outliers (single-pass sigma rule) and the S2G shape scorer.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame

from ..groups import per_series

__all__ = ["esd_lambdas_q6", "seasonal_esd_grouped", "t_quantile"]


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta
    (Numerical Recipes betacf), deterministic IEEE evaluation."""
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    tiny = 1e-300
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 200):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        de = d * c
        h *= de
        if abs(de - 1.0) < 3e-16:
            break
    return h


def _betai(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def _t_cdf(t: float, nu: float) -> float:
    """Student-t CDF via I_x(nu/2, 1/2) with x = nu / (nu + t^2)."""
    if t == 0.0:
        return 0.5
    x = nu / (nu + t * t)
    p = 0.5 * _betai(nu / 2.0, 0.5, x)
    return 1.0 - p if t > 0 else p


def t_quantile(p: float, nu: float) -> float:
    """Inverse Student-t CDF by bisection (p in (0.5, 1), nu >= 1):
    deterministic 200-step halving on [0, 1e6] — published-table
    accuracy (anchored by the t-table unit tests) without SciPy."""
    lo, hi = 0.0, 1e6
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if _t_cdf(mid, nu) < p:
            lo = mid
        else:
            hi = mid
    return 0.5 * (lo + hi)


def esd_lambdas_q6(n: int, k: int, alpha: float = 0.05) -> list[int]:
    """The k generalized-ESD critical values for a series of length n,
    quantized to q6 integers (floor(x * 1e6 + 0.5)) — the ONLY floats
    of the pipeline, frozen once for both engines."""
    out = []
    for i in range(1, k + 1):
        nu = float(n - i - 1)
        if nu < 1.0:
            break
        p = 1.0 - alpha / (2.0 * (n - i + 1))
        t = t_quantile(p, nu)
        lam = (
            (n - i)
            * t
            / math.sqrt((n - i - 1 + t * t) * (n - i + 1))
        )
        out.append(int(math.floor(lam * 1e6 + 0.5)))
    return out


def _median2_int(sorted_vals) -> int:
    """2 * median of a sorted integer sequence, as an exact integer
    (sum of the two middle order statistics; 2*mid for odd n)."""
    n = len(sorted_vals)
    mid = n // 2
    if n % 2 == 1:
        return 2 * int(sorted_vals[mid])
    return int(sorted_vals[mid - 1]) + int(sorted_vals[mid])


def _esd_steps(r2: np.ndarray, lambdas_q6: list[int]):
    """Generalized median/MAD ESD over integer 2x-unit residuals.
    Returns [(step, idx, u, md, sum_u, n_active, passed)] in removal
    order; callers apply the ESD rule (anomalies = steps <= last
    passing step). Ties in the deviation argmax break to the smallest
    index. A zero MAD (over half the residuals identical — flat count
    series) falls back to the MEAN absolute deviation (the standard
    robust-statistics convention, Leys et al. 2013), still an exact
    integer test: u * L * 1e6 > lambda_q6 * sum_u; a zero MeanAD too
    means the active set is constant and the walk stops."""
    active = np.ones(len(r2), dtype=bool)
    steps = []
    for step, lam_q6 in enumerate(lambdas_q6, start=1):
        idxs = np.nonzero(active)[0]
        if len(idxs) < 3:
            break
        vals = r2[idxs]
        m4 = _median2_int(np.sort(vals))
        u = np.abs(2 * vals.astype(np.int64) - m4)
        md = _median2_int(np.sort(u))
        sum_u = int(u.sum())
        n_act = int(len(idxs))
        if md == 0 and sum_u == 0:
            break
        pos = int(np.argmax(u))  # first max = smallest index (time order)
        cand = int(idxs[pos])
        if md > 0:
            passed = 2 * int(u[pos]) * 1_000_000 > lam_q6 * md
        else:
            passed = int(u[pos]) * n_act * 1_000_000 > lam_q6 * sum_u
        steps.append((step, cand, int(u[pos]), md, sum_u, n_act, passed))
        active[cand] = False
    return steps


def seasonal_esd_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    season: int = 24,
    k: int = 8,
    alpha: float = 0.05,
) -> DataFrame:
    """Per-series S-H-ESD anomalies over integer-valued points on a
    regular grid whose ``order_col`` is the epoch bucket index (hour
    number — ``order_col % season`` is the phase). Emits one row per
    ESD step: (keys..., step, t, v, u, md, significant) with the exact
    integer decision operands; ``significant`` = 1 for every step up
    to the LAST passing test (the ESD rule)."""

    def f(t, v):
        v = v.astype(np.int64)
        phase = t % season
        sm2 = {}
        for ph in np.unique(phase):
            sm2[int(ph)] = _median2_int(np.sort(v[phase == ph]))
        r2 = 2 * v - np.array([sm2[int(p)] for p in phase], dtype=np.int64)
        steps = _esd_steps(r2, esd_lambdas_q6(len(v), k, alpha))
        if not steps:
            return None
        step, cand, u, md, sum_u, n_act, passed = map(np.array, zip(*steps))
        last_pass = step[passed].max() if passed.any() else 0
        significant = (step <= last_pass).astype(np.int64)
        return step, t[cand], v[cand], u, md, sum_u, n_act, significant

    fields = (
        "step long, t long, v long, u long, md long, sum_u long, n_active long, "
        "significant long"
    )
    return per_series(df, key_cols, order_col, [value_col], f, fields)
