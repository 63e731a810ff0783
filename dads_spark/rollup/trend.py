"""Robust trend estimation + series-shape distance over rolled-up tiers.

Two operators a time-series retention engine needs once tiers exist:

- :func:`theil_sen_grouped` — Theil-Sen robust trend slope per series: the
  median of all pairwise slopes. Breakdown point 29%, immune to the outlier
  spikes that wreck an OLS slope on web-traffic series. We report the LOWER
  median (the k-th smallest order statistic, k = (n_pairs+1)//2) rather than
  the interpolated median so the result is an element of the slope multiset
  — exactly reproducible by any engine as a rank selection, with no
  cross-engine interpolation rule involved.
- :func:`dtw_pairs_grouped` — banded (Sakoe-Chiba) Dynamic Time Warping
  distance between every pair of series: the standard shape-similarity
  measure that tolerates phase shift (a CDN mirror lagging its origin by an
  hour still reads as "same shape"), which plain Euclidean/xcorr punishes.

Scale shape: both are per-series/per-pair kernels over POST-ROLLUP series
(thousands of points each after tier aggregation, regardless of raw input
size): Theil-Sen behind ``mapInArrow`` through the per-series runner
``dads_spark.groups.per_series``, DTW in one ``mapInPandas`` kernel per
pair row — one task per series or pair, zero cross-task traffic, the
same many-small-kernels layout as the grouped S2G scorer. Theil-Sen is
O(n^2) pairs per series: bounded because n is the TIER length (e.g.
8,760 hourly points/year -> 38M slopes, one NumPy partition per task);
for longer series swap in the repeated-median variant or a pair sample.
DTW is O(n*band) per pair via the Sakoe-Chiba window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W, functions as F

from ..groups import keyed_schema, per_series


def theil_sen_slope(t_sec: np.ndarray, v: np.ndarray) -> tuple[float, int]:
    """Lower-median Theil-Sen slope in value-units per HOUR.

    slope_ij = (v_j - v_i) * 3600.0 / (t_j - t_i) for all i < j (t in
    seconds, strictly increasing), result = k-th smallest with
    k = (n_pairs+1)//2. Returns (slope, n_pairs); (nan, 0) when n < 2.
    """
    t = np.asarray(t_sec, dtype=np.float64)
    x = np.asarray(v, dtype=np.float64)
    n = len(x)
    if n < 2:
        return float("nan"), 0
    i, j = np.triu_indices(n, k=1)
    slopes = (x[j] - x[i]) * 3600.0 / (t[j] - t[i])
    k = (len(slopes) + 1) // 2
    kth = np.partition(slopes, k - 1)[k - 1]
    return float(kth), int(len(slopes))


def theil_sen_grouped(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series Theil-Sen trend: (keys..., n_points, n_pairs, slope_per_hr).

    ``ts_col`` must be epoch seconds (long); series are sorted by it
    before the kernel runs, so the result is partition-order invariant.
    """

    def f(t, v):
        slope, n_pairs = theil_sen_slope(t, v)
        return [len(v)], [n_pairs], [slope]

    fields = "n_points long, n_pairs long, slope_per_hr double"
    return per_series(df, key_cols, ts_col, [value_col], f, fields)


def dtw_banded(a: np.ndarray, b: np.ndarray, band: int) -> float:
    """Sakoe-Chiba banded DTW with |a_i - b_j| (L1) local cost.

    Classic O(n*band) DP: D[i,j] = cost(i,j) + min(D[i-1,j], D[i,j-1],
    D[i-1,j-1]), cells outside |i - round(j*n/m)| <= band are +inf (the
    band is applied on the length-normalized diagonal so unequal-length
    series warp fairly). Row-sliced NumPy: the i-loop is sequential (the
    recurrence demands it), each row's window is vectorized.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n, m = len(a), len(b)
    if n == 0 or m == 0:
        return float("nan")
    inf = np.inf
    prev = np.full(m + 1, inf)
    prev[0] = 0.0
    for i in range(1, n + 1):
        # window of j allowed for this i (1-based), band on the normalized
        # diagonal j* = i*m/n
        center = int(round(i * m / n))
        lo = max(1, center - band)
        hi = min(m, center + band)
        cur = np.full(m + 1, inf)
        cost = np.abs(a[i - 1] - b[lo - 1 : hi])
        seg_prev = prev[lo : hi + 1]      # D[i-1, j]
        seg_diag = prev[lo - 1 : hi]      # D[i-1, j-1]
        best = np.minimum(seg_prev, seg_diag)
        # D[i, j-1] is a left-to-right scan inside the row
        left = cur[lo - 1]
        out = cur[lo : hi + 1]
        for idx in range(hi - lo + 1):
            c = cost[idx] + min(best[idx], left)
            out[idx] = c
            left = c
        prev = cur
    return float(prev[m])


def dtw_pairs_grouped(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    band: int = 48,
) -> DataFrame:
    """Banded DTW distance between every unordered pair of series:
    (key_a, key_b, n_a, n_b, dtw) with key_a < key_b.

    Plan shape: one shuffle to assemble each series as a sorted array row
    (``collect_list`` under a group — safe because post-rollup series are
    tier-bounded), a broadcastable self-join to form pairs, then one
    vectorized-DP kernel per pair row. Pair count is quadratic in the
    NUMBER OF SERIES, so at web scale this runs on a candidate-pair list
    (e.g. same LSH bucket of series sketches), not the full cross join —
    the operator takes whatever pair relation the caller filtered to.
    """
    from pyspark.sql import functions as F

    series = (
        df.groupBy(key_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(ts_col, value_col))
            ).alias("pts")
        )
        .select(
            F.col(key_col).alias("k"),
            F.col(f"pts.{value_col}").alias("vs"),
        )
    )
    a = series.select(F.col("k").alias("key_a"), F.col("vs").alias("vs_a"))
    b = series.select(F.col("k").alias("key_b"), F.col("vs").alias("vs_b"))
    pairs = a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))

    def kernel(it):
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                va = np.asarray(r["vs_a"], dtype=np.float64)
                vb = np.asarray(r["vs_b"], dtype=np.float64)
                rows.append(
                    (r["key_a"], r["key_b"], len(va), len(vb),
                     dtw_banded(va, vb, band))
                )
            yield pd.DataFrame(
                rows, columns=["key_a", "key_b", "n_a", "n_b", "dtw"]
            )

    out = keyed_schema(pairs, ["key_a", "key_b"], "n_a long, n_b long, dtw double")
    return pairs.mapInPandas(kernel, out)


def ols_trend_exact(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series OLS trend as EXACT integer fractions — the closed form

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
        intercept = (Sy - slope*Sx) / n
                  = (Sy*(n*Sxx - Sx^2) - Sx*(n*Sxy - Sx*Sy)) / (n*denom)

    computed over x = 0..n-1 (the dense rank of ``order_col``) and
    integer ``value_col``. Because every moment (Sx, Sy, Sxy, Sxx) is an
    integer sum, both fractions are exact integers: the trend hashes
    bit-for-bit on any engine — no float summation order, no rounding
    rule — unlike a float OLS whose last ulp depends on partitioning.

    Output: keys..., n, slope_numer, slope_denom, icept_numer,
    icept_denom (constant series -> slope 0/denom; n<2 -> denom 0,
    caller filters). Complements ``theil_sen_grouped``: OLS is the
    variance-weighted trend, Theil-Sen the robust one; the engine should
    offer both.

    Shape: ONE ranking window + ONE aggregation, all JVM codegen.
    Overflow bound: |n^2 * max|y| * n| must fit int64 — fine for tier
    series (n ~ 1e4, counts ~ 1e9 -> 1e17); switch the moment columns to
    decimal(38,0) for wider regimes.
    """
    from pyspark.sql import Window as _W

    x = (
        F.row_number().over(
            _W.partitionBy(*key_cols).orderBy(order_col)
        )
        - 1
    ).cast("long")
    y = F.col(value_col).cast("long")
    with_x = df.select(*key_cols, x.alias("_x"), y.alias("_y"))
    agg = with_x.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
    )
    slope_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope_d = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        *key_cols,
        F.col("n").cast("long").alias("n"),
        slope_n.cast("long").alias("slope_numer"),
        slope_d.cast("long").alias("slope_denom"),
        (F.col("sy") * slope_d - F.col("sx") * slope_n)
        .cast("long")
        .alias("icept_numer"),
        (F.col("n") * slope_d).cast("long").alias("icept_denom"),
    )


def mann_kendall_stats(v: np.ndarray) -> tuple[int, int, int]:
    """Exact Mann-Kendall statistics over a time-ordered value vector.

        S     = sum_{i<j} sign(v_j - v_i)                 (integer)
        var18 = n(n-1)(2n+5) - sum_g t_g(t_g-1)(2t_g+5)   (integer; the
                tie-corrected Var(S) is var18/18 — kept as the exact
                numerator so no float ever enters the result)
        tie_pairs = sum_g t_g(t_g-1)/2

    S is computed in O(n log n) with a Fenwick tree over compressed value
    ranks walked in time order (smaller_before - larger_before per
    element) — NOT the O(n^2) pair matrix, so a year of hourly points
    (n=8760) costs ~1e5 integer ops, and memory stays O(distinct values).
    All-integer -> bit-identical on any engine / any partitioning.
    """
    n = len(v)
    if n < 2:
        return 0, 0, 0
    _, ranks, counts = np.unique(v, return_inverse=True, return_counts=True)
    m = len(counts)
    tree = [0] * (m + 1)
    seen_eq = [0] * m
    s = 0
    for j, r in enumerate(ranks):
        # smaller_before = prefix sum over ranks < r
        i, smaller = int(r), 0  # tree is 1-based; prefix over [1..r]
        while i > 0:
            smaller += tree[i]
            i -= i & (-i)
        larger = j - smaller - seen_eq[r]
        s += smaller - larger
        seen_eq[r] += 1
        i = int(r) + 1
        while i <= m:
            tree[i] += 1
            i += i & (-i)
    counts = counts.astype(np.int64)
    tie_term = int(np.sum(counts * (counts - 1) * (2 * counts + 5)))
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    tie_pairs = int(np.sum(counts * (counts - 1) // 2))
    return int(s), int(var18), tie_pairs


def mann_kendall_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series Mann-Kendall trend test (Mann 1945, Kendall 1975): the
    standard non-parametric "is there a monotonic trend?" answer for tier
    series, robust to outliers and distribution-free — the hypothesis-test
    complement of ``theil_sen_grouped`` (whose slope estimates WHAT the
    trend is; S's sign agrees with it).

    Output: keys..., n, s_stat, var18, tie_pairs — all exact integers
    (Var(S) = var18/18; callers needing a z-score compute
    (S -+ 1)/sqrt(var18/18) from the exact parts).

    Scale shape: one kernel task per POST-ROLLUP series (same layout as
    theil_sen_grouped); O(n log n) per series, no cross-task traffic.
    """

    def f(_, v):
        s, var18, tie_pairs = mann_kendall_stats(v.astype(np.int64))
        return [len(v)], [s], [var18], [tie_pairs]

    fields = "n long, s_stat long, var18 long, tie_pairs long"
    return per_series(df, key_cols, order_col, [value_col], f, fields)


def hurst_rs(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    sizes: tuple[int, ...] = (16, 32, 64, 128),
) -> DataFrame:
    """Hurst exponent via classical rescaled-range (R/S) analysis —
    the long-range-dependence gauge (Hurst 1951; tsfresh/catch22
    canon): H ~ 0.5 is memoryless, H > 0.5 persistent (trends feed
    themselves — capacity planning must overprovision), H < 0.5
    mean-reverting.  Computed per key over the ``order_col``-ordered
    integer series, ENTIRELY in engine-independent arithmetic:

    - for each segment of length n the centered cumulative deviation is
      scaled by n:  c_i = n*cumsum(x)_i - i*S  (EXACT long; note
      c_n = 0, so the zero anchor is always in the max/min set);
    - R/S = (max c - min c) / sqrt(n*Q - S^2) with Q = sum x^2 — one
      exact-long radicand into one correctly-rounded sqrt + divide,
      quantized to rs_q6; zero-variance segments are skipped;
    - per size: k segments average via half-up integer division
      (2*sum + k) DIV (2*k);
    - H = OLS slope of ln(mean R/S) on ln(n) over the sizes, with both
      logs quantized to q3 (ln of exact longs, the pmi/zipf
      discipline) and the slope's one float division on exact-long
      moments, emitted as hurst_q6 on every output row.

    Caller bound: |x| < 2^31.5 / max(sizes) keeps n*Q in long range —
    hour-tier counts by construction; pre-scale anything larger.

    Output: one row per (keys..., seg_len) with (n_segments,
    mean_rs_q6, hurst_q6).  Scale shape: every aggregate and window is
    keyed by (keys, size, segment) — segment grids partition the work;
    the only global step is the per-key <=len(sizes)-row regression.
    """
    ws = W.partitionBy(*key_cols).orderBy(order_col)
    x = F.col(value_col).cast("long")
    s = df.select(
        *key_cols, x.alias("_x"), F.row_number().over(ws).alias("_t")
    )
    sized = s.select(
        *key_cols,
        "_x",
        "_t",
        F.explode(F.array(*[F.lit(int(n)) for n in sizes])).alias("_n"),
    ).select(
        *key_cols,
        "_n",
        "_x",
        "_t",
        ((F.col("_t") - 1).cast("long") / F.col("_n")).cast("long").alias(
            "_seg"
        ),
        ((F.col("_t") - 1) % F.col("_n") + 1).alias("_i"),
    )
    segstat = sized.groupBy(*key_cols, "_n", "_seg").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("_x").alias("_s"),
        F.sum(F.col("_x") * F.col("_x")).alias("_q"),
    ).filter(F.col("_cnt") == F.col("_n"))
    wc = (
        W.partitionBy(*key_cols, "_n", "_seg")
        .orderBy("_t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        sized.join(segstat, [*key_cols, "_n", "_seg"])
        .select(
            *key_cols,
            "_n",
            "_seg",
            "_s",
            "_q",
            (
                F.col("_n") * F.sum("_x").over(wc)
                - F.col("_i") * F.col("_s")
            ).alias("_c"),
        )
    )
    seg_rs = (
        cum.groupBy(*key_cols, "_n", "_seg", "_s", "_q")
        .agg((F.max("_c") - F.min("_c")).alias("_r"))
        .withColumn(
            "_d", F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")
        )
        .filter(F.col("_d") > 0)
        .select(
            *key_cols,
            "_n",
            F.floor(
                F.col("_r") / F.sqrt(F.col("_d").cast("double")) * 1e6
                + F.lit(0.5)
            ).cast("long").alias("_rs_q6"),
        )
    )
    per_n = seg_rs.groupBy(*key_cols, "_n").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.expr("(2 * sum(_rs_q6) + count(1)) DIV (2 * count(1))").alias(
            "mean_rs_q6"
        ),
    )
    xq = F.floor(F.log(F.col("_n").cast("double")) * 1e3 + F.lit(0.5)).cast(
        "long"
    )
    lny = F.log(F.col("mean_rs_q6").cast("double")) - F.log(F.lit(1e6))
    yq = (
        F.signum(lny).cast("long")
        * F.floor(F.abs(lny) * 1e3 + F.lit(0.5))
    ).cast("long")
    pts = per_n.filter(F.col("mean_rs_q6") > 0).select(
        *key_cols, "_n", "n_segments", "mean_rs_q6",
        xq.alias("_xq"), yq.alias("_yq"),
    )
    mom = pts.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_xq").alias("_sx"),
        F.sum("_yq").alias("_sy"),
        F.sum(F.col("_xq") * F.col("_yq")).alias("_sxy"),
        F.sum(F.col("_xq") * F.col("_xq")).alias("_sxx"),
    )
    hnum = F.col("_k") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    hden = F.col("_k") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    hr = hnum.cast("double") / hden.cast("double")
    slope = mom.select(
        *key_cols,
        F.when(
            hden > 0,
            F.signum(hr).cast("long")
            * F.floor(F.abs(hr) * 1e6 + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("hurst_q6"),
    )
    join_on = list(key_cols) if key_cols else []
    if join_on:
        out = pts.join(slope, join_on)
    else:
        out = pts.crossJoin(F.broadcast(slope))
    return out.select(
        *key_cols,
        F.col("_n").cast("long").alias("seg_len"),
        F.col("n_segments").cast("long").alias("n_segments"),
        "mean_rs_q6",
        "hurst_q6",
    )
