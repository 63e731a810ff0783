"""Series downsampling + smoothing over rolled-up tiers.

north rule (BASELINE.json): "rollup + DOWNSAMPLE + retention engine". Two
operators beyond the tier cascade (which is the aggregate downsample):

- :func:`lttb_downsample` — Largest-Triangle-Three-Buckets (Steinarsson,
  2013): the standard shape-preserving downsample to a fixed point budget;
  keeps the visually/analytically dominant points (peaks, troughs) that a
  plain bucket mean flattens.
- :func:`ewma_smooth` — exponentially weighted moving average + residuals,
  the usual pre-stage for threshold-based anomaly flagging on noisy
  per-domain series.

Both are per-series sequential recurrences, so they run as one vectorized
NumPy kernel per series behind ``mapInArrow``, through the per-series
runner ``dads_spark.groups.per_series`` — the same zero-coordination
many-series shape as the grouped S2G scorer: at
10^12 docs there are millions of (domain) series, each small after rollup,
and Spark schedules one task per series group with no cross-task traffic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from ..groups import per_series


def lttb_indices(t: np.ndarray, v: np.ndarray, n_out: int) -> np.ndarray:
    """Indices LTTB keeps for a series (t ascending), length ``n_out``.

    Algorithm (Steinarsson 2013, public thesis): always keep first and
    last; split the interior into n_out-2 buckets; walking left to right,
    keep from each bucket the point forming the largest triangle with the
    previously kept point and the NEXT bucket's centroid.
    """
    n = len(v)
    if n_out >= n or n <= 2:
        return np.arange(n)
    if n_out < 3:
        return np.array([0, n - 1])
    # interior bucket edges over [1, n-1), n_out-2 buckets
    edges = (1 + (n - 2) * np.arange(n_out - 1) / (n_out - 2)).astype(np.int64)
    edges[-1] = n - 1
    t = np.asarray(t, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    keep = np.empty(n_out, dtype=np.int64)
    keep[0] = 0
    a = 0
    for k in range(n_out - 2):
        lo, hi = edges[k], edges[k + 1]
        if k + 2 <= n_out - 2:
            nlo, nhi = edges[k + 1], edges[k + 2]
        else:  # last interior bucket -> "next" is the final point
            nlo, nhi = n - 1, n
        avg_t = t[nlo:nhi].mean()
        avg_v = v[nlo:nhi].mean()
        # triangle area vs previous kept point and next centroid (x2)
        area = np.abs(
            (t[a] - avg_t) * (v[lo:hi] - v[a]) - (t[a] - t[lo:hi]) * (avg_v - v[a])
        )
        a = lo + int(area.argmax())
        keep[k + 1] = a
    keep[-1] = n - 1
    return keep


def lttb_downsample(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    value_col: str,
    n_out: int,
) -> DataFrame:
    """Per-series LTTB to ``n_out`` points: (keys..., bucket, value) rows,
    order-stable (sorted by bucket inside each series). A timestamp
    bucket enters the triangle areas as epoch nanoseconds."""
    bucket = df.schema[bucket_col].dataType
    ns = 1000 if isinstance(bucket, (TimestampType, TimestampNTZType)) else 1

    def pick(t, v):
        idx = lttb_indices(t * ns, v, n_out)
        return t[idx], v[idx]

    fields = f"{bucket_col} {bucket.simpleString()}, {value_col} double"
    return per_series(df, key_cols, bucket_col, [value_col], pick, fields)


def m4_downsample(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    pixel_sec: int,
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per fixed-width pixel
    bucket keep the four extremal points — first, last, min, max — which is
    exactly the point set a width-w line plot needs for pixel-perfect
    rendering, and the standard visualization downsample next to LTTB.

    Unlike LTTB (sequential per-series recurrence -> per_series), M4 is
    a plain grouped aggregation: 100% JVM codegen, ONE shuffle on
    (keys, pixel), partial aggregation map-side — at 10^12 docs the shuffle
    carries one row per (series, pixel), i.e. the OUTPUT size, not the
    input. Pixel buckets are absolute (``floor(epoch/pixel_sec)``) rather
    than per-series extents, so no second pass / broadcast of per-series
    min/max is needed and buckets align across series.

    Tie rules (deterministic under any partitioning): within a pixel the
    timestamp is assumed unique per series (true for tier rollups); the
    min point breaks value ties by SMALLEST ts, the max point by LARGEST
    ts — the lexicographic struct orderings ``min(struct(v,t))`` /
    ``max(struct(v,t))``.

    Output: (keys..., pixel, t_first, v_first, t_last, v_last,
    t_min, v_min, t_max, v_max) with t_* as epoch seconds.
    """
    t = F.col(ts_col).cast("timestamp").cast("long")
    v = F.col(value_col).cast("double")
    base = df.select(
        *key_cols,
        (F.floor(t / F.lit(int(pixel_sec)))).alias("pixel"),
        t.alias("t"),
        v.alias("v"),
    )
    return base.groupBy(*key_cols, "pixel").agg(
        F.min(F.struct("t", "v")).alias("_first"),
        F.max(F.struct("t", "v")).alias("_last"),
        F.min(F.struct("v", "t")).alias("_min"),
        F.max(F.struct("v", "t")).alias("_max"),
    ).select(
        *key_cols,
        "pixel",
        F.col("_first.t").alias("t_first"),
        F.col("_first.v").alias("v_first"),
        F.col("_last.t").alias("t_last"),
        F.col("_last.v").alias("v_last"),
        F.col("_min.t").alias("t_min"),
        F.col("_min.v").alias("v_min"),
        F.col("_max.t").alias("t_max"),
        F.col("_max.v").alias("v_max"),
    )


def ewma_smooth(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Per-series EWMA (pandas ``ewm(alpha, adjust=True)`` semantics) +
    absolute residual: (keys..., bucket, value, ewma, abs_resid). The
    residual column is the input for threshold anomaly flags."""

    def smooth(t, v):
        ew = pd.Series(v).ewm(alpha=alpha, adjust=True).mean().to_numpy()
        return t, v, ew, np.abs(v - ew)

    fields = (
        f"{bucket_col} {df.schema[bucket_col].dataType.simpleString()}, "
        f"{value_col} double, ewma double, abs_resid double"
    )
    return per_series(df, key_cols, bucket_col, [value_col], smooth, fields)


def ohlc_bars(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    val_col: str,
    order_col: str,
    grain_sec: int = 3600,
) -> DataFrame:
    """OHLC candlestick downsample: per (keys, bucket) the open/high/low/
    close values plus the sample count — the financial-chart aggregate
    every time-series store serves.

    open/close are deterministic under duplicate timestamps: the first/
    last row by the TOTAL order (ts, order_col), taken with min_by/max_by
    on a struct key — one map-side-partial hash aggregate, no window, no
    sort, ONE shuffle keyed by (keys, bucket). Bucketing is integer
    ``div`` epoch arithmetic (the tiers.py rule: exact at any epoch, no
    java.time serialization under many threads).
    """
    grain_us = grain_sec * 1_000_000
    bucket = (
        F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {grain_us}")
        * grain_sec
    ).cast("long")
    ordk = F.struct(F.col(ts_col), F.col(order_col))
    return df.groupBy(*key_cols, bucket.alias("bucket_sec")).agg(
        F.min_by(F.col(val_col), ordk).alias("open"),
        F.max(val_col).alias("high"),
        F.min(val_col).alias("low"),
        F.max_by(F.col(val_col), ordk).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


def asap_window_search(
    v: np.ndarray, max_window: int = 100
) -> tuple[int, float, float]:
    """ASAP smoothing parameter search (Rong & Bailis, VLDB 2017),
    deterministic exhaustive variant: over w in 1..min(n//2, max_window),
    pick the window whose moving average minimizes ROUGHNESS (std of the
    first differences) subject to preserving KURTOSIS (kurt(MA_w) >=
    kurt(raw) — the paper's spike-preservation constraint). Ties break to
    the smaller window. Returns (w_opt, roughness(w_opt), kurt(w_opt)).

    Shared by the Spark operator and the scalar oracle so the pinned
    numbers are a pure function of the series bytes.
    """
    v = np.asarray(v, dtype=np.float64)
    n = len(v)

    def _kurt(x: np.ndarray) -> float:
        m = x.mean()
        d = x - m
        s2 = float((d * d).mean())
        if s2 == 0.0:
            return -3.0
        return float((d**4).mean()) / (s2 * s2) - 3.0

    def _rough(x: np.ndarray) -> float:
        if len(x) < 2:
            return 0.0
        return float(np.diff(x).std())

    k0 = _kurt(v)
    best = (1, _rough(v), k0)
    c = np.concatenate(([0.0], np.cumsum(v)))
    for w in range(2, min(n // 2, max_window) + 1):
        ma = (c[w:] - c[:-w]) / w
        kw = _kurt(ma)
        if kw >= k0:
            r = _rough(ma)
            if r < best[1]:
                best = (w, r, kw)
    return best


def asap_smooth_params(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str | None = None,
    tier: str = "hour",
    max_window: int = 100,
) -> DataFrame:
    """Per-series ASAP smoothing parameters over a rollup tier: the
    auto-chosen moving-average window plus its roughness/kurtosis,
    quantized to integer micro-units (q6, sign*floor(|x|*1e6+0.5)).

    Same zero-coordination many-series shape as the grouped S2G scorer:
    one task per series, the search a vectorized cumsum sweep inside one
    :func:`dads_spark.groups.per_series` kernel call. Output: (keys...,
    n_points, w_opt, roughness_q6, kurtosis_q6).
    """
    from .tiers import rollup_from_raw

    hourly = rollup_from_raw(df, key_cols, ts_col, value_col, tier)

    def q6(x: float) -> int:
        return int(np.sign(x) * np.floor(abs(x) * 1e6 + 0.5))

    def run(_, v):
        w, r, k = asap_window_search(v, max_window)
        return [len(v)], [w], [q6(r)], [q6(k)]

    return per_series(
        hourly,
        key_cols,
        "bucket_ts",
        ["doc_count"],
        run,
        "n_points long, w_opt long, roughness_q6 long, kurtosis_q6 long",
    )
