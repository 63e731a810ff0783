"""Dominant-period detection per series via exact-integer autocorrelation.

Capacity planning and seasonal gap-fill both need the dominant cycle
length of each rolled-up series (hourly web traffic is usually 24h or
168h — but per-domain series disagree, so it must be measured, not
assumed). The classic estimator is the argmax of the autocorrelation
function over a candidate-lag band.

Exactness: with integer inputs (doc counts) the ACF ratio can be kept
RATIONAL. For a length-n series x with sum s, scale the mean-centered
terms by n:  y_t = n*x_t - s  (exact int64). Then

    acf(k) = N(k)/D,  N(k) = sum_t y_t*y_{t+k},  D = sum_t y_t^2,

and since D > 0 is constant per series, argmax_k acf(k) == argmax_k N(k)
— a pure int64 comparison, bit-equal on any engine. The emitted acf
value stays as the exact (numerator, denominator) pair; no float ever
enters the operator, so the DuckDB oracle twin matches by construction.

Distribution shape: the hourly counts are one groupBy over the fact
table (the rollup shuffle); the dense per-series vector and the O(n*B)
lag products run in one :func:`dads_spark.groups.per_series` kernel call
per series behind ``mapInArrow`` — series are the parallelism unit,
exactly like the matrix-profile and S2G kernels in this engine (a
rolled-up series is ~10^3-10^5 points: driver-free, executor-local
NumPy). Band size B is a constant (<=168).

Oracle twin: ``acf_period`` in __spark_entry__.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..groups import per_series


def acf_dominant_period(
    counts: DataFrame,
    key_cols: list[str],
    idx_col: str = "h_idx",
    value_col: str = "cnt",
    lag_lo: int = 2,
    lag_hi: int = 48,
) -> DataFrame:
    """Per-series dominant period over a dense integer index grid.

    ``counts``: (keys, idx_col, value_col) with idx_col a 0-based bucket
    index; missing buckets count as 0 (the dense grid spans the GLOBAL
    [0, max_idx] range so every series is scored on the same support).
    Returns (keys, n_buckets, period, acf_num, acf_den) — all exact
    integers; period is the band lag maximizing N(k), smallest lag wins
    ties.
    """
    if not (1 <= lag_lo <= lag_hi):
        raise ValueError("need 1 <= lag_lo <= lag_hi")
    span = counts.agg(F.max(idx_col).alias("_max_idx"))
    with_span = counts.crossJoin(F.broadcast(span))

    def score(idx, cnt, max_idx):
        n = int(max_idx[0]) + 1
        x = np.zeros(n, dtype=np.int64)
        x[idx] = cnt.astype(np.int64)
        s = np.int64(x.sum())
        y = np.int64(n) * x - s
        d = np.int64(np.dot(y, y))
        hi = min(lag_hi, n - 1)
        if d <= 0 or hi < lag_lo:  # constant series or too short: no period
            return None
        nums = np.array(
            [np.dot(y[:-k], y[k:]) for k in range(lag_lo, hi + 1)],
            dtype=np.int64,
        )
        best = int(np.argmax(nums))  # first occurrence = smallest lag
        return [n], [lag_lo + best], [nums[best]], [d]

    fields = "n_buckets long, period long, acf_num long, acf_den long"
    return per_series(with_span, key_cols, idx_col, [value_col, "_max_idx"], score, fields)


# cos(2*pi*a/24) * 1e6, half-up, a = 0..23 — the 15-degree grid every
# (harmonic, hour-of-day) angle of a 24-point DFT lands on.  Literal
# integers so Spark and every oracle engine share the SAME trig table:
# no libm cos() is evaluated anywhere at query time.
COS24_Q6: tuple[int, ...] = (
    1000000, 965926, 866025, 707107, 500000, 258819, 0,
    -258819, -500000, -707107, -866025, -965926, -1000000,
    -965926, -866025, -707107, -500000, -258819, 0,
    258819, 500000, 707107, 866025, 965926,
)


def dft_daily(
    df: DataFrame,
    key_cols: list[str],
    hour_col: str,
    value_col: str,
    harmonics: tuple[int, ...] = (1, 2, 3, 4),
) -> DataFrame:
    """Diurnal-cycle strength per series: the 24-hour DFT bin and its
    harmonics over an (epoch-hour, integer value) series — THE shape
    gauge for web traffic (humans produce a strong k=1 daily wave plus
    a work-hours k=2 harmonic; bots and CDN prefetch are flat).  The
    ACF detector (acf_dominant_period) asks "what period repeats";
    this asks "how MUCH of the signal lives at the daily period".

    Exactness: every angle 2*pi*k*h/24 lands on the 15-degree grid, so
    cos/sin come from the literal q6 table ``COS24_Q6`` (sin via the
    cos table shifted +18 = -90 degrees) and the Fourier sums

        sc_k = sum x_t * cosq6(k*h_t mod 24)   (EXACT long)
        ss_k = sum x_t * sinq6(k*h_t mod 24)   (EXACT long)

    are exact-integer dot products.  amp_q6 = floor(sqrt(sc^2+ss^2) *
    2 / n + 0.5) is the one float step: exact-long operands (< 2^53)
    into correctly-rounded IEEE multiply/add/sqrt/divide, identical on
    any engine — q6 units of the input (amplitude of the fitted
    sinusoid, same scale as x).  Missing hours are simply absent terms
    (gap-fill upstream if the series must be regular).

    Caller bound: |x| * 1e6 * n_points < 2^63 — hour-tier counts by
    construction (n ~ 1e4 hours, x ~ 1e9 would still fit).

    Scale shape: explode x len(harmonics), then ONE keyed aggregate
    with map-side partials — no join, no window, no Python; the trig
    table rides the codegen as an array literal.
    """
    x = F.col(value_col).cast("long")
    cos_arr = F.array(*[F.lit(int(c)) for c in COS24_Q6])
    k = F.col("_k")
    a = (k * (F.col(hour_col).cast("long") % 24)) % 24
    exploded = df.select(
        *key_cols,
        x.alias("_x"),
        F.col(hour_col).cast("long").alias(hour_col),
        F.explode(
            F.array(*[F.lit(int(h)) for h in harmonics])
        ).alias("_k"),
    ).select(
        *key_cols,
        "_k",
        (F.col("_x") * F.element_at(cos_arr, (a + 1).cast("int"))).alias(
            "_xc"
        ),
        (
            F.col("_x")
            * F.element_at(cos_arr, ((a + 18) % 24 + 1).cast("int"))
        ).alias("_xs"),
    )
    agg = exploded.groupBy(*key_cols, "_k").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("_xc").alias("sc"),
        F.sum("_xs").alias("ss"),
    )
    amp = F.floor(
        F.sqrt(
            F.col("sc").cast("double") * F.col("sc").cast("double")
            + F.col("ss").cast("double") * F.col("ss").cast("double")
        )
        * 2
        / F.col("n_points")
        + F.lit(0.5)
    ).cast("long")
    return agg.select(
        *key_cols,
        F.col("_k").cast("long").alias("harmonic"),
        "n_points",
        "sc",
        "ss",
        amp.alias("amp_q6"),
    )


def multi_seasonal_profile(
    df: DataFrame,
    key_cols: list[str],
    hour_col: str,
    value_col: str,
) -> DataFrame:
    """Two-season additive decomposition per series over an
    (epoch-hour, integer value) grid:

        x ~ base + hod(h mod 24) + dow((h div 24 + 4) mod 7) + resid

    — hour-of-day AND day-of-week effects fitted SEQUENTIALLY (hod
    first, then dow on the hod-removed residual), the MSTL-style
    answer to web traffic's two superimposed cycles that the
    single-period seasonal_decompose cannot separate (epoch day 0 =
    Thursday, hence the +4).

    Exactness discipline: every stage quantizes to q6 BEFORE the next
    consumes it —

        base_q6   = half-up(1e6 * S / n)
        hod_q6(h) = half-up(1e6 * S_h / n_h) - base_q6
        r_t       = 1e6*x_t - base_q6 - hod_q6(h_t)   (exact long)
        dow_q6(d) = half-up(S_r,d / n_d)
        resid_q6  = r_t - dow_q6(d_t)

    so the whole fit is integer half-up divisions of exact longs; any
    engine reproduces every residual bit-for-bit.

    Scale shape: three keyed aggregates (key; key,hod; key,dow on the
    residual) — the effect tables are 1/24/7 rows per key and join
    back as broadcasts; the bucket grid is touched twice, never the
    raw corpus.

    Returns (keys..., hw, x, hod, dow, hod_eff_q6, dow_eff_q6,
    resid_q6).
    """
    def half_up_pair(num_expr: str, den_expr: str) -> str:
        return (
            f"(CASE WHEN ({num_expr}) < 0 THEN -1 ELSE 1 END)"
            f" * ((2 * abs({num_expr}) + ({den_expr}))"
            f" DIV (2 * ({den_expr})))"
        )

    x = F.col(value_col).cast("long")
    hw = F.col(hour_col).cast("long")
    base_rows = df.select(
        *key_cols,
        hw.alias("hw"),
        x.alias("x"),
        (hw % 24).alias("hod"),
        ((F.expr(f"CAST({hour_col} AS LONG) DIV 24") + 4) % 7).alias(
            "dow"
        ),
    )
    glob = base_rows.groupBy(*key_cols).agg(
        F.sum("x").alias("_s"), F.count(F.lit(1)).alias("_n")
    ).withColumn(
        "base_q6",
        F.expr(half_up_pair("1000000 * _s", "_n")).cast("long"),
    ).select(*key_cols, "base_q6")
    hod = (
        base_rows.groupBy(*key_cols, "hod")
        .agg(F.sum("x").alias("_sh"), F.count(F.lit(1)).alias("_nh"))
        .join(F.broadcast(glob), list(key_cols))
        .withColumn(
            "hod_eff_q6",
            (
                F.expr(half_up_pair("1000000 * _sh", "_nh")).cast(
                    "long"
                )
                - F.col("base_q6")
            ),
        )
        .select(*key_cols, "hod", "hod_eff_q6")
    )
    with_hod = (
        base_rows.join(F.broadcast(glob), list(key_cols))
        .join(F.broadcast(hod), [*key_cols, "hod"])
        .withColumn(
            "_r",
            F.lit(1_000_000) * F.col("x")
            - F.col("base_q6")
            - F.col("hod_eff_q6"),
        )
    )
    dow = (
        with_hod.groupBy(*key_cols, "dow")
        .agg(F.sum("_r").alias("_sr"), F.count(F.lit(1)).alias("_nd"))
        .withColumn(
            "dow_eff_q6",
            F.expr(half_up_pair("_sr", "_nd")).cast("long"),
        )
        .select(*key_cols, "dow", "dow_eff_q6")
    )
    return (
        with_hod.join(F.broadcast(dow), [*key_cols, "dow"])
        .select(
            *key_cols,
            "hw",
            "x",
            "hod",
            "dow",
            "hod_eff_q6",
            "dow_eff_q6",
            (F.col("_r") - F.col("dow_eff_q6")).alias("resid_q6"),
        )
    )
