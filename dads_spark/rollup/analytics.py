"""Time-series analytics over rolled-up or raw series: counter rates,
time-weighted averages, seasonal/MAD outlier detection, PAA/SAX
symbolization.

All operators here are pure DataFrame expressions (window functions +
decomposable aggregates) — no Python in the hot path — so Catalyst keeps
them inside whole-stage codegen and every groupBy shuffles one row per
(series, bucket). Each has a DuckDB oracle twin in ``__spark_entry__.py``.

Scale notes:
- window functions partition by the series key: one shuffle, then
  per-partition sorted evaluation — the same shape at 5 series or 50M.
- two-pass operators (MAD) join per-key aggregates back to the fact rows;
  the aggregate side is one row per key and broadcast-eligible, so the
  fact side never reshuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .tiers import bucket_expr


def counter_rate(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "hour",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Monotonic-counter increase per bucket with reset detection
    (PromQL ``increase``-style).

    Per series ordered by time: delta = value - lag(value); a negative
    delta means the counter reset, so the increase since the reset is the
    raw value itself. The first point of a series contributes nothing.
    ``order_cols`` appends tie-break columns after the timestamp so the lag
    is total-ordered even on colliding timestamps.
    Output: (keys..., bucket_ts, increase, n_resets).
    """
    w = W.partitionBy(*key_cols).orderBy(ts_col, *(order_cols or []))
    prev = F.lag(value_col).over(w)
    delta = F.col(value_col) - prev
    inc = F.when(prev.isNull(), None).otherwise(
        F.when(delta < 0, F.col(value_col)).otherwise(delta)
    )
    reset = F.when(prev.isNotNull() & (delta < 0), 1).otherwise(0)
    return (
        df.withColumn("_inc", inc)
        .withColumn("_reset", reset)
        .groupBy(*key_cols, bucket_expr(ts_col, tier))
        .agg(
            F.round(F.sum("_inc"), 4).alias("increase"),
            F.sum("_reset").alias("n_resets"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "hour",
) -> DataFrame:
    """Trapezoidal time-weighted average per (series, bucket).

    Each segment between consecutive points of a series INSIDE one bucket
    weighs the segment's mean value by its duration; a bucket with a single
    point reports that value. Irregular sampling stops biasing the average
    toward burst periods — the point of time-weighting on event-sampled
    web series. Output: (keys..., bucket_ts, twa, n_points).
    """
    b = df.select(
        *key_cols, F.col(value_col).alias("_v"), bucket_expr(ts_col, tier),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
    )
    w = W.partitionBy(*key_cols, "bucket_ts").orderBy("_us")
    nxt_v = F.lead("_v").over(w)
    nxt_us = F.lead("_us").over(w)
    seg_dur = (nxt_us - F.col("_us")).cast("double")
    seg_area = (F.col("_v") + nxt_v) / 2.0 * seg_dur
    return (
        b.withColumn("_dur", seg_dur)
        .withColumn("_area", seg_area)
        .groupBy(*key_cols, "bucket_ts")
        .agg(
            F.round(
                F.when(
                    F.sum("_dur") > 0, F.sum("_area") / F.sum("_dur")
                ).otherwise(F.min("_v")),  # single-point bucket (det. in
                # both engines, unlike first())
                4,
            ).alias("twa"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def seasonal_outliers(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    n_sigma: float = 3.0,
) -> DataFrame:
    """Hour-of-day seasonal-profile outliers.

    Builds the per-(series, hour-of-day) mean/stddev profile and flags rows
    whose residual exceeds ``n_sigma`` population deviations. The profile
    side is one row per (key, hod) — broadcast-eligible — so the fact scan
    is never reshuffled. Output: one row per outlier with its residual.
    """
    hod = F.hour(F.col(ts_col).cast("timestamp")).alias("hod")
    prof = (
        df.groupBy(*key_cols, hod)
        .agg(
            F.avg(value_col).alias("_mean"),
            F.stddev_pop(value_col).alias("_std"),
        )
    )
    fact = df.select(
        *key_cols, ts_col, F.col(value_col).alias("_v"),
        F.hour(F.col(ts_col).cast("timestamp")).alias("hod"),
    )
    joined = fact.join(F.broadcast(prof), [*key_cols, "hod"])
    resid = F.col("_v") - F.col("_mean")
    return (
        joined.filter(
            (F.col("_std") > 0) & (F.abs(resid) > n_sigma * F.col("_std"))
        )
        .select(
            *key_cols,
            F.date_format(ts_col, "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.col("hod"),
            F.round("_v", 4).alias("value"),
            F.round(resid / F.col("_std"), 2).alias("z_score"),
        )
    )


def mad_outliers(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    k: float = 5.0,
) -> DataFrame:
    """Median/MAD robust outliers per series.

    Two exact-median passes (value median, then median absolute deviation)
    joined back to the facts; rows with |v - median| > k * MAD are flagged.
    Medians are interpolated identically by Spark's ``median`` and DuckDB's
    ``median`` (midpoint of the two central values), so the oracle
    hash-matches. MAD is the estimator of choice under the heavy-tailed
    value distributions of web-traffic series — stddev-based z-scores let
    a single spike mask every other anomaly.
    """
    med = df.groupBy(*key_cols).agg(F.median(value_col).alias("_med"))
    with_med = df.join(F.broadcast(med), key_cols)
    mad = (
        with_med.groupBy(*key_cols)
        .agg(
            F.median(F.abs(F.col(value_col) - F.col("_med"))).alias("_mad")
        )
    )
    j = with_med.join(F.broadcast(mad), key_cols)
    dev = F.abs(F.col(value_col) - F.col("_med"))
    return (
        j.filter((F.col("_mad") > 0) & (dev > k * F.col("_mad")))
        .select(
            *key_cols,
            F.date_format(ts_col, "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.round(value_col, 4).alias("value"),
            F.round("_med", 4).alias("series_median"),
            F.round(dev / F.col("_mad"), 2).alias("mad_score"),
        )
    )


def series_cross_correlation(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    series_a: str,
    series_b: str,
    max_lag: int = 3,
    tier: str = "hour",
) -> DataFrame:
    """Lagged Pearson cross-correlation between two named series.

    Both series are bucketed to the tier (value summed per bucket), then
    series A at bucket t is paired with series B at bucket t + lag for lag
    0..max_lag and correlated. The lag join is an equi-join on shifted
    bucket keys — no window over the full pair space. Output:
    (lag, xcorr, n_buckets). The classic "does an error spike lead the
    traffic drop" diagnostic over rollup tiers.
    """
    unit = {"hour": 3_600_000_000, "day": 86_400_000_000}[tier]
    bucketed = (
        df.filter(F.col(key_col).isin([series_a, series_b]))
        .groupBy(key_col, bucket_expr(ts_col, tier))
        .agg(F.sum(value_col).alias("v"))
        .withColumn("bus", F.unix_micros(F.col("bucket_ts")))
    )
    a = bucketed.filter(F.col(key_col) == series_a).select(
        F.col("bus").alias("a_bus"), F.col("v").alias("va")
    )
    b = bucketed.filter(F.col(key_col) == series_b).select(
        F.col("bus").alias("b_bus"), F.col("v").alias("vb")
    )
    lags = None
    for lag in range(max_lag + 1):
        pairs = a.join(
            b, F.col("b_bus") == F.col("a_bus") + F.lit(lag * unit)
        ).select(F.lit(lag).alias("lag"), "va", "vb")
        lags = pairs if lags is None else lags.unionByName(pairs)
    return lags.groupBy("lag").agg(
        F.round(F.corr("va", "vb"), 6).alias("xcorr"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tier: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity bucket,
    counted distinct per (cohort, bucket offset).

    Two aggregations + one broadcast-eligible join (the cohort map is one
    row per user — at warehouse scale it shuffles on user, which both
    aggregates already do, so the whole matrix costs two shuffles).
    Output: (cohort_ts, offset, n_active).
    """
    unit = {"hour": 3_600_000_000, "day": 86_400_000_000, "week": 604_800_000_000}[
        tier
    ]
    acts = df.select(
        user_col, bucket_expr(ts_col, tier)
    ).withColumn("bus", F.unix_micros(F.col("bucket_ts"))).drop("bucket_ts")
    first = acts.groupBy(user_col).agg(F.min("bus").alias("cohort_bus"))
    return (
        acts.join(first, user_col)
        .groupBy(
            "cohort_bus",
            ((F.col("bus") - F.col("cohort_bus")) / unit).cast("long").alias(
                "offset"
            ),
        )
        .agg(F.countDistinct(user_col).alias("n_active"))
        .select(
            F.date_format(F.timestamp_micros(F.col("cohort_bus")), "yyyy-MM-dd")
            .alias("cohort_ts"),
            "offset",
            "n_active",
        )
    )


#: SAX breakpoints for alphabet size 4 under the standard normal:
#: P(X < -0.6745) = P(-0.6745 < X < 0) = ... = 0.25 per symbol
_SAX4 = (-0.6745, 0.0, 0.6745)


def paa_sax(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    frame_size: int = 16,
    order_cols: list[str] | None = None,
    quantize: int | None = None,
) -> DataFrame:
    """Piecewise Aggregate Approximation + SAX symbolization per series.

    Points are frame-grouped in time order (``frame = row_number div
    frame_size``), each frame reduced to its mean (PAA), then z-normalized
    against the SERIES mean/stddev and binned at the standard-normal
    quartile breakpoints into symbols a-d (SAX, alphabet 4). The symbol
    string is the classic index for similarity search / motif mining over
    rolled-up series at a fraction of the storage.

    ``quantize``: when the values are fixed-point decimals (e.g. 100 for
    2dp money/metric values), frame and series means are computed as exact
    integer sums divided once — bit-identical regardless of partitioning or
    engine summation order — and the paa is emitted UNROUNDED: the IEEE
    division of two exact integers is itself bit-deterministic, while any
    fixed-decimal rounding of it can land ON a half boundary (observed:
    70718/1600 = 44.19875, which Java BigDecimal rounds from the shortest
    decimal repr to ...88 and DuckDB rounds from the binary double to
    ...87). Without ``quantize`` the mean is a float ``avg`` rounded 4dp.
    Output: (keys..., frame, paa, symbol).
    """
    w = W.partitionBy(*key_cols).orderBy(ts_col, *(order_cols or []))
    framed = df.select(
        *key_cols, F.col(value_col).alias("_v"),
        ((F.row_number().over(w) - 1) / frame_size).cast("long").alias("frame"),
    )
    if quantize:
        iv = F.round(F.col("_v") * quantize).cast("long")
        framed = framed.withColumn("_iv", iv)
        exact_mean = F.sum("_iv") / (float(quantize) * F.count(F.lit(1)))
        stats = framed.groupBy(*key_cols).agg(
            exact_mean.alias("_mean"), F.stddev_pop("_v").alias("_std")
        )
        paa = framed.groupBy(*key_cols, "frame").agg(exact_mean.alias("_paa"))
    else:
        stats = framed.groupBy(*key_cols).agg(
            F.avg("_v").alias("_mean"), F.stddev_pop("_v").alias("_std")
        )
        paa = framed.groupBy(*key_cols, "frame").agg(F.avg("_v").alias("_paa"))
    z = (F.col("_paa") - F.col("_mean")) / F.col("_std")
    symbol = (
        F.when(z < _SAX4[0], "a")
        .when(z < _SAX4[1], "b")
        .when(z < _SAX4[2], "c")
        .otherwise("d")
    )
    paa_out = F.col("_paa") if quantize else F.round("_paa", 4)
    return (
        paa.join(F.broadcast(stats), key_cols)
        .select(
            *key_cols,
            "frame",
            paa_out.alias("paa"),
            symbol.alias("symbol"),
        )
    )


def rolling_quantile(
    series: DataFrame,
    key_cols: list[str],
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    q: float = 0.5,
    window_buckets: int = 24,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Exact interpolated quantile over a trailing event-time window per
    series (the monitoring staple: "p90 over the last 24 h").

    RANGE frame over epoch seconds — event-time bounded, so gaps in the
    series shrink the effective window instead of silently widening it the
    way a ROWS frame would. Exact sort-based percentile, not a sketch:
    the frame holds at most ``window_buckets`` rolled-up points per series,
    so per-frame cost is bounded by the tier granularity no matter how
    large the raw corpus was — the rollup already did the heavy
    aggregation. For quantiles over RAW points at scale, use the mergeable
    digest cascade (ops/sketch.py) instead.

    One shuffle on the series key; window evaluation is per-partition
    sorted streaming, all JVM.
    """
    span = (window_buckets - 1) * bucket_seconds
    w = (
        W.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).cast("long"))
        .rangeBetween(-span, 0)
    )
    return series.select(
        *key_cols,
        ts_col,
        F.round(
            F.expr(f"percentile({value_col}, {q!r})").over(w), 4
        ).alias("rolling_q"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


def autocorrelation(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_lag: int = 3,
    tier: str = "hour",
) -> DataFrame:
    """Per-series autocorrelation function over rollup-tier buckets.

    Each series (one per ``key_col`` value) is bucketed to the tier
    (value summed per bucket), then ACF(k) = corr(v_t, v_{t-k}) for
    k = 1..max_lag — the standard seasonality/persistence diagnostic
    (a 24-lag peak on hourly tiers = daily cycle) and the input to
    AR-order selection.

    Shape: ONE window pass per series builds all lag columns (window
    partitioned by series key, ordered by bucket — the same single
    shuffle the rollup already did), then one hash agg computes every
    corr simultaneously; ``stack`` unpivots K columns to K rows at the
    end. Contrast the xcorr operator's per-lag join: here lags live
    within one series, so lag() over the ordered window is strictly
    cheaper — max_lag extra columns, zero extra shuffles. Missing
    buckets make corr see the *sequence* neighbors, not calendar
    neighbors; run gap-fill upstream when calendar lags matter.
    ``corr`` ignores the k NULL warmup pairs in both engines, and as a
    scale-invariant ratio it is sample/population-agnostic; gate
    queries round (6 dp).
    """
    bucketed = df.groupBy(key_col, bucket_expr(ts_col, tier)).agg(
        F.sum(value_col).alias("v")
    )
    w = W.partitionBy(key_col).orderBy("bucket_ts")
    lagged = bucketed.select(
        key_col,
        "v",
        *[F.lag("v", k).over(w).alias(f"_l{k}") for k in range(1, max_lag + 1)],
    )
    agged = lagged.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        *[
            F.round(F.corr("v", f"_l{k}"), 6).alias(f"_acf{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stack_args = ", ".join(f"{k}, _acf{k}" for k in range(1, max_lag + 1))
    return agged.select(
        key_col,
        "n_buckets",
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, acf)"),
    )


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tier: str = "hour",
    ma_halfwidth: int = 12,
) -> DataFrame:
    """Classic additive decomposition per series on a rollup tier:
    value = trend + seasonal + residual.

    trend = centered moving average (± ``ma_halfwidth`` buckets, odd
    window, partial at the edges in both engines identically); seasonal =
    the hour-of-day mean of the detrended series (the periodic profile);
    residual = what anomaly detectors should look at — seasonal_outliers
    flags deviations from the raw profile, this isolates them after
    removing trend drift, so a slow traffic ramp doesn't mask a daily-
    cycle violation.

    Shape: ONE shuffle (the tier rollup's own groupBy); trend and
    seasonal are both window aggregates over partitions of the same
    series key — the hour-of-day window repartitions by (key, hod), a
    second keyed exchange of tier-sized (not raw-sized) data. No joins,
    no Python. Cross-engine float caveat: window sums accumulate in
    different orders (segment trees vs running frames), AND the seasonal
    means are exact rationals (cent-valued inputs / window sizes) that
    can land exactly ON a 6-dp rounding boundary, where that noise flips
    the tie — so seasonal/residual are quantized tie-free: a 1e-9 shift
    (>> 1e-13-relative float noise, << the 1e-6 reporting grid) moves the
    boundary to (1000n+501)/1e9, which no input-derived rational (all
    denominators <= ~4e5) can reach. trend is a single exact division of
    identical operands on any engine — no shift needed.
    """
    bucketed = df.groupBy(key_col, bucket_expr(ts_col, tier)).agg(
        F.sum(value_col).alias("v")
    )
    w_ma = (
        W.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(-ma_halfwidth, ma_halfwidth)
    )
    hod = F.hour("bucket_ts")
    det = F.col("v") - F.col("trend")
    with_trend = bucketed.withColumn("trend", F.avg("v").over(w_ma))
    w_season = W.partitionBy(key_col, hod)
    return (
        with_trend.withColumn("seasonal", F.avg(det).over(w_season))
        .select(
            key_col,
            "bucket_ts",
            "v",
            F.round("trend", 6).alias("trend"),
            F.round(F.col("seasonal") - F.lit(1e-9), 6).alias("seasonal"),
            F.round(det - F.col("seasonal") - F.lit(1e-9), 6).alias("residual"),
        )
    )


def gap_percentiles(
    events: DataFrame,
    entity_col: str,
    type_col: str,
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Inter-arrival gap distribution per series type: for each
    ``type_col``, the number of consecutive-event gaps (per entity, e.g.
    user or domain), their exact sum, and EXACT rank-based p50/p90 — the
    k-th smallest gap with k = ceil(q*n) computed in integer arithmetic
    ((n+1)//2 and (9n+9)//10), so no engine interpolation rule is involved
    and every output column is an exact integer.

    Plan shape: one window pass partitioned by entity (lag), one window
    pass partitioned by type (rank + count), one grouped aggregation —
    all JVM codegen. The rank window sorts gaps within a type; at web
    scale that is the one genuinely global per-type sort, which is what an
    exact order statistic costs (use the quantile digest cascade for the
    approximate path).

    Output: (type, n_gaps, sum_gap_sec, p50_gap_sec, p90_gap_sec).
    """
    t = F.col(ts_col).cast("timestamp").cast("long")
    w_ent = W.partitionBy(entity_col).orderBy(t, F.col(tiebreak_col))
    gaps = (
        events.select(
            F.col(type_col).alias("type"),
            F.col(entity_col).alias("_ent"),
            F.col(tiebreak_col).alias("_tb"),
            (t - F.lag(t).over(w_ent)).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    w_rank = W.partitionBy("type").orderBy("gap", "_ent", "_tb")
    w_all = W.partitionBy("type")
    ranked = gaps.select(
        "type",
        "gap",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    return ranked.groupBy("type").agg(
        F.max("n").alias("n_gaps"),
        F.sum("gap").alias("sum_gap_sec"),
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("gap")
            ).otherwise(None)
        ).alias("_p50_raw"),
        F.max(
            F.when(F.col("rn") == F.floor((9 * F.col("n") + 9) / 10), F.col("gap"))
        ).alias("p90_gap_sec"),
    ).select(
        "type",
        "n_gaps",
        "sum_gap_sec",
        F.col("_p50_raw").alias("p50_gap_sec"),
        "p90_gap_sec",
    )


def burst_intervals(
    series: DataFrame,
    key_cols: list[str],
    ts_col: str = "bucket_ts",
    value_col: str = "v",
    factor: float = 1.5,
    baseline_buckets: int = 24,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Burst detection over rolled-up series: maximal runs of consecutive
    buckets whose value exceeds ``factor`` x the trailing
    ``baseline_buckets``-bucket average, merged into intervals
    (gaps-and-islands).

    A bucket only qualifies when its trailing window is FULL — the first
    day of a series can't alarm off a two-point baseline. Merging is the
    classic islands trick: for consecutive hourly buckets,
    ``bucket_index - row_number()`` is constant within a run, so one
    additional window pass + one aggregate materializes the intervals.

    All JVM codegen (two window passes + one groupBy, all partitioned by
    the series key — no extra shuffle beyond the series partitioning).
    Values stay exact integers/counts; the threshold comparison evaluates
    the same IEEE expression on both engines, so the operator is
    hash-gate-safe.

    Output: (keys..., start_sec, end_sec, n_buckets, peak_v, sum_v).
    """
    t = F.col(ts_col).cast("timestamp").cast("long")
    idx = (t / F.lit(bucket_seconds)).cast("long")
    w_trail = (
        W.partitionBy(*key_cols)
        .orderBy(idx)
        .rowsBetween(-baseline_buckets, -1)
    )
    flagged = series.select(
        *key_cols,
        idx.alias("bidx"),
        t.alias("tsec"),
        F.col(value_col).alias("v"),
        F.avg(value_col).over(w_trail).alias("trail_avg"),
        F.count(F.lit(1)).over(w_trail).alias("trail_n"),
    ).filter(
        (F.col("trail_n") == baseline_buckets)
        & (F.col("v") > F.lit(factor) * F.col("trail_avg"))
    )
    w_run = W.partitionBy(*key_cols).orderBy("bidx")
    islands = flagged.withColumn(
        "island", F.col("bidx") - F.row_number().over(w_run)
    )
    return islands.groupBy(*key_cols, "island").agg(
        F.min("tsec").alias("start_sec"),
        F.max("tsec").alias("end_sec"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("v").alias("peak_v"),
        F.sum("v").alias("sum_v"),
    ).drop("island")


def seasonal_naive_error(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    season: int = 24,
) -> DataFrame:
    """Per-series forecastability baseline in EXACT integers: the sum of
    absolute errors of the seasonal-naive predictor (y_hat_t = y_{t-m})
    and of the last-value predictor (y_hat_t = y_{t-1}) over an integer
    series, plus their evaluation counts. MASE-style skill ratios are
    one division away, but the stored metric has no float surface —
    |y_t - y_{t-s}| over counts is an integer, so the result hashes
    bit-for-bit on any engine/partitioning.

    A series where sae_seasonal/n_seasonal ~ sae_naive/n_naive has no
    exploitable daily cycle (Holt-Winters won't beat Holt on it); a much
    smaller seasonal SAE flags strong seasonality. This is the triage
    that decides which forecast family the anomaly pre-stage runs.

    Shape: one window pass (two lags over the same per-series sort), one
    aggregation — all codegen, shuffle = one row per series.
    """
    w = W.partitionBy(*key_cols).orderBy(order_col)
    y = F.col(value_col).cast("long")
    lag1 = F.lag(y, 1).over(w)
    lags = F.lag(y, season).over(w)
    with_err = df.select(
        *key_cols,
        F.abs(y - lag1).alias("_e1"),
        F.abs(y - lags).alias("_es"),
    )
    return with_err.groupBy(*key_cols).agg(
        F.sum("_es").cast("long").alias("sae_seasonal"),
        F.count("_es").cast("long").alias("n_seasonal"),
        F.sum("_e1").cast("long").alias("sae_naive"),
        F.count("_e1").cast("long").alias("n_naive"),
    )


def anomaly_ensemble(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    n_sigma: float = 3.0,
    k_mad: float = 5.0,
    k_delta: float = 8.0,
    min_votes: int = 2,
) -> DataFrame:
    """Detector-ensemble anomaly vote: a row is anomalous when at least
    ``min_votes`` of three independent detector FAMILIES agree —
    seasonal hour-of-day z-score (level vs time-of-day norm), median/MAD
    robust deviation (level vs heavy-tail-safe series center), and
    lag-delta shock (change vs the series' own typical step). Single
    detectors each have a blind spot (a spike at an always-noisy hour, a
    level shift MAD normalizes away, a slow drift no delta sees);
    requiring agreement is the standard production alerting contract.

    Composition pin over seasonal_outliers/mad_outliers semantics: the
    flag conditions here are the SAME expressions those (individually
    oracle-gated) operators use, evaluated in one pipeline.

    Shape: one fact scan; the three profile relations (per-key-hod
    mean/std, per-key median+MAD, per-key mean |step|) are each one row
    per key(-hod) — broadcast — and the delta needs one window over the
    per-key sort. The fact table is never reshuffled for a profile join.

    Output: keys..., id, ts (formatted), value (4 dp), is_seasonal,
    is_robust, is_shock, n_votes — rows with n_votes >= min_votes only.
    """
    hod = F.hour(F.col(ts_col).cast("timestamp"))
    prof = df.groupBy(*key_cols, hod.alias("hod")).agg(
        F.avg(value_col).alias("_mean"), F.stddev_pop(value_col).alias("_std")
    )
    med = df.groupBy(*key_cols).agg(F.median(value_col).alias("_med"))
    mad = (
        df.join(F.broadcast(med), key_cols)
        .groupBy(*key_cols)
        .agg(F.median(F.abs(F.col(value_col) - F.col("_med"))).alias("_mad"))
    )
    w = W.partitionBy(*key_cols).orderBy(ts_col, id_col)
    with_d = df.withColumn(
        "_d", F.col(value_col) - F.lag(value_col).over(w)
    )
    scale = with_d.groupBy(*key_cols).agg(
        F.avg(F.abs(F.col("_d"))).alias("_scale")
    )
    fact = (
        with_d.withColumn("hod", hod)
        .join(F.broadcast(prof), [*key_cols, "hod"])
        .join(F.broadcast(med), key_cols)
        .join(F.broadcast(mad), key_cols)
        .join(F.broadcast(scale), key_cols)
    )
    v = F.col(value_col)
    is_seasonal = (F.col("_std") > 0) & (
        F.abs(v - F.col("_mean")) > n_sigma * F.col("_std")
    )
    is_robust = (F.col("_mad") > 0) & (
        F.abs(v - F.col("_med")) > k_mad * F.col("_mad")
    )
    is_shock = (
        F.col("_d").isNotNull()
        & (F.col("_scale") > 0)
        & (F.abs(F.col("_d")) > k_delta * F.col("_scale"))
    )
    flagged = fact.select(
        *key_cols,
        F.col(id_col),
        F.date_format(ts_col, "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round(v, 4).alias("value"),
        is_seasonal.alias("is_seasonal"),
        is_robust.alias("is_robust"),
        is_shock.alias("is_shock"),
        (
            is_seasonal.cast("int") + is_robust.cast("int") + is_shock.cast("int")
        ).cast("long").alias("n_votes"),
    )
    return flagged.filter(F.col("n_votes") >= min_votes)


def rolling_active_users(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Daily + rolling-window distinct active users (DAU/WAU): for each
    day, the exact count of distinct users active that day and across the
    trailing ``window_days`` days. COUNT(DISTINCT) does not decompose
    over sliding windows, so the exact shape is: reduce events to the
    DISTINCT (day, user) relation first (one shuffle — the relation is
    orders of magnitude smaller than the events), expand it against the
    day spine with a bounded range join (each pair lands in at most
    ``window_days`` windows), and count distinct per window end. The
    HLL-sketch tier (rollup/distinct.py) is the approximate cascade for
    when exactness is negotiable; this is the exact serving query.

    Output: (d 'yyyy-MM-dd', dau, wau_<window_days>d as wau).
    """
    pairs = df.select(
        F.to_date(F.col(ts_col).cast("timestamp")).alias("d"),
        F.col(user_col).alias("u"),
    ).distinct()
    dau = pairs.groupBy("d").agg(F.countDistinct("u").alias("dau"))
    spine = pairs.select("d").distinct().alias("a")
    ranged = spine.join(
        pairs.alias("b"),
        (F.col("b.d") <= F.col("a.d"))
        & (F.col("b.d") > F.date_sub(F.col("a.d"), window_days)),
    )
    wau = ranged.groupBy(F.col("a.d").alias("d")).agg(
        F.countDistinct("b.u").alias("wau")
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
        )
    )


def hampel_filter(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tier: str = "hour",
    half_window: int = 5,
    k: int = 3,
) -> DataFrame:
    """Hampel despiking filter per series on a rollup tier — the
    standard robust outlier detector (rolling MEDIAN + rolling MAD, so a
    spike cannot drag its own threshold the way mean/std filters do).

    EXACT INTEGER evaluation: the centered +-half_window window is
    collected as an array (counts are integers), median := the
    (n+1)//2-th smallest (lower median — identical rule on any engine,
    no even-count averaging), MAD := lower median of |x_i - med|, and
    the flag is the integer inequality |x - med| > k * MAD. Edge windows
    use whatever rows exist (same rule both engines).

    Shape: one tier shuffle + one keyed window; the per-row array work
    is O(window log window) inside JVM array expressions (sort_array /
    transform) — no Python. Returns (keys..., bucket_ts, y, med, mad,
    is_spike).
    """
    from .tiers import rollup_from_raw

    hourly = rollup_from_raw(df, key_cols, ts_col, None, tier).select(
        *key_cols, "bucket_ts", F.col("doc_count").alias("y")
    )
    w = (
        W.partitionBy(*key_cols)
        .orderBy("bucket_ts")
        .rowsBetween(-half_window, half_window)
    )
    arr = F.sort_array(F.collect_list("y").over(w))
    med = F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int"))
    with_med = hourly.withColumn("med", med)
    dev = F.sort_array(
        F.transform(
            F.collect_list("y").over(w), lambda a: F.abs(a - F.col("med"))
        )
    )
    # the second collect_list reuses the SAME window frame, so Catalyst
    # folds both into one Window operator — no second shuffle
    out = with_med.withColumn(
        "mad", F.element_at(dev, ((F.size(dev) + 1) / 2).cast("int"))
    )
    return out.select(
        *key_cols,
        "bucket_ts",
        "y",
        "med",
        "mad",
        (F.abs(F.col("y") - F.col("med")) > F.lit(k) * F.col("mad")).alias(
            "is_spike"
        ),
    )


def session_patterns(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    k: int = 3,
    min_support: int = 2,
) -> DataFrame:
    """Frequent sequential k-gram mining over per-user event streams —
    the journey-pattern summary (view->view->purchase etc.) behavioral
    analytics runs. Each user's events are ordered by (ts, tiebreak);
    every window of k consecutive event types becomes one pattern
    occurrence.

    Emits (pattern, n_occurrences, support) where support = number of
    DISTINCT users exhibiting the pattern; ``min_support`` prunes on
    users, the classic sequential-pattern-mining support semantics.
    One user-keyed window (lead chain) + one pattern-keyed aggregate —
    exact integers throughout."""
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    cur = events.select(user_col, type_col, ts_col, tiebreak_col)
    parts = [F.col(type_col)]
    for i in range(1, k):
        cur = cur.withColumn(f"_t{i}", F.lead(type_col, i).over(w))
        parts.append(F.col(f"_t{i}"))
    pat = F.concat_ws(">", *parts)
    grams = cur.where(F.col(f"_t{k - 1}").isNotNull()).select(
        user_col, pat.alias("pattern")
    )
    return (
        grams.groupBy("pattern")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct(user_col).cast("long").alias("support"),
        )
        .where(F.col("support") >= min_support)
    )


def exp_histogram(
    events: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """OTel-style base-2 exponential histogram per key, EXACT-integer
    bucketing: bucket b holds values with floor(value) in [2^(b-1), 2^b)
    (bucket 0 = values < 1), computed as the LENGTH OF THE BINARY
    REPRESENTATION of floor(value) — no log2(), no float boundary
    anywhere, so the histogram hashes bit-for-bit on any engine. The
    telemetry-native histogram shape: fixed tiny bucket count at any
    value range, mergeable by cell addition.

    Returns (keys..., bucket, n, v_floor_min, v_floor_max)."""
    fv = F.floor(F.col(value_col)).cast("long")
    bucket = F.when(fv <= 0, F.lit(0)).otherwise(
        F.length(F.conv(fv.cast("string"), 10, 2))
    )
    return (
        events.groupBy(*key_cols, bucket.cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(fv).alias("v_floor_min"),
            F.max(fv).alias("v_floor_max"),
        )
    )


def decayed_popularity(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    bucket_s: int = 3600,
    half_life_buckets: int = 24,
    horizon_buckets: int = 672,
    ref_ts: int | None = None,
) -> DataFrame:
    """Exponentially time-decayed popularity score per key — the
    trending/ranking primitive (Reddit-hot / HN-gravity family): an event
    ``a`` buckets old contributes weight 2^(-a_h) where a_h is its age in
    half-lives, so recent activity dominates and old mass fades
    geometrically. EXACT-integer construction: ages quantize to buckets
    (``bucket_s``), the half-life divides in INTEGER bucket units, and
    each event contributes the long 2^(E - age_hl) with
    E = horizon_buckets // half_life_buckets — a sum of powers of two
    with no float term anywhere. The emitted double score is
    score_scaled / 2^E, an exact dyadic division both engines represent
    identically, so the query hashes bit-for-bit (contrast a per-event
    exp() sum, whose value depends on summation order).

    Events older than ``horizon_buckets`` buckets are excluded (weights
    below 2^-E round to zero anyway at the emitted precision — the
    standard trending-window cutoff, and what keeps the exponent bounded:
    2^E per event with E = 28 at the defaults leaves 2^35 events/key of
    headroom in a long). ``ref_ts`` (epoch seconds) anchors "now"; when
    None the max event time is derived in-plan via a broadcast 1-row
    aggregate — no driver round-trip.

    Shape: one codegen map for the weight + ONE groupBy(keys) with
    map-side partials — the same cost as a plain count per key.

    Returns (keys..., n_events, score_scaled, score) with
    score = Sigma_events 2^(-age_half_lives), newest-bucket weight 1.0.
    """
    if half_life_buckets <= 0 or horizon_buckets % half_life_buckets:
        raise ValueError(
            "horizon_buckets must be a positive multiple of half_life_buckets"
        )
    e_max = horizon_buckets // half_life_buckets
    ts = F.unix_timestamp(F.col(ts_col)).cast("long")
    base = events.select(*key_cols, ts.alias("_ts"))
    if ref_ts is None:
        ref = base.agg(F.max("_ts").alias("_ref"))
        base = base.crossJoin(F.broadcast(ref))
    else:
        base = base.withColumn("_ref", F.lit(int(ref_ts)).cast("long"))
    age_b = F.floor((F.col("_ref") - F.col("_ts")) / F.lit(bucket_s)).cast(
        "long"
    )
    age_hl = (age_b / F.lit(half_life_buckets)).cast("long")  # floor: both >=0
    return (
        base.where((age_b >= 0) & (age_b < horizon_buckets))
        .withColumn("_ahl", age_hl)
        # shiftleft's bit count must be a column here, which the Python
        # helper rejects — the SQL form takes any int expression
        .withColumn(
            "_w",
            F.expr(
                f"shiftleft(cast(1 as bigint), cast({e_max} - _ahl as int))"
            ),
        )
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("_w").cast("long").alias("score_scaled"),
        )
        .withColumn(
            "score",
            F.col("score_scaled").cast("double")
            / F.lit(float(2**e_max)),
        )
    )


def last_touch_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    source_types: list[str],
    conversion_types: list[str],
    lookback_s: int = 86400,
) -> DataFrame:
    """Last-touch conversion attribution: for every conversion event,
    the most recent PRIOR source event by the same user, credited only
    if it falls inside the trailing ``lookback_s`` window — the
    standard marketing/referral analytics primitive, and the funnel's
    credit-assignment sibling.

    Pure window construction — NO self-join, NO range join: one sort
    per user carries the latest source (ts, id, type) struct forward
    via ``last(..., ignorenulls=True)`` over a rows frame ending ONE
    ROW BEFORE current (strictly-prior semantics; a source sharing the
    conversion's timestamp attributes only if its id orders earlier),
    and a RANGE frame counts sources within the trailing window by
    timestamp. Per-user data never leaves its partition, so the plan is
    one exchange + sort at any corpus size. All comparisons are exact
    longs; no float surface.

    Returns one row per conversion: (user, conv_id, conv_type, conv_ts,
    src_id, src_type, src_ts, n_sources_window) with the src_* columns
    null when no source lies inside the window.
    """
    ts = F.unix_timestamp(F.col(ts_col)).cast("long")
    base = events.select(
        F.col(user_col).alias("user"),
        F.col(id_col).alias("eid"),
        F.col(type_col).alias("etype"),
        ts.alias("_ts"),
    )
    is_src = F.col("etype").isin(list(source_types))
    w_rows = (
        W.partitionBy("user")
        .orderBy("_ts", "eid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_range = (
        W.partitionBy("user").orderBy("_ts").rangeBetween(-lookback_s, 0)
    )
    src_struct = F.when(
        is_src,
        F.struct(
            F.col("_ts").alias("src_ts"),
            F.col("eid").alias("src_id"),
            F.col("etype").alias("src_type"),
        ),
    )
    carried = base.select(
        "user",
        "eid",
        "etype",
        "_ts",
        F.last(src_struct, ignorenulls=True).over(w_rows).alias("_ls"),
        F.sum(F.when(is_src, 1).otherwise(0))
        .over(w_range)
        .cast("long")
        .alias("n_sources_window"),
    )
    in_window = F.col("_ls.src_ts") >= F.col("_ts") - lookback_s
    return carried.filter(
        F.col("etype").isin(list(conversion_types))
    ).select(
        "user",
        F.col("eid").alias("conv_id"),
        F.col("etype").alias("conv_type"),
        F.col("_ts").alias("conv_ts"),
        F.when(in_window, F.col("_ls.src_id")).alias("src_id"),
        F.when(in_window, F.col("_ls.src_type")).alias("src_type"),
        F.when(in_window, F.col("_ls.src_ts")).alias("src_ts"),
        "n_sources_window",
    )


def linear_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    source_types: list[str],
    conversion_types: list[str],
    lookback_s: int = 86400,
) -> DataFrame:
    """Multi-touch LINEAR conversion attribution: every source event in
    the conversion's trailing ``lookback_s`` window shares the credit —
    the complement of :func:`last_touch_attribution` when the question
    is "which channels participated", not "which closed".

    Credit is exact-integer micro-units apportioned largest-remainder:
    each of the n touches gets ``1e6 div n``, and the ``1e6 mod n``
    leftover units go to the MOST RECENT touches (rank order), so every
    conversion's credits sum to exactly 1,000,000 — no float credit, no
    drift when re-aggregated by channel.

    Scale shape: sources join conversions on the USER equi-key (the
    window predicate is a post-join filter), so the shuffle is
    user-keyed — the same key every sessionization pass already uses —
    and the pair count is bounded by the lookback window, not the
    user's history. Strictly-prior semantics match last-touch: a source
    sharing the conversion's timestamp participates only if its id
    orders earlier.

    Returns one row per (conversion, touch): (user, conv_id, conv_ts,
    src_id, src_type, src_ts, touch_rank, n_touches, credit_micro)
    with touch_rank 1 = most recent.
    """
    ts = F.unix_timestamp(F.col(ts_col)).cast("long")
    base = events.select(
        F.col(user_col).alias("user"),
        F.col(id_col).alias("eid"),
        F.col(type_col).alias("etype"),
        ts.alias("_ts"),
    )
    conv = base.filter(F.col("etype").isin(list(conversion_types))).select(
        "user",
        F.col("eid").alias("conv_id"),
        F.col("_ts").alias("conv_ts"),
    )
    src = base.filter(F.col("etype").isin(list(source_types))).select(
        "user",
        F.col("eid").alias("src_id"),
        F.col("etype").alias("src_type"),
        F.col("_ts").alias("src_ts"),
    )
    pairs = conv.join(src, "user").filter(
        (F.col("src_ts") >= F.col("conv_ts") - lookback_s)
        & (
            (F.col("src_ts") < F.col("conv_ts"))
            | (
                (F.col("src_ts") == F.col("conv_ts"))
                & (F.col("src_id") < F.col("conv_id"))
            )
        )
    )
    w = W.partitionBy("user", "conv_id").orderBy(
        F.col("src_ts").desc(), F.col("src_id").desc()
    )
    wn = W.partitionBy("user", "conv_id")
    return (
        pairs.withColumn("touch_rank", F.row_number().over(w))
        .withColumn("n_touches", F.count(F.lit(1)).over(wn))
        .withColumn(
            "credit_micro",
            F.expr("1000000 div n_touches")
            + F.when(
                F.col("touch_rank") <= F.lit(1_000_000) % F.col("n_touches"),
                1,
            ).otherwise(0),
        )
        .select(
            "user", "conv_id", "conv_ts", "src_id", "src_type", "src_ts",
            "touch_rank", "n_touches", "credit_micro",
        )
    )


def transition_matrix(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
) -> DataFrame:
    """First-order Markov transition counts between event types — the
    path-analysis / sankey primitive: how users move view -> click ->
    purchase. One window per user (ordered by ts, id) pairs each event
    with its predecessor's type; one groupBy counts the pairs. The
    probability is emitted as the EXACT fraction (n over row_total, both
    longs) — callers divide; no float leaves the operator.

    Returns (prev_type, type, n, row_total) where row_total sums n over
    the prev_type row (the denominator of the transition probability).
    Session starts (no predecessor) are excluded.
    """
    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        events.select(
            F.lag(type_col).over(w).alias("prev_type"),
            F.col(type_col).alias("type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    row = W.partitionBy("prev_type")
    return pairs.withColumn(
        "row_total", F.sum("n").over(row).cast("long")
    )


def calendar_compare(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    tier: str = "hour",
    lag_buckets: int = 168,
) -> DataFrame:
    """Week-over-week (or any fixed-lag) calendar comparison per series:
    each bucket paired with the bucket exactly ``lag_buckets`` earlier —
    the standard seasonal baseline for dashboards and alert thresholds
    ("traffic vs same hour last week").

    Pure EQUI-join on shifted integer epochs (bucket t joins bucket
    t - lag) — no window, no range logic; buckets missing on either side
    survive via the outer join with zero-filled counts so new and
    vanished hours both show. Exact longs; delta = n_cur - n_prev.

    Returns (keys..., bucket_ts, n_cur, n_prev, delta).
    """
    unit = {"hour": 3600, "day": 86400}[tier]
    lag_s = lag_buckets * unit
    b = F.floor(F.unix_timestamp(F.col(ts_col)) / unit).cast("long") * unit
    counts = (
        events.groupBy(*key_cols, b.alias("bucket_sec"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cur = counts.select(
        *key_cols, "bucket_sec", F.col("n").alias("n_cur")
    )
    prev = counts.select(
        *key_cols,
        (F.col("bucket_sec") + lag_s).alias("bucket_sec"),
        F.col("n").alias("n_prev"),
    )
    joined = cur.join(prev, [*key_cols, "bucket_sec"], "full_outer")
    n_cur = F.coalesce(F.col("n_cur"), F.lit(0)).cast("long")
    n_prev = F.coalesce(F.col("n_prev"), F.lit(0)).cast("long")
    return joined.select(
        *key_cols,
        F.col("bucket_sec").alias("bucket_ts"),
        n_cur.alias("n_cur"),
        n_prev.alias("n_prev"),
        (n_cur - n_prev).alias("delta"),
    )


def correlation_matrix(
    events: DataFrame,
    metric_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_s: int = 3600,
    scale: int = 100,
) -> DataFrame:
    """All-pairs Pearson correlation between metrics over aligned time
    buckets — the "which signals move together" dashboard matrix, the
    many-series sibling of ``series_cross_correlation`` (which handles
    one pair at lags). Values are quantized to integers
    (floor(value*scale)) BEFORE any aggregation so every moment
    (n, Σx, Σy, Σxy, Σx², Σy²) is an exact long summed in any order —
    the only doubles are the final per-pair Pearson expression, a fixed
    tree both engines evaluate identically.

    Shape: one rollup to (metric, bucket) — traffic-sized shuffle, the
    same one a tier build already pays — then a SELF-JOIN on the bucket
    key. The join fan-out is k²/2 rows per bucket for k metrics: bounded
    by the METRIC CATALOG, never by traffic, so at 100 TB the matrix
    costs (buckets x k²) rows — trivially small next to the rollup.
    Pairwise-complete semantics: a bucket contributes to a pair only
    when BOTH metrics observed it (inner join). Overflow headroom:
    |Σxy| < buckets x (max|bucket_sum| x scale)² — pick ``scale``/
    ``bucket_s`` so quantized bucket sums stay under ~2^31 if the
    window spans millions of buckets.

    Returns (metric_a, metric_b, n_buckets, r) for metric_a < metric_b;
    pairs whose variance is zero on either side are dropped (r
    undefined).
    """
    q = F.floor(F.col(value_col) * scale).cast("long")
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_s).cast("long")
        * bucket_s
    )
    g = (
        events.select(
            F.col(metric_col).alias("m"), bucket.alias("b"), q.alias("q")
        )
        .groupBy("m", "b")
        .agg(F.sum("q").alias("x"))
    )
    a = g.select(
        F.col("m").alias("metric_a"), "b", F.col("x").alias("xa")
    )
    bb = g.select(
        F.col("m").alias("metric_b"), "b", F.col("x").alias("xb")
    )
    pairs = a.join(bb, "b").filter(F.col("metric_a") < F.col("metric_b"))
    mom = pairs.groupBy("metric_a", "metric_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("xa").alias("_sx"),
        F.sum("xb").alias("_sy"),
        F.sum(F.col("xa") * F.col("xb")).alias("_sxy"),
        F.sum(F.col("xa") * F.col("xa")).alias("_sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("_syy"),
    )
    n = F.col("n_buckets").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return (
        mom.filter(
            (F.col("n_buckets") * F.col("_sxx")
             != F.col("_sx") * F.col("_sx"))
            & (F.col("n_buckets") * F.col("_syy")
               != F.col("_sy") * F.col("_sy"))
        )
        .select(
            "metric_a",
            "metric_b",
            "n_buckets",
            ((n * sxy - sx * sy) / F.sqrt(vx * vy)).alias("r"),
        )
    )


def staleness_report(
    events: DataFrame,
    metric_col: str,
    series_col: str,
    ts_col: str = "ts",
    lookback_s: int = 300,
) -> DataFrame:
    """Per-series staleness audit — the PromQL ``absent()``/staleness-
    marker question asked as a batch report: which (metric, series) have
    stopped reporting, and how often did each one go quiet historically?
    A series is STALE when its last sample is more than ``lookback_s``
    seconds older than the corpus's newest sample (Prometheus's 5-minute
    lookback delta is the canonical default); ``n_gaps`` counts the
    historical silences — consecutive-sample gaps exceeding the same
    lookback — so a series that flaps in and out of liveness is visible
    even while currently live.

    All-integer arithmetic (epoch seconds, counts): exact on any engine.
    Shape: one lag window keyed by series identity + one groupBy on the
    same key (a single shuffle — AQE coalesces the reuse), then the
    corpus max-ts joined on as a broadcast scalar. Never keyed by raw
    samples; skew follows series cardinality, not traffic.

    Returns (metric, series, last_ts_sec, n_samples, n_gaps, stale).
    """
    ts = F.floor(F.unix_timestamp(F.col(ts_col))).cast("long")
    base = events.select(
        F.col(metric_col).alias("metric"),
        F.col(series_col).alias("series"),
        ts.alias("_ts"),
    )
    w = W.partitionBy("metric", "series").orderBy("_ts")
    gapped = base.withColumn("_prev", F.lag("_ts").over(w))
    per_series = gapped.groupBy("metric", "series").agg(
        F.max("_ts").alias("last_ts_sec"),
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(
            F.when(
                F.col("_ts") - F.col("_prev") > lookback_s, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_gaps"),
    )
    now = base.agg(F.max("_ts").alias("_now"))
    return per_series.join(F.broadcast(now)).select(
        "metric",
        "series",
        "last_ts_sec",
        "n_samples",
        "n_gaps",
        (F.col("_now") - F.col("last_ts_sec") > lookback_s)
        .cast("int")
        .alias("stale"),
    )


def series_churn(
    events: DataFrame,
    metric_col: str,
    series_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-metric series-cardinality churn by day — the TSDB capacity
    signal (Prometheus's "series churn"): a metric whose label sets keep
    being born faster than they recur explodes the index even when its
    sample rate is flat. n_active = distinct series seen that day,
    n_new = series whose FIRST day this is, n_returning = the
    difference. All exact longs from two aggregations: distinct
    (metric, series, day) activity, then a min-day window per series —
    both shuffles keyed by series identity, never by raw samples.

    Returns (metric, day_sec, n_active, n_new, n_returning).
    """
    day = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / 86400).cast("long") * 86400
    )
    active = (
        events.select(
            F.col(metric_col).alias("metric"),
            F.col(series_col).alias("series"),
            day.alias("day_sec"),
        )
        .distinct()
    )
    w = W.partitionBy("metric", "series")
    flagged = active.withColumn(
        "_first", F.min("day_sec").over(w)
    )
    return (
        flagged.groupBy("metric", "day_sec")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(F.when(F.col("day_sec") == F.col("_first"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
        .withColumn(
            "n_returning", (F.col("n_active") - F.col("n_new")).cast("long")
        )
    )


def duration_above(
    df: DataFrame,
    key_cols: list[str],
    threshold: int,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Exact time-above-threshold per series under LINEAR interpolation —
    "how many seconds was this domain's error rate above X?", the SLO
    question a bucketed count cannot answer at crossing points.

    Per consecutive sample pair (t0,v0)->(t1,v1) (epoch-second longs,
    integer values), the interpolated series is above ``threshold`` for

        both above             : the whole span t1 - t0
        both at-or-below       : 0
        one crossing           : (v_hi - threshold) / (v_hi - v_lo)
                                 of the span (linear crossing point)

    "above" is strict (v > threshold). The crossing fraction is rational;
    to stay hash-exact the per-segment contribution is emitted in
    MICROSECONDS with integer floor division (`DIV`, NOT float `/` — the
    packing.py lesson: long/long promotes to double and drifts past
    2^53). Integer arithmetic end-to-end -> bit-identical on any engine.
    Output: keys..., above_us, total_us, n_segments (all long).

    Scale shape: one window shuffle on the series key (lag), then a
    decomposable sum — all whole-stage codegen; no Python.
    """
    w = W.partitionBy(*key_cols).orderBy(ts_col)
    t1 = F.col(ts_col).cast("long")
    v1 = F.col(value_col).cast("long")
    thr = F.lit(int(threshold)).cast("long")
    staged = (
        df.select(
            *key_cols,
            t1.alias("_t1"),
            F.lag(t1).over(w).alias("_t0"),
            v1.alias("_v1"),
            F.lag(v1).over(w).alias("_v0"),
        )
        .where(F.col("_t0").isNotNull())
    )
    vhi = F.greatest(F.col("_v0"), F.col("_v1"))
    vlo = F.least(F.col("_v0"), F.col("_v1"))
    seg = staged.select(
        *key_cols,
        ((F.col("_t1") - F.col("_t0")) * F.lit(1000000).cast("long")).alias(
            "_span_us"
        ),
        ((vhi - thr) * (F.col("_t1") - F.col("_t0")) * F.lit(1000000)).alias(
            "_num"
        ),
        (vhi - vlo).alias("_den"),
        (vlo > thr).alias("_both_above"),
        (vhi <= thr).alias("_both_below"),
    )
    contrib = (
        F.when(F.col("_both_above"), F.col("_span_us"))
        .when(F.col("_both_below"), F.lit(0).cast("long"))
        .otherwise(F.expr("_num DIV _den"))
        .cast("long")
    )
    return (
        seg.select(*key_cols, "_span_us", contrib.alias("_above_us"))
        .groupBy(*key_cols)
        .agg(
            F.sum("_above_us").cast("long").alias("above_us"),
            F.sum("_span_us").cast("long").alias("total_us"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
        )
    )


def weighted_median(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact LOWER weighted median per group: the smallest value v whose
    cumulative weight reaches half the total (2*cumw >= W). A rank
    selection over integer weights — an element of the value multiset,
    reproducible on any engine with no interpolation rule (the same
    design choice as theil_sen_grouped's lower median) — where a
    float-weighted percentile_approx is neither exact nor portable.

    Output: keys..., w_total, w_median (both long).

    Scale shape: one window cumsum over (key, value) order + one min-agg;
    both shuffle on the group key only. Weights must be non-negative
    integers (counts, bytes).
    """
    w = W.partitionBy(*key_cols).orderBy(value_col)
    cum = F.sum(F.col(weight_col).cast("long")).over(w)
    tot = F.sum(F.col(weight_col).cast("long")).over(
        W.partitionBy(*key_cols)
    )
    staged = df.select(
        *key_cols,
        F.col(value_col).alias("_v"),
        cum.alias("_cumw"),
        tot.alias("_w_total"),
    )
    return (
        staged.where(F.col("_cumw") * 2 >= F.col("_w_total"))
        .groupBy(*key_cols)
        .agg(
            F.max("_w_total").cast("long").alias("w_total"),
            F.min("_v").cast("long").alias("w_median"),
        )
    )


def gap_regularity(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
    min_gaps: int = 5,
    cv_denom: int = 5,
) -> DataFrame:
    """Inter-arrival regularity per actor — the standard bot signal: a
    crawler's requests tick on a timer (near-constant gaps), a human's
    are bursty. Emits exact integer gap moments and an all-integer
    verdict:

        var_num = n * sum(g^2) - sum(g)^2        (n^2 * variance, exact)
        is_bot  = n >= min_gaps  AND  var_num * cv_denom^2 < sum(g)^2

    i.e. coefficient of variation < 1/cv_denom — scale-free (a 1 s timer
    and a 60 s timer both trip it), and decided by integer
    cross-multiplication so the flag is bit-reproducible.

    ``order_cols`` breaks timestamp ties so lag is total-ordered.
    Output: keys..., n_gaps, gap_sum, gap_sum2, n_distinct_gaps, var_num,
    is_bot.

    Scale shape: one window shuffle on the actor key + one agg — the
    same shape at 100 TB; hot actors are exactly the rows this flags.
    """
    order = [ts_col] + list(order_cols or [])
    w = W.partitionBy(*key_cols).orderBy(*order)
    t = F.col(ts_col).cast("long")
    gap = (t - F.lag(t).over(w)).alias("_g")
    staged = df.select(*key_cols, gap).where(F.col("_g").isNotNull())
    agg = staged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("_g").cast("long").alias("gap_sum"),
        F.sum(F.col("_g") * F.col("_g")).cast("long").alias("gap_sum2"),
        F.countDistinct("_g").cast("long").alias("n_distinct_gaps"),
    )
    var_num = F.col("n_gaps") * F.col("gap_sum2") - F.col("gap_sum") * F.col(
        "gap_sum"
    )
    return agg.select(
        *key_cols,
        "n_gaps",
        "gap_sum",
        "gap_sum2",
        "n_distinct_gaps",
        var_num.cast("long").alias("var_num"),
        (
            (F.col("n_gaps") >= int(min_gaps))
            & (var_num * F.lit(int(cv_denom) ** 2) < F.col("gap_sum") * F.col("gap_sum"))
        ).alias("is_bot"),
    )


def seasonal_strength(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tier: str = "hour",
    ma_halfwidth: int = 12,
) -> DataFrame:
    """Seasonal-strength score per series (Wang-Smith-Hyndman, the
    `tsfeatures` standard): ``max(0, 1 - Var(residual) /
    Var(detrended))`` over the same additive decomposition
    :func:`seasonal_decompose` emits — 1.0 = perfectly periodic,
    0 = the daily cycle explains nothing. The one-number answer to
    "does this domain's traffic have a real daily rhythm", used to
    route series between seasonal and non-seasonal forecasters.

    Same plan shape as the decomposition (tier rollup -> two keyed
    windows -> per-key aggregate); variances use the explicit
    sum-of-squares identity with identical parenthesization in the SQL
    twin, and the quantize carries the decomposition's documented 1e-9
    tie shift (window float sums accumulate in engine-specific orders).
    """
    from .tiers import bucket_expr

    bucketed = df.groupBy(key_col, bucket_expr(ts_col, tier)).agg(
        F.sum(value_col).alias("v")
    )
    w_ma = (
        W.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(-ma_halfwidth, ma_halfwidth)
    )
    hod = F.hour("bucket_ts")
    with_trend = bucketed.withColumn("trend", F.avg("v").over(w_ma))
    det = F.col("v") - F.col("trend")
    comp = with_trend.withColumn("d", det).withColumn(
        "r", det - F.avg(det).over(W.partitionBy(key_col, hod))
    )
    agg = comp.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("r").alias("_sr"),
        F.sum(F.col("r") * F.col("r")).alias("_srr"),
        F.sum("d").alias("_sd"),
        F.sum(F.col("d") * F.col("d")).alias("_sdd"),
    )
    n = F.col("n_buckets").cast("double")
    var_r = F.col("_srr") / n - (F.col("_sr") / n) * (F.col("_sr") / n)
    var_d = F.col("_sdd") / n - (F.col("_sd") / n) * (F.col("_sd") / n)
    strength = F.greatest(F.lit(0.0), 1.0 - var_r / var_d)
    q6 = (
        F.signum(strength - 1e-9)
        * F.floor(F.abs(1e6 * (strength - 1e-9)) + F.lit(0.5))
    ).cast("long")
    return agg.select(
        key_col,
        "n_buckets",
        F.when(var_d > 0, F.greatest(F.lit(0), q6)).alias("strength_q6"),
    )


def windowed_funnel(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    max_gaps_s: list[int],
) -> DataFrame:
    """Time-constrained funnel: step k counts only when it happens
    STRICTLY AFTER step k-1 and within ``max_gaps_s[k-1]`` seconds of
    it — the product-analytics standard ("purchased within 1h of the
    click"), which the unconstrained funnel overstates badly on
    long-lived users.

    Semantics: per user, the EARLIEST event of step 1, then for each
    later step the earliest qualifying event after the previous step's
    chosen time (greedy-earliest — the usual definition; a user who
    misses a gap once may still qualify via... no: greedy is the
    fixed, deterministic rule, documented). Pure relational: one
    conditional min-aggregation per step chained by user-keyed joins —
    the same one-key shuffle repeated, AQE-coalesced; no windows over
    the raw stream, no Python.

    Returns one row per step: (step, event_type, users).
    """
    if len(max_gaps_s) != len(steps) - 1:
        raise ValueError("need exactly one max gap per step transition")
    ev = events.select(
        F.col(user_col).alias("user"),
        F.col(type_col).alias("etype"),
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("s"),
    )
    reached = (
        ev.filter(F.col("etype") == steps[0])
        .groupBy("user")
        .agg(F.min("s").alias("t"))
    )
    out_rows = [
        reached.agg(
            F.lit(1).alias("step"),
            F.lit(steps[0]).alias("event_type"),
            F.count(F.lit(1)).alias("users"),
        )
    ]
    for k in range(1, len(steps)):
        gap = int(max_gaps_s[k - 1])
        reached = (
            ev.filter(F.col("etype") == steps[k])
            .join(reached.select("user", F.col("t").alias("_prev")), "user")
            .filter(
                (F.col("s") > F.col("_prev"))
                & (F.col("s") <= F.col("_prev") + gap)
            )
            .groupBy("user")
            .agg(F.min("s").alias("t"))
        )
        out_rows.append(
            reached.agg(
                F.lit(k + 1).alias("step"),
                F.lit(steps[k]).alias("event_type"),
                F.count(F.lit(1)).alias("users"),
            )
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out


def counter_repair(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Rebuild a MONOTONE cumulative counter from a reset-prone raw
    counter series — the materialized form of what PromQL's rate()
    does implicitly: a counter that drops (process restart, 32-bit
    wrap) contributes its post-reset level as a fresh increment, never
    a negative delta.

    corrected(t) = running sum of max(delta, 0), seeded at the first
    sample's raw value. Exact integer window algebra, one keyed
    exchange + sort per series; the repaired column is what the tier
    rollups and dashboards should ingest so resets stop showing as
    cliffs.

    Returns the key columns + order + raw + corrected.
    """
    w = W.partitionBy(*key_cols).orderBy(order_col)
    wc = (
        W.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    delta = F.col(value_col) - F.lag(value_col).over(w)
    inc = F.when(delta.isNull(), F.col(value_col)).otherwise(
        F.greatest(delta, F.lit(0))
    )
    return df.select(
        *key_cols,
        F.col(order_col),
        F.col(value_col).alias("raw"),
        F.sum(inc).over(wc).alias("corrected"),
    )


def rolling_corr(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    x_col: str,
    y_col: str,
    window_n: int = 24,
) -> DataFrame:
    """Rolling-window Pearson correlation between two aligned integer
    series — the correlation-BREAKDOWN monitor: clicks and views track
    each other until a broken deploy decouples them, and the alarm is
    the windowed r collapsing, not either series alone (series_xcorr
    answers "at what lag do they align"; this answers "are they still
    coupled right now").

    x/y must be exact-integer-valued (counts, q-scaled longs).  All
    five Pearson moments are EXACT LONG frame sums over the trailing
    ``window_n`` rows; r_q6 = sign * floor(|num / (sqrt(dx)*sqrt(dy))|
    * 1e6 + 0.5) with num = n*Sxy - Sx*Sy — exact-integer operands into
    correctly-rounded IEEE sqrt/divide, so the quantized value is
    engine-independent.  Degenerate frames (either side constant) emit
    r_q6 = 0; partial head frames are dropped.  Caller bound:
    |x|,|y| < sqrt(2^63 / window_n) keeps every moment in long range.

    One window pass per key (the series streams through its executor in
    order) — the shuffle carries each row once, keyed by the series key.
    """
    wf = (
        W.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(-(window_n - 1), W.currentRow)
    )
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    framed = df.select(
        *key_cols,
        order_col,
        F.count(F.lit(1)).over(wf).alias("_n"),
        F.sum(x).over(wf).alias("_sx"),
        F.sum(y).over(wf).alias("_sy"),
        F.sum(x * y).over(wf).alias("_sxy"),
        F.sum(x * x).over(wf).alias("_sxx"),
        F.sum(y * y).over(wf).alias("_syy"),
    ).filter(F.col("_n") == window_n)
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    dx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    dy = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r = num / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double")))
    return framed.select(
        *key_cols,
        order_col,
        F.when(
            (dx > 0) & (dy > 0),
            F.signum(r).cast("long")
            * F.floor(F.abs(r) * 1e6 + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r_q6"),
    )


def markov_entropy_rate(
    events: DataFrame,
    key_cols: list[str],
    chain_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
) -> DataFrame:
    """Entropy rate of the first-order Markov chain over event types,
    per key — the navigation-predictability gauge that completes the
    entropy triple (sample_entropy: value templates; perm_entropy:
    shape patterns; this: SYMBOL transitions): H(Y|X) ~ 0 means users
    follow one funnel (or a bot replays one loop); high H(Y|X) means
    the next step is genuinely uncertain.  ``chain_col`` scopes the
    chains (transitions never cross users/sessions).

        H(Y|X) = (1/N) * sum_xy c_xy * (ln c_x - ln c_xy)

    with c_xy the exact transition counts, c_x the row totals, N total
    transitions.  Exactness discipline: ln only ever sees an exact
    long; each cell quantizes BEFORE the cross-cell sum —
    t_xy = floor(c_xy * (ln(c_x) - ln(c_xy)) * 1000 + 0.5), always
    >= 0 since c_x >= c_xy — so the sum is order-free long addition
    and rate_q3 = (2*sum_t + N) DIV (2*N) is a half-up integer
    division.

    Scale shape: one keyed window pass pairs each event with its
    predecessor, one aggregate to (key, x, y) cells; the row totals
    ride a tiny post-aggregation window over the CELL relation
    (|types|^2 rows per key, not events), and the final per-key
    aggregate is cell-sized.  Returns (keys..., n_transitions,
    n_states, n_pairs, rate_q3).
    """
    wchain = W.partitionBy(*key_cols, chain_col).orderBy(ts_col, id_col)
    pairs = (
        events.select(
            *key_cols,
            F.col(type_col).alias("_y"),
            F.lag(type_col).over(wchain).alias("_x"),
        )
        .filter(F.col("_x").isNotNull())
    )
    cells = pairs.groupBy(*key_cols, "_x", "_y").agg(
        F.count(F.lit(1)).alias("c_xy")
    )
    rowt = W.partitionBy(*key_cols, "_x")
    with_row = cells.withColumn("c_x", F.sum("c_xy").over(rowt))
    t_cell = F.floor(
        F.col("c_xy").cast("double")
        * (
            F.log(F.col("c_x").cast("double"))
            - F.log(F.col("c_xy").cast("double"))
        )
        * 1000
        + F.lit(0.5)
    ).cast("long")
    per_key = with_row.select(
        *key_cols, "c_xy", t_cell.alias("_t"), "_x", "_y"
    ).groupBy(*key_cols).agg(
        F.sum("c_xy").alias("n_transitions"),
        F.count_distinct("_x").alias("n_states"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("_t").alias("_sum_t"),
    )
    rate = F.expr(
        "(2 * _sum_t + n_transitions) DIV (2 * n_transitions)"
    ).cast("long")
    return per_key.select(
        *key_cols,
        "n_transitions",
        "n_states",
        "n_pairs",
        rate.alias("rate_q3"),
    )


def burstiness(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Goh-Barabasi burstiness index per key over inter-arrival gaps:

        B = (sigma - mu) / (sigma + mu)   in (-1, 1)

    B -> -1 periodic (heartbeat/cron), B ~ 0 Poisson, B -> +1 bursty
    (human/incident traffic) — THE single-number gauge the crawl
    scheduler and bot detector both read (a "user" whose gaps are
    metronomic is automation, however plausible each event looks).

    Exactness: gaps are exact long seconds; moments (n, sum_g,
    sum_g2) are exact longs, and with A = n*sum_g2 - sum_g^2 (exact),
    B = (sqrt(A) - sum_g) / (sqrt(A) + sum_g) — sqrt(A)/n = sigma and
    sum_g/n = mu, the n cancels.  b_q6 is that one fixed-shape float
    chain on exact-long operands, identical on any engine; the exact
    moments are emitted alongside so the float never carries the pin
    alone.

    Caller bound: n * sum(g^2) < 2^63 — gaps in seconds over real
    event streams by construction.

    Scale shape: one keyed window pass (lag ts), the moment aggregate
    reuses the window partitioning — a single exchange.

    ``ts_col`` may be a timestamp (converted via unix_timestamp) or an
    already-numeric epoch-seconds column (used as-is — pass this form
    when an oracle twin must share the exact epoch arithmetic).
    """
    from pyspark.sql.types import NumericType

    ws = W.partitionBy(*key_cols).orderBy(ts_col, id_col)
    if isinstance(events.schema[ts_col].dataType, NumericType):
        sec = F.col(ts_col).cast("long")
    else:
        sec = F.unix_timestamp(F.col(ts_col)).cast("long")
    gaps = (
        events.select(
            *key_cols,
            (sec - F.lag(sec).over(ws)).alias("_g"),
        )
        .filter(F.col("_g").isNotNull())
    )
    agg = gaps.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("_g").alias("sum_gap"),
        F.sum(F.col("_g") * F.col("_g")).alias("sum_gap2"),
    )
    a = (
        F.col("n_gaps") * F.col("sum_gap2")
        - F.col("sum_gap") * F.col("sum_gap")
    ).cast("double")
    num = F.sqrt(a) - F.col("sum_gap").cast("double")
    den = F.sqrt(a) + F.col("sum_gap").cast("double")
    ratio = num / den
    b_q6 = (
        F.when(ratio < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.floor(F.abs(ratio) * 1e6 + F.lit(0.5))
    ).cast("long")
    return agg.select(
        *key_cols,
        "n_gaps",
        "sum_gap",
        "sum_gap2",
        F.when(F.col("sum_gap") > 0, b_q6).alias("b_q6"),
    )


def topk_other(
    df: DataFrame,
    group_cols: list[str],
    cat_col: str,
    weight_col: str | None = None,
    k: int = 10,
    other_label: str = "__other__",
) -> DataFrame:
    """Cardinality-capped categorical rollup — the dashboard standard:
    keep the top-k categories per group EXACTLY and collapse the long
    tail into one ``__other__`` bucket that PRESERVES the totals (a
    chart that silently truncates the tail lies about the total; this
    never does).  Also the safe materialization shape for
    high-cardinality dimensions in tiers: bounded rows per group, no
    information loss at the aggregate level.

    Deterministic: rank by (weight DESC, category ASC) — ties at the
    k boundary cut by category name, engine-independent.  Exact
    longs; ``weight_col`` None counts rows.

    Returns (groups..., category, weight, n_members) where n_members
    is how many original categories the row covers (1 for kept rows).

    Scale shape: corpus -> per-(group, category) aggregate (one keyed
    exchange, map-side partials), then the rank window and the
    re-aggregate both run on the CATEGORY relation and reuse its
    partitioning.
    """
    w = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1)
    )
    per_cat = df.groupBy(
        *group_cols, F.col(cat_col).alias("category")
    ).agg(F.sum(w).alias("weight"))
    wr = W.partitionBy(*group_cols).orderBy(
        F.col("weight").desc(), F.col("category").asc()
    )
    ranked = per_cat.withColumn("_rk", F.row_number().over(wr))
    relabeled = ranked.select(
        *group_cols,
        F.when(F.col("_rk") <= F.lit(int(k)), F.col("category"))
        .otherwise(F.lit(other_label))
        .alias("category"),
        "weight",
    )
    return relabeled.groupBy(*group_cols, "category").agg(
        F.sum("weight").cast("long").alias("weight"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )


def series_health(
    buckets: DataFrame,
    key_cols: list[str],
    hw_col: str,
) -> DataFrame:
    """Per-series health scorecard over a bucket grid — the scalar
    summary every observability product shows on its series-health
    page, and the triage input for backfill planning: which series
    are complete, which are gappy, which went stale.

    Per key (all exact):
      n_obs       — observed buckets
      span        — hw_max - hw_min + 1 (expected buckets)
      fill_ppm    — half-up 1e6 * n_obs / span (1e6 = gap-free)
      largest_gap — max missing-bucket run between consecutive
                    observations (0 = dense)
      staleness   — corpus_max_hw - hw_max (buckets since this series
                    last reported; 0 = current)

    Scale shape: one keyed lag window for gaps, one keyed aggregate
    reusing its partitioning, and the 1-row corpus-max scalar
    broadcast back — integer arithmetic end to end.
    """
    hw = F.col(hw_col).cast("long")
    ws = W.partitionBy(*key_cols).orderBy(hw_col)
    gaps = buckets.select(
        *key_cols,
        hw.alias("_hw"),
        (hw - F.lag(hw).over(ws) - 1).alias("_gap"),
    )
    agg = gaps.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.min("_hw").alias("_lo"),
        F.max("_hw").alias("_hi"),
        F.coalesce(F.max("_gap"), F.lit(0)).cast("long").alias(
            "largest_gap"
        ),
    )
    glob = agg.agg(F.max("_hi").alias("_gmax"))
    span = F.col("_hi") - F.col("_lo") + 1
    fill = F.expr(
        "(2 * 1000000 * n_obs + (_hi - _lo + 1))"
        " DIV (2 * (_hi - _lo + 1))"
    )
    return (
        agg.crossJoin(F.broadcast(glob))
        .select(
            *key_cols,
            "n_obs",
            span.cast("long").alias("span"),
            fill.cast("long").alias("fill_ppm"),
            "largest_gap",
            (F.col("_gmax") - F.col("_hi")).cast("long").alias(
                "staleness"
            ),
        )
    )


def poisson_delta_significance(
    compared: DataFrame,
    cur_col: str = "n_cur",
    prev_col: str = "n_prev",
    z_threshold: int = 3,
) -> DataFrame:
    """Significance finalizer for count comparisons (week-over-week,
    A/B buckets, crawl-over-crawl): under the Poisson null the
    difference of two counts a, b has variance a + b, so

        z = (a - b) / sqrt(a + b)

    answers "is this change real or count noise" — the missing test
    behind every raw-delta dashboard (a +40 delta is an incident on a
    base of 50 and dust on a base of 50,000).

    The FLAG is pure integer — |z| > t  <=>  (a-b)^2 > t^2 * (a+b) —
    so alerting decisions are engine-exact even before the z value;
    z_q6 itself is one fixed-shape float chain on exact-long operands
    (the burstiness discipline). Both are NULL when a + b = 0.

    Map-only: adds (z_q6, significant) to the input relation inside
    codegen — zero shuffles on top of the comparison.
    """
    a = F.col(cur_col).cast("long")
    b = F.col(prev_col).cast("long")
    tot = a + b
    diff = a - b
    ratio = diff.cast("double") / F.sqrt(tot.cast("double"))
    z_q6 = (
        F.when(ratio < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.floor(F.abs(ratio) * 1e6 + F.lit(0.5))
    ).cast("long")
    t2 = int(z_threshold) * int(z_threshold)
    sig = diff * diff > F.lit(t2) * tot
    return compared.select(
        *compared.columns,
        F.when(tot > 0, z_q6).alias("z_q6"),
        F.when(tot > 0, sig).alias("significant"),
    )


def spearman_corr(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation per key between two integer-valued
    metrics — the monotone-association gauge beside Pearson
    (:func:`rolling_corr`): rank-based, so one outlying hour cannot
    saturate it, and nonlinear-but-monotone coupling still reads ~1.

    Exactness (the mannwhitney doubled-midrank discipline): tie-
    averaged ranks are carried as exact integer DOUBLED midranks
    (2*rank_min + ties - 1); all Pearson moments over them are exact
    longs and carry the pin. rho_q6 is one fixed-shape float chain
    (sqrt(A)*sqrt(B) — factored so the product never leaves double
    range) on exact operands.

    Caller bound: n * (2n)^2 * n < 2^63, i.e. n <~ 10^4 ranked points
    per key — tier series by construction.

    Scale shape: two rank windows + the moment aggregate all ride ONE
    keyed exchange.
    """
    kw = W.partitionBy(*key_cols)

    def dmid(c):
        return (
            2 * F.rank().over(kw.orderBy(c))
            + F.count(F.lit(1)).over(kw.orderBy(c).rangeBetween(0, 0))
            - 1
        ).cast("long")

    ranked = df.select(
        *key_cols,
        dmid(F.col(x_col).cast("long")).alias("_ra"),
        dmid(F.col(y_col).cast("long")).alias("_rb"),
    )
    m = ranked.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_ra").alias("sa"),
        F.sum("_rb").alias("sb"),
        F.sum(F.col("_ra") * F.col("_rb")).alias("sab"),
        F.sum(F.col("_ra") * F.col("_ra")).alias("saa"),
        F.sum(F.col("_rb") * F.col("_rb")).alias("sbb"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
    va = (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
    vb = (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
    den = F.sqrt(va.cast("double")) * F.sqrt(vb.cast("double"))
    rho_q6 = (
        F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.floor(F.abs(num.cast("double") / den) * 1e6 + F.lit(0.5))
    ).cast("long")
    return m.select(
        *key_cols,
        "n",
        num.cast("long").alias("num"),
        va.cast("long").alias("var_a"),
        vb.cast("long").alias("var_b"),
        F.when((va > 0) & (vb > 0), rho_q6).alias("rho_q6"),
    )


def funnel_with_exclusion(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    step_a: str,
    step_b: str,
    excluded: str,
    within_sec: int,
) -> DataFrame:
    """A -> B conversion WITH AN EXCLUSION STEP: for each ``step_a``
    event, it converts iff a ``step_b`` follows within ``within_sec``
    AND no ``excluded`` event falls strictly between them — the
    MATCH_RECOGNIZE-shaped semantics plain funnels can't express
    ("purchased after view with no support-ticket in between").

    Relational construction, exact integers end to end: one keyed
    window pass computes, for every A event, the time of the NEXT B
    and the NEXT excluded event (min-over-following-frame on
    conditional epoch micros); the conversion predicate compares the
    two exact longs. Per-user output rows: n_a, n_converted,
    n_blocked (a B arrived in time but an exclusion preceded it),
    n_timeout.

    Scale shape: one exchange keyed on the user; both "next event"
    frames ride the same sort. The events relation is filtered to the
    three step types BEFORE the window (map-side), so the frame never
    scans unrelated traffic.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = events.filter(
        F.col(type_col).isin(step_a, step_b, excluded)
    ).select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_ty"),
        us.alias("_t"),
    )
    # deterministic frame membership under equal timestamps: the
    # secondary type sort is mirrored by the oracle, so an equal-time
    # B counts as "following" iff its type sorts after A's. The rows
    # following in (_t, _ty) order are the rows preceding in reversed
    # order: a frame growing from the partition start is O(n), while
    # Spark re-aggregates a (1, unboundedFollowing) frame per row, O(n^2)
    w = (
        W.partitionBy("_u")
        .orderBy(F.col("_t").desc(), F.col("_ty").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    next_b = F.min(F.when(F.col("_ty") == step_b, F.col("_t"))).over(w)
    next_x = F.min(
        F.when(F.col("_ty") == excluded, F.col("_t"))
    ).over(w)
    a_rows = (
        base.select(
            "_u",
            "_ty",
            "_t",
            next_b.alias("_nb"),
            next_x.alias("_nx"),
        )
        .filter(F.col("_ty") == step_a)
    )
    in_time = F.col("_nb").isNotNull() & (
        F.col("_nb") - F.col("_t") <= within_sec * 1_000_000
    )
    clean = F.col("_nx").isNull() | (F.col("_nx") > F.col("_nb"))
    return a_rows.groupBy(F.col("_u").alias(user_col)).agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum(F.when(in_time & clean, 1).otherwise(0))
        .cast("long")
        .alias("n_converted"),
        F.sum(F.when(in_time & ~clean, 1).otherwise(0))
        .cast("long")
        .alias("n_blocked"),
        F.sum(F.when(~in_time, 1).otherwise(0))
        .cast("long")
        .alias("n_timeout"),
    )
