"""Forecast-based anomaly kernels: Holt linear smoothing and CUSUM
changepoint detection per series.

Both recursions are inherently sequential (state_t depends on state_{t-1})
so they run as one NumPy/Python loop per series behind ``mapInArrow``,
through the per-series runner ``dads_spark.groups.per_series`` — the
grouped-kernel shape shared with the S2G scorer and the matrix profile:
a post-rollup series is thousands of points (one task), millions of
series parallelize across tasks. Rows-only operators (the recursions are
not ANSI SQL); semantics are pinned by sharp property tests (exact-linear
series -> zero residuals; planted mean shift -> alarm within steps of the
shift, none before).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window as W, functions as F

from ..groups import per_series

_POINT_FIELDS = "idx long, value double, forecast double, residual double"


def holt_forecast(
    x: np.ndarray, alpha: float = 0.3, beta: float = 0.1, phi: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Holt's linear (double exponential) smoothing, optionally damped.

    level_0 = x_0, trend_0 = x_1 - x_0; for t >= 1:
      forecast_t = level_{t-1} + phi trend_{t-1}
      level_t    = alpha x_t + (1-alpha) forecast_t
      trend_t    = beta (level_t - level_{t-1}) + (1-beta) phi trend_{t-1}
    Returns (forecast, residual) arrays; index 0 has no forecast (nan).

    ``phi`` < 1 is Gardner-McKenzie damping — the trend decays
    geometrically instead of extrapolating forever, the standard fix
    for Holt's runaway long-horizon trend on plateauing series.
    ``phi`` = 1.0 is EXACTLY classic Holt (multiplying by 1.0 is an
    IEEE identity, so existing bit-level pins are unchanged).
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    f = np.full(n, np.nan)
    if n < 2:
        return f, np.full(n, np.nan)
    level, trend = x[0], x[1] - x[0]
    for t in range(1, n):
        f[t] = level + phi * trend
        new_level = alpha * x[t] + (1 - alpha) * f[t]
        trend = beta * (new_level - level) + (1 - beta) * (phi * trend)
        level = new_level
    return f, x - f


def holt_winters(
    x: np.ndarray,
    m: int = 24,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
) -> tuple[np.ndarray, np.ndarray]:
    """Additive Holt-Winters (triple exponential) smoothing, season ``m``.

    The seasonal extension of :func:`holt_forecast` — for web-traffic
    series the daily cycle (m=24 on hourly tiers) IS the signal, and Holt
    linear flags every morning ramp as a residual outlier; Holt-Winters
    absorbs it into the seasonal state.

    Init (classical, needs n >= 2m): level = mean(x[0:m]),
    trend = (mean(x[m:2m]) - mean(x[0:m])) / m, s_i = x_i - level for the
    first season. For t >= m, one-step-ahead:

      forecast_t = level + trend + s_{t-m}
      level'     = alpha (x_t - s_{t-m}) + (1-alpha)(level + trend)
      trend'     = beta (level' - level) + (1-beta) trend
      s_t        = gamma (x_t - level') + (1-gamma) s_{t-m}

    Returns (forecast, residual); indices < m are nan. On integer count
    series the init means are exact in float64 under any summation order,
    so distributed and local assemblies feed bit-identical state.
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    f = np.full(n, np.nan)
    if n < 2 * m:
        return f, np.full(n, np.nan)
    level = x[:m].sum() / m
    trend = (x[m : 2 * m].sum() / m - level) / m
    s = np.full(n, np.nan)
    s[:m] = x[:m] - level
    for t in range(m, n):
        f[t] = level + trend + s[t - m]
        new_level = alpha * (x[t] - s[t - m]) + (1 - alpha) * (level + trend)
        new_trend = beta * (new_level - level) + (1 - beta) * trend
        s[t] = gamma * (x[t] - new_level) + (1 - gamma) * s[t - m]
        level, trend = new_level, new_trend
    return f, x - f


def holt_winters_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    m: int = 24,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
) -> DataFrame:
    """Per-series Holt-Winters one-step forecasts + residuals for every
    index past the first season: (keys..., idx, value, forecast, residual).
    Same grouped-kernel scale shape as :func:`holt_residuals_grouped`."""

    def f(_, x):
        fc, resid = holt_winters(x, m, alpha, beta, gamma)
        ok = np.flatnonzero(np.isfinite(fc))
        return ok, x[ok], fc[ok], resid[ok]

    return per_series(df, key_cols, order_col, [value_col], f, _POINT_FIELDS)


def cusum_changepoints(
    x: np.ndarray, k: float = 0.5, h: float = 5.0, baseline: int | None = None
) -> list[tuple[int, str]]:
    """Two-sided standardized CUSUM: alarms where the cumulated
    standardized drift exceeds h (in sigmas), reset after each alarm.

    s+_t = max(0, s+_{t-1} + z_t - k),  s-_t = max(0, s-_{t-1} - z_t - k)
    with z standardized by the IN-CONTROL mean/sigma estimated from the
    first ``baseline`` points (default max(30, n/4)). Standardizing by
    GLOBAL stats breaks on the very signals CUSUM exists for: a mean
    shift drags the global mean between regimes, making the pre-shift
    segment a permanent -2sigma drift that alarms everywhere.
    Returns [(index, 'up'|'down')].
    """
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if n < 3:
        return []
    b = min(n, max(30, n // 4)) if baseline is None else min(n, baseline)
    mu, sd = x[:b].mean(), x[:b].std()
    if sd == 0:
        return []
    z = (x - mu) / sd
    sp = sn = 0.0
    alarms: list[tuple[int, str]] = []
    for t in range(len(z)):
        sp = max(0.0, sp + z[t] - k)
        sn = max(0.0, sn - z[t] - k)
        if sp > h:
            alarms.append((t, "up"))
            sp = sn = 0.0
        elif sn > h:
            alarms.append((t, "down"))
            sp = sn = 0.0
    return alarms


def holt_residuals_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    n_sigma: float = 3.0,
    phi: float = 1.0,
) -> DataFrame:
    """Per-series Holt forecast residual outliers:
    (keys..., idx, value, forecast, residual) for |residual| >
    n_sigma * residual sigma of the series. ``phi`` < 1 damps the
    trend (Gardner-McKenzie); 1.0 is classic Holt."""

    def f(_, x):
        fc, resid = holt_forecast(x, alpha, beta, phi)
        ok = np.isfinite(resid)
        sd = resid[ok].std() if ok.any() else 0.0
        if sd <= 0:
            return None
        sel = np.flatnonzero(ok & (np.abs(resid) > n_sigma * sd))
        return sel, x[sel], fc[sel], resid[sel]

    return per_series(df, key_cols, order_col, [value_col], f, _POINT_FIELDS)


def cusum_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Per-series CUSUM changepoints: (keys..., idx, direction)."""

    def f(_, x):
        alarms = cusum_changepoints(x, k, h)
        return [a[0] for a in alarms], [a[1] for a in alarms]

    return per_series(df, key_cols, order_col, [value_col], f, "idx long, direction string")


def rolling_backtest(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tier: str = "hour",
    horizon: int = 24,
    n_folds: int = 4,
    season_sec: int = 7 * 86_400,
) -> DataFrame:
    """Rolling-origin forecast backtest (the standard time-series
    evaluation protocol: hold out the last ``n_folds`` x ``horizon``
    buckets, score each block separately so accuracy drift over folds is
    visible) for the seasonal-naive predictor yhat(t) = y(t - season),
    in EXACT integers.

    The seasonal lag is a WALL-CLOCK self-join (bucket - season_sec),
    not a row lag, so missing buckets cannot shift the predictor; folds
    are assigned from the series end (fold 1 = most recent block). Per
    (key, fold): scored-bucket count, exact sum of absolute errors, the
    same for the persistence predictor y(t-1 row), and the MASE-style
    skill ratio quantized to micro-units (the single float step,
    identical expression on any engine).

    Output: keys..., fold, n_scored, sae_seasonal, sae_persist,
    skill_q6 = floor(1e6 * sae_seasonal * n_persist
                     / (sae_persist * n_seasonal) + 0.5)  (NULL when the
    persistence error is 0). skill < 1e6 means the seasonal predictor
    beats persistence on that fold.
    """
    from pyspark.sql import Window as W

    from .tiers import rollup_from_raw

    hourly = rollup_from_raw(df, key_cols, ts_col, None, tier).select(
        *key_cols,
        F.unix_micros(F.col("bucket_ts")).alias("b_us"),
        F.col("doc_count").alias("y"),
    )
    w = W.partitionBy(*key_cols).orderBy("b_us")
    wd = W.partitionBy(*key_cols).orderBy(F.desc("b_us"))
    cur = (
        hourly.withColumn("_rnd", F.row_number().over(wd))
        .withColumn("_yprev", F.lag("y").over(w))
        .where(F.col("_rnd") <= horizon * n_folds)
        .withColumn("fold", ((F.col("_rnd") - 1) / horizon).cast("int") + 1)
    )
    past = hourly.select(
        *key_cols,
        (F.col("b_us") + F.lit(season_sec * 1_000_000)).alias("b_us"),
        F.col("y").alias("_ysea"),
    )
    j = cur.join(past, [*key_cols, "b_us"], "left")
    per = j.groupBy(*key_cols, "fold").agg(
        F.sum(F.when(F.col("_ysea").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_scored"),
        F.sum(
            F.when(
                F.col("_ysea").isNotNull(), F.abs(F.col("y") - F.col("_ysea"))
            ).otherwise(0)
        )
        .cast("long")
        .alias("sae_seasonal"),
        F.sum(F.when(F.col("_yprev").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_persist"),
        F.sum(
            F.when(
                F.col("_yprev").isNotNull(), F.abs(F.col("y") - F.col("_yprev"))
            ).otherwise(0)
        )
        .cast("long")
        .alias("sae_persist"),
    )
    skill = F.when(
        (F.col("sae_persist") > 0) & (F.col("n_scored") > 0),
        F.floor(
            F.lit(1e6)
            * F.col("sae_seasonal").cast("double")
            * F.col("n_persist").cast("double")
            / (F.col("sae_persist").cast("double") * F.col("n_scored").cast("double"))
            + F.lit(0.5)
        ).cast("long"),
    )
    return per.select(
        *key_cols,
        "fold",
        "n_scored",
        "sae_seasonal",
        "n_persist",
        "sae_persist",
        skill.alias("skill_q6"),
    )


def croston(
    q: np.ndarray, d: np.ndarray, alpha: float = 0.1
) -> tuple[float, float, float]:
    """Croston's method for INTERMITTENT demand (Croston 1972): smooth
    the nonzero demand sizes and the inter-demand intervals separately
    with the same alpha, forecast = size / interval (demand per bucket).

    ``q`` = demand at each nonzero bucket, ``d`` = the bucket indices
    (zeros between them are implicit — the interval sequence is the
    diff, so empty buckets never materialize). Initialized the standard
    way: S_1 = q_1, V_1 = d_1 - start_offset... here V seeds from the
    first observed interval (needs >= 2 demand points). Returns
    (size_level, interval_level, forecast).
    """
    q = np.asarray(q, dtype=np.float64)
    d = np.asarray(d, dtype=np.int64)
    if len(q) < 2:
        return (float("nan"),) * 3
    iv = np.diff(d).astype(np.float64)
    s = float(q[0])  # size level seeds from the first demand
    v = float(iv[0])  # interval level seeds from the first interval
    for i in range(1, len(q)):
        s = alpha * float(q[i]) + (1.0 - alpha) * s
    for j in range(1, len(iv)):
        v = alpha * float(iv[j]) + (1.0 - alpha) * v
    return s, v, s / v


def croston_grouped(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    demand_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Per-series Croston intermittent-demand levels over (bucket index,
    demand) rows — empty buckets are implicit zeros, so the sparse
    series is stored and processed at its nonzero size. Series with a
    single demand point yield no row. Same grouped-kernel scale shape
    as holt_winters_grouped: the corpus collapses to per-series nonzero
    buckets before the Arrow stage; the recursion is Python floats in
    both the engine and the staged oracle, hence bit-identical.

    Returns (keys..., n_demands, size_level, interval_level, forecast).
    """

    def f(d, q):
        s, v, fc = croston(q, d, alpha)
        if not np.isfinite(fc):
            return None
        return [len(q)], [s], [v], [fc]

    return per_series(
        df,
        key_cols,
        bucket_col,
        [demand_col],
        f,
        "n_demands long, size_level double, interval_level double, forecast double",
    )


def conformal_interval(
    buckets: DataFrame,
    key_cols: list[str],
    hw_col: str,
    value_col: str,
    season: int = 168,
    alpha_q6: int = 100_000,
) -> DataFrame:
    """Split-conformal prediction intervals for the seasonal-naive
    forecaster, per series — the DISTRIBUTION-FREE way to turn a point
    forecast into a calibrated band (Vovk et al.; the modern
    uncertainty standard): the (1-alpha) interval half-width is the
    ceil((n+1)(1-alpha))-th smallest calibration residual, and the
    guarantee needs NO model or distribution assumption.  Monitoring
    reads it as "how wide must the alert band be to page at most
    alpha of the time".

    Exact, end to end:
    - prediction = value at bucket (hw - season), a WALL-CLOCK
      equi-join (gap-safe where a row lag would misalign — the
      rolling_backtest discipline); buckets without a seasonal
      predecessor are ineligible;
    - eligible buckets split by exact row position per series:
      calibration = first (2*n_elig) DIV 3, test = rest;
    - half-width = the k-th smallest |residual| with
      k = min(n_cal, ceil((n_cal+1) * (1e6-alpha_q6) / 1e6)) — an
      order statistic of exact longs (rank arithmetic in integers);
    - coverage on the held-out test rows is the exact pair
      (n_covered, n_test): |residual| <= half-width.

    Returns (keys..., n_cal, k_rank, halfwidth, n_test, n_covered).

    Scale shape: one self equi-join on (key, hw-season) — shifted
    integers, no range logic; two keyed window passes (position split,
    residual rank) and a final keyed aggregate, all on the series key.
    """
    x = F.col(value_col).cast("long")
    base = buckets.select(
        *key_cols, F.col(hw_col).cast("long").alias("_hw"), x.alias("_x")
    )
    pred = base.select(
        *key_cols,
        (F.col("_hw") + F.lit(int(season))).alias("_hw"),
        F.col("_x").alias("_pred"),
    )
    elig = base.join(pred, [*key_cols, "_hw"]).select(
        *key_cols,
        "_hw",
        F.abs(F.col("_x") - F.col("_pred")).alias("_r"),
    )
    wpos = W.partitionBy(*key_cols).orderBy("_hw")
    wn = W.partitionBy(*key_cols)
    split = (
        elig.select(
            *key_cols,
            "_hw",
            "_r",
            F.row_number().over(wpos).alias("_pos"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        .withColumn("_ncal", F.expr("(2 * _n) DIV 3"))
        .withColumn("_is_cal", F.col("_pos") <= F.col("_ncal"))
    )
    wrank = W.partitionBy(*key_cols).orderBy("_r", "_hw")
    cal = split.filter("_is_cal").select(
        *key_cols,
        "_r",
        F.row_number().over(wrank).alias("_rrank"),
        F.col("_ncal").alias("n_cal"),
    )
    k = F.least(
        F.col("n_cal"),
        F.expr(
            f"((n_cal + 1) * (1000000 - {int(alpha_q6)}) + 999999)"
            " DIV 1000000"
        ),
    )
    width = (
        cal.withColumn("_k", k)
        .filter(F.col("_rrank") == F.col("_k"))
        .select(
            *key_cols,
            "n_cal",
            F.col("_k").alias("k_rank"),
            F.col("_r").alias("halfwidth"),
        )
    )
    test = (
        split.filter(~F.col("_is_cal"))
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_test"))
    )
    covered = (
        split.filter(~F.col("_is_cal"))
        .join(width, list(key_cols))
        .groupBy(*key_cols)
        .agg(
            F.sum(
                F.when(F.col("_r") <= F.col("halfwidth"), 1).otherwise(0)
            ).cast("long").alias("n_covered")
        )
    )
    return (
        width.join(test, list(key_cols))
        .join(covered, list(key_cols), "left")
        .select(
            *key_cols,
            "n_cal",
            "k_rank",
            "halfwidth",
            "n_test",
            F.coalesce("n_covered", F.lit(0)).cast("long").alias(
                "n_covered"
            ),
        )
    )


def conformal_band(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    resid_col: str,
    alpha_q6: int = 100_000,
) -> DataFrame:
    """Split-conformal band over a PRECOMPUTED residual column — the
    generic second half of ``conformal_interval``, so ANY forecaster's
    residuals (seasonal-naive, Holt, the two-season hod x dow fit)
    can be turned into a calibrated alert band: first 2/3 of each
    series calibrates, the half-width is the exact
    ceil((n+1)(1-alpha))-th smallest |residual| order statistic, and
    held-out coverage is emitted as the exact (n_covered, n_test)
    pair.  Integer rank arithmetic end to end; same output contract
    as conformal_interval.
    """
    r = F.abs(F.col(resid_col).cast("long"))
    base = df.select(
        *key_cols,
        F.col(order_col).cast("long").alias("_o"),
        r.alias("_r"),
    )
    wpos = W.partitionBy(*key_cols).orderBy("_o")
    wn = W.partitionBy(*key_cols)
    split = (
        base.select(
            *key_cols,
            "_o",
            "_r",
            F.row_number().over(wpos).alias("_pos"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        .withColumn("_ncal", F.expr("(2 * _n) DIV 3"))
        .withColumn("_is_cal", F.col("_pos") <= F.col("_ncal"))
    )
    wrank = W.partitionBy(*key_cols).orderBy("_r", "_o")
    cal = split.filter("_is_cal").select(
        *key_cols,
        "_r",
        F.row_number().over(wrank).alias("_rrank"),
        F.col("_ncal").alias("n_cal"),
    )
    k = F.least(
        F.col("n_cal"),
        F.expr(
            f"((n_cal + 1) * (1000000 - {int(alpha_q6)}) + 999999)"
            " DIV 1000000"
        ),
    )
    width = (
        cal.withColumn("_k", k)
        .filter(F.col("_rrank") == F.col("_k"))
        .select(
            *key_cols,
            "n_cal",
            F.col("_k").alias("k_rank"),
            F.col("_r").alias("halfwidth"),
        )
    )
    test = (
        split.filter(~F.col("_is_cal"))
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_test"))
    )
    covered = (
        split.filter(~F.col("_is_cal"))
        .join(width, list(key_cols))
        .groupBy(*key_cols)
        .agg(
            F.sum(
                F.when(F.col("_r") <= F.col("halfwidth"), 1).otherwise(0)
            ).cast("long").alias("n_covered")
        )
    )
    return (
        width.join(test, list(key_cols))
        .join(covered, list(key_cols), "left")
        .select(
            *key_cols,
            "n_cal",
            "k_rank",
            "halfwidth",
            "n_test",
            F.coalesce("n_covered", F.lit(0)).cast("long").alias(
                "n_covered"
            ),
        )
    )
