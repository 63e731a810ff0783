"""Distribution-drift detection between time periods, integer-exact.

Training-data pipelines watch whether a feature's distribution moved
between ingestion periods (new crawl vs reference crawl, this week vs
baseline). Two metrics over the same baseline-binned histogram grid:

- :func:`tv_drift` — total-variation distance in EXACT INTEGER form (no
  logarithms at all);
- :func:`psi_drift` — the industry-standard Population Stability Index,
  whose ln() cross-engine hazard (paa_sax precedent) is contained by
  quantizing each per-bin term to integer nano-units before the exact
  integer sum (the pmi/unigram_logprob discipline).

The TV identity:

    TV = 1/2 * sum_i | n_i/N - m_i/M |
       = sum_i | n_i*M - m_i*N |  /  (2*N*M)

The numerator ``tv_numer`` and the totals (N, M) are integers — the
metric is pinned bit-for-bit by the oracle; the float quotient is a
display projection. Equal-width binning over the baseline's [min, max]
(ids clamped into [0, bins-1]) keeps bin assignment engine-portable,
unlike percentile bins whose interpolation rules differ.

Spark shape: each key's baseline is split off in one keyed pass. A window
over the keys finds the key's first timestamp, so the raw (key, ts, value)
rows cross one hash exchange on the keys and each key's rows are split in
one task; every later aggregate and window is keyed on the keys plus more
columns, so it adds no exchange and the plan has no join. The bin grid is
a (key, bucket, bin) count aggregate in which each count votes 0/1 into
every bin, so it is complete without a join; baseline counts and totals
are window sums over it. ks/mw read both ECDFs off windows over the (key,
bucket, value) counts. The cost of the one pass: after the exchange a
key's rows are worked in one task, so the split uses at most one core per
key, and map-side partial aggregation cannot shrink the shuffle, because a
row's side depends on its key's first timestamp.

Reference analog: none; spec source is §2.4 (corpus-quality monitoring
over time) + BASELINE.json:6 (per-tier series diagnostics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .tiers import bucket_expr

__all__ = ["tv_drift", "psi_drift", "ks_drift", "mannwhitney_drift", "page_hinkley"]


def _baseline_split(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int,
    period: str,
) -> DataFrame:
    """Each row of ``df`` whose keys and timestamp are non-null, as
    (keys..., bucket_ts, _v): ``_v`` is the value and ``bucket_ts`` its
    ``period`` bucket, NULL on the key's baseline rows (before its first
    ts + ``baseline_days``). The first ts is a window over the keys, so the
    raw rows cross one hash exchange on the keys and each key's rows are
    split in one task; a later aggregate or window keyed on the keys plus
    more columns adds no exchange."""
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    present = t_us.isNotNull()
    for k in key_cols:
        present = present & F.col(k).isNotNull()
    rows = df.where(present).select(
        *key_cols,
        F.col(value_col).alias("_v"),
        t_us.alias("_t_us"),
        bucket_expr(ts_col, period),
    )
    is_base = F.col("_t_us") < F.min("_t_us").over(
        W.partitionBy(*key_cols)
    ) + F.lit(baseline_days * 86_400_000_000)
    return rows.select(
        *key_cols, F.when(~is_base, F.col("bucket_ts")).alias("bucket_ts"), "_v"
    )


def _drift_grid(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int,
    period: str,
    bins: int,
) -> DataFrame:
    """The complete (keys..., bucket_ts, _bin) grid of the tv/psi/chi2/w1
    finalizers: period counts n_i and baseline counts m_i over ``bins``
    equal-width bins of the baseline range, with the totals n_total and
    m_total. A key without baseline rows has no grid."""
    lo, hi = F.col("v_lo"), F.col("v_hi")
    # a constant baseline (v_hi == v_lo) degenerates to one bin — guard the
    # width division (ANSI mode throws on /0); a null value lands in bin 0,
    # because greatest skips nulls
    hit = F.when(hi == lo, F.lit(0)).otherwise(
        F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("_v") - lo) / ((hi - lo) / F.lit(float(bins)))
                ).cast("int"),
            ),
        )
    )
    base_v = F.when(F.col("bucket_ts").isNull(), F.col("_v"))
    keyed = W.partitionBy(*key_cols)
    hits = (
        _baseline_split(df, key_cols, ts_col, value_col, baseline_days, period)
        .withColumn("v_lo", F.min(base_v).over(keyed))
        .withColumn("v_hi", F.max(base_v).over(keyed))
        .groupBy(*key_cols, "bucket_ts", hit.alias("_hit"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # each (bucket, hit) count votes 0/1 into all bins, so the second
    # aggregate is the complete grid: bins empty on either side still
    # contribute their |0*M - m_i*N| / |n_i*M - 0*N| terms
    hist = (
        hits.select(
            *key_cols,
            "bucket_ts",
            "_hit",
            "_c",
            F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("_bin"),
        )
        .groupBy(*key_cols, "bucket_ts", "_bin")
        .agg(
            F.sum(
                F.when(F.col("_hit") == F.col("_bin"), F.col("_c")).otherwise(0)
            ).alias("n_i")
        )
    )
    m_i = F.sum(F.when(F.col("bucket_ts").isNull(), F.col("n_i")))
    per = W.partitionBy(*key_cols, "bucket_ts")
    return (
        hist.withColumn("m_i", m_i.over(W.partitionBy(*key_cols, "_bin")))
        .withColumn("n_total", F.sum("n_i").over(per))
        .withColumn("m_total", F.sum("m_i").over(per))
        .where(F.col("bucket_ts").isNotNull() & (F.col("m_total") > 0))
    )


def _value_points(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int,
    period: str,
) -> DataFrame:
    """The ks/mw evaluation points: one row per (keys..., bucket_ts, _v) of
    a period bucket's distinct value, with its count _nd, the bucket's count
    at or below it _cn and total _n, and the key's baseline count at it
    _nb, at or below it _cm and in total _m, and the baseline tie term _tb
    = sum(nb^3 - nb) over all baseline values. A null value sorts first.
    Both ECDFs are read off windows over the (key, bucket, value) counts, so
    the baseline is never copied onto the buckets."""
    counts = (
        _baseline_split(df, key_cols, ts_col, value_col, baseline_days, period)
        .groupBy(*key_cols, "bucket_ts", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    nb = F.when(F.col("bucket_ts").isNull(), F.col("_c")).otherwise(F.lit(0))
    by_v = W.partitionBy(*key_cols).orderBy("_v")
    keyed = W.partitionBy(*key_cols)
    per = W.partitionBy(*key_cols, "bucket_ts")
    return (
        counts.select(
            *key_cols,
            "bucket_ts",
            "_v",
            F.col("_c").alias("_nd"),
            F.sum(nb).over(by_v.rangeBetween(W.currentRow, W.currentRow)).alias("_nb"),
            F.sum(nb)
            .over(by_v.rangeBetween(W.unboundedPreceding, W.currentRow))
            .alias("_cm"),
            F.sum(nb).over(keyed).alias("_m"),
            F.sum(nb * nb * nb - nb).over(keyed).alias("_tb"),
        )
        .where(F.col("bucket_ts").isNotNull())
        .withColumn(
            "_cn",
            F.sum("_nd").over(
                per.orderBy("_v").rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .withColumn("_n", F.sum("_nd").over(per))
    )


def tv_drift(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int = 7,
    period: str = "day",
    bins: int = 10,
) -> DataFrame:
    """Per (keys..., period bucket) AFTER each key's baseline window: the
    total-variation distance between that period's ``value_col``
    distribution and the key's baseline (its first ``baseline_days`` days),
    over ``bins`` equal-width bins fitted on the baseline range.

    Output: keys..., bucket_ts, tv_numer (exact sum |n_i*M - m_i*N|),
    n_period, n_baseline, tv (float = tv_numer/(2*N*M), 6 dp).
    """
    joined = _drift_grid(
        df, key_cols, ts_col, value_col, baseline_days, period, bins
    )
    term = F.abs(
        F.col("n_i").cast("long") * F.col("m_total").cast("long")
        - F.col("m_i").cast("long") * F.col("n_total").cast("long")
    )
    return (
        joined.groupBy(*key_cols, "bucket_ts", "m_total", "n_total")
        .agg(F.sum(term).alias("tv_numer"))
        .select(
            *key_cols,
            "bucket_ts",
            F.col("tv_numer").cast("long").alias("tv_numer"),
            F.col("n_total").cast("long").alias("n_period"),
            F.col("m_total").cast("long").alias("n_baseline"),
            F.round(
                F.col("tv_numer")
                / (F.lit(2.0) * F.col("n_total") * F.col("m_total")),
                6,
            ).alias("tv"),
        )
    )


def psi_drift(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int = 7,
    period: str = "day",
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index per (keys..., period bucket) vs the
    key's baseline window — the monitoring metric scorecard/feature-drift
    dashboards standardize on (PSI < 0.1 stable, > 0.25 shifted), beside
    tv_drift's exact-integer twin.

    PSI = sum_i (p_i - q_i) * ln(p_i / q_i) with Laplace +1 smoothing
    (p_i = (n_i+1)/(N+bins), q_i = (m_i+1)/(M+bins)) so empty bins are
    finite. The ln hazard this module's docstring avoids is contained the
    way pmi/unigram_logprob contain it: each PER-BIN term is quantized to
    integer nano-units — the same double expression on any engine — and
    the bin SUM is exact integer arithmetic, so the metric is
    partition-invariant and oracle-pinnable. psi float = psi_q9 / 1e9 is
    a display projection.

    Same plan as tv_drift: the keyed baseline split and bin grid, then
    one keyed aggregate.
    """
    joined = _drift_grid(
        df, key_cols, ts_col, value_col, baseline_days, period, bins
    )
    p_num = F.col("n_i").cast("long") + 1
    q_num = F.col("m_i").cast("long") + 1
    p_den = F.col("n_total").cast("long") + F.lit(bins)
    q_den = F.col("m_total").cast("long") + F.lit(bins)
    p = p_num.cast("double") / p_den.cast("double")
    q = q_num.cast("double") / q_den.cast("double")
    # ln(p/q) = ln(p_num*q_den) - ln(q_num*p_den): logs of exact integer
    # products (exact in double to 2^53), identical expression both engines
    lnr = F.log(p_num.cast("double") * q_den.cast("double")) - F.log(
        q_num.cast("double") * p_den.cast("double")
    )
    term_q9 = F.floor((p - q) * lnr * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (
        joined.groupBy(*key_cols, "bucket_ts", "m_total", "n_total")
        .agg(F.sum(term_q9).alias("psi_q9"))
        .select(
            *key_cols,
            "bucket_ts",
            F.col("psi_q9").cast("long").alias("psi_q9"),
            F.col("n_total").cast("long").alias("n_period"),
            F.col("m_total").cast("long").alias("n_baseline"),
            F.round(F.col("psi_q9") / F.lit(1e9), 6).alias("psi"),
        )
    )


#: Benford's law first-digit shares in permille (floor(log10(1+1/d)*1000)
#: would lose a unit on d=1; these are the standard rounded values and are
#: part of the contract — both engines compare against the same integers).
BENFORD_PERMILLE = (301, 176, 125, 97, 79, 67, 58, 51, 46)


def benford_digits(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    scale: int = 1000,
) -> DataFrame:
    """First-significant-digit distribution per group vs Benford's law —
    the classic fabricated-data / pipeline-bug smell test for metric
    streams (a counter that suddenly violates Benford usually means a
    synthetic backfill or a unit change, not traffic).

    The digit is extracted from ``floor(value * scale)`` as an integer
    (IEEE double multiply + floor are bit-identical cross-engine;
    extracting digits from a double's decimal rendering is NOT), values
    <= 0 are dropped. Output per (keys..., digit): n, n_total,
    share_permille (integer floor), expected_permille, delta_permille —
    all exact integers.

    Scale shape: one codegen projection + one groupBy with <= 9 rows per
    key — partial aggregation makes the shuffle negligible at any size.
    """
    v_int = F.floor(F.col(value_col) * F.lit(int(scale))).cast("long")
    digit = F.substring(v_int.cast("string"), 1, 1).cast("long")
    per = (
        df.where(v_int > 0)
        .select(*key_cols, digit.alias("digit"))
        .groupBy(*key_cols, "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = per.groupBy(*key_cols).agg(F.sum("n").alias("n_total"))
    expected = F.element_at(
        F.array(*[F.lit(x) for x in BENFORD_PERMILLE]),
        F.col("digit").cast("int"),
    ).cast("long")
    share = F.expr("(n * 1000) DIV n_total")
    return (
        per.join(totals, key_cols)
        .select(
            *key_cols,
            F.col("digit"),
            F.col("n").cast("long").alias("n"),
            F.col("n_total").cast("long").alias("n_total"),
            share.cast("long").alias("share_permille"),
            expected.alias("expected_permille"),
            (share - expected).cast("long").alias("delta_permille"),
        )
    )


def chi2_drift(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int = 7,
    period: str = "day",
    bins: int = 16,
) -> DataFrame:
    """Pearson chi-square homogeneity drift per (key, period) vs the
    baseline histogram — the classical test statistic beside tv_drift's
    distance and psi_drift's information measure (three finalizers,
    one shared grid; chi-square is what monitoring stacks threshold
    against chi2 critical values).

    chi2 = sum over baseline-supported bins of (n_i - E_i)^2 / E_i with
    E_i = n_total * m_i / m_total, computed as
    d^2 / (m_i * n_total * m_total) with the EXACT integer cross term
    d = n_i * m_total - m_i * n_total (longs; squared in double —
    d^2 can pass 2^63). Bins the baseline never saw are excluded (the
    standard convention: expected must be positive) and reported via
    ``dof`` = supported_bins - 1 so the consumer can pick the right
    critical value.
    """
    grid = _drift_grid(
        df, key_cols, ts_col, value_col, baseline_days, period, bins
    )
    d = (
        F.col("n_i") * F.col("m_total") - F.col("m_i") * F.col("n_total")
    ).cast("long")
    term = (
        d.cast("double")
        * d.cast("double")
        / (
            F.col("m_i").cast("double")
            * F.col("n_total").cast("double")
            * F.col("m_total").cast("double")
        )
    )
    q6 = lambda x: (F.signum(x) * F.floor(F.abs(x) + F.lit(0.5))).cast(  # noqa: E731
        "long"
    )
    return (
        grid.groupBy(*key_cols, "bucket_ts")
        .agg(
            F.max("n_total").alias("n_total"),
            F.sum((F.col("m_i") > 0).cast("long")).alias("_supported"),
            F.sum(F.when(F.col("m_i") > 0, term).otherwise(0.0)).alias(
                "_chi2"
            ),
        )
        .select(
            *key_cols,
            "bucket_ts",
            "n_total",
            (F.col("_supported") - 1).alias("dof"),
            q6(1e6 * F.col("_chi2")).alias("chi2_q6"),
        )
    )


def ks_drift(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int = 7,
    period: str = "day",
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift per (keys..., period
    bucket) vs the key's baseline window (its first ``baseline_days``
    days) — the binning-free companion to the tv/psi/chi2 grid: KS
    compares raw ECDFs, so it catches shifts that land inside one
    histogram bin.

    The statistic is computed in EXACT INTEGER form.  With N = period
    count, M = baseline count, and cumulative counts cn(x), cm(x) over
    the union of observed values,

        D = max_x | cn(x)/N - cm(x)/M |
          = max_x | cn(x)*M - cm(x)*N |  /  (N*M)

    ``ks_numer`` (the integer max) and the totals pin the metric
    bit-for-bit; the float quotient is a display projection.  ECDFs are
    right-continuous and constant between observations, and on a stretch
    of baseline-only values cn is fixed while cm grows, so the convex
    |cn*M - cm*N| peaks at a stretch end: the max over the union of values
    is the max, over the period's own values x, of the gap at x and the
    gap just below x (cn(x) - nd(x), cm(x) - nb(x)).

    Spark shape: the keyed baseline split (one exchange of the raw rows,
    each key's rows in one task), then (key, bucket, value) COUNT rows;
    the baseline ECDF is a window over the key's counts ordered by value,
    the period ECDF a windowed cumsum per (key, bucket), and the max one
    keyed aggregate.  Beyond the split, the state per key is its distinct
    (bucket, value) counts.

    Reference analog: none; spec source is §2.4 (corpus-quality
    monitoring over time) + BASELINE.json:6 (per-tier diagnostics).
    """
    pts = _value_points(
        df, key_cols, ts_col, value_col, baseline_days, period
    )
    gap = lambda cn, cm: F.abs(cn * F.col("_m") - cm * F.col("_n"))  # noqa: E731
    return (
        pts.groupBy(*key_cols, "bucket_ts")
        .agg(
            F.max("_n").alias("n_period"),
            F.max("_m").alias("n_baseline"),
            F.max(
                F.greatest(
                    gap(F.col("_cn"), F.col("_cm")),
                    gap(
                        F.col("_cn") - F.col("_nd"),
                        F.col("_cm") - F.col("_nb"),
                    ),
                )
            ).alias("ks_numer"),
        )
        .select(
            *key_cols,
            "bucket_ts",
            F.col("ks_numer").cast("long").alias("ks_numer"),
            "n_period",
            "n_baseline",
            F.round(
                F.col("ks_numer")
                / (F.col("n_period") * F.col("n_baseline")).cast("double"),
                6,
            ).alias("ks"),
        )
    )


def page_hinkley(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    order_cols: list[str] | None = None,
    delta: float = 0.0,
    lam: float = 50.0,
) -> DataFrame:
    """Page-Hinkley sequential mean-shift detection per key, in
    per-term-quantized integer arithmetic (the psi_drift / pmi nano-unit
    discipline — no float accumulation, so the statistic is pinned
    bit-for-bit cross-engine).

    Classic PH over the ordered sequence x_1..x_T with inclusive running
    mean: m_T = sum_t (x_t - mean(x_1..x_t) - delta); alarm when
    m_T - min_{s<=T} m_s > lambda.  Here x is quantized to q6 longs, the
    per-step deviation t*(x_t - mean_t) = x_q6*t - cumsum(x_q6) is an
    EXACT long, and the division by t is quantized to nano-units of the
    original value via half-up INTEGER division

        dev_nano = sign(d) * ((|d| * 1000 + t DIV 2) DIV t)

    (``DIV`` truncates toward zero = floor on the non-negative operands
    both engines see), before the exact integer cumsum / running-min.

    Output per key: n, max_ph_nano (the peak of m_t - min_s m_s),
    n_alarms (rows strictly above lambda), first_alarm_pos (1-based,
    0 = never).  One window pass per key — at scale, keys partition the
    work and each series streams through its executor in ts order.

    Reference analog: none; spec source is §2.3 (drift/anomaly battery
    beside CUSUM at rollup/forecast.py:202).
    """
    order_cols = order_cols or []
    q6v = (
        F.signum(F.col(value_col))
        * F.floor(F.abs(F.col(value_col)) * 1e6 + F.lit(0.5))
    ).cast("long")
    delta_nano = int(round(delta * 1e9))
    lam_nano = int(round(lam * 1e9))

    ws = W.partitionBy(*key_cols).orderBy(F.col(ts_col), *[F.col(c) for c in order_cols])
    wc = ws.rowsBetween(W.unboundedPreceding, W.currentRow)
    staged = df.select(*key_cols, ts_col, *order_cols, q6v.alias("_xq")).select(
        *key_cols,
        F.row_number().over(ws).alias("_t"),
        (F.col("_xq") * F.row_number().over(ws) - F.sum("_xq").over(wc)).alias(
            "_d"
        ),
    )
    dev = (
        F.signum(F.col("_d")).cast("long")
        * F.expr("(abs(_d) * 1000L + _t DIV 2) DIV _t")
    ).cast("long")
    terms = staged.select(
        *key_cols, "_t", (dev - F.lit(delta_nano)).alias("_term")
    )
    wrun = (
        W.partitionBy(*key_cols)
        .orderBy("_t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    m = terms.select(
        *key_cols, "_t", F.sum("_term").over(wrun).alias("_m")
    ).select(
        *key_cols,
        "_t",
        (F.col("_m") - F.min("_m").over(wrun)).alias("_ph"),
    )
    return m.groupBy(*key_cols).agg(
        F.max("_t").alias("n"),
        F.max("_ph").alias("max_ph_nano"),
        F.sum((F.col("_ph") > F.lit(lam_nano)).cast("long")).alias("n_alarms"),
        F.coalesce(
            F.min(F.when(F.col("_ph") > F.lit(lam_nano), F.col("_t"))),
            F.lit(0),
        ).cast("long").alias("first_alarm_pos"),
    )


def mannwhitney_drift(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int = 7,
    period: str = "day",
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) drift per (keys...,
    period bucket) vs the key's baseline window — the RANK companion
    to ks_drift: KS tests the maximum ECDF gap, U tests whether one
    sample is stochastically larger, is robust to outliers, and is
    the standard "did the latency/quality distribution shift" test.

    Exact integers end to end:
    - doubled midranks kill the half-integer: for a tie group of size
      t with C items below it, 2*midrank = 2C + t + 1, so
      u2 = 2*U = sum_v nd_v * (2*cum_t_v - t_v + 1) - n*(n+1)
      is an exact long;
    - the tie term T = sum_v (t^3 - t) is exact;
    - z_q6 quantizes z = (2U - n*m) / sqrt(n*m*((N^3-N) - T) /
      (3*N*(N-1))) — one fixed-shape float chain on exact-long
      operands (NULL when the variance is 0: all values tied).

    Caller bound: n*m*(N^3-N) < 2^63 — N up to ~40k rows per
    (key, bucket) at the tier grain; beyond that, pre-bucket values.

    Spark shape: ks_drift's evaluation points, one keyed aggregate.
    Only a period value carries rank mass: with t = nd + nb and the
    union's count at or below it cn + cm, 2U + n*(n+1) = sum nd*(2*(cn +
    cm) - t + 1); the tie term adds each baseline-only value's nb^3 - nb
    through the key's baseline total _tb.
    """
    pts = _value_points(
        df, key_cols, ts_col, value_col, baseline_days, period
    )
    t, nb = F.col("_nd") + F.col("_nb"), F.col("_nb")
    agg = pts.groupBy(*key_cols, "bucket_ts").agg(
        F.sum("_nd").alias("n_period"),
        F.max("_m").alias("n_baseline"),
        F.sum(
            F.col("_nd")
            * (F.lit(2) * (F.col("_cn") + F.col("_cm")) - t + F.lit(1))
        ).alias("_r2"),
        (
            F.sum(t * t * t - t - (nb * nb * nb - nb)) + F.max("_tb")
        ).alias("tie_term"),
    )
    n, m = F.col("n_period"), F.col("n_baseline")
    nn = n + m
    u2 = (F.col("_r2") - n * (n + F.lit(1))).alias("u2")
    var_num = (n * m * ((nn * nn * nn - nn) - F.col("tie_term"))).cast(
        "double"
    )
    var_den = (F.lit(3) * nn * (nn - F.lit(1))).cast("double")
    zr = (F.col("u2") - n * m).cast("double") / F.sqrt(
        var_num / var_den
    )
    z_q6 = (
        F.when(zr < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.floor(F.abs(zr) * 1e6 + F.lit(0.5))
    ).cast("long")
    return (
        agg.select(*key_cols, "bucket_ts", "n_period", "n_baseline",
                   u2, "tie_term")
        .select(
            *key_cols,
            "bucket_ts",
            "n_period",
            "n_baseline",
            "u2",
            "tie_term",
            F.when(
                (n > 0) & (m > 0)
                & ((nn * nn * nn - nn) > F.col("tie_term")),
                z_q6,
            ).alias("z_q6"),
        )
    )


def wasserstein_drift(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    baseline_days: int = 7,
    period: str = "day",
    bins: int = 10,
) -> DataFrame:
    """1-D earth mover's distance (Wasserstein-1) per (keys..., period
    bucket) vs the key's baseline window, over the SAME grid as
    tv_drift — completing the drift family (TV counts how much mass
    differs; W1 also counts how FAR it moved, the metric that
    distinguishes a one-bin jitter from a cross-range regime shift).

    The 1-D identity makes it exact: W1 = sum_i |CN_i/N - CM_i/M| in
    bin-width units, where CN/CM are cumulative histogram counts — so
    the numerator  sum_i |CN_i*M - CM_i*N|  is an exact integer, and
    the float w1 = numer/(N*M) is a display projection.

    Plan shape: tv_drift's keyed grid plus ONE window cumsum over the
    (key, period, bin) relation, keyed like the grid, so no exchange.
    """
    joined = _drift_grid(
        df, key_cols, ts_col, value_col, baseline_days, period, bins
    )
    w = W.partitionBy(*key_cols, "bucket_ts").orderBy("_bin")
    cn = F.sum(F.col("n_i").cast("long")).over(w)
    cm = F.sum(F.col("m_i").cast("long")).over(w)
    term = F.abs(
        cn * F.col("m_total").cast("long")
        - cm * F.col("n_total").cast("long")
    )
    return (
        joined.select(
            *key_cols, "bucket_ts", "n_total", "m_total",
            term.alias("_t"),
        )
        .groupBy(*key_cols, "bucket_ts", "m_total", "n_total")
        .agg(F.sum("_t").alias("w1_numer"))
        .select(
            *key_cols,
            "bucket_ts",
            F.col("w1_numer").cast("long").alias("w1_numer"),
            F.col("n_total").cast("long").alias("n_period"),
            F.col("m_total").cast("long").alias("n_baseline"),
            F.round(
                F.col("w1_numer")
                / (F.col("n_total").cast("double") * F.col("m_total")),
                6,
            ).alias("w1_bins"),
        )
    )
