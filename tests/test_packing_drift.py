"""Sequence packing (ops/packing.py) and the drift family (rollup/drift.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W, functions as F

from dads_spark.ops.packing import pack_sequences
from dads_spark.rollup.drift import tv_drift


def _docs(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 3).cast("string")).alias("lang"),
        (F.pmod(F.hash(F.col("id")), F.lit(900)) + 10).alias("n_toks"),
    )


def test_packing_invariants(spark):
    out = pack_sequences(_docs(spark), ["lang"], "doc_id", "n_toks", 2048).toPandas()
    assert (out["bin_offset"] >= 0).all() and (out["bin_offset"] < 2048).all()
    assert (out["spans_boundary"] == (out["bin_offset"] + out["n_tokens"] > 2048)).all()
    for lang, grp in out.sort_values("doc_id").groupby("lang"):
        # greedy fill: bin ids are non-decreasing, start at 0, and the
        # running offset reconstructs the cumulative token stream exactly
        assert grp["bin_id"].iloc[0] == 0
        assert (grp["bin_id"].diff().dropna() >= 0).all()
        cum = grp["n_tokens"].cumsum() - grp["n_tokens"]
        assert ((cum // 2048).to_numpy() == grp["bin_id"].to_numpy()).all()
        assert ((cum % 2048).to_numpy() == grp["bin_offset"].to_numpy()).all()


def test_packing_repartition_invariant(spark):
    docs = _docs(spark)
    a = pack_sequences(docs.coalesce(1), ["lang"], "doc_id", "n_toks", 2048)
    b = pack_sequences(
        docs.repartition(7, "doc_id"), ["lang"], "doc_id", "n_toks", 2048
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _drift_events(spark, shifted: bool):
    # 14 days of data: baseline week ~ Uniform(0,100); second week either
    # identical (no drift) or shifted +100 (total drift)
    base = spark.range(2_000).select(
        F.lit("t").alias("event_type"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") % (7 * 86_400)).alias("ts"),
        (F.pmod(F.hash("id"), F.lit(1000)) / 10.0).alias("value"),
    )
    second = spark.range(2_000).select(
        F.lit("t").alias("event_type"),
        F.timestamp_seconds(
            F.lit(1_700_000_000 + 7 * 86_400) + F.col("id") % (7 * 86_400)
        ).alias("ts"),
        (
            F.pmod(F.hash(F.col("id") + 77), F.lit(1000)) / 10.0
            + (F.lit(1000.0) if shifted else F.lit(0.0))
        ).alias("value"),
    )
    return base.union(second)


def test_tv_drift_extremes(spark):
    # identical generator -> small tv; fully shifted -> tv == 1 exactly
    calm = tv_drift(_drift_events(spark, False), ["event_type"], "ts", "value")
    calm_rows = calm.collect()
    assert calm_rows and all(r["tv"] < 0.25 for r in calm_rows)

    # fully shifted: every period value clamps into the top bin. The top
    # bin is NOT empty in the baseline (equal-width bins are fitted on the
    # baseline range, so bin 9 always holds v_hi), so the exact ceiling is
    # 2*N*(M - m_9), reproduced here bin-for-bin in numpy.
    import numpy as np

    src = _drift_events(spark, True)
    pdf = src.toPandas()
    t0 = pdf["ts"].min()
    base = pdf[pdf["ts"] < t0 + __import__("pandas").Timedelta(days=7)]
    bv = base["value"].to_numpy()
    lo, hi = bv.min(), bv.max()
    mb = np.bincount(
        np.clip(np.floor((bv - lo) / ((hi - lo) / 10.0)).astype(int), 0, 9),
        minlength=10,
    )
    M = len(bv)
    for r in tv_drift(src, ["event_type"], "ts", "value").collect():
        N = r["n_period"]
        n = np.zeros(10, dtype=np.int64)
        n[9] = N
        assert r["n_baseline"] == M
        assert r["tv_numer"] == int(np.abs(n * M - mb * N).sum())
        assert r["tv"] > 0.8


def test_tv_drift_zero_on_identical_histogram(spark):
    # literally the same rows re-timestamped into the next week -> every
    # bin ratio matches exactly -> integer numerator is exactly 0
    base = spark.range(1_000).select(
        F.lit("t").alias("event_type"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") % 86_400).alias("ts"),
        (F.pmod(F.hash("id"), F.lit(500)) / 5.0).alias("value"),
    )
    nxt = base.withColumn(
        "ts", F.timestamp_seconds(F.unix_timestamp("ts") + F.lit(8 * 86_400))
    )
    out = tv_drift(base.union(nxt), ["event_type"], "ts", "value").collect()
    assert out and all(r["tv_numer"] == 0 and r["tv"] == 0.0 for r in out)


def test_psi_drift_calm_vs_shifted(spark):
    from dads_spark.rollup.drift import psi_drift

    calm = psi_drift(_drift_events(spark, False), ["event_type"], "ts", "value").collect()
    assert calm and all(r["psi"] < 0.25 for r in calm)
    hot = psi_drift(_drift_events(spark, True), ["event_type"], "ts", "value").collect()
    # fully shifted distribution: PSI far beyond the 0.25 action threshold
    assert hot and all(r["psi"] > 1.0 for r in hot)


def test_psi_drift_matches_numpy_reference(spark):
    import math

    import numpy as np
    import pandas as pd

    from dads_spark.rollup.drift import psi_drift

    src = _drift_events(spark, True)
    pdf = src.toPandas()
    t0 = pdf["ts"].min()
    base = pdf[pdf["ts"] < t0 + pd.Timedelta(days=7)]
    bv = base["value"].to_numpy()
    lo, hi = bv.min(), bv.max()
    mb = np.bincount(
        np.clip(np.floor((bv - lo) / ((hi - lo) / 10.0)).astype(int), 0, 9),
        minlength=10,
    )
    M = len(bv)
    for r in psi_drift(src, ["event_type"], "ts", "value").collect():
        N = r["n_period"]
        n = np.zeros(10, dtype=np.int64)
        n[9] = N  # every shifted value clamps into the top bin
        want = 0
        for i in range(10):
            p = (n[i] + 1) / (N + 10)
            q = (mb[i] + 1) / (M + 10)
            lnr = math.log(float((n[i] + 1) * (M + 10))) - math.log(
                float((mb[i] + 1) * (N + 10))
            )
            want += math.floor((p - q) * lnr * 1e9 + 0.5)
        assert r["psi_q9"] == want


def test_psi_drift_partition_invariant(spark):
    from dads_spark.rollup.drift import psi_drift

    src = _drift_events(spark, False)
    a = sorted(tuple(r) for r in psi_drift(src.repartition(1), ["event_type"], "ts", "value").collect())
    b = sorted(tuple(r) for r in psi_drift(src.repartition(13), ["event_type"], "ts", "value").collect())
    assert a == b


def test_chi2_drift_zero_when_identical(spark):
    from pyspark.sql import functions as F

    from dads_spark.rollup import chi2_drift

    # same value distribution in baseline and period -> chi2 == 0
    rows = []
    for day in range(14):
        for i in range(100):
            rows.append(("k", f"2024-01-{day+1:02d} 00:{i % 60:02d}:00",
                         float(i % 10)))
    df = spark.createDataFrame(rows, "k string, ts string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = chi2_drift(df, ["k"], "ts", "value", baseline_days=7,
                     period="day", bins=10).collect()
    assert out and all(r.chi2_q6 == 0 for r in out)
    assert all(r.dof == 9 for r in out)


def test_chi2_drift_detects_shift(spark):
    from pyspark.sql import functions as F

    from dads_spark.rollup import chi2_drift

    rows = []
    for day in range(7):  # baseline: uniform 0..9
        for i in range(100):
            rows.append(("k", f"2024-01-{day+1:02d} 00:{i % 60:02d}:00",
                         float(i % 10)))
    for day in range(7, 10):  # period: all mass at 9
        for i in range(100):
            rows.append(("k", f"2024-01-{day+1:02d} 00:{i % 60:02d}:00",
                         9.0))
    df = spark.createDataFrame(rows, "k string, ts string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = chi2_drift(df, ["k"], "ts", "value", baseline_days=7,
                     period="day", bins=10).collect()
    # total shift: chi2 = n * (k - 1) = 100 * 9 = 900 for 10 equal bins
    assert all(r.chi2_q6 == 900_000_000 for r in out)


def test_wasserstein_vs_scalar_definition(spark):
    import numpy as np

    from dads_spark.rollup import wasserstein_drift

    # one key; baseline = first 7 days (value ~ N-ish ints), then one
    # shifted day — W1 must exceed 0 and equal the cumulative identity
    rows = []
    us = 86_400_000_000
    for d in range(7):
        for i in range(50):
            rows.append(("k", (d * us + i * 1000) // 1000, float(i % 10)))
    for i in range(50):
        rows.append(("k", (8 * us + i * 1000) // 1000, float(i % 10 + 3)))
    df = spark.createDataFrame(
        [(k, t, v) for k, t, v in rows],
        "event_type string, tms long, value double",
    ).select(
        "event_type",
        F.timestamp_micros(F.col("tms") * 1000).alias("ts"),
        "value",
    )
    out = wasserstein_drift(df, ["event_type"], "ts", "value").collect()
    assert len(out) == 1
    r = out[0]
    # scalar re-derivation: baseline = 7 days x 5 per value 0..9
    # (bin width 0.9 maps each integer value to its own bin, 9 clamps);
    # period day values 3..12 -> bins 3..8 get 5 each, bin 9 gets
    # 9/10/11/12 = 20
    m = [35] * 10
    n = [0, 0, 0, 5, 5, 5, 5, 5, 5, 20]
    N, M = sum(n), sum(m)
    cn = np.cumsum(n)
    cm = np.cumsum(m)
    want = int(np.abs(cn * M - cm * N).sum())
    assert r["w1_numer"] == want and r["n_period"] == N
    assert r["n_baseline"] == M


def _null_rows(spark):
    # key "a": baseline values 0..6 one a day, then day 8 holds 1.0, 5.0 and
    # a null value; plus a null-key series and a null-ts row of key "a"
    day = 86_400
    t0 = 1_699_920_000  # a UTC midnight
    rows = [("a", t0 + d * day + 3600, float(d)) for d in range(7)]
    rows += [("a", t0 + 8 * day + 3600 * i, v) for i, v in ((1, 1.0), (2, 5.0), (3, None))]
    rows += [(None, t0 + 3600, 5.0), (None, t0 + 8 * day + 3600, 5.0), ("a", None, 3.0)]
    return spark.createDataFrame(rows, "k string, s long, value double").select(
        "k", F.timestamp_seconds("s").alias("ts"), "value"
    )


def test_drift_null_rows(spark):
    """A null key or a null ts drops the row; a null value counts, in bin 0
    of the bin grid and as the lowest evaluation point of the ECDFs."""
    from dads_spark.rollup import ks_drift

    src = _null_rows(spark)
    bucket = 1_699_920_000 + 8 * 86_400
    # bins of width 2 over [0, 6]: baseline m = [2, 2, 3], day 8 n = [2, 0, 1]
    # (the null in bin 0): |2*7 - 2*3| + |0*7 - 2*3| + |1*7 - 3*3| = 16
    tv = tv_drift(src, ["k"], "ts", "value", bins=3)
    assert [tuple(r) for r in tv.select(
        "k", F.unix_seconds("bucket_ts"), "tv_numer", "n_period", "n_baseline"
    ).collect()] == [("a", bucket, 16, 3, 7)]
    # ECDF points null, 0..6: the max |cn*7 - cm*3| is 8, at value 1
    ks = ks_drift(src, ["k"], "ts", "value")
    assert [tuple(r) for r in ks.select(
        "k", F.unix_seconds("bucket_ts"), "ks_numer", "n_period", "n_baseline"
    ).collect()] == [("a", bucket, 8, 3, 7)]


def test_drift_null_values_merge(spark):
    """Null values on both sides of a ks/mw split are one evaluation point,
    the lowest, holding both sides' null counts."""
    from dads_spark.rollup import ks_drift, mannwhitney_drift

    day, t0 = 86_400, 1_699_920_000
    # baseline: null, null, 1, 2 (M = 4); day 8: null, null, 3 (N = 3)
    base = [(d, v) for d, v in ((0, None), (1, None), (2, 1.0), (3, 2.0))]
    rows = [("a", t0 + d * day + 3600, v) for d, v in base]
    rows += [("a", t0 + 8 * day + 3600 * i, v) for i, v in ((1, None), (2, None), (3, 3.0))]
    src = spark.createDataFrame(rows, "k string, s long, value double").select(
        "k", F.timestamp_seconds("s").alias("ts"), "value"
    )
    bucket = t0 + 8 * day
    # points null (2, 2), 1, 2, 3 with (cn, cm) = (2, 2), (2, 3), (2, 4),
    # (3, 4): max |cn*4 - cm*3| = 4 at value 2 (a null split into two points
    # would reach 8 or 6)
    ks = ks_drift(src, ["k"], "ts", "value")
    assert [tuple(r) for r in ks.select(
        "k", F.unix_seconds("bucket_ts"), "ks_numer", "n_period", "n_baseline"
    ).collect()] == [("a", bucket, 4, 3, 4)]
    # doubled ranks: the null tie group of 4 (ranks 1..4) gives the two
    # period nulls 2*2.5 each, the 3 rank 7: 2U = 2*(2.5 + 2.5 + 7) - 3*4 = 12;
    # tie term 4^3 - 4 = 60 (two groups of 2 would give 12)
    mw = mannwhitney_drift(src, ["k"], "ts", "value")
    assert [tuple(r) for r in mw.select(
        "k", F.unix_seconds("bucket_ts"), "n_period", "n_baseline", "u2",
        "tie_term", "z_q6",
    ).collect()] == [("a", bucket, 3, 4, 12, 60, 0)]


def _join_drift_grid(df, key_cols, ts_col, value_col, baseline_days, period, bins):
    """The bin grid as aggregates and broadcast joins: the reference for the
    keyed split."""
    from pyspark.sql.functions import broadcast

    from dads_spark.rollup.tiers import bucket_expr

    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bounds = df.groupBy(*key_cols).agg(F.min(t_us).alias("t0_us"))
    with_t = df.join(broadcast(bounds), key_cols).withColumn("_t_us", t_us)
    is_base = F.col("_t_us") < F.col("t0_us") + F.lit(baseline_days * 86_400_000_000)
    base_stats = (
        with_t.filter(is_base)
        .groupBy(*key_cols)
        .agg(F.min(value_col).alias("v_lo"), F.max(value_col).alias("v_hi"))
    )
    width = (F.col("v_hi") - F.col("v_lo")) / F.lit(float(bins))
    binned = (
        with_t.join(broadcast(base_stats), key_cols)
        .withColumn(
            "_bin",
            F.when(F.col("v_hi") == F.col("v_lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(bins - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor((F.col(value_col) - F.col("v_lo")) / width).cast("int"),
                    ),
                )
            ),
        )
        .withColumn("_is_base", is_base)
    )
    base_hist = (
        binned.filter("_is_base").groupBy(*key_cols, "_bin").agg(F.count(F.lit(1)).alias("m_i"))
    )
    base_total = base_hist.groupBy(*key_cols).agg(F.sum("m_i").alias("m_total"))
    per_hist = (
        binned.filter(~F.col("_is_base"))
        .groupBy(*key_cols, bucket_expr(ts_col, period), "_bin")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    per_total = per_hist.groupBy(*key_cols, "bucket_ts").agg(F.sum("n_i").alias("n_total"))
    grid = per_total.select(
        *key_cols, "bucket_ts", "n_total",
        F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("_bin"),
    )
    return (
        grid.join(per_hist, [*key_cols, "bucket_ts", "_bin"], "left")
        .join(broadcast(base_hist), [*key_cols, "_bin"], "left")
        .join(broadcast(base_total), key_cols)
        .withColumn("n_i", F.coalesce("n_i", F.lit(0)))
        .withColumn("m_i", F.coalesce("m_i", F.lit(0)))
    )


def _join_value_grid(df, key_cols, ts_col, value_col, baseline_days, period):
    """The ks/mw value grid as aggregates, a broadcast and a full join."""
    from pyspark.sql.functions import broadcast

    from dads_spark.rollup.tiers import bucket_expr

    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bounds = df.groupBy(*key_cols).agg(F.min(t_us).alias("t0_us"))
    with_t = df.join(broadcast(bounds), key_cols).withColumn("_t_us", t_us)
    is_base = F.col("_t_us") < F.col("t0_us") + F.lit(baseline_days * 86_400_000_000)
    base_vc = (
        with_t.filter(is_base)
        .groupBy(*key_cols, F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    per_vc = (
        with_t.filter(~is_base)
        .groupBy(*key_cols, bucket_expr(ts_col, period), F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_nd"))
    )
    buckets = per_vc.select(*key_cols, "bucket_ts").distinct()
    return (
        per_vc.join(
            buckets.join(broadcast(base_vc), key_cols), [*key_cols, "bucket_ts", "_v"], "full"
        )
        .withColumn("_nd", F.coalesce("_nd", F.lit(0)).cast("long"))
        .withColumn("_nb", F.coalesce("_nb", F.lit(0)).cast("long"))
    )


def _grid_ks(pts, key_cols):
    """ks_drift's finalizer over the value grid: the ECDF gap at every point."""
    w = W.partitionBy(*key_cols, "bucket_ts").orderBy("_v")
    w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy(*key_cols, "bucket_ts")
    cum = pts.select(
        *key_cols, "bucket_ts",
        F.sum("_nd").over(w).alias("_cn"), F.sum("_nb").over(w).alias("_cm"),
        F.sum("_nd").over(wall).alias("_n"), F.sum("_nb").over(wall).alias("_m"),
    )
    return cum.groupBy(*key_cols, "bucket_ts").agg(
        F.max(F.abs(F.col("_cn") * F.col("_m") - F.col("_cm") * F.col("_n")))
        .cast("long").alias("ks_numer"),
        F.max("_n").alias("n_period"),
        F.max("_m").alias("n_baseline"),
    )


def _grid_mw(pts, key_cols):
    """mannwhitney_drift's doubled rank sum and tie term over the value grid."""
    w = W.partitionBy(*key_cols, "bucket_ts").orderBy("_v")
    w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    t = F.col("_nd") + F.col("_nb")
    cum = pts.select(*key_cols, "bucket_ts", "_nd", "_nb", t.alias("_t"),
                     F.sum(t).over(w).alias("_ct"))
    n = F.sum("_nd")
    return cum.groupBy(*key_cols, "bucket_ts").agg(
        n.alias("n_period"),
        F.sum("_nb").alias("n_baseline"),
        (F.sum(F.col("_nd") * (2 * F.col("_ct") - F.col("_t") + 1)) - n * (n + 1))
        .alias("u2"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")).alias("tie_term"),
    )


def _drift_family_events(spark):
    # two key columns; "flat" has a constant baseline (one bin), "b" shifts
    # past its baseline range after day 10; values tie (40 distinct)
    sec = (F.col("id") * 7919) % (15 * 86_400)
    keys = F.array(*map(F.lit, ["a", "b", "c", "flat"]))
    k = F.element_at(keys, (F.col("id") % 4 + 1).cast("int"))
    v = F.pmod(F.hash("id"), F.lit(40)) / 4.0
    value = (
        F.when((k == "flat") & (sec < 8 * 86_400), F.lit(5.0))
        .when((k == "b") & (sec > 10 * 86_400), v + 12.0)
        .otherwise(v)
    )
    return spark.range(3_000).select(
        k.alias("k"),
        (F.col("id") % 3).alias("g"),
        F.timestamp_seconds(F.lit(1_704_067_200) + sec).alias("ts"),
        value.alias("value"),
    )


def test_drift_family_equals_join_grids(spark, monkeypatch):
    """All six drift operators give the outputs of the aggregate-and-join
    grids they replaced, over 1 and 13 input partitions: the bin-grid
    finalizers over the join grid, and ks/mw's integer columns against
    their finalizers over the replicated value grid."""
    from dads_spark.rollup import drift

    src = _drift_family_events(spark)
    keys = ["k", "g"]
    bin_ops = [drift.tv_drift, drift.psi_drift, drift.chi2_drift, drift.wasserstein_drift]
    ks_cols = [*keys, "bucket_ts", "ks_numer", "n_period", "n_baseline"]
    mw_cols = [*keys, "bucket_ts", "n_period", "n_baseline", "u2", "tie_term"]

    def rows(df, cols=None):
        return sorted(tuple(r) for r in (df.select(*cols) if cols else df).collect())

    def outputs():
        out = {}
        for n in (1, 13):
            part = src.repartition(n)
            for op in bin_ops:
                out[op.__name__, n] = rows(op(part, keys, "ts", "value"))
            out["ks", n] = rows(drift.ks_drift(part, keys, "ts", "value"), ks_cols)
            out["mw", n] = rows(drift.mannwhitney_drift(part, keys, "ts", "value"), mw_cols)
        return out

    got = outputs()
    monkeypatch.setattr(drift, "_drift_grid", _join_drift_grid)
    want = outputs()
    for n in (1, 13):
        pts = _join_value_grid(src.repartition(n), keys, "ts", "value", 7, "day")
        want["ks", n] = rows(_grid_ks(pts, keys), ks_cols)
        want["mw", n] = rows(_grid_mw(pts, keys), mw_cols)
    assert all(got[c] for c in got)
    for case in want:
        assert got[case] == want[case], case


@pytest.mark.parametrize("op", ["tv_drift", "wasserstein_drift", "ks_drift", "mannwhitney_drift"])
def test_drift_plan_is_one_keyed_exchange(spark, op):
    from dads_spark.rollup import drift

    out = getattr(drift, op)(_drift_events(spark, True), ["event_type"], "ts", "value")
    assert out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the final AQE plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan, plan


def test_chunk_documents_overlap_and_stubs(spark):
    import hashlib

    from dads_spark.ops import chunk_documents

    words = [f"w{i}" for i in range(100)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b c")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_documents(
            docs, chunk_tokens=64, overlap=16
        ).collect()
    }
    # doc 1: chunk 0 = tokens 0..63; chunk 1 = tokens 48..99 (52 toks);
    # chunk 2 would cover 96..99 -- all inside chunk 1 -> dropped
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    c0, c1 = out[(1, 0)], out[(1, 1)]
    assert (c0["first_pos"], c0["last_pos"], c0["n_tokens"]) == (0, 63, 64)
    assert (c1["first_pos"], c1["last_pos"], c1["n_tokens"]) == (48, 99, 52)
    want = hashlib.md5(" ".join(words[:64]).encode()).hexdigest()
    assert c0["chunk_md5"] == want
    # short doc: single chunk with everything
    s = out[(2, 0)]
    assert s["n_tokens"] == 3
    assert s["chunk_md5"] == hashlib.md5(b"a b c").hexdigest()


def test_chunk_documents_full_coverage(spark):
    from dads_spark.ops import chunk_documents

    n = 150
    docs = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(n)))],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=64, overlap=16).collect()
    covered = set()
    for r in rows:
        covered |= set(range(r["first_pos"], r["last_pos"] + 1))
    assert covered == set(range(n)), "every token in some chunk"
