"""resample_grid (relational grid resampling) and pattern_topk
(z-normalized subsequence search) unit tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dads_spark.oracles import pattern_topk_oracle
from dads_spark.rollup import pattern_topk, pattern_topk_kernel, resample_grid

RNG = np.random.default_rng(3)


def _series_df(spark, ts, vals, key="a"):
    pdf = pd.DataFrame({"k": key, "sec": np.asarray(ts, dtype=np.int64),
                        "v": np.asarray(vals, dtype=np.float64)})
    return spark.createDataFrame(pdf)


def test_resample_linear_matches_interp(spark):
    ts = np.sort(RNG.choice(np.arange(0, 100_000), size=200, replace=False))
    vals = RNG.normal(50, 10, len(ts)).round(3)
    out = (
        resample_grid(_series_df(spark, ts, vals), ["k"], "sec", "v", 3600)
        .orderBy("bucket_ts")
        .toPandas()
    )
    g0 = -(-ts[0] // 3600) * 3600
    g1 = ts[-1] // 3600 * 3600
    grid = np.arange(g0, g1 + 1, 3600)
    assert len(out) == len(grid)
    want = np.interp(grid, ts, vals)
    assert np.allclose(out["v"].to_numpy(), want, atol=1e-9)


def test_resample_exact_points_and_locf(spark):
    ts = np.array([0, 3600, 7200, 14400])  # gap at 10800
    vals = np.array([1.0, 2.0, 4.0, 8.0])
    lin = (
        resample_grid(_series_df(spark, ts, vals), ["k"], "sec", "v", 3600)
        .orderBy("bucket_ts").toPandas()
    )
    assert lin["v"].tolist() == [1.0, 2.0, 4.0, 6.0, 8.0]
    assert lin["exact"].tolist() == [True, True, True, False, True]
    locf = (
        resample_grid(_series_df(spark, ts, vals), ["k"], "sec", "v", 3600,
                      method="locf")
        .orderBy("bucket_ts").toPandas()
    )
    assert locf["v"].tolist() == [1.0, 2.0, 4.0, 4.0, 8.0]


def test_resample_upsample(spark):
    # coarser samples onto a finer grid: every interior point interpolated
    out = (
        resample_grid(_series_df(spark, [0, 7200], [0.0, 4.0]), ["k"], "sec",
                      "v", 1800)
        .orderBy("bucket_ts").toPandas()
    )
    assert out["v"].tolist() == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_resample_single_observation(spark):
    aligned = resample_grid(_series_df(spark, [7200], [5.0]), ["k"], "sec", "v", 3600)
    assert aligned.count() == 1 and aligned.first()["v"] == 5.0
    unaligned = resample_grid(_series_df(spark, [7201], [5.0]), ["k"], "sec", "v", 3600)
    assert unaligned.count() == 0  # no grid point between ceil and floor


def test_resample_method_validation(spark):
    with pytest.raises(ValueError, match="linear.*locf"):
        resample_grid(_series_df(spark, [0], [1.0]), ["k"], "sec", "v", 60,
                      method="nearest")


def test_pattern_kernel_finds_planted_shape():
    m = 24
    pat = np.sin(2 * np.pi * np.arange(m) / m)
    x = RNG.normal(0, 1, 500)
    x[200:224] = 7.0 + 3.0 * pat  # planted, offset+scaled (z-norm invariant)
    top = pattern_topk_kernel(x, pat, 3)
    assert top[0][0] == 200
    assert top[0][1] == 0  # z-normalized distance exactly 0 -> q6 == 0


def test_pattern_kernel_matches_direct_oracle():
    pat = np.sin(2 * np.pi * np.arange(24) / 24)
    for n in (100, 500, 683):
        x = np.round(RNG.normal(40, 8, n))
        assert pattern_topk_kernel(x, pat, 5) == pattern_topk_oracle(x, pat, 5)


def test_pattern_grouped(spark):
    pat = np.sin(2 * np.pi * np.arange(24) / 24)
    x = RNG.normal(0, 1, 300)
    x[100:124] = pat
    pdf = pd.DataFrame({"k": "s1", "t": np.arange(300), "v": x})
    out = pattern_topk(spark.createDataFrame(pdf), ["k"], "t", "v",
                       pat.tolist(), k=2).toPandas()
    assert len(out) == 2
    assert out.loc[out["rank"] == 1, "window_idx"].iloc[0] == 100


def test_neighbour_frames_grow_from_partition_start(spark):
    # Spark re-aggregates an (n, unboundedFollowing) frame for every row,
    # O(n^2) per series; both "next" lookups must run over reversed order
    from dads_spark.rollup import funnel_with_exclusion

    df = _series_df(spark, [0, 5000, 9000], [1.0, 2.0, 4.0])
    events = spark.createDataFrame(
        [(1, 100, "click"), (1, 150, "error"), (1, 200, "purchase")],
        "user_id long, sec long, event_type string",
    ).selectExpr("user_id", "timestamp_seconds(sec) AS ts", "event_type")
    for out in (
        resample_grid(df, ["k"], "sec", "v", 3600, method="linear"),
        funnel_with_exclusion(
            events, "user_id", "ts", "event_type", "click", "purchase", "error", 3600
        ),
    ):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString().lower()
        assert "specifiedwindowframe" in plan, plan
        assert "unboundedfollowing" not in plan, plan
