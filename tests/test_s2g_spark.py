"""Spark pipeline vs NumPy oracle: bit-parity at equal partitioning."""

from __future__ import annotations

import re

import numpy as np
import pytest

from dads_spark.fixtures import benchmark_series
from dads_spark.s2g import S2GParams, s2g_oracle
from dads_spark.s2g.pipeline import run_s2g_distributed, score_series_grouped

PARAMS = S2GParams(m=20, c=6, S=30, ell=30)


@pytest.fixture(scope="module")
def series():
    return benchmark_series(1500, seed=11)


def _series_df(spark, series):
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(series)], "idx long, value double"
    )


def test_distributed_bit_parity(spark, series):
    df = _series_df(spark, series)
    # rerun with 7-row Arrow batches: every slice and segment group then
    # reaches its stage as a table of many chunks
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    try:
        for batch in (default, "7"):
            spark.conf.set(key, batch)
            for p in (1, 4):
                out = (
                    # threshold=0: force the DISTRIBUTED plan (the adaptive
                    # small-input path would trivially compare oracle to oracle)
                    run_s2g_distributed(
                        spark, df, PARAMS, n_slices=p, n=len(series),
                        small_series_threshold=0,
                    )
                    .orderBy("window_idx")
                    .toPandas()
                )
                ora = s2g_oracle(series, PARAMS, n_slices=p)
                assert len(out) == len(ora.scores)
                assert (out["window_idx"].to_numpy() == np.arange(len(out))).all()
                assert (out["score"].to_numpy() == ora.scores).all(), (
                    f"spark vs oracle not bit-identical at P={p}"
                )
    finally:
        spark.conf.set(key, default)


def test_sliced_plan_is_arrow_over_a_fixed_slice_exchange(spark, series):
    """Every slice stage crosses the Python boundary as Arrow, and the slice
    exchange is the caller's P-way repartition, which AQE cannot coalesce."""
    out = run_s2g_distributed(
        spark, _series_df(spark, series), PARAMS, n_slices=4, n=len(series),
        small_series_threshold=0,
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan
    assert "InPandas" not in plan
    assert re.search(r"hashpartitioning\(slice_id#\d+L, 4\), REPARTITION_BY_NUM", plan)


def test_sliced_run_keeps_only_its_result_cached(spark, series):
    """A sliced run releases its intermediate caches; only the raw scores
    the returned frame reads stay cached."""
    df = _series_df(spark, series)
    jsc = spark.sparkContext._jsc.sc()
    cached = [len(jsc.getRDDStorageInfo())]
    for _ in range(2):
        run_s2g_distributed(
            spark, df, PARAMS, n_slices=3, n=len(series), small_series_threshold=0
        ).collect()
        cached.append(len(jsc.getRDDStorageInfo()))
    assert cached[1] - cached[0] <= 1 and cached[2] - cached[1] <= 1, cached


def test_small_series_adaptive_path_identical(spark, series):
    """The adaptive small-input path must return exactly the distributed
    plan's rows (same schema, same bits)."""
    df = _series_df(spark, series)
    fast = run_s2g_distributed(
        spark, df, PARAMS, n_slices=4, n=len(series)
    ).orderBy("window_idx").toPandas()
    dist = run_s2g_distributed(
        spark, df, PARAMS, n_slices=4, n=len(series), small_series_threshold=0
    ).orderBy("window_idx").toPandas()
    assert list(fast.columns) == list(dist.columns)
    assert (fast["window_idx"].to_numpy() == dist["window_idx"].to_numpy()).all()
    assert (fast["score"].to_numpy() == dist["score"].to_numpy()).all()


def test_grouped_scorer_matches_oracle(spark):
    keys = ["a", "b", "c"]
    rows = []
    for k_i, k in enumerate(keys):
        x = benchmark_series(900, seed=k_i)
        rows += [(k, i, float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, "domain string, t long, value double")
    out = score_series_grouped(df, ["domain"], "t", "value", PARAMS).toPandas()
    for k_i, k in enumerate(keys):
        x = benchmark_series(900, seed=k_i)
        ora = s2g_oracle(x, PARAMS, n_slices=1)
        got = out[out["domain"] == k].sort_values("window_idx")["score"].to_numpy()
        assert len(got) == len(ora.scores)
        assert (got == ora.scores).all()


def test_grouped_scorer_skips_short_series(spark):
    df = spark.createDataFrame(
        [("tiny", i, float(i)) for i in range(10)], "domain string, t long, value double"
    )
    out = score_series_grouped(df, ["domain"], "t", "value", PARAMS).toPandas()
    assert len(out) == 0


def test_heterogeneous_slice_plan_semantics():
    """slice_bounds_weighted replicates the reference's heterogeneous
    factory: weights sorted ascending, ceil(n*share)+overlap per slice,
    exact remainder for the last, advance = max(1, size-overlap)."""
    from dads_spark.s2g.core import slice_bounds_weighted

    n, m = 1000, 20  # overlap 19
    plan = slice_bounds_weighted(n, [2.0, 1.0, 1.0], m)  # sorted -> 1,1,2
    assert [s.slice_id for s in plan] == [0, 1, 2]
    # shares 0.25, 0.25, 0.5: lengths ceil(250)+19, ceil(250)+19, remainder
    assert (plan[0].start, plan[0].end) == (0, 269)
    assert plan[1].start == 0 + (269 - 19)
    assert plan[1].end == 250 + 269
    assert plan[2].end == n  # exact remainder
    assert plan[1].first_subseq == 250
    assert plan[2].first_subseq == 500
    # total coverage: every subsequence owned exactly once
    total_subseq = sum(s.n_subsequences(m) for s in plan)
    assert total_subseq == n - m + 1


def test_distributed_heterogeneous_bit_parity(spark, series):
    """The distributed plan under a memory-proportional slice plan is
    bit-identical to the oracle replaying the SAME plan."""
    from dads_spark.s2g.core import slice_bounds_weighted

    plan = slice_bounds_weighted(len(series), [1.0, 2.0, 4.0], PARAMS.m)
    assert len(plan) == 3 and len({s.end - s.start for s in plan}) > 1
    df = _series_df(spark, series)
    out = (
        run_s2g_distributed(
            spark, df, PARAMS, n_slices=len(plan), n=len(series),
            small_series_threshold=0, slices=plan,
        )
        .orderBy("window_idx")
        .toPandas()
    )
    ora = s2g_oracle(series, PARAMS, slices=plan)
    assert (out["score"].to_numpy() == ora.scores).all()


def test_graph_edges_grouped_matches_oracle(spark):
    """The exposed per-series edge list equals the oracle's merged graph."""
    import numpy as np
    import pandas as pd

    from dads_spark.s2g import CANONICAL
    from dads_spark.s2g.oracle import s2g_oracle
    from dads_spark.s2g.pipeline import graph_edges_grouped
    from dads_spark.fixtures import benchmark_series

    x = benchmark_series(1200)
    df = spark.createDataFrame(
        pd.DataFrame({"k": "s", "t": np.arange(len(x)), "v": x})
    )
    got = graph_edges_grouped(df, ["k"], "t", "v", CANONICAL).toPandas()
    want = s2g_oracle(np.asarray(x), CANONICAL, n_slices=1).edge_weights
    got_map = {
        (r.from_seg, r.from_idx, r.to_seg, r.to_idx): r.weight
        for r in got.itertuples()
    }
    assert got_map == {k: int(v) for k, v in want.items()}
