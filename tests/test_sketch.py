"""Quantile-digest rank-error bounds + merge invariance."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dads_spark.ops.sketch import quantile_digest


@pytest.fixture(scope="module")
def values(spark):
    rng = np.random.default_rng(17)
    frames = []
    for key, dist in [
        ("normal", rng.normal(50, 10, 20_000)),
        ("lognorm", rng.lognormal(2, 1, 20_000)),
    ]:
        frames.append(pd.DataFrame({"k": key, "v": dist}))
    pdf = pd.concat(frames)
    return spark.createDataFrame(pdf), pdf


PROBS = [0.1, 0.5, 0.9, 0.99]


def test_rank_error_within_bound(spark, values):
    df, pdf = values
    out = quantile_digest(df, ["k"], "v", PROBS, compression=256).toPandas()
    for key, grp in pdf.groupby("k"):
        v = np.sort(grp["v"].to_numpy())
        for p in PROBS:
            approx = out[(out.k == key) & (out.prob == p)]["value"].iloc[0]
            realized = np.searchsorted(v, approx) / len(v)
            assert abs(realized - p) <= 0.02, (key, p, realized)


def test_partitioning_invariance(spark, values):
    df, _ = values
    a = quantile_digest(df, ["k"], "v", [0.5], 128).toPandas()
    b = quantile_digest(df.repartition(17), ["k"], "v", [0.5], 128).toPandas()
    a = a.sort_values("k").reset_index(drop=True)
    b = b.sort_values("k").reset_index(drop=True)
    # merge is order-insensitive over centroid multisets; different
    # partitionings give different partials, so values agree to rank
    # tolerance, not bitwise
    for x, y in zip(a["value"], b["value"]):
        assert x == pytest.approx(y, rel=0.05)


def test_exact_when_under_compression(spark):
    # fewer distinct values than compression: digest is exact interpolation
    pdf = pd.DataFrame({"k": "s", "v": np.arange(100, dtype=float)})
    df = spark.createDataFrame(pdf).coalesce(1)
    out = quantile_digest(df, ["k"], "v", [0.5], compression=256).toPandas()
    assert out["value"].iloc[0] == pytest.approx(49.5, abs=0.5)


def test_hour_to_day_cascade_from_stored_sketches(spark):
    # quantiles of a day merged FROM the stored hour sketches track the
    # exact day quantiles — without re-reading raw data
    from pyspark.sql import functions as F

    from dads_spark.ops.sketch import digest, digest_quantiles, merge_digests

    rng = np.random.default_rng(31)
    hours = [f"2024-01-01 {h:02d}" for h in range(24)]
    pdf = pd.DataFrame(
        {
            "day": "2024-01-01",
            "hour": np.repeat(hours, 2000),
            # hour-dependent location: merging must weigh hours correctly
            "v": np.concatenate(
                [rng.normal(10 + h, 3, 2000) for h in range(24)]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    hour_sketches = digest(df, ["day", "hour"], "v", compression=128)
    day_q = digest_quantiles(
        merge_digests(hour_sketches.drop("hour"), ["day"], 128), ["day"], [0.5, 0.9]
    ).toPandas()
    v = np.sort(pdf["v"].to_numpy())
    for p in (0.5, 0.9):
        approx = day_q[day_q.prob == p]["value"].iloc[0]
        realized = np.searchsorted(v, approx) / len(v)
        assert abs(realized - p) <= 0.02, (p, realized)


# --- reference: the per-group pandas paths the Arrow kernel replaced -------


def _reference_paths():
    """(digest, merge_digests, digest_quantiles) as they ran before the
    Arrow kernel: a mapInPandas partial per partition and one pandas call
    per group. Closures, so Spark pickles them by value to the workers."""
    from dads_spark.ops.sketch import _cluster

    def _sketch_schema(key_cols):
        return ", ".join(
            [f"{k} string" for k in key_cols]
            + ["centroids array<double>", "weights array<double>"]
        )

    def merge_rows(pdf, compression):
        v = np.concatenate([np.asarray(c, dtype=np.float64) for c in pdf["centroids"]])
        w = np.concatenate([np.asarray(c, dtype=np.float64) for c in pdf["weights"]])
        order = np.argsort(v, kind="stable")
        v, w = v[order], w[order]
        if len(v) > 4 * compression:
            v, w = _cluster(v, w, 4 * compression)
        return v, w

    def merge_digests(sketches, key_cols, compression=256):
        def merge(keys, pdf):
            v, w = merge_rows(pdf, compression)
            return pd.DataFrame(
                {
                    **{k: [kv] for k, kv in zip(key_cols, keys)},
                    "centroids": [v.tolist()],
                    "weights": [w.tolist()],
                }
            )

        return sketches.groupBy(*key_cols).applyInPandas(merge, _sketch_schema(key_cols))

    def digest(df, key_cols, value_col, compression=256):
        def partial(it):
            rows = {k: [] for k in key_cols} | {"centroids": [], "weights": []}
            for pdf in it:
                for keys, grp in pdf.groupby(key_cols, sort=False):
                    if not isinstance(keys, tuple):
                        keys = (keys,)
                    v = np.sort(grp[value_col].to_numpy(dtype=np.float64))
                    means, wts = _cluster(v, np.ones(len(v)), compression)
                    for k, kv in zip(key_cols, keys):
                        rows[k].append(kv)
                    rows["centroids"].append(means.tolist())
                    rows["weights"].append(wts.tolist())
            yield pd.DataFrame(rows)

        partials = df.select(*key_cols, value_col).mapInPandas(
            partial, _sketch_schema(key_cols)
        )
        return merge_digests(partials, key_cols, compression)

    def digest_quantiles(sketches, key_cols, probs):
        probs = sorted(float(p) for p in probs)
        out_schema = ", ".join(
            [f"{k} string" for k in key_cols] + ["prob double", "value double"]
        )

        def quant(keys, pdf):
            v, w = merge_rows(pdf, 1 << 30)
            cum = np.cumsum(w) - w / 2.0
            total = w.sum()
            qs = np.interp([p * total for p in probs], cum, v)
            return pd.DataFrame(
                {
                    **{k: kv for k, kv in zip(key_cols, keys)},
                    "prob": np.asarray(probs, dtype=np.float64),
                    "value": qs,
                }
            )

        return sketches.groupBy(*key_cols).applyInPandas(quant, out_schema)

    return digest, merge_digests, digest_quantiles


def _rows(df, keys):
    out = df.toPandas().sort_values(keys).reset_index(drop=True)
    for c in ("centroids", "weights"):
        if c in out:
            out[c] = [list(x) for x in out[c]]
    return out.to_dict("records")


def _hours_frame(spark, n_hours, per_hour, seed):
    # rounded values: many ties, so the merge's stable order is exercised
    rng = np.random.default_rng(seed)
    hours = [f"2024-01-0{1 + h % 2} {h:02d}" for h in range(n_hours)]
    pdf = pd.DataFrame(
        {
            "day": [h[:10] for h in np.repeat(hours, per_hour)],
            "hour": np.repeat(hours, per_hour),
            "v": np.round(rng.gamma(2.0, 20.0, n_hours * per_hour)),
        }
    )
    return spark.createDataFrame(pdf)


def _assert_bit_identical(df, compression):
    from dads_spark.ops.sketch import digest, digest_quantiles, merge_digests

    ref_digest, ref_merge_digests, ref_digest_quantiles = _reference_paths()
    keys = ["day", "hour"]
    got_h = digest(df, keys, "v", compression)
    ref_h = ref_digest(df, keys, "v", compression)
    assert _rows(got_h, keys) == _rows(ref_h, keys)
    got_d = merge_digests(got_h.drop("hour"), ["day"], compression)
    ref_d = ref_merge_digests(ref_h.drop("hour"), ["day"], compression)
    assert _rows(got_d, ["day"]) == _rows(ref_d, ["day"])
    probs = [0.1, 0.5, 0.9]
    assert _rows(digest_quantiles(got_h, keys, probs), keys + ["prob"]) == _rows(
        ref_digest_quantiles(ref_h, keys, probs), keys + ["prob"]
    )
    assert _rows(digest_quantiles(got_d, ["day"], probs), ["day", "prob"]) == _rows(
        ref_digest_quantiles(ref_d, ["day"], probs), ["day", "prob"]
    )


def test_bit_identical_to_pandas_path_small_groups(spark):
    # every (day, hour) group stays under compression: no clustering
    _assert_bit_identical(_hours_frame(spark, 24, 6, seed=3), compression=64)


def test_bit_identical_to_pandas_path_clustered_group(spark):
    # 200 values per hour: the partial clusters each hour to 16 centroids,
    # and each day merges 12 hours of them, over 4 * 16, so the day merge
    # clusters again
    _assert_bit_identical(_hours_frame(spark, 24, 200, seed=5), compression=16)


def test_bit_identical_to_pandas_path_groups_span_batches(spark):
    # 3-row Arrow batches: partial groups split per batch and every merge
    # group spans several batches, so the trailing group is carried over
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        _assert_bit_identical(_hours_frame(spark, 6, 7, seed=7), compression=4)
    finally:
        spark.conf.set(key, old)


def test_null_key_rows_form_one_sketch(spark):
    from dads_spark.ops.sketch import digest

    pdf = pd.DataFrame(
        {"k": ["a", None, "b", None, "a", None], "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]}
    )
    out = digest(spark.createDataFrame(pdf), ["k"], "v").toPandas()
    nulls = out[out.k.isna()]
    assert len(nulls) == 1
    assert sum(nulls["weights"].iloc[0]) == 3.0
    assert sorted(nulls["centroids"].iloc[0]) == [2.0, 4.0, 6.0]
    assert sorted(out.k.dropna()) == ["a", "b"]


def test_sketch_plans_run_one_arrow_kernel(spark, values):
    from dads_spark.ops.sketch import digest, digest_quantiles, merge_digests

    df, _ = values
    hour = digest(df, ["k"], "v", 64)
    for out in (
        hour,
        merge_digests(hour, ["k"], 64),
        digest_quantiles(hour, ["k"], PROBS),
    ):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, plan
        assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan, plan
