"""The whole-group Arrow runner behind every per-series operator.

Each operator routed through ``dads_spark.groups`` is checked on a string
key and on a long key: output key types equal input key types, the
executed plan runs one ``MapInArrow`` and no pandas node, and every output
row equals the operator's NumPy kernel, or its scalar oracle, applied to
each series (exact ``==``). Gap-fill and blob encoding have no kernel-level
function, so the pandas paths they replaced are kept below as their
reference. The frame holds a null key and series that span many 3-row
Arrow batches; its ``n`` column is the integral ``w`` as a long, the input
of the integer kernels.

The row-batch runner ``map_batches`` is checked on its own: a list column
arrives as a matrix, a matrix fills a list field, a null or ragged row is
refused, and an empty input gives an empty typed frame.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from dads_spark.compress import (
    compressed_tier_roundtrip,
    pla_segments_grouped,
    simple8b_tier_roundtrip,
)
from dads_spark.compress.blobstore import compressed_tier_blobs
from dads_spark.compress.pla import swing_segments
from dads_spark.fixtures import benchmark_series
from dads_spark.groups import list_matrix, map_batches
from dads_spark.ops import isotonic_fit
from dads_spark.ops.calibrate import _pav_blocks
from dads_spark.ops.sketch import digest, digest_quantiles
from dads_spark.oracles import haar_topk_oracle, seasonal_esd_oracle, vopt_oracle
from dads_spark.rollup import (
    acf_dominant_period,
    asap_smooth_params,
    auto_penalty,
    croston_grouped,
    cusum_grouped,
    discords_grouped,
    ewma_smooth,
    gap_fill_linear,
    gap_fill_locf,
    haar_topk_grouped,
    holt_residuals_grouped,
    holt_winters_grouped,
    lttb_downsample,
    mann_kendall_grouped,
    matrix_profile_grouped,
    motifs_grouped,
    pattern_topk,
    pelt_changepoints,
    pelt_grouped,
    seasonal_esd_grouped,
    theil_sen_grouped,
    vopt_histogram_grouped,
)
from dads_spark.rollup.downsample import asap_window_search, lttb_indices
from dads_spark.rollup.forecast import croston, cusum_changepoints, holt_forecast, holt_winters
from dads_spark.rollup.matrixprofile import matrix_profile, top_discords, top_motifs
from dads_spark.rollup.patterns import pattern_topk_kernel
from dads_spark.rollup.trend import (
    dtw_banded,
    dtw_pairs_grouped,
    mann_kendall_stats,
    theil_sen_slope,
)
from dads_spark.s2g import S2GParams, s2g_oracle
from dads_spark.s2g.discord import (
    discord_series_grouped,
    drag_discords,
    matrix_profile_self_sampled,
    merge_ranges,
)
from dads_spark.s2g.pipeline import (
    graph_edges_grouped,
    min_series_length,
    score_series_grouped,
)

PARAMS = S2GParams(m=10, c=4, S=10, ell=10)
M = 8
PROBS = [0.1, 0.5, 0.9]
LENGTHS = {"a": 200, "b": 120, None: 150, "c": 12}  # "c" is too short for most kernels
LONG_KEYS = {"a": 1, "b": 2, "c": 3, None: None}
T0 = pd.Timestamp("2024-01-01")
H_MAX = max(n + n // 10 for n in LENGTHS.values()) - 1  # the frame's last hour offset
PATTERN = np.sin(np.linspace(0.0, 2.0 * np.pi, 12))


@pytest.fixture(scope="module")
def series():
    """Per key: (hour offsets with gaps, values, second values)."""
    rng = np.random.default_rng(23)
    out = {}
    for i, (key, n) in enumerate(LENGTHS.items()):
        hours = np.arange(n + n // 10)
        keep = np.sort(rng.choice(hours[1:-1], n - 2, replace=False))
        hours = np.concatenate(([hours[0]], keep, [hours[-1]]))
        v = benchmark_series(n, seed=i) + np.where(np.arange(n) > n // 2, 3.0, 0.0)
        out[key] = (hours, v, np.round(rng.gamma(2.0, 5.0, n)))
    return out


@pytest.fixture(scope="module")
def frames(spark, series):
    pdf = pd.concat(
        pd.DataFrame(
            {
                "k": key,
                "ts": T0 + pd.to_timedelta(h, unit="h"),
                "h": h,
                "v": v,
                "w": w,
                "n": w.astype(np.int64),
            }
        )
        for key, (h, v, w) in series.items()
    ).sample(frac=1.0, random_state=5)
    schema = "k string, ts timestamp, h long, v double, w double, n long"
    df = spark.createDataFrame(pdf, schema).repartition(3)
    as_long = F.expr("CASE k WHEN 'a' THEN 1 WHEN 'b' THEN 2 WHEN 'c' THEN 3 END")
    return {"string": df, "long": df.withColumn("k", as_long.cast("long"))}


# --- per-series expectations from the NumPy kernels ------------------------


def _scores(x):
    if len(x) < min_series_length(PARAMS):
        return []
    s = s2g_oracle(x, PARAMS, n_slices=1).scores
    if len(s) == 0 or not np.isfinite(s).all():
        return []
    return [(i, float(v)) for i, v in enumerate(s)]


def _edges(x):
    if len(x) < min_series_length(PARAMS):
        return []
    weights = s2g_oracle(x, PARAMS, n_slices=1).edge_weights
    return [(*map(int, e), int(w)) for e, w in weights.items()]


def _drag(x):
    if len(x) < 4 * M:
        return []
    n_win = len(x) - M + 1
    sample = matrix_profile_self_sampled(x, M, max(1, n_win // 200))
    found = drag_discords(x, M, float(np.quantile(sample[np.isfinite(sample)], 0.995)))
    spans = merge_ranges([i for i, _ in found], M)
    return [(s, e, max(v for i, v in found if s <= i < e)) for s, e in spans]


def _pelt(x):
    cps = pelt_changepoints(x, auto_penalty(x))
    return [(r + 1, cp, len(x)) for r, cp in enumerate(cps)]


def _profile(x):
    mp, mpi = matrix_profile(x, M)
    if len(mp) == 0 or not np.isfinite(mp).any():
        return []
    return [(i, float(mp[i]), int(mpi[i])) for i in range(len(mp))]


def _discords(x):
    mp, _ = matrix_profile(x, M)
    picks = top_discords(mp, M, 2) if len(mp) else []
    return [(r + 1, i, float(mp[i])) for r, i in enumerate(picks)]


def _motifs(x):
    mp, mpi = matrix_profile(x, M)
    picks = top_motifs(mp, mpi, M, 2) if len(mp) else []
    return [(r + 1, min(p), max(p), float(mp[min(p)])) for r, p in enumerate(picks)]


def _digest(x):
    return [(tuple(np.sort(x).tolist()), (1.0,) * len(x))]


def _quantiles(x):
    v, w = np.sort(x), np.ones(len(x))
    qs = np.interp([p * w.sum() for p in PROBS], np.cumsum(w) - w / 2.0, v)
    return list(zip(PROBS, qs.tolist()))


# The kernels below take a series' (hour offsets, v, w); w is integral.


def _ts(h):
    return [(T0 + pd.Timedelta(hours=int(i))).to_pydatetime() for i in h]


def _holt_winters(h, v, w):
    fc, resid = holt_winters(v)
    ok = np.flatnonzero(np.isfinite(fc))
    return zip(ok.tolist(), v[ok], fc[ok], resid[ok])


def _holt_residuals(h, v, w):
    fc, resid = holt_forecast(v)
    ok = np.isfinite(resid)
    sel = np.flatnonzero(ok & (np.abs(resid) > 2.5 * resid[ok].std()))
    return zip(sel.tolist(), v[sel], fc[sel], resid[sel])


def _croston(h, v, w):
    size, interval, rate = croston(w, h)
    return [(len(w), size, interval, rate)] if np.isfinite(rate) else []


def _lttb(h, v, w):
    idx = lttb_indices(T0.value + h * 3_600_000_000_000, v, 40)  # epoch ns
    return zip(_ts(h[idx]), v[idx])


def _ewma(h, v, w):
    ew = pd.Series(v).ewm(alpha=0.3, adjust=True).mean().to_numpy()
    return zip(_ts(h), v, ew, np.abs(v - ew))


def _asap(h, v, w):
    def q6(x):
        return int(np.sign(x) * np.floor(abs(x) * 1e6 + 0.5))

    counts = w[w > 0]  # hour doc counts: each row is repeated w times
    win, rough, kurt = asap_window_search(counts)
    return [(len(counts), win, q6(rough), q6(kurt))]


def _isotonic(h, v, w):
    # x = w (tied values pool), y = h
    xs, inv = np.unique(w.astype(np.int64), return_inverse=True)
    ns = np.bincount(inv)
    ys = np.bincount(inv, weights=h).astype(np.int64)
    rows = []
    for x, n, y, (s, d) in zip(xs, ns, ys, _pav_blocks(xs, ns, ys)):
        g = math.gcd(s, d)
        num, den = (s // g, d // g) if s else (0, 1)
        q6 = (10**6 * num) // den + (1 if (10**6 * num) % den * 2 >= den else 0)
        rows.append((x, n, y, num, den, q6))
    return rows


def _acf(h, v, w):
    x = np.zeros(H_MAX + 1, np.int64)  # the dense grid spans every series' hours
    x[h] = w
    y = len(x) * x - x.sum()
    nums = [int(y[:-lag] @ y[lag:]) for lag in range(2, 25)]
    best = int(np.argmax(nums))
    return [(len(x), 2 + best, nums[best], int(y @ y))]


def _on_values(kernel):
    return lambda h, v, w: kernel(v)


KERNEL_OPS = {
    "score_series_grouped": (
        lambda df: score_series_grouped(df, ["k"], "ts", "v", PARAMS),
        _on_values(_scores),
    ),
    "graph_edges_grouped": (
        lambda df: graph_edges_grouped(df, ["k"], "ts", "v", PARAMS),
        _on_values(_edges),
    ),
    "discord_series_grouped": (
        lambda df: discord_series_grouped(df, ["k"], "ts", "v", m=M),
        _on_values(_drag),
    ),
    "pelt_grouped": (lambda df: pelt_grouped(df, ["k"], "ts", "v"), _on_values(_pelt)),
    "matrix_profile_grouped": (
        lambda df: matrix_profile_grouped(df, ["k"], "ts", "v", M),
        _on_values(_profile),
    ),
    "discords_grouped": (
        lambda df: discords_grouped(df, ["k"], "ts", "v", m=M, k=2),
        _on_values(_discords),
    ),
    "motifs_grouped": (
        lambda df: motifs_grouped(df, ["k"], "ts", "v", m=M, k=2),
        _on_values(_motifs),
    ),
    "digest": (lambda df: digest(df, ["k"], "v"), _on_values(_digest)),
    "digest_quantiles": (
        lambda df: digest_quantiles(digest(df, ["k"], "v"), ["k"], PROBS),
        _on_values(_quantiles),
    ),
    "holt_winters_grouped": (
        lambda df: holt_winters_grouped(df, ["k"], "ts", "v"),
        _holt_winters,
    ),
    "holt_residuals_grouped": (
        lambda df: holt_residuals_grouped(df, ["k"], "ts", "v", n_sigma=2.5),
        _holt_residuals,
    ),
    "cusum_grouped": (
        lambda df: cusum_grouped(df, ["k"], "ts", "v"),
        _on_values(cusum_changepoints),
    ),
    "croston_grouped": (lambda df: croston_grouped(df, ["k"], "h", "w"), _croston),
    "lttb_downsample": (lambda df: lttb_downsample(df, ["k"], "ts", "v", 40), _lttb),
    "ewma_smooth": (lambda df: ewma_smooth(df, ["k"], "ts", "v", alpha=0.3), _ewma),
    "asap_smooth_params": (
        lambda df: asap_smooth_params(
            df.withColumn("_", F.explode(F.array_repeat(F.lit(0), F.col("n").cast("int")))),
            ["k"],
            "ts",
            None,
        ),
        _asap,
    ),
    "theil_sen_grouped": (
        lambda df: theil_sen_grouped(df, ["k"], "h", "v"),
        lambda h, v, w: [(len(v), *theil_sen_slope(h, v)[::-1])],
    ),
    "mann_kendall_grouped": (
        lambda df: mann_kendall_grouped(df, ["k"], "ts", "n"),
        lambda h, v, w: [(len(w), *mann_kendall_stats(w.astype(np.int64)))],
    ),
    "compressed_tier_roundtrip": (  # lossless: the output is the input
        lambda df: compressed_tier_roundtrip(df, ["k"], "ts", "v", codec="chimp"),
        lambda h, v, w: zip(_ts(h), v),
    ),
    "simple8b_tier_roundtrip": (
        lambda df: simple8b_tier_roundtrip(df, ["k"], "ts", "n"),
        lambda h, v, w: zip(_ts(h), w.astype(np.int64).tolist()),
    ),
    "pla_segments_grouped": (
        lambda df: pla_segments_grouped(df, ["k"], "h", "n", eps=3),
        lambda h, v, w: [(i, *seg) for i, seg in enumerate(swing_segments(h, w, 3))],
    ),
    "seasonal_esd_grouped": (
        lambda df: seasonal_esd_grouped(df, ["k"], "h", "n"),
        lambda h, v, w: seasonal_esd_oracle(h.tolist(), w.astype(np.int64).tolist()),
    ),
    "vopt_histogram_grouped": (
        lambda df: vopt_histogram_grouped(df, ["k"], "h", "n", b=4),
        lambda h, v, w: [
            (b, h[s], h[e - 1], *rest) for b, s, e, *rest in vopt_oracle(w, b=4)
        ],
    ),
    "haar_topk_grouped": (
        lambda df: haar_topk_grouped(df, ["k"], "h", "n", k=6),
        lambda h, v, w: [(r, *row) for r, row in enumerate(haar_topk_oracle(w, k=6), 1)],
    ),
    "acf_dominant_period": (
        lambda df: acf_dominant_period(df, ["k"], "h", "n", lag_lo=2, lag_hi=24),
        _acf,
    ),
    "pattern_topk": (
        lambda df: pattern_topk(df, ["k"], "ts", "v", PATTERN.tolist(), k=3),
        lambda h, v, w: [(r, *m) for r, m in enumerate(pattern_topk_kernel(v, PATTERN, 3), 1)],
    ),
    "isotonic_fit": (lambda df: isotonic_fit(df, ["k"], "n", "h"), _isotonic),
}


# --- reference: the per-group pandas paths gap-fill and blobs replaced -----


def _reference_paths():
    """gap_fill_linear, gap_fill_locf and compressed_tier_blobs as they ran
    before the runner: one ``groupBy().applyInPandas`` call per series.
    Closures, so Spark pickles them by value to the workers."""
    import zlib

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from dads_spark.compress.deltadelta import encode_timestamps
    from dads_spark.compress.gorilla import encode_values

    def gap_fill(df, key_cols, bucket_col, value_cols, step_seconds, locf):
        key_fields = [f for f in df.schema.fields if f.name in key_cols]
        out_schema = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}" for f in key_fields]
            + [f"{bucket_col} timestamp"]
            + [f"{c} double" for c in value_cols]
            + ["gap_filled boolean"]
        )

        def fill(pdf):
            pdf = pdf.sort_values(bucket_col)
            ts = pdf[bucket_col].astype("datetime64[ns]").astype("int64").to_numpy() // 10**9
            dense = np.arange(ts[0], ts[-1] + 1, step_seconds)
            prev = np.searchsorted(ts, dense, side="right") - 1
            out = {c: np.repeat(pdf[c].iloc[0], len(dense)) for c in key_cols}
            out[bucket_col] = pd.to_datetime(dense, unit="s")
            for c in value_cols:
                observed = pdf[c].to_numpy(dtype=np.float64)
                out[c] = observed[prev] if locf else np.interp(dense, ts, observed)
            out["gap_filled"] = ~np.isin(dense, ts)
            return pd.DataFrame(out)

        return df.groupBy(*key_cols).applyInPandas(fill, out_schema)

    def blobs(tier_df, key_cols, ts_col, value_col, chunk_points):
        out_schema = StructType(
            [tier_df.schema[k] for k in key_cols]
            + [
                StructField("t_min_us", LongType()),
                StructField("t_max_us", LongType()),
                StructField("n_points", LongType()),
                StructField("ts_blob", BinaryType()),
                StructField("val_blob", BinaryType()),
                StructField("crc", LongType()),
            ]
        )

        def enc(pdf):
            pdf = pdf.sort_values(ts_col)
            ts_us = pdf[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
            vals = pdf[value_col].to_numpy(np.float64)
            rows = []
            for lo in range(0, len(ts_us), chunk_points):
                t, v = ts_us[lo : lo + chunk_points], vals[lo : lo + chunk_points]
                tb, vb = encode_timestamps(t), encode_values(v)
                rows.append(
                    {
                        **{k: pdf[k].iloc[0] for k in key_cols},
                        "t_min_us": int(t[0]),
                        "t_max_us": int(t[-1]),
                        "n_points": len(t),
                        "ts_blob": tb,
                        "val_blob": vb,
                        "crc": zlib.crc32(tb) ^ (zlib.crc32(vb) << 1),
                    }
                )
            return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

        return tier_df.groupBy(*key_cols).applyInPandas(enc, out_schema)

    return {
        "gap_fill_linear": lambda df: gap_fill(df, ["k"], "ts", ["v", "w"], 3600, False),
        "gap_fill_locf": lambda df: gap_fill(df, ["k"], "ts", ["v", "w"], 3600, True),
        "compressed_tier_blobs": lambda df: blobs(df, ["k"], "ts", "v", 16),
    }


REFERENCE_OPS = {
    "gap_fill_linear": lambda df: gap_fill_linear(df, ["k"], "ts", ["v", "w"], 3600),
    "gap_fill_locf": lambda df: gap_fill_locf(df, ["k"], "ts", ["v", "w"], 3600),
    "compressed_tier_blobs": lambda df: compressed_tier_blobs(df, ["k"], "ts", "v", 16),
}


def _rows(df):
    """The collected rows as a multiset; binary columns as bytes, arrays as tuples."""
    hashable = {bytearray: bytes, list: tuple}
    return Counter(tuple(hashable.get(type(c), lambda c: c)(c) for c in r) for r in df.collect())


@pytest.fixture
def small_batches(spark):
    # 3-row Arrow batches: every series spans many batches, so the runner
    # carries each batch's trailing group into the next
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("key_type", ["string", "long"])
@pytest.mark.parametrize("op", sorted([*KERNEL_OPS, *REFERENCE_OPS]))
def test_runner_keeps_key_type_and_matches_kernel(
    spark, series, frames, small_batches, op, key_type
):
    df = frames[key_type]
    out = (KERNEL_OPS[op][0] if op in KERNEL_OPS else REFERENCE_OPS[op])(df)
    assert out.schema["k"].dataType == df.schema["k"].dataType

    got = _rows(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan, plan

    if op in KERNEL_OPS:
        kernel = KERNEL_OPS[op][1]
        keys = LONG_KEYS if key_type == "long" else {k: k for k in LONG_KEYS}
        want = Counter(
            (keys[key], *row) for key, (h, v, w) in series.items() for row in kernel(h, v, w)
        )
    else:
        want = _rows(_reference_paths()[op](df))
    assert got == want
    assert any(r[0] is None for r in got)  # the null key is one series


@pytest.mark.parametrize("key_type", ["string", "long"])
def test_dtw_pairs_keep_key_type(series, frames, key_type):
    # series of unequal length are ragged list rows, so the pair kernel
    # stays behind its own mapInPandas; the pair keys take the input's type
    df = frames[key_type]
    out = dtw_pairs_grouped(df, "k", "h", "v", band=10)
    assert out.schema["key_a"].dataType == out.schema["key_b"].dataType == df.schema["k"].dataType
    keys = LONG_KEYS if key_type == "long" else {k: k for k in LONG_KEYS}
    vs = {keys[k]: v for k, (h, v, w) in series.items() if k is not None}
    want = {
        (a, b, len(vs[a]), len(vs[b]), dtw_banded(vs[a], vs[b], 10))
        for a in vs
        for b in vs
        if a < b
    }
    assert {tuple(r) for r in out.collect()} == want


# --- the row-batch runner --------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [(i, [float(i), 2.0 * i, -float(i)]) for i in range(20)]
    return spark.createDataFrame(rows, "id long, v array<float>").repartition(2)


def test_map_batches_list_column_is_a_matrix(spark, vectors, small_batches):
    def fn(ids, mat):
        n = np.full(len(ids), len(ids))
        return [ids, mat, (2 * mat).astype(np.int64), n, np.full(len(ids), mat.ndim)]

    out = map_batches(
        vectors,
        ["id", "v"],
        fn,
        "id long, v array<float>, twice array<bigint>, batch_rows long, ndim long",
    )
    assert out.schema["twice"].dataType == DataType.fromDDL("array<bigint>")
    got = {r["id"]: r for r in out.collect()}
    want = {r["id"]: r["v"] for r in vectors.collect()}
    assert sorted(got) == sorted(want)
    for i, r in got.items():
        assert r["v"] == want[i]  # the matrix row is the list row, exactly
        assert r["twice"] == [2 * i, 4 * i, -2 * i]
        assert r["ndim"] == 2
    assert max(r["batch_rows"] for r in got.values()) == 3  # 3-row Arrow batches


@pytest.mark.parametrize("bad", [None, [1.0, 2.0]], ids=["null", "ragged"])
def test_map_batches_refuses_null_and_ragged_rows(spark, bad):
    with pytest.raises(ValueError, match="'v'"):
        list_matrix(pa.array([[1.0, 2.0, 3.0], bad]), "v")
    df = spark.createDataFrame([(0, [1.0, 2.0, 3.0]), (1, bad)], "id long, v array<float>")
    out = map_batches(df.coalesce(1), ["id", "v"], lambda ids, mat: [ids], "id long")
    with pytest.raises(Exception, match="ValueError: column 'v'"):
        out.collect()


def test_map_batches_empty_input_gives_typed_empty_frame(spark, vectors):
    ddl = "id long, v array<double>"
    empty = map_batches(vectors.limit(0), ["id", "v"], lambda ids, mat: [ids, mat], ddl)
    nothing = map_batches(vectors, ["id", "v"], lambda ids, mat: None, ddl)
    for out in (empty, nothing):
        assert out.schema == DataType.fromDDL(ddl)
        assert out.collect() == []
