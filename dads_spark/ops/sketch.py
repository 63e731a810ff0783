"""Mergeable quantile digest: the two-phase sketch shape for 100 TB aggs.

A t-digest-style centroid sketch built with the partial -> merge contract
every warehouse-scale approximate aggregate needs: each partition reduces
its values to ``compression`` weighted centroids per key (no sort shuffle
of raw values), the per-key merge re-clusters the concatenated centroids
(at most partitions x compression rows per key cross the wire —
independent of row count), and quantiles interpolate the merged cumulative
weights. Associative and order-insensitive by construction, so the result
is reproducible under any partitioning. Each phase runs one NumPy kernel
(``_merge``) behind ``mapInArrow`` on whole Arrow batches of groups: the
partial on each input batch, the merges on key-sorted partitions.

Complements ``approx_aggregates`` (Spark's built-in approx_percentile):
this one exposes the sketch itself as DATA — ``digest`` emits one
(centroids, weights) row per key that a tier table can persist, and
``merge_digests`` re-keys those rows so day/week quantiles merge from the
stored hour sketches WITHOUT re-reading raw data: the continuous-aggregate
cascade applied to percentiles (exact-decomposable aggs cascade for free;
quantiles need a mergeable sketch, and this is it).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F

from ..groups import key_groups, keyed_schema, map_key_runs

_SKETCH = "centroids array<double>, weights array<double>"


def _cluster(values: np.ndarray, weights: np.ndarray, c: int) -> tuple[np.ndarray, np.ndarray]:
    """Reduce sorted (values, weights) to <= c equal-weight clusters
    (weighted means). Input MUST be sorted by value."""
    total = weights.sum()
    if len(values) <= c:
        return values, weights
    bounds = np.linspace(0, total, c + 1)
    cum = np.cumsum(weights)
    idx = np.searchsorted(cum - 1e-12, bounds[1:-1], side="left")
    starts = np.concatenate(([0], idx))
    ends = np.concatenate((idx, [len(values)]))
    means, wts = [], []
    for s, e in zip(starts, ends):
        if e <= s:
            continue
        w = weights[s:e]
        means.append(np.average(values[s:e], weights=w))
        wts.append(w.sum())
    return np.asarray(means), np.asarray(wts)


def _merge(gid: np.ndarray, v: np.ndarray, w: np.ndarray, n_groups: int, limit: float):
    """The sketch kernel: stably sort (v, w) by value within each group id
    in ``[0, n_groups)`` and re-cluster each group over ``limit`` centroids.
    Returns list offsets and the flat values and weights, in id order."""
    order = np.lexsort((v, gid))
    v, w = v[order], w[order]
    lens = np.bincount(gid, minlength=n_groups)
    ends = np.cumsum(lens)
    vs, ws, prev = [], [], 0
    for g in np.flatnonzero(lens > limit):
        s, e = ends[g] - lens[g], ends[g]
        cv, cw = _cluster(v[s:e], w[s:e], int(limit))
        vs += [v[prev:s], cv]
        ws += [w[prev:s], cw]
        lens[g], prev = len(cv), e
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    return offsets, np.concatenate(vs + [v[prev:]]), np.concatenate(ws + [w[prev:]])


def _sketches(t: pa.Table, key_cols: list[str], rep, offsets, v, w) -> list:
    """One sketch row per group: its keys (at row ``rep``), centroids and weights."""
    cols = [t.column(k).take(rep) for k in key_cols]
    cols += [pa.ListArray.from_arrays(offsets, x) for x in (v, w)]
    return pa.table(cols, names=[*key_cols, "centroids", "weights"]).to_batches()


def _map_merged(sketches: DataFrame, key_cols: list[str], limit: float, emit, fields: str):
    """Merge each key's sketch rows on key-sorted partitions; yield ``emit(
    table, key_cols, rep, offsets, v, w)`` per run of whole groups, typed as
    the key columns and then the DDL ``fields``."""

    def merged(t, gid, rep):
        lens = pc.list_value_length(t.column("centroids")).to_numpy()
        v, w = (pc.list_flatten(t.column(c)).to_numpy() for c in ("centroids", "weights"))
        return emit(t, key_cols, rep, *_merge(np.repeat(gid, lens), v, w, len(rep), limit))

    keyed = sketches.select(*key_cols, "centroids", "weights")
    return map_key_runs(keyed, key_cols, merged, keyed_schema(keyed, key_cols, fields))


def digest(df: DataFrame, key_cols: list[str], value_col: str, compression: int = 256) -> DataFrame:
    """Build one persisted-form sketch row per key:
    (keys..., centroids array<double>, weights array<double>)."""

    def partial(batches):
        for b in batches:
            t = pa.Table.from_batches([b]).sort_by([(k, "ascending") for k in key_cols])
            (gid, rep), v = key_groups(t, key_cols), t.column(value_col).to_numpy()
            merged = _merge(gid, v, np.ones(len(v)), len(rep), compression)
            yield from _sketches(t, key_cols, rep, *merged)

    values = df.select(*key_cols, F.col(value_col).cast("double").alias(value_col))
    partials = values.mapInArrow(partial, keyed_schema(values, key_cols, _SKETCH))
    return merge_digests(partials, key_cols, compression)


def merge_digests(sketches: DataFrame, key_cols: list[str], compression: int = 256) -> DataFrame:
    """Re-key stored sketch rows to a coarser grouping (e.g. drop the hour
    column to cascade hour sketches into day sketches). Input rows need
    (centroids, weights) plus at least ``key_cols``."""
    # 4x bounds merge-state for wide inputs at one more 1/compression of rank error
    return _map_merged(sketches, key_cols, 4 * compression, _sketches, _SKETCH)


def digest_quantiles(sketches: DataFrame, key_cols: list[str], probs: list[float]) -> DataFrame:
    """Interpolate quantiles from sketch rows: (keys..., prob, value)."""
    probs = sorted(float(p) for p in probs)

    def quant(t, key_cols, rep, offsets, v, w):
        qs = []
        for s, e in zip(offsets[:-1], offsets[1:]):
            cum = np.cumsum(w[s:e]) - w[s:e] / 2.0  # centroid midpoints
            qs.append(np.interp([p * w[s:e].sum() for p in probs], cum, v[s:e]))
        cols = [t.column(k).take(np.repeat(rep, len(probs))) for k in key_cols]
        cols += [np.tile(probs, len(qs)), np.concatenate(qs)]
        return pa.table(cols, names=[*key_cols, "prob", "value"]).to_batches()

    return _map_merged(sketches, key_cols, np.inf, quant, "prob double, value double")


def quantile_digest(
    df: DataFrame, key_cols: list[str], value_col: str, probs: list[float], compression: int = 256
) -> DataFrame:
    """Approximate per-key quantiles via mergeable centroid sketches
    (digest -> digest_quantiles in one call).

    Rank error is bounded by ~1/compression per merge level; the property
    test asserts the realized rank of each reported quantile.
    Output: (keys..., prob, value).
    """
    return digest_quantiles(digest(df, key_cols, value_col, compression), key_cols, probs)


def ams_f2(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    groups: int = 5,
    per_group: int = 16,
) -> DataFrame:
    """AMS second-moment (F2) sketch per key (Alon-Matias-Szegedy,
    STOC 1996): estimate ``sum_v f_v^2`` — the SELF-JOIN SIZE of the
    value column, the quantity a cost-based planner wants before
    committing to an equi-join strategy (composes with ops/profile.py's
    per-key histogram cardinality estimates).

    The sketch is LINEAR: estimator j keeps S_j = sum over rows of
    eps_j(value) with eps in {-1, +1}, so partial sketches ADD —
    merge-order independent by construction, which is what makes it
    exactly pinnable where t-digest is rows-only. eps_j derives from an
    md5 hex digit of (j, value) — engine-portable, the dsir bucket
    discipline. The estimate is the canonical MEDIAN-OF-MEANS: the
    ``groups * per_group`` estimators split into ``groups`` (odd)
    groups, each group's mean of S_j^2 is an exact floor division, and
    the estimate is the single middle order statistic of the group
    means — all integers, no float anywhere. The EXACT F2 is computed
    alongside so the row carries estimate and truth together.

    Scale shape: the eps expansion is a k-row broadcast cross join
    evaluated map-side; both aggregations (per-(key, j) sums, exact
    per-(key, value) counts) plan partial+final. Shuffle carries
    k rows per key + one row per distinct value.
    """
    if groups % 2 == 0:
        raise ValueError("groups must be odd (single-element median)")
    k = groups * per_group
    spark = df.sparkSession
    js = spark.range(k).select(F.col("id").cast("long").alias("_j"))
    v = F.col(value_col).cast("string")
    eps = (
        1
        - 2
        * (
            (
                F.expr(
                    "locate(substring(md5(concat(CAST(_j AS STRING), ':', "
                    f"CAST({value_col} AS STRING))), 1, 1), "
                    "'0123456789abcdef') - 1"
                )
            )
            % 2
        )
    ).cast("long")
    from pyspark.sql import Window as _W

    gmeans = (
        df.select(*key_cols, v.alias(value_col))
        .crossJoin(F.broadcast(js))
        .select(*key_cols, "_j", eps.alias("_e"))
        .groupBy(*key_cols, "_j")
        .agg(F.sum("_e").alias("_s"))
        .groupBy(*key_cols, F.expr(f"_j DIV {per_group}").alias("_g"))
        .agg(
            F.expr(
                f"sum(_s * _s) DIV {per_group}"
            ).alias("_gm")
        )
    )
    mid = groups // 2 + 1
    sk = (
        gmeans.withColumn(
            "_rn",
            F.row_number().over(
                _W.partitionBy(*key_cols).orderBy("_gm", "_g")
            ),
        )
        .filter(F.col("_rn") == mid)
        .select(*key_cols, F.col("_gm").alias("f2_est"))
    )
    exact = (
        df.groupBy(*key_cols, v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_f"))
        .groupBy(*key_cols)
        .agg(
            F.sum(F.col("_f") * F.col("_f")).alias("f2_exact"),
            F.sum("_f").alias("n_rows"),
        )
    )
    return sk.join(exact, key_cols).select(
        *key_cols, "n_rows", "f2_est", "f2_exact"
    )
