"""Distributed S2G pipeline on PySpark DataFrames + Arrow-vectorized UDFs.

Two entry points:

- :func:`score_series_grouped` — the production-shaped operator for the
  north-rule flow: thousands of independent (rolled-up, per-domain) series
  scored in parallel, one whole series per kernel call, via the
  ``mapInArrow`` runner ``dads_spark.groups.per_series``. Each call runs
  the shared NumPy core at P=1; Spark parallelism comes from the number of
  series.

- :func:`run_s2g_distributed` — slice-parallel scoring of ONE large series,
  replicating the reference's multi-processor dataflow (overlapped slices,
  TSQR PCA, segment-shuffled KDE, boundary-node handoff, overlap-aware
  scoring). Bit-identical to ``s2g_oracle(x, params, n_slices=P)``.

Driver synchronization points mirror the reference's master-side steps
(PCA finalization, node-collection broadcast, graph merge, global score
min/max: SURVEY.md §3); each collects only KB-sized state, never data rows.

Boundary handling: the reference ships each slice's last projected point to
its successor (NodeCreationWorkerControl.java:139-209). We instead extend
every non-first slice by ONE leading raw value, so the successor recomputes
that point locally — window sums are per-window independent
(core.moving_sum), making the recomputed point bit-identical and removing a
sequential cross-partition dependency entirely. The oracle computes the
padded projection the same way, so parity is by construction.

No per-row Python and no pandas anywhere: the slice stages run behind
``groupBy().applyInArrow`` (``dads_spark.groups.per_group``) on the slice
or segment key, over the explicit ``repartition`` the slice plan fixes, and
the grouped operators run behind ``mapInArrow``; all of them call
NumPy-vectorized kernels.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..groups import per_group, per_series
from . import core
from .params import S2GParams

_STAGE1_SCHEMA = (
    "slice_id long, r_flat array<double>, mean array<double>, n_rows long, "
    "vmin double, vmax double"
)
# kind: 0 = intersection, 1 = slice stats (dist=max_abs of unpadded projection),
#       2 = last intersection of the slice (segment, dist)
_INTERSECT_SCHEMA = (
    "slice_id long, kind int, segment int, dist double, creation_idx long, subseq long"
)
_NODES_SCHEMA = "segment int, node_idx int, node_value double"
_EDGES_SCHEMA = (
    "slice_id long, slot long, pos int, from_seg int, from_idx int, to_seg int, to_idx int, "
    "is_tail boolean"
)
_SCORES_SCHEMA = "slice_id long, score_pos long, raw_score double, is_tail boolean"
_FINAL_SCHEMA = "window_idx long, score double"


def _sorted(t: pa.Table, *by: str) -> pa.Table:
    """``t`` in stable order of the columns ``by``, the first one major."""
    return t.take(np.lexsort([t.column(c).to_numpy() for c in reversed(by)]))


def sliced_series(
    spark: SparkSession,
    series_df: DataFrame,
    n: int,
    params: S2GParams,
    n_slices: int,
    slices: Optional[list] = None,
) -> tuple[DataFrame, list[core.SliceInfo]]:
    """Tag each (idx, value) row with its owning slice(s).

    Overlapped range partitioning (reference slice distribution,
    EqualSequenceSliceDistributorFactory.java:43-114) plus one extra leading
    value per non-first slice (boundary recompute, see module docstring).
    A row belongs to at most two slices. Implemented as a broadcast range
    join against the (tiny) slice-bound table so the scan stays a single
    pass with no driver round-trip of data rows.
    """
    if slices is None:
        slices = core.slice_bounds(n, n_slices, params.m)
    bounds = spark.createDataFrame(
        [
            (s.slice_id, s.start - (1 if s.first_subseq > 0 else 0), s.end, s.start)
            for s in slices
        ],
        "slice_id long, ext_start long, end long, start long",
    )
    tagged = series_df.join(
        F.broadcast(bounds),
        (series_df["idx"] >= bounds["ext_start"]) & (series_df["idx"] < bounds["end"]),
        "inner",
    ).select(
        "slice_id",
        (F.col("idx") - F.col("ext_start")).alias("pos"),
        "value",
    )
    return tagged, slices


def run_s2g_distributed(
    spark: SparkSession,
    series_df: DataFrame,
    params: S2GParams,
    n_slices: int,
    n: Optional[int] = None,
    small_series_threshold: int = 300_000,
    slices: Optional[list] = None,
) -> DataFrame:
    """Score one large series ``(idx long, value double)`` with P overlapped
    slices. Returns (window_idx, score), window_idx global and dense.

    Adaptive small-input path (broadcast-join analogue): below
    ``small_series_threshold`` points the 6-stage distributed dataflow is
    pure coordination overhead (~8 s for a 200k series that computes in
    ~0.6 s), so the series is collected (a few MB) and scored in-process by
    ``s2g_oracle`` AT THE SAME ``n_slices`` — the oracle replays the exact
    multi-slice dataflow, so the scores are bit-identical to the
    distributed plan by the engine's core tested invariant
    (tests/test_s2g_spark.py: distributed == oracle at equal slicing).
    Pass ``small_series_threshold=0`` to force the distributed plan.

    The distributed plan releases its intermediate caches once the score
    summary is collected. The raw per-slice scores stay cached, because the
    returned frame reads them; ``spark.catalog.clearCache()`` releases them.
    """
    if n is None:
        n = series_df.count()
    if n <= small_series_threshold:
        from .oracle import s2g_oracle

        x = series_df.orderBy("idx").toArrow().column("value").to_numpy().astype(np.float64)
        scores = s2g_oracle(x, params, n_slices=n_slices, slices=slices).scores
        return spark.createDataFrame(
            pa.table(
                {
                    "window_idx": np.arange(len(scores), dtype=np.int64),
                    "score": pa.array(scores, from_pandas=True),
                }
            ),
            _FINAL_SCHEMA,
        )
    tagged, slices = sliced_series(spark, series_df, n, params, n_slices, slices)
    tagged = tagged.repartition(len(slices), "slice_id").cache()
    sc = spark.sparkContext

    b_first = sc.broadcast({s.slice_id: s.first_subseq for s in slices})
    b_params = sc.broadcast(params)

    # ---- stage 1: local PCA (means + centered QR per slice) ----------------
    # reference: PCACalculatorControl.java:95-99
    def stage1(sid, t):
        vals = _sorted(t, "pos").column("value").to_numpy()
        if b_first.value[sid] > 0:
            vals = vals[1:]  # drop the boundary-recompute extra value
        r_mat, mean, n_rows, vmin, vmax = core.pca_local(vals, b_params.value)
        return [sid], [r_mat.ravel()], [mean], [n_rows], [vmin], [vmax]

    local_rows = per_group(tagged, "slice_id", stage1, _STAGE1_SCHEMA).collect()
    local_rows.sort(key=lambda r: r["slice_id"])
    d = params.d
    pca = core.finalize_pca(
        [np.array(r["r_flat"]).reshape(-1, d) for r in local_rows],
        [np.array(r["mean"]) for r in local_rows],
        [r["n_rows"] for r in local_rows],
        min(r["vmin"] for r in local_rows),
        max(r["vmax"] for r in local_rows),
        params,
    )
    b_pca = sc.broadcast(
        (pca.principal_components, pca.rotation, pca.column_means, pca.min_record, pca.max_record)
    )

    # ---- stage 2: projection + intersections --------------------------------
    # reference: DimensionReductionReceiverControl.java:99-154,
    #            Calculate.java:204-259, IntersectionWorkFactory.java
    def stage2(sid, t):
        p: S2GParams = b_params.value
        v, rot, mean, minrec, maxrec = b_pca.value
        pca_l = core.PCAResult(v, rot, mean, minrec, maxrec)
        first_subseq = b_first.value[sid]
        vals = _sorted(t, "pos").column("value").to_numpy()
        proj, first_padded = core.padded_projection(vals, first_subseq, pca_l, p)
        unpadded = proj[:, 1:] if first_subseq > 0 else proj
        maxabs = core.max_abs(unpadded)
        segs, dists, creation, subseqs = core.intersections_for_projection(
            proj, first_padded, p
        )
        order = np.argsort(creation, kind="stable")
        segs, dists, creation, subseqs = segs[order], dists[order], creation[order], subseqs[order]
        n_int = len(segs)
        k = min(n_int, 1)  # one kind-2 row (the last intersection), if any
        zeros = np.zeros(1 + k, dtype=np.int64)
        return (
            np.full(n_int + 1 + k, sid),
            np.concatenate([np.zeros(n_int, dtype=np.int32), [1], np.full(k, 2)]),
            np.concatenate([segs, [-1], segs[n_int - k:]]),
            np.concatenate([dists, [maxabs], dists[n_int - k:]]),
            np.concatenate([creation, zeros]),
            np.concatenate([subseqs, zeros]),
        )

    inter = per_group(tagged, "slice_id", stage2, _INTERSECT_SCHEMA).cache()

    # coordinator: global max-abs * 1.2 -> shared density grid; also grab the
    # per-slice last intersections (boundary-node chain) in the same pass
    # reference: NodeCreationCoordinatorControl.java:27,163
    stat_rows = inter.filter(F.col("kind") != 0).collect()
    max_value = (
        max(r["dist"] for r in stat_rows if r["kind"] == 1)
        * core.MAXIMUM_VALUE_SCALE_FACTOR
    )
    b_grid = sc.broadcast(core.density_grid(max_value))

    # ---- stage 3: per-segment KDE (shuffle intersections by segment) --------
    # reference: NodeCreationWorkerControl.java:308-391, DensityEstimatorControl
    def kde(seg, t):
        dists = _sorted(t, "slice_id", "creation_idx").column("dist").to_numpy()
        nodes = core.kde_nodes(dists, b_grid.value)
        return np.full(len(nodes), seg), np.arange(len(nodes)), nodes

    segments = (
        inter.filter(F.col("kind") == 0)
        # prune before the segment shuffle: the KDE needs only these four
        # columns (slice_id/creation_idx fix the bit-exact summation order)
        .select("slice_id", "segment", "dist", "creation_idx")
        .repartition(params.S, "segment")
    )
    node_rows = per_group(segments, "segment", kde, _NODES_SCHEMA).collect()
    nodes_by_segment = [np.empty(0) for _ in range(params.S)]
    for seg in range(params.S):
        vals = sorted((r["node_idx"], r["node_value"]) for r in node_rows if r["segment"] == seg)
        nodes_by_segment[seg] = np.array([v for _, v in vals])
    b_nodes = sc.broadcast(nodes_by_segment)

    # ---- driver: boundary-node chain (LastNodeMessage equivalent) -----------
    # reference: EdgeCreationWorkerControl.java:201-254
    last_int = {
        r["slice_id"]: (r["segment"], r["dist"]) for r in stat_rows if r["kind"] == 2
    }
    last_node_for: dict[int, Optional[tuple[int, int]]] = {}
    prev: Optional[tuple[int, int]] = None
    for s in slices:
        last_node_for[s.slice_id] = prev
        li = last_int.get(s.slice_id)
        if li is not None:
            seg, dist = int(li[0]), float(li[1])
            idx = core.match_nodes(np.array([dist]), np.array([seg]), nodes_by_segment)[0]
            prev = (seg, int(idx))
        # if a slice produced no intersections the reference deadlocks
        # (no LastNodeMessage is ever sent); we carry the previous node on.
    b_lastnode = sc.broadcast(last_node_for)
    b_ranges = sc.broadcast(
        {s.slice_id: (s.first_subseq, s.first_subseq + s.n_subsequences(params.m)) for s in slices}
    )

    # ---- stage 4: edge-creation walk -----------------------------------------
    # reference: GraphPartitionCreator.java:22-76
    def walk(sid, t):
        t = _sorted(t, "creation_idx")
        segs = t.column("segment").to_numpy().astype(np.int64)
        dists = t.column("dist").to_numpy()
        subseqs = t.column("subseq").to_numpy()
        node_idx = core.match_nodes(dists, segs, b_nodes.value)
        local_from, local_to = b_ranges.value[sid]
        walk_first = local_from - 1 if local_from > 0 else local_from
        slot_arr, fs, fi, ts_, ti = core.edge_walk_arrays(
            segs, node_idx, subseqs, walk_first, local_from, local_to, b_lastnode.value[sid]
        )
        p: S2GParams = b_params.value
        n_e = len(slot_arr)
        pos = np.zeros(n_e, dtype=np.int32)
        is_tail = np.zeros(n_e, dtype=bool)
        if n_e:
            change = np.concatenate([[True], slot_arr[1:] != slot_arr[:-1]])
            grp = np.cumsum(change) - 1
            starts = np.nonzero(change)[0]
            pos = (np.arange(n_e) - starts[grp]).astype(np.int32)
            # mark the last ell-1 distinct slots (scoring-overlap handoff,
            # reference: OverlappingEdgeCreationOrderMessage)
            n_slots = grp[-1] + 1
            is_tail = grp >= n_slots - (p.ell - 1)
        return np.full(n_e, sid), slot_arr, pos, fs, fi, ts_, ti, is_tail

    # prune the constant column from the walk shuffle
    walked = inter.filter(F.col("kind") == 0).drop("kind")
    edges_df = per_group(walked, "slice_id", walk, _EDGES_SCHEMA).cache()

    # ---- graph merge (Catalyst-native partial/final count agg) + degrees -----
    # reference: Graph.java:25-90, GraphMergerControl.java:72-85
    merged = (
        edges_df.groupBy("from_seg", "from_idx", "to_seg", "to_idx")
        .agg(F.count("*").alias("weight"))
        .collect()
    )
    weights = {
        (r["from_seg"], r["from_idx"], r["to_seg"], r["to_idx"]): int(r["weight"])
        for r in merged
    }
    degrees = core.node_degrees(weights)
    b_graph = sc.broadcast(core.build_graph_lookup(weights, degrees))

    # ---- per-slice slot-list tails (OverlappingEdgeCreationOrderMessage) -----
    # tail rows were flagged inside the walk UDF; this collect is KB-sized
    tail_rows = (
        edges_df.filter(F.col("is_tail")).collect()
    )
    tail_rows.sort(key=lambda r: (r["slice_id"], r["slot"], r["pos"]))
    tails: dict[int, list] = {}
    for r in tail_rows:
        sid = r["slice_id"]
        tails.setdefault(sid, [])
        if not tails[sid] or tails[sid][-1][0] != r["slot"]:
            tails[sid].append((r["slot"], []))
        tails[sid][-1][1].append(
            (r["from_seg"], r["from_idx"], r["to_seg"], r["to_idx"])
        )
    b_tails = sc.broadcast(tails)
    order_ids = sorted(s.slice_id for s in slices)
    prev_of = {order_ids[i]: (order_ids[i - 1] if i > 0 else None) for i in range(len(order_ids))}
    b_prev = sc.broadcast(prev_of)

    # ---- stage 5: path scoring ------------------------------------------------
    # reference: ScoringWorkerControl.java:225-294; summands via vectorized
    # sorted-key lookup, scoring via the flat-array smart walk
    def score(sid, t):
        p: S2GParams = b_params.value
        lookup = b_graph.value
        t = _sorted(t, "slot", "pos")
        slots = t.column("slot").to_numpy()
        edges = ("from_seg", "from_idx", "to_seg", "to_idx")
        summ = core.edge_summands_vectorized(
            *(t.column(c).to_numpy().astype(np.int64) for c in edges), lookup
        )
        starts = (
            np.concatenate([[0], np.nonzero(np.diff(slots))[0] + 1])
            if len(slots)
            else np.empty(0, dtype=np.int64)
        )
        prev_sid = b_prev.value.get(sid)
        if prev_sid is not None:
            tail_lists = b_tails.value.get(prev_sid, [])
            flat = [k for _, lst in tail_lists for k in lst]
            if flat:
                t_arr = np.array(flat, dtype=np.int64)
                t_summ = core.edge_summands_vectorized(
                    t_arr[:, 0], t_arr[:, 1], t_arr[:, 2], t_arr[:, 3], lookup
                )
                lens = [len(lst) for _, lst in tail_lists]
                t_starts = np.cumsum([0] + lens[:-1])
                summ = np.concatenate([t_summ, summ])
                starts = np.concatenate([t_starts, starts + len(t_summ)])
        scores, _, _ = core.path_scores_smart_flat(summ, starts, p.ell)
        n_s = len(scores)
        return np.full(n_s, sid), np.arange(n_s), scores, np.arange(n_s) >= n_s - (p.m - 1)

    raw = per_group(edges_df, "slice_id", score, _SCORES_SCHEMA).cache()

    # one pass: global min/max (exact decomposable agg), per-slice counts,
    # and the m-1 raw-score tails (flagged in the score UDF, KB-sized)
    summary = (
        raw.groupBy("slice_id")
        .agg(
            F.min("raw_score").alias("mn"),
            F.max("raw_score").alias("mx"),
            F.count(F.lit(1)).alias("cnt"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("is_tail"), F.struct("score_pos", "raw_score"))
                )
            ).alias("tail"),
        )
        .collect()
    )
    # raw is filled now; the returned frame reads only raw
    for cached in (tagged, inter, edges_df):
        cached.unpersist()
    if not summary:
        # no slice produced a full ell-window of slots: empty result
        # (the oracle path yields the same; the reference would stall)
        return spark.createDataFrame([], _FINAL_SCHEMA)
    gmin = min(float(r["mn"]) for r in summary)
    gmax = max(float(r["mx"]) for r in summary)
    tail_scores = {
        r["slice_id"]: [float(t["raw_score"]) for t in r["tail"]] for r in summary
    }
    counts = {r["slice_id"]: r["cnt"] for r in summary}
    b_score_tails = sc.broadcast(tail_scores)

    offsets = {}
    off = 0
    for sid in order_ids:
        n_local = counts.get(sid, 0)
        n_overlap = (params.m - 1) if prev_of[sid] is not None else 0
        offsets[sid] = off
        off += max(0, n_overlap + n_local - params.m + 1)
    b_offsets = sc.broadcast(offsets)
    b_minmax = sc.broadcast((gmin, gmax))

    # ---- stage 6: normalization + running means --------------------------------
    # reference: ScoringWorkerControl.java:487-537
    def finalize(sid, t):
        p: S2GParams = b_params.value
        g_min, g_max = b_minmax.value
        local = _sorted(t, "score_pos").column("raw_score").to_numpy()
        prev_sid = b_prev.value.get(sid)
        if prev_sid is not None:
            overlap = np.asarray(b_score_tails.value.get(prev_sid, []), dtype=np.float64)
            scores_in = np.concatenate([overlap, local])
        else:
            scores_in = local
        means = core.running_means_smart(scores_in, g_min, g_max, p.m)
        return b_offsets.value[sid] + np.arange(len(means)), means

    return per_group(raw, "slice_id", finalize, _FINAL_SCHEMA)


# ---------------------------------------------------------------------------
# grouped scoring: many independent series at once (the 100-TB-shaped path)
# ---------------------------------------------------------------------------

def min_series_length(params: S2GParams) -> int:
    """Smallest n yielding at least one final score window:
    slots ~ n-m, raw scores = slots-ell+1, finals = raw-m+1 >= 1."""
    return 2 * params.m + params.ell


def score_series_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    params: S2GParams,
) -> DataFrame:
    """Run the full S2G pipeline per key group (one series per task).

    This is the scale path for the north rule: rolled-up per-domain series
    are small (10^3-10^6 points) while the number of series is huge, so
    parallelism comes from the keys and each task runs the shared NumPy
    core end-to-end — zero cross-task coordination, no shuffle beyond the
    one on the keys. Output: key columns + (window_idx, score).
    """
    from .oracle import s2g_oracle

    min_len = min_series_length(params)

    def scores(_, x):
        if len(x) < min_len:
            return None
        s = s2g_oracle(x, params, n_slices=1).scores
        if len(s) == 0 or not np.isfinite(s).all():
            # degenerate series (constant values -> singular rotation):
            # the reference propagates NaN; we emit nothing for the key
            return None
        return np.arange(len(s), dtype=np.int64), s

    return per_series(
        df, key_cols, order_col, [value_col], scores, "window_idx long, score double"
    )


def graph_edges_grouped(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    params: S2GParams,
) -> DataFrame:
    """Expose the S2G graph itself per series: one row per weighted edge
    (keys..., from_seg, from_idx, to_seg, to_idx, weight).

    The normalized scores are a projection of this graph (degree-1 path
    sums); emitting the edge list makes the pipeline's central artifact
    queryable/joinable — the reference only ever logs it (Graph.java) —
    while reusing the bit-parity core untouched. Same distribution shape
    as ``score_series_grouped``: one series per task, no shuffle beyond
    the one on the keys.
    """
    from .oracle import s2g_oracle

    min_len = min_series_length(params)

    def edges(_, x):
        if len(x) < min_len:
            return None
        res = s2g_oracle(x, params, n_slices=1)
        if not res.edge_weights:
            return None
        keys = np.array(list(res.edge_weights.keys()), dtype=np.int32)
        w = np.fromiter(res.edge_weights.values(), dtype=np.int64, count=len(keys))
        return (*keys.T, w)

    return per_series(
        df,
        key_cols,
        order_col,
        [value_col],
        edges,
        "from_seg int, from_idx int, to_seg int, to_idx int, weight long",
    )
