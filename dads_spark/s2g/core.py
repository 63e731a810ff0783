"""Shared NumPy building blocks of the Series2Graph (S2G) anomaly pipeline.

Every function here is used by BOTH the single-process oracle
(:mod:`dads_spark.s2g.oracle`) and the distributed Spark pipeline
(:mod:`dads_spark.s2g.pipeline`) so the two produce bit-identical results for
identical partitioning. The semantics replicate the reference system
(HPI-Information-Systems/DADS, read-only at /root/reference) formula by
formula; citations are ``file:line`` into the reference source.

Floating-point note: where the reference accumulates sequentially on the JVM
(e.g. column means, KDE sums), we use NumPy reductions. The grouping of those
sums differs from the JVM at the last-ulp level, but is deterministic and
shared between oracle and Spark, which is the bit-parity contract this repo
tests (the reference itself is not bit-reproducible across its own actor
arrival orders, e.g. density chunk merge order in
DensityEstimatorControl.java:115-130).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional, Sequence

import numpy as np

from .params import S2GParams

TWO_PI = 2.0 * math.pi
#: Java Double.MIN_VALUE — smallest positive denormal; the reference
#: initializes running maxima with it (ScoringWorkerControl.java:238 et al).
JAVA_DOUBLE_MIN_VALUE = 5e-324
JAVA_DOUBLE_MAX_VALUE = np.finfo(np.float64).max

_PROJECT_CHUNK = 1 << 16  # fixed row-chunking so fp results are shape-independent


# ---------------------------------------------------------------------------
# slice distribution (reference: EqualSequenceSliceDistributorFactory.java)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class SliceInfo:
    """One processor's slice of the raw series.

    start/end        : raw-value range [start, end) including the m-1 overlap
    first_subseq     : global index of the first subsequence (embedding row)
                       this slice owns
    n_subsequences   : embedding rows in this slice = (end-start) - m + 1
    """

    slice_id: int
    start: int
    end: int
    first_subseq: int

    def n_subsequences(self, m: int) -> int:
        return (self.end - self.start) - m + 1


def slice_bounds(n: int, n_slices: int, m: int) -> list[SliceInfo]:
    """Equal slice distribution with overlap m-1.

    reference: EqualSequenceSliceDistributorFactory.java:43-114 —
    sliceLength = ceil(n/P) + (m-1); each next start/firstSubSequenceIndex
    advances by max(1, size - (m-1)).
    """
    overlap = m - 1
    slice_length = math.ceil(n / n_slices) + overlap
    out: list[SliceInfo] = []
    start = 0
    first_subseq = 0
    for i in range(n_slices):
        if start >= n:
            break
        end = min(n, start + slice_length)
        size = end - start
        if size >= m:  # slices with no full subsequence are dropped
            out.append(SliceInfo(len(out), start, end, first_subseq))
        advance = max(1, size - overlap)
        start += advance
        first_subseq += advance
    return out


def slice_bounds_weighted(n: int, weights: list[float], m: int) -> list[SliceInfo]:
    """Memory-proportional (heterogeneous) slice distribution.

    reference: HeterogeneousSequenceSliceDistributionFactory.java:57-98 —
    processors sorted by maximum memory ASCENDING; each gets
    ``ceil(n * mem_share) + overlap`` values except the LAST, which takes
    the exact remainder; start/firstSubSequenceIndex advance by
    ``max(1, size - overlap)``. ``weights`` are the per-processor memory
    budgets (any proportional unit); slices shorter than m are dropped
    (no full subsequence), matching :func:`slice_bounds`.
    """
    overlap = m - 1
    ws = sorted(float(w) for w in weights)
    if not ws or min(ws) <= 0:
        raise ValueError("weights must be positive")
    total = sum(ws)
    out: list[SliceInfo] = []
    start = 0
    first_subseq = 0
    for i, w in enumerate(ws):
        if start >= n:
            break
        if i == len(ws) - 1:
            slice_length = n - start
        else:
            slice_length = math.ceil(n * w / total) + overlap
        end = min(n, start + slice_length)
        size = end - start
        if size >= m:
            out.append(SliceInfo(len(out), start, end, first_subseq))
        advance = max(1, size - overlap)
        start += advance
        first_subseq += advance
    return out


# ---------------------------------------------------------------------------
# embedding (reference: ImprovedSequenceMatrixSink.java:50-68,
#            SequenceMatrix.java:30-46,101-109)
# ---------------------------------------------------------------------------

def moving_sum(x: np.ndarray, c: int) -> np.ndarray:
    """Moving sums of width ``c``; length = len(x) - c.

    The reference streams values through an incremental add/drop accumulator
    and emits exactly ``n - c`` sums (ImprovedSequenceMatrixSink.java:50-68:
    the loop runs while remaining > convolutionSize). We compute each window
    sum independently (pairwise over the c values) so that a window's value
    does not depend on where a slice boundary fell — this is what makes the
    predecessor-boundary projection point recomputable by the next partition
    without a sequential handoff.
    """
    x = np.asarray(x, dtype=np.float64)
    if len(x) <= c:
        return np.empty(0, dtype=np.float64)
    win = np.lib.stride_tricks.sliding_window_view(x, c)[:-1]
    return win.sum(axis=1)


def embedding_matrix(movsum: np.ndarray, d: int) -> np.ndarray:
    """Hankel embedding view: E[i, j] = movsum[i + j], shape (rows, d).

    reference: SequenceMatrix.java:30-46 (get(r,c) -> values[r+c]); d = m - c
    (ImprovedSequenceMatrixSink.java:100-103); rows = len(movsum) - d + 1.
    """
    return np.lib.stride_tricks.sliding_window_view(movsum, d)


# ---------------------------------------------------------------------------
# distributed PCA (reference: PCACalculatorControl.java)
# ---------------------------------------------------------------------------

def pca_local(slice_values: np.ndarray, params: S2GParams):
    """Per-slice PCA stage: local column means, centered QR, min/max record.

    reference: PCACalculatorControl.java:95-99 (means then center then QR),
    Calculate.java:165-173 (transposedColumnMeans), ojAlgo QR ~ LAPACK dgeqrf.
    Returns (R, mean, n_rows, vmin, vmax).
    """
    ms = moving_sum(slice_values, params.c)
    emb = embedding_matrix(ms, params.d)
    mean = emb.mean(axis=0)
    centered = emb - mean
    r_mat = np.linalg.qr(centered, mode="r")
    return (
        r_mat,
        mean,
        emb.shape[0],
        float(np.min(slice_values)),
        float(np.max(slice_values)),
    )


def next_power_of_two(value: int) -> int:
    """reference: Calculate.java:522-532."""
    if value <= 1:
        return 1
    return 1 << (value - 1).bit_length()


def tsqr_tree(r_matrices: Sequence[np.ndarray]) -> np.ndarray:
    """Tree reduction of per-slice R factors.

    reference: PCACalculatorControl.java:182-258 — at step s the surviving
    processors i < P2*0.5^s stack [R_local; R_remote(i + involved)] and re-QR
    (the re-QR happens even when there is no remote partner, :230-246).
    """
    p = len(r_matrices)
    if p == 0:
        raise ValueError("no R matrices")
    p2 = next_power_of_two(p)
    last_step = int(math.ceil(math.log2(p2))) + 1 if p2 > 1 else 1
    rs = list(r_matrices)
    step = 1
    while step < last_step:
        involved = int(p2 * 0.5**step)
        for i in range(min(involved, p)):
            sender = i + involved
            mat = np.vstack([rs[i], rs[sender]]) if sender < p else rs[i]
            rs[i] = np.linalg.qr(mat, mode="r")
        step += 1
    return rs[0]


def rodrigues_rotation(reference_vector: np.ndarray, unit_vector: np.ndarray) -> np.ndarray:
    """Rotation aligning ``reference_vector`` with ``unit_vector``.

    reference: Calculate.java:135-163 — R = I + K + K @ (K * (1-dot)/|v|^2)
    with K the cross-product matrix of v = v1 x v2 (unnormalized).
    """
    with np.errstate(divide="ignore", invalid="ignore"):
        # a zero reference vector (constant series) divides by zero; Java
        # yields Infinity/NaN here rather than throwing — replicate
        v1 = reference_vector * (
            np.float64(1.0) / np.sqrt(np.float64(np.sum(reference_vector * reference_vector)))
        )
        v2 = unit_vector * (
            np.float64(1.0) / np.sqrt(np.float64(np.sum(unit_vector * unit_vector)))
        )
    cross = np.array(
        [
            v1[1] * v2[2] - v1[2] * v2[1],
            v1[2] * v2[0] - v1[0] * v2[2],
            v1[0] * v2[1] - v1[1] * v2[0],
        ]
    )
    cross_len_sq = np.float64(np.sum(cross * cross))
    dot = v1[0] * v2[0] + v1[1] * v2[1] + v1[2] * v2[2]
    k = np.array(
        [
            [0.0, -cross[2], cross[1]],
            [cross[2], 0.0, -cross[0]],
            [-cross[1], cross[0], 0.0],
        ]
    )
    # degenerate (reference vector parallel to the unit vector): Java divides
    # by zero and propagates Infinity/NaN rather than throwing — replicate
    # (callers scoring many heterogeneous series skip non-finite results)
    with np.errstate(divide="ignore", invalid="ignore"):
        scale = (np.float64(1.0) - dot) / cross_len_sq
        return np.eye(3) + k + k @ (k * scale)


@dataclass(frozen=True)
class PCAResult:
    principal_components: np.ndarray  # (d, 3)
    rotation: np.ndarray  # (3, 3)
    column_means: np.ndarray  # (d,)
    min_record: float
    max_record: float


def finalize_pca(
    r_matrices: Sequence[np.ndarray],
    means: Sequence[np.ndarray],
    counts: Sequence[int],
    min_record: float,
    max_record: float,
    params: S2GParams,
) -> PCAResult:
    """Master-side PCA finalization.

    reference: PCACalculatorControl.java:279-355,406-419 — weighted total
    means in processor-index order; stack sqrt(n_i)*(mean_i - total) rows for
    every processor, append the tree-reduced R, QR, SVD of R, keep V[:, 0:3];
    sign-normalize each PC so V[0, col] >= 0 (:329-346); reference vector
    (c*minRecord*1_d - mean) @ V (:348-355); Rodrigues rotation to (0,0,1).
    """
    total_n = int(sum(counts))
    total_mean = np.zeros(params.d)
    for mean_i, n_i in zip(means, counts):
        total_mean = total_mean + mean_i * (n_i / float(total_n))

    r_tree = tsqr_tree(r_matrices)
    rows = [(m_i - total_mean) * math.sqrt(n_i) for m_i, n_i in zip(means, counts)]
    stacked = np.vstack(rows + [r_tree])
    r_final = np.linalg.qr(stacked, mode="r")
    _, _, vt = np.linalg.svd(r_final)
    v = vt.T[:, :3].copy()
    for col in range(3):
        if v[0, col] < 0.0:
            v[:, col] = v[:, col] * -1.0

    ref = (np.full(params.d, params.c * min_record) - total_mean) @ v
    rot = rodrigues_rotation(ref, np.array([0.0, 0.0, 1.0]))
    return PCAResult(v, rot, total_mean, min_record, max_record)


# ---------------------------------------------------------------------------
# dimension reduction (reference: DimensionReductionReceiverControl.java:99-154)
# ---------------------------------------------------------------------------

def project_slice(slice_values: np.ndarray, pca: PCAResult, params: S2GParams) -> np.ndarray:
    """2-D projection of a slice: ((E - mean) @ V) rotated, rows 0..1.

    reference: reduceProjection (DimensionReductionReceiverControl.java:146-154)
    then rotation.multiply(reduced.transpose()) and keep rows 0,1 (:119-123).
    Returns shape (2, rows); columns are consecutive subsequence positions.
    Fixed row-chunking keeps fp results independent of slice length.
    """
    ms = moving_sum(slice_values, params.c)
    emb = embedding_matrix(ms, params.d)
    rows = emb.shape[0]
    out = np.empty((rows, 3))
    for lo in range(0, rows, _PROJECT_CHUNK):
        hi = min(rows, lo + _PROJECT_CHUNK)
        out[lo:hi] = (emb[lo:hi] - pca.column_means) @ pca.principal_components
    rotated = pca.rotation @ out.T
    return rotated[0:2, :]


def padded_projection(
    ext_values: np.ndarray, first_subseq: int, pca: PCAResult, params: S2GParams
) -> tuple[np.ndarray, int]:
    """Projection of a slice's extended raw values.

    ``ext_values`` carries one extra leading raw value for every non-first
    slice, so column 0 is the predecessor-boundary projection point (the
    reference ships this point via ReducedSubSequenceMessage,
    NodeCreationWorkerControl.java:139-209; recomputing it locally is
    bit-identical because window sums are per-window independent). Returns
    (projection 2xC, padded_first_subseq).
    """
    proj = project_slice(ext_values, pca, params)
    first = first_subseq - 1 if first_subseq > 0 else first_subseq
    return proj, first


def max_abs(projection_2d: np.ndarray) -> float:
    """max(max(P), -min(P)) over the whole 2xN matrix.

    reference: NodeCreationWorkerControl.java:73-74.
    """
    if projection_2d.size == 0:
        return -math.inf
    return max(float(projection_2d.max()), -float(projection_2d.min()))


# ---------------------------------------------------------------------------
# intersections (reference: Calculate.java:204-408, IntersectionWorkFactory.java)
# ---------------------------------------------------------------------------

def make_intersection_rays(projection_2d: np.ndarray, n_segments: int):
    """Ray endpoints of the S radial segments.

    reference: IntersectionWorkFactory.java:40-46 (radius from the local
    padded projection's per-axis max-abs), Calculate.java:261-274 (endpoints
    at angle 2*pi*i/S scaled by radius).
    """
    radius_x = max(float(projection_2d[0].max()), abs(float(projection_2d[0].min())))
    radius_y = max(float(projection_2d[1].max()), abs(float(projection_2d[1].min())))
    radius = math.sqrt(radius_x * radius_x + radius_y * radius_y)
    angle_step = TWO_PI / n_segments
    idx = np.arange(n_segments, dtype=np.float64)
    return np.cos(angle_step * idx) * radius, np.sin(angle_step * idx) * radius


def _segment_candidates(x0, y0, x1, y1, n_segments: int):
    """Candidate segment window per consecutive-point pair, vectorized.

    reference: Calculate.java:276-324 — atan2 of the normalized coordinates,
    wrap-aware index diff capped at S/2; candidates are the circular range of
    size 2*(diff+1) starting at currentIndex - diff - 1.
    Returns (seg_idx_current, diff, counts).
    """
    with np.errstate(divide="ignore", invalid="ignore"):
        len0 = np.sqrt(x0 * x0 + y0 * y0)
        len1 = np.sqrt(x1 * x1 + y1 * y1)
        t0 = np.arctan2(y0 / len0, x0 / len0)
        t1 = np.arctan2(y1 / len1, x1 / len1)
    t0 = np.where(t0 < 0, t0 + TWO_PI, t0)
    t1 = np.where(t1 < 0, t1 + TWO_PI, t1)
    # Java (int) cast: truncation toward zero, NaN -> 0
    i0 = np.nan_to_num(np.trunc(t0 / TWO_PI * n_segments), nan=0.0).astype(np.int64)
    i1 = np.nan_to_num(np.trunc(t1 / TWO_PI * n_segments), nan=0.0).astype(np.int64)
    diff = np.abs(i0 - i1)
    half = n_segments // 2
    wrap = diff > half
    diff = np.where(
        wrap & (i1 > half),
        np.abs(i0 + n_segments - i1),
        np.where(wrap & (i0 > half), np.abs(i0 - n_segments - i1), diff),
    )
    diff = np.minimum(diff, half)
    counts = 2 * (diff + 1)
    return i0, diff, counts


def _chunk_intersections(proj: np.ndarray, first_subseq: int, n_segments: int, ray_x, ray_y):
    """All intersections for one chunk of the projection, emission order.

    Emission order is (pair-major, candidate-minor) which equals ascending
    creation index (Calculate.java:222-245: the creation counter increments
    once per candidate CHECK, hit or miss, starting at firstSubSequenceIndex
    * numberOfSegments).
    """
    x = proj[0]
    y = proj[1]
    x0, y0, x1, y1 = x[:-1], y[:-1], x[1:], y[1:]
    i0, diff, counts = _segment_candidates(x0, y0, x1, y1, n_segments)

    total = int(counts.sum())
    if total == 0:
        empty = np.empty(0)
        return empty.astype(np.int64), empty, empty.astype(np.int64), empty.astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
    pair = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    j = np.arange(total, dtype=np.int64) - np.repeat(offsets, counts)
    seg = np.mod(i0[pair] - diff[pair] - 1 + j, n_segments)
    creation_idx = first_subseq * n_segments + np.arange(total, dtype=np.int64)
    subseq = first_subseq + pair

    # line-segment x ray intersection, ops verbatim from Calculate.java:326-393
    rx = ray_x[seg]
    ry = ray_y[seg]
    l1dx = 0.0 - rx
    l1dy = 0.0 - ry
    l2sx, l2sy, l2ex, l2ey = x0[pair], y0[pair], x1[pair], y1[pair]
    l2dx = l2sx - l2ex
    l2dy = l2sy - l2ey
    div = l1dx * l2dy - l2dx * l1dy
    line1_det = np.zeros(total)  # det(origin, ray) with origin = (0,0)
    line2_det = l2sx * l2ey - l2ex * l2sy
    with np.errstate(divide="ignore", invalid="ignore"):
        ix = (line1_det * l2dx - line2_det * l1dx) / div
        iy = (line1_det * l2dy - line2_det * l1dy) / div
    l1maxx = np.maximum(0.0, rx)
    l1minx = np.minimum(0.0, rx)
    l1maxy = np.maximum(0.0, ry)
    l1miny = np.minimum(0.0, ry)
    l2maxx = np.maximum(l2sx, l2ex)
    l2minx = np.minimum(l2sx, l2ex)
    l2maxy = np.maximum(l2sy, l2ey)
    l2miny = np.minimum(l2sy, l2ey)
    with np.errstate(invalid="ignore"):
        ok = (
            (div != 0.0)
            & ~(ix > l1maxx)
            & ~(ix < l1minx)
            & ~(ix > l2maxx)
            & ~(ix < l2minx)
            & ~(iy > l1maxy)
            & ~(iy < l1miny)
            & ~(iy > l2maxy)
            & ~(iy < l2miny)
        )
    dist = np.sqrt(ix * ix + iy * iy)
    return seg[ok], dist[ok], creation_idx[ok], subseq[ok]


def intersections_for_projection(
    proj: np.ndarray, first_subseq: int, params: S2GParams
):
    """All intersections of one slice's (padded) projection.

    Chunking replicates IntersectionWorkFactory.java:37,55-81 — chunk count
    = max(1, floor(cols / 10000)), consecutive chunks overlap one point, and
    each chunk's creation counter restarts at chunkFirstSubSequenceIndex * S.
    Returns (seg, dist, creation_idx, subseq) in emission (creation) order.
    """
    cols = proj.shape[1]
    ray_x, ray_y = make_intersection_rays(proj, params.S)
    chunk_size = params.intersection_chunk_size
    n_chunks = max(1, cols // chunk_size)
    segs, dists, cidxs, subseqs = [], [], [], []
    start = 0
    chunk_first = first_subseq
    for k in range(n_chunks):
        end = cols if k == n_chunks - 1 else min(cols, start + chunk_size)
        s, d, ci, sq = _chunk_intersections(proj[:, start:end], chunk_first, params.S, ray_x, ray_y)
        segs.append(s)
        dists.append(d)
        cidxs.append(ci)
        subseqs.append(sq)
        advance = (end - start) - 1
        start += advance
        chunk_first += advance
    return (
        np.concatenate(segs),
        np.concatenate(dists),
        np.concatenate(cidxs),
        np.concatenate(subseqs),
    )


# ---------------------------------------------------------------------------
# KDE node extraction (reference: DensityEstimatorControl.java, Calculate.java)
# ---------------------------------------------------------------------------

N_DENSITY_SAMPLES = 250  # reference: NodeCreationWorkerControl.java:39
MAXIMUM_VALUE_SCALE_FACTOR = 1.2  # reference: NodeCreationCoordinatorControl.java:27


def density_grid(max_value: float) -> np.ndarray:
    """reference: Calculate.java:112-122 makeRange(0, max, 250): points i*step."""
    step = (max_value - 0.0) / N_DENSITY_SAMPLES
    return np.arange(N_DENSITY_SAMPLES, dtype=np.float64) * step


def kde_nodes(samples: np.ndarray, grid: np.ndarray) -> np.ndarray:
    """Gaussian-KDE density over ``grid``, node positions at strict local maxima.

    reference: DensityEstimatorControl.java:41-69 (Scott bandwidth n^(-1/5),
    the reference's idiosyncratic variance  sumsq/(n-1) - (sum/n)*(sum/(n-1)),
    whitening and normalization), MorePointsThanSamplesCalculator.java:30-43
    (kernel: exp(-0.5*((s - p)*white)^2) * (1/n)), Calculate.java:424-461
    (strict local maxima, first/last grid point excluded).
    Segments with fewer than 2 samples have no defined variance (the
    reference asserts n > 1) -> empty node list.
    """
    n = len(samples)
    if n < 2:
        return np.empty(0)
    s_sum = float(np.sum(samples))
    s_sq = float(np.sum(samples * samples))
    var = s_sq / (n - 1) - (s_sum / n) * (s_sum / (n - 1))
    if var <= 0.0:  # constant samples: degenerate density, single node at value
        return np.empty(0)
    bw2 = math.pow(n, -1.0 / 5.0) ** 2
    whitening = math.sqrt((1.0 / var) / bw2)
    norm_factor = math.sqrt(2.0 * math.pi * var * bw2)
    weight = 1.0 / n
    sw = samples * whitening
    gw = grid * whitening
    dens = np.exp(-0.5 * (sw[:, None] - gw[None, :]) ** 2).sum(axis=0) * weight
    dens = dens / norm_factor
    interior = (dens[1:-1] > dens[:-2]) & (dens[1:-1] > dens[2:])
    return grid[np.nonzero(interior)[0] + 1]


def match_nodes(dists: np.ndarray, segs: np.ndarray, nodes_by_segment: Sequence[np.ndarray]) -> np.ndarray:
    """Index of the closest node per intersection (ties -> lower index).

    reference: Calculate.java:463-481 / EdgeCreationWorkerControl.java:356-382
    (ascending scan with early break == first argmin on a sorted node list).
    """
    out = np.zeros(len(dists), dtype=np.int64)
    for seg in np.unique(segs):
        nodes = nodes_by_segment[int(seg)]
        mask = segs == seg
        if len(nodes) == 0:
            out[mask] = 0
            continue
        out[mask] = np.argmin(np.abs(nodes[None, :] - dists[mask][:, None]), axis=1)
    return out


# ---------------------------------------------------------------------------
# edge creation walk (reference: GraphPartitionCreator.java:22-76,
#                     GraphPartitionCreatorWorkFactory.java,
#                     EdgeCreationWorkerControl.java:58-106)
# ---------------------------------------------------------------------------

def edge_walk(
    segs: np.ndarray,
    node_idx: np.ndarray,
    subseqs: np.ndarray,
    first_subseq: int,
    local_from: int,
    local_to: int,
    last_node: Optional[tuple[int, int]],
):
    """Sequential edge-creation walk over creation-ordered intersections.

    Semantics (GraphPartitionCreator.java:22-76): for every subsequence index
    skipped before an intersection, emit a self-loop on the previous node;
    then an edge previous -> matched. After the final intersection the
    counter is incremented once more (the boundary pair belongs to the next
    worker) and remaining locally-owned indices get trailing self-loops.
    Chunked execution in the reference (5000/chunk with carried last node,
    GraphPartitionCreatorWorkFactory.java:60-92) is equivalent to this single
    pass.

    Returns (slots, edges, final_node) where ``edges`` is a list of
    (slot, from_seg, from_idx, to_seg, to_idx) in creation order.
    """
    edges: list[tuple[int, int, int, int, int]] = []
    nxt = first_subseq
    last = last_node
    for k in range(len(segs)):
        ssq = int(subseqs[k])
        while ssq > nxt:
            slot = nxt
            nxt += 1
            if last is None:
                continue
            edges.append((slot, last[0], last[1], last[0], last[1]))
        matched = (int(segs[k]), int(node_idx[k]))
        if ssq == nxt:
            nxt += 1
        if last is not None:
            edges.append((nxt - 1, last[0], last[1], matched[0], matched[1]))
        last = matched
    nxt += 1
    while local_from <= nxt < local_to:
        if last is not None:
            edges.append((nxt, last[0], last[1], last[0], last[1]))
        nxt += 1
    return edges, last


def edge_walk_arrays(
    segs: np.ndarray,
    node_idx: np.ndarray,
    subseqs: np.ndarray,
    first_subseq: int,
    local_from: int,
    local_to: int,
    last_node: Optional[tuple[int, int]],
):
    """Vectorized :func:`edge_walk`: returns (slots, fs, fi, ts, ti) arrays
    in emission order, bit-identical to the loop form.

    Closed form of the walk (subseqs are non-decreasing in creation order):
    the real edge for intersection k lands on slot subseq[k]; before it,
    self-loops on node[k-1] fill slots [max(first, subseq[k-1]+1),
    subseq[k]); after the final intersection one slot is skipped and
    trailing self-loops fill [max(local_from, last+2), local_to).
    """
    n = len(segs)
    if n == 0:
        # no intersections: trailing self-loops only (if a node was handed in)
        nxt = first_subseq + 1
        lo = max(local_from, nxt)
        if last_node is None or lo >= local_to:
            e = np.empty(0, dtype=np.int64)
            return e, e, e, e, e
        slots = np.arange(lo, local_to, dtype=np.int64)
        fs = np.full(len(slots), last_node[0], dtype=np.int64)
        fi = np.full(len(slots), last_node[1], dtype=np.int64)
        return slots, fs, fi, fs.copy(), fi.copy()

    segs = np.asarray(segs, dtype=np.int64)
    node_idx = np.asarray(node_idx, dtype=np.int64)
    subseqs = np.asarray(subseqs, dtype=np.int64)

    # node BEFORE intersection k (None sentinel -> -1)
    prev_seg = np.empty(n, dtype=np.int64)
    prev_idx = np.empty(n, dtype=np.int64)
    prev_seg[1:], prev_idx[1:] = segs[:-1], node_idx[:-1]
    has_incoming = last_node is not None
    prev_seg[0] = last_node[0] if has_incoming else -1
    prev_idx[0] = last_node[1] if has_incoming else -1

    # self-loop runs before each intersection
    run_start = np.empty(n, dtype=np.int64)
    run_start[0] = first_subseq
    run_start[1:] = subseqs[:-1] + 1
    run_start = np.maximum(run_start, first_subseq)
    run_len = np.maximum(0, subseqs - run_start)
    if not has_incoming:
        run_len[0] = 0  # null lastNode: skipped slots emit nothing
    total_self = int(run_len.sum())
    offs = np.cumsum(run_len) - run_len
    rep = np.repeat(np.arange(n), run_len)
    self_slots = np.repeat(run_start, run_len) + (np.arange(total_self) - np.repeat(offs, run_len))
    self_fs, self_fi = prev_seg[rep], prev_idx[rep]

    # real edges (skip k=0 when there is no incoming node)
    keep = np.ones(n, dtype=bool)
    if not has_incoming:
        keep[0] = False
    real_slots = subseqs[keep]
    real_fs, real_fi = prev_seg[keep], prev_idx[keep]
    real_ts, real_ti = segs[keep], node_idx[keep]

    # trailing self-loops (one slot skipped after the final intersection,
    # GraphPartitionCreator.java:62)
    t_lo = max(local_from, int(subseqs[-1]) + 2)
    t_slots = np.arange(t_lo, local_to, dtype=np.int64)
    t_fs = np.full(len(t_slots), segs[-1], dtype=np.int64)
    t_fi = np.full(len(t_slots), node_idx[-1], dtype=np.int64)

    # interleave in emission order: per intersection [self-loops..., edge],
    # then trailing. Emission order == sort by (slot, kind) where self-loops
    # at a slot always precede a real edge at the same slot? No: a self-loop
    # slot is always < its intersection's slot, and slots are globally
    # non-decreasing in emission order with ties only among real edges at
    # the same slot (duplicates keep creation order). A stable sort by slot
    # therefore reproduces emission order exactly.
    slots = np.concatenate([self_slots, real_slots, t_slots])
    fs = np.concatenate([self_fs, real_fs, t_fs])
    fi = np.concatenate([self_fi, real_fi, t_fi])
    ts = np.concatenate([self_fs, real_ts, t_fs])
    ti = np.concatenate([self_fi, real_ti, t_fi])
    # stable sort: self-loops and trailing already ascending; real edges
    # ascending; merge by slot keeps within-slot original order only if the
    # concatenation order matches emission for equal slots. Self-loops never
    # share a slot with a real edge (self slots < their edge's slot, and
    # > previous edge's slot), so a stable argsort by slot is exact.
    order = np.argsort(slots, kind="stable")
    return slots[order], fs[order], fi[order], ts[order], ti[order]


def node_degrees(weights: dict) -> dict:
    """Distinct-edge degrees: +1 for from, +1 for to, per unique edge
    (self-loops therefore count twice). reference: Calculate.java:488-507."""
    degrees: dict[tuple[int, int], int] = {}
    for (fs, fi, ts, ti) in weights:
        degrees[(fs, fi)] = degrees.get((fs, fi), 0) + 1
        degrees[(ts, ti)] = degrees.get((ts, ti), 0) + 1
    return degrees


# ---------------------------------------------------------------------------
# path scoring (reference: ScoringWorkerControl.java:225-294)
# ---------------------------------------------------------------------------

def encode_edge_keys(fs, fi, ts, ti) -> np.ndarray:
    """Pack an edge key (from_seg, from_idx, to_seg, to_idx) into one int64
    (each component < 2^15: segments <= S, node indices < 250 grid points)."""
    return (
        (np.asarray(fs, dtype=np.int64) << 45)
        | (np.asarray(fi, dtype=np.int64) << 30)
        | (np.asarray(ts, dtype=np.int64) << 15)
        | np.asarray(ti, dtype=np.int64)
    )


def build_graph_lookup(weights: dict, degrees: dict):
    """Sorted-array lookup tables for vectorized summand computation."""
    keys = np.array(
        [((fs << 45) | (fi << 30) | (tseg << 15) | tidx) for (fs, fi, tseg, tidx) in weights],
        dtype=np.int64,
    )
    w = np.array(list(weights.values()), dtype=np.float64)
    order = np.argsort(keys)
    node_keys = np.array([(s << 15) | i for (s, i) in degrees], dtype=np.int64)
    deg = np.array(list(degrees.values()), dtype=np.int64)
    norder = np.argsort(node_keys)
    return keys[order], w[order], node_keys[norder], deg[norder]


def edge_summands_vectorized(fs, fi, ts, ti, lookup) -> np.ndarray:
    """summand = weight(edge) * (degree(from) - 1), vectorized
    (reference: ScoringWorkerControl.java:279-294, addSummands).

    The weight is a float64 and the degree term an exact integer converted
    to float64, so each summand is one correctly rounded float64 product of
    two integers: bit-exact, whatever path computes it.
    """
    ekeys, w, nkeys, deg = lookup
    ek = encode_edge_keys(fs, fi, ts, ti)
    nk = (np.asarray(fs, dtype=np.int64) << 15) | np.asarray(fi, dtype=np.int64)
    wv = w[np.searchsorted(ekeys, ek)]
    dv = deg[np.searchsorted(nkeys, nk)]
    return wv * (dv - 1).astype(np.float64)


def path_scores_smart_flat(summands: np.ndarray, slot_starts: np.ndarray, ell: int):
    """Array form of :func:`path_scores_smart`: ``summands`` is the flat
    concatenation of per-slot summand values in slot order; ``slot_starts``
    holds each slot's start offset.

    Bit-identical to the scalar loop: the smart accumulator is a strict
    left fold (add the initial window's values in order; per step subtract
    the leaving slot's values then add the entering slot's), and
    ``np.add.accumulate`` performs exactly that sequential recurrence —
    unlike ``np.sum``, it never reassociates. The signed operand stream is
    built with index arithmetic (sign flip by ``* -1.0`` is exact), so
    every intermediate path_sum equals the scalar version's to the last ulp.
    """
    n_slots = len(slot_starts)
    n_scores = n_slots - ell + 1
    min_score = JAVA_DOUBLE_MAX_VALUE
    max_score = JAVA_DOUBLE_MIN_VALUE
    if n_scores <= 0:
        return np.empty(0), min_score, max_score
    summands = np.ascontiguousarray(summands, dtype=np.float64)
    bounds = np.append(slot_starts, len(summands)).astype(np.int64)
    counts = np.diff(bounds)
    head_len = int(bounds[ell] - bounds[0])

    k = np.arange(1, n_scores)
    # per step: the leaving slot's values (negated) then the entering slot's
    slot_ids = np.empty(2 * len(k), dtype=np.int64)
    slot_ids[0::2] = k - 1
    slot_ids[1::2] = k + ell - 1
    signs = np.empty(2 * len(k))
    signs[0::2] = -1.0
    signs[1::2] = 1.0
    lens = counts[slot_ids]
    cl = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    pos_in_chunk = np.arange(int(cl[-1]), dtype=np.int64) - np.repeat(cl[:-1], lens)
    elem_idx = np.repeat(bounds[slot_ids], lens) + pos_in_chunk
    stream = np.concatenate(
        [summands[bounds[0] : bounds[ell]], summands[elem_idx] * np.repeat(signs, lens)]
    )
    acc = np.add.accumulate(stream)

    chk = np.empty(n_scores, dtype=np.int64)
    chk[0] = head_len
    chk[1:] = head_len + cl[2 * k]
    win_counts = np.empty(n_scores, dtype=np.int64)
    win_counts[0] = head_len
    win_counts[1:] = head_len + np.cumsum(counts[k + ell - 1] - counts[k - 1])
    scores = acc[chk - 1] / win_counts
    min_score = min(min_score, float(scores.min()))
    max_score = max(max_score, float(scores.max()))
    return scores, min_score, max_score


def path_scores_smart(summands_per_slot: list[np.ndarray], ell: int):
    """Sliding window (length ell, in slots) mean of summands, incremental.

    Replicates the fp op order of the smart variant
    (ScoringWorkerControl.java:225-294): initial window adds summands
    sequentially; each step first subtracts the leaving slot's summands one
    by one, then adds the entering slot's. Score = pathSum / window count.
    Returns (scores, min, max) with the reference's Double.MIN_VALUE /
    MAX_VALUE initializers (:237-238).
    """
    n_slots = len(summands_per_slot)
    n_scores = n_slots - ell + 1
    scores = np.empty(max(0, n_scores))
    min_score = JAVA_DOUBLE_MAX_VALUE
    max_score = JAVA_DOUBLE_MIN_VALUE
    if n_scores <= 0:
        return scores, min_score, max_score

    path_sum = 0.0
    window_count = 0
    for s in range(ell):
        for v in summands_per_slot[s]:
            path_sum += v
        window_count += len(summands_per_slot[s])
    score = path_sum / window_count
    scores[0] = score
    min_score = min(min_score, score)
    max_score = max(max_score, score)

    for start in range(1, n_scores):
        for v in summands_per_slot[start - 1]:
            path_sum -= v
        for v in summands_per_slot[start + ell - 1]:
            path_sum += v
        window_count += len(summands_per_slot[start + ell - 1]) - len(summands_per_slot[start - 1])
        score = path_sum / window_count
        scores[start] = score
        min_score = min(min_score, score)
        max_score = max(max_score, score)
    return scores, min_score, max_score


def running_means_smart(
    raw_scores_with_overlap: np.ndarray, global_min: float, global_max: float, m: int
) -> np.ndarray:
    """Normalization + sliding sum of m consecutive normalized scores.

    reference: ScoringWorkerControl.java:487-537 — minScore = -globalMax,
    normFactor = (globalMax - globalMin) * m, normalized = (-s - minScore) /
    normFactor; incremental window: subtract the leaving value first, then
    add the entering one. numberOfMeans = len - m + 1.
    """
    min_score = global_max * -1.0
    max_score = global_min * -1.0
    norm_factor = (max_score - min_score) * m
    norm = (-raw_scores_with_overlap - min_score) / norm_factor
    n_means = len(norm) - m + 1
    if n_means <= 0:
        return np.empty(0)
    # same strict-left-fold vectorization as path_scores_smart_flat: the
    # incremental window is (add m values) then per step (-leaving,
    # +entering); np.add.accumulate replays those IEEE adds in order
    k = np.arange(1, n_means)
    stream = np.empty(m + 2 * (n_means - 1))
    stream[:m] = norm[:m]
    stream[m::2] = -norm[k - 1]
    stream[m + 1 :: 2] = norm[k + m - 1]
    acc = np.add.accumulate(stream)
    chk = np.empty(n_means, dtype=np.int64)
    chk[0] = m
    chk[1:] = m + 2 * k
    return acc[chk - 1]
