"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline. The query set is broadcast;
  scores are computed in one vectorized matmul per Arrow batch
  (``groups.map_batches``); each batch keeps a tie-safe partial top-k
  (:func:`_partial_topk`, shared with the PQ scans) and a window ranks the
  survivors. O(n_vectors * n_queries) FLOPs, embarrassingly parallel, no
  shuffle until the (tiny) per-query top-k aggregation.
- LSH-bucketed ANN: random-hyperplane signatures, candidates = same-bucket
  vectors across any of B bands; exact cosine re-rank of candidates. The
  scale path: bucket join replaces the full cross product.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window as W, functions as F

from ..groups import map_batches


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)


def _cosine_block(mat: np.ndarray, queries: np.ndarray) -> np.ndarray:
    return _unit_rows(mat) @ _unit_rows(queries).T


def _partial_topk(ids: np.ndarray, q_ids: np.ndarray, scores: np.ndarray, k: int):
    """One batch's per-query survivors. ``scores`` is (rows, queries), -inf
    where a pair may not match. The cut is on the HALF_UP 6dp key
    sign*floor(|x|*1e6+0.5), the quantization F.round applies in the final
    window (np.round is half-to-even and can disagree at rounding ties),
    and it keeps every tie at the k-th key, so the global top-k by
    (key desc, id asc) is always a subset of the union of the batches'
    survivors. Returns (query_id, neighbor_id, score, key), query-major."""
    finite = np.isfinite(scores)
    key = np.where(finite, np.sign(scores) * np.floor(np.abs(scores) * 1e6 + 0.5), -np.inf)
    n = len(scores)
    kth = np.partition(key, n - k, axis=0)[n - k] if n > k else -np.inf
    q, r = np.nonzero((finite & (key >= kth)).T)
    return q_ids[q], ids[r], scores[r, q], key[r, q].astype(np.int64)


def _query_block(embeddings: DataFrame, query_ids: list[int], id_col: str, vec_col: str):
    """The query ids and their vectors (float64), collected once — tiny, and
    closed over, so they reach executors with the task."""
    rows = embeddings.filter(F.col(id_col).isin(query_ids)).select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    return q_ids, np.array([r[vec_col] for r in rows], dtype=np.float64)


def _rank_q6(flat: DataFrame, k: int) -> DataFrame:
    """Final per-query top-k over survivor rows, on the 6dp-rounded cosine
    with a deterministic id tiebreak."""
    w = W.partitionBy("query_id").orderBy(F.round("cosine", 6).desc(), F.col("neighbor_id"))
    return (
        flat.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def _partial_topk_scores(
    embeddings: DataFrame,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-Arrow-batch partial top-k cosine scores vs the broadcast query
    block: each batch emits at most nq x (k + ties) survivor rows — the
    global top-k by (round(cosine, 6) desc, id asc) is provably a subset."""

    def scores(ids, mat):
        cos = _cosine_block(mat.astype(np.float64), q_mat)  # (batch, nq)
        cos[ids[:, None] == q_ids[None, :]] = -np.inf  # exclude self BEFORE the cut
        return _partial_topk(ids, q_ids, cos, k)[:3]

    return map_batches(
        embeddings, [id_col, vec_col], scores, "query_id long, neighbor_id long, cosine double"
    )


def knn_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query id.

    Output (query_id, neighbor_id, rank, cosine rounded to 6dp); self-match
    excluded. Queries are collected once (tiny) and closed over — they reach
    executors via task broadcast.

    Scale shape: each Arrow batch emits only its PARTIAL top-k per query
    (ties at the k-th quantized key included), so the final per-query window
    ranks <= batches x (k + ties) survivor rows instead of funneling all n
    candidate rows of a query into one task — the global top-k is always a
    subset of the per-batch top-k union.
    """
    q_ids, q_mat = _query_block(embeddings, query_ids, id_col, vec_col)
    # rank on the QUANTIZED cosine so the ordering (and the top-k boundary)
    # is reproducible across engines computing the dot product in different
    # summation orders (sub-1e-6 differences quantize away)
    return _rank_q6(_partial_topk_scores(embeddings, q_ids, q_mat, k, id_col, vec_col), k)


def _hash_sample(
    embeddings: DataFrame, sample_size: int, min_rows: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic training sample (float64 rows): pre-filter to a ~1/64
    xxhash64 stratum so the ordered limit (per-partition top-k + driver
    merge) scans a sliver of the table instead of feeding ALL n ids through
    a top-k at 10^9-vector scale; fall back to the unfiltered ordered limit
    only when the stratum holds fewer than ``min_rows`` rows (tiny tables).
    Both paths are pure functions of the ids."""
    base = embeddings.select(id_col, vec_col)
    stratum = base.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(64)) == 0)
    rows = stratum.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    if len(rows) < min_rows:
        rows = base.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    return np.array([r[vec_col] for r in rows], dtype=np.float64)


def _train_spherical_kmeans(
    embeddings: DataFrame,
    n_cells: int,
    sample_size: int,
    kmeans_iters: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> np.ndarray:
    """Deterministic spherical k-means centroids on the driver, trained on
    the hash sample (:func:`_hash_sample`; at least 4 rows a cell).
    Centroids are tiny and broadcast to every task."""
    rng = np.random.default_rng(seed)
    X = _unit_rows(_hash_sample(embeddings, sample_size, max(n_cells * 4, 64), id_col, vec_col))
    cent = X[rng.choice(len(X), size=n_cells, replace=False)]
    for _ in range(kmeans_iters):  # spherical k-means (cosine geometry)
        assign = (X @ cent.T).argmax(axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-30)
    return cent


def kmeans_assign(
    embeddings: DataFrame,
    n_clusters: int = 8,
    sample_size: int = 2048,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster assignment for every vector: (id, cluster, sim_q6).

    The data-curation clustering pass an LLM-corpus pipeline runs over
    embeddings (topic bucketing, diversity sampling, per-cluster quotas):
    seeded spherical k-means trained on a deterministic driver sample
    (same trainer as the IVF coarse quantizer), then ONE mapInArrow scan
    assigns each vector its argmax-cosine centroid. sim_q6 is the cosine
    to the assigned centroid in micro-units (tie-free quantization).
    At warehouse scale the cluster id becomes a partition/bucket column.
    """
    cent = _train_spherical_kmeans(
        embeddings, n_clusters, sample_size, kmeans_iters, seed, id_col, vec_col
    )

    def assign(ids, mat):
        cos = _unit_rows(mat.astype(np.float64)) @ cent.T
        cl = cos.argmax(axis=1)
        best = cos[np.arange(len(cl)), cl]
        return [ids, cl, np.floor(best * 1e6 + 0.5).astype(np.int64)]

    return map_batches(
        embeddings, [id_col, vec_col], assign, f"{id_col} long, cluster long, sim_q6 long"
    )


def _exact_rerank(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine over (query_id, neighbor_id, nvec, qvec) candidate rows,
    then per-query top-k with a deterministic id tiebreak."""

    def rerank(q, n, a, b):
        cos = (_unit_rows(a.astype(np.float64)) * _unit_rows(b.astype(np.float64))).sum(axis=1)
        return [q, n, cos]

    scored = map_batches(
        pairs,
        ["query_id", "neighbor_id", "nvec", "qvec"],
        rerank,
        "query_id long, neighbor_id long, cosine double",
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def ann_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    sample_size: int = 2048,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse k-means quantizer,
    candidates = vectors whose cell is among each query's n_probe nearest
    cells, exact cosine re-rank.

    The quantizer is trained on a deterministic sample (hash-stratum
    filter + ordered limit, seeded spherical Lloyd iterations) on the
    driver — centroids are tiny
    and broadcast; the partition-local work is one matmul per Arrow batch.
    At warehouse scale the cell id becomes a partition/bucket column so a
    probe only reads n_probe/n_cells of the data (partition pruning); recall
    rises with n_probe, cost falls with n_cells.

    Execution shape: ONE scan of the embeddings does cell assignment,
    probe masking, exact cosine against the broadcast query matrix, and
    per-batch top-k — the first formulation shuffled every candidate row
    WITH its full embedding through two joins and then Python-scored the
    whole candidate set (~40% of all vectors per query at these
    parameters); only <= partitions x queries x k skinny rows reach the
    final ranking window here.
    """
    cent = _train_spherical_kmeans(
        embeddings, n_cells, sample_size, kmeans_iters, seed, id_col, vec_col
    )
    qids, qmat = _query_block(embeddings, query_ids, id_col, vec_col)
    qmat = _unit_rows(qmat)
    # probe_mask[c, q] = cell c is among query q's n_probe nearest cells
    probe_mask = np.zeros((n_cells, len(qids)), dtype=bool)
    for qi in range(len(qids)):
        for c in np.argsort(-(cent @ qmat[qi]))[:n_probe]:
            probe_mask[int(c), qi] = True

    def score(ids, mat):
        mat = _unit_rows(mat.astype(np.float64))
        allowed = probe_mask[(mat @ cent.T).argmax(axis=1)]  # batch x queries
        allowed &= ids[:, None] != qids[None, :]  # no self-match
        return _partial_topk(ids, qids, np.where(allowed, mat @ qmat.T, -np.inf), k)[:3]

    scored = map_batches(
        embeddings, [id_col, vec_col], score, "query_id long, neighbor_id long, cosine double"
    )
    return _rank_q6(scored, k)


def ann_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 12,
    n_bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH + exact re-rank.

    Each vector gets B band signatures (sign patterns over n_planes random
    hyperplanes); query candidates = vectors sharing any band bucket. Exact
    cosine on candidates only. Recall grows with B; cost stays ~n/2^planes
    per band per bucket.
    """
    dim = len(embeddings.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_bands, n_planes, dim))

    def signatures(ids, mat):
        mat = mat.astype(np.float64)
        codes = []
        for band in range(n_bands):
            bucket = np.packbits(mat @ planes[band].T > 0, axis=1, bitorder="little")[:, :2]
            codes.append(
                bucket[:, 0].astype(np.int64)
                + (bucket[:, 1].astype(np.int64) << 8 if bucket.shape[1] > 1 else 0)
            )
        bands = np.repeat(np.arange(n_bands, dtype=np.int32), len(ids))
        return [np.tile(ids, n_bands), bands, np.concatenate(codes)]

    sigs = map_batches(
        embeddings, [id_col, vec_col], signatures, f"{id_col} long, band int, bucket long"
    )
    q_sigs = sigs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "band", "bucket"
    )
    cand = (
        sigs.join(F.broadcast(q_sigs), ["band", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    vecs = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    qvecs = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    return _exact_rerank(
        cand.join(vecs, "neighbor_id").join(F.broadcast(qvecs), "query_id"), k
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_n: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval arms (Cormack/Clarke RRF:
    score(d) = sum over arms of 1/(k + rank_arm(d))) — the standard way
    to combine a lexical (BM25) and a dense (embedding-cosine) ranking
    without score calibration.

    Each input frame carries (id_col, rank_col) for ONE arm's ranked
    list. The per-arm contribution is quantized to integer nano-units
    (floor(1e9/(k+rank) + 0.5)) before summing, so the fused score is
    exact integer arithmetic — bit-identical under any partitioning,
    arm order, or engine, with ties broken by id. Ranked lists are
    top-N-scale (thousands of rows per arm at most), so the fusion is a
    skinny union + one hash agg + one global window over <= N x arms
    rows; the corpora behind the arms never enter this operator.

    Output: (rank, id, rrf_q9, n_arms) for the fused top ``top_n``.
    """
    contrib = F.floor(
        F.lit(1e9) / (F.lit(k) + F.col(rank_col)) + F.lit(0.5)
    ).cast("long")
    arms = [r.select(F.col(id_col), contrib.alias("_c")) for r in rankings]
    u = arms[0]
    for a in arms[1:]:
        u = u.unionByName(a)
    fused = u.groupBy(id_col).agg(
        F.sum("_c").alias("rrf_q9"), F.count(F.lit(1)).alias("n_arms")
    )
    w = W.orderBy(F.col("rrf_q9").desc(), id_col)
    return (
        fused.orderBy(F.col("rrf_q9").desc(), id_col)
        .limit(top_n)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", id_col, "rrf_q9", "n_arms")
    )
