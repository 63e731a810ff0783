"""Product quantization (PQ) for embedding compression + ADC top-k scan.

At 10^9+ vectors the ANN bottleneck is BYTES, not FLOPs: a 64-dim float32
corpus is 256 GB/10^9 vectors, while 8-subspace PQ codes are 8 bytes each
(32x smaller) — the difference between an executor-cached scan and a
disk-bound one. PQ (Jegou et al. 2011, public method) splits each vector
into ``m`` subvectors, k-means-quantizes each subspace to ``ksub``
centroids, and stores only the per-subspace centroid ids; a query scores
a code in m table lookups (asymmetric distance computation, ADC) against
a per-query lookup table of subspace dot products.

Spark shape:
- codebooks are trained on a deterministic hash-sample on the driver
  (tiny: m * ksub * dsub floats) and broadcast via task closure;
- ``pq_encode`` is ONE mapInArrow (``groups.map_batches``) over the
  corpus producing the codes table — materialize it once, scan it forever
  (the compressed tier);
- ``ann_pq_adc`` is ONE mapInArrow over the CODES table: per Arrow
  batch, gather LUT entries and emit a partial top-k per query (the
  ``knn_bruteforce`` survivor contract, ``similarity._partial_topk``),
  then a final window ranks batches x (k + ties) rows. No joins, no
  shuffle of the corpus.

Determinism: sample, k-means init and iteration, encode argmin
(first-min tie rule), LUT sums, and the 6dp quantized ranking are all
pure functions of the data — `tests/test_quantize.py` pins the encode
and scan kernels BITWISE against the scalar textbook loops in
``dads_spark/oracles.py:pq_oracle``, and the ``ann_pq`` registry entry
stages that oracle's top-k for the driver hash gate.

Reference analog: none (DADS has no embedding path); spec source §2.4
(similarity search — "IVF or LSH-bucketed variant as the scale path";
PQ is the codes-side complement the same tier needs).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window as W, functions as F

from ..groups import map_batches
from .similarity import _hash_sample, _partial_topk, _query_block, _train_spherical_kmeans, _unit_rows

_ADC_FIELDS = "query_id long, neighbor_id long, score double, score_q6 long"

__all__ = [
    "ann_ivf_pq",
    "ann_sq8",
    "sq8_encode",
    "sq8_train",
    "ann_pq_adc",
    "pq_encode",
    "train_ivf_pq",
    "train_pq_codebooks",
]


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """L2 k-means codebooks per subspace: (m, ksub, dim//m) float64.
    Deterministic: seeded init from the hash-sample, fixed iterations,
    empty clusters keep their previous centroid."""
    X = _hash_sample(embeddings, sample_size, 64, id_col, vec_col)
    return _kmeans_subspaces(X, m, ksub, iters, np.random.default_rng(seed))


def _kmeans_subspaces(
    X: np.ndarray, m: int, ksub: int, iters: int, rng: np.random.Generator
) -> np.ndarray:
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        cent = Xs[rng.choice(len(Xs), size=ksub, replace=False)].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                members = Xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[s] = cent
    return books


def encode_block(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) -> (n, m) uint8 codes; per-subspace L2 argmin (first-min
    tie rule — the scalar oracle's strict < loop)."""
    m, ksub, dsub = books.shape
    codes = np.empty((len(mat), m), dtype=np.uint8)
    for s in range(m):
        Xs = mat[:, s * dsub : (s + 1) * dsub]
        d2 = ((Xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1).astype(np.uint8)
    return codes


def pq_encode(
    embeddings: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus -> codes table (id, code_0..code_{m-1} int columns): the
    materialize-once compressed representation (flat ints, not an array,
    so the codes table itself stays oracle-hashable and prunable)."""
    m = books.shape[0]
    schema = ", ".join([f"{id_col} long"] + [f"code_{s} int" for s in range(m)])

    def f(ids, mat):
        return [ids, *encode_block(mat.astype(np.float64), books).T]

    return map_batches(embeddings, [id_col, vec_col], f, schema)


def ann_pq_adc(
    codes: DataFrame,
    books: np.ndarray,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate dot-product top-k over the CODES table via ADC:
    score(q, x) ~= sum_s <q_s, centroid_{code_s(x)}> — m lookups per
    candidate. One mapInArrow scan emits per-batch partial top-k (ties
    at the quantized boundary kept); a final window ranks the survivors.
    Output: (query_id, neighbor_id, rank, score_q6, score) where
    score_q6 = sign*floor(|score|*1e6+0.5) — the exact integer key the
    per-batch cut, the final ranking, and the scalar oracle all share —
    and score is the raw approximate dot product."""
    m = books.shape[0]
    q_ids = np.asarray(q_ids)
    lut = _build_lut(q_mat, books)

    def f(ids, *codes):
        # scores: (n, nq) built subspace-sequentially (matches the
        # scalar oracle's accumulation order)
        scores = np.zeros((len(ids), len(q_ids)), dtype=np.float64)
        for s in range(m):
            scores += lut[:, s, :][:, codes[s]].T
        scores[ids[:, None] == q_ids[None, :]] = -np.inf  # no self-match
        return _partial_topk(ids, q_ids, scores, k)

    flat = map_batches(
        codes, [id_col, *(f"code_{s}" for s in range(m))], f, _ADC_FIELDS
    )
    return _rank_score_q6(flat, k)


def _rank_score_q6(flat: DataFrame, k: int) -> DataFrame:
    """Final per-query top-k over ADC survivor rows. It ranks by the SAME
    sign*floor(|x|*1e6+0.5) integer key as the per-batch cut and the scalar
    oracle (NOT F.round, whose HALF_UP on the shortest decimal repr can
    disagree at representation boundaries), ties by id."""
    w = W.partitionBy("query_id").orderBy(F.col("score_q6").desc(), F.col("neighbor_id"))
    return (
        flat.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score_q6", "score")
    )


def _build_lut(q_mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """LUT[q, s, c] = <q_s, books[s, c]>, shape (nq, m, ksub), built with
    explicit sequential accumulation (NOT einsum/BLAS, whose summation
    order is unspecified) so the scalar oracle reproduces every entry
    bitwise; the table is tiny and built once, driver-side."""
    m, ksub, dsub = books.shape
    qsub = q_mat.reshape(len(q_mat), m, dsub)
    lut = np.empty((len(q_mat), m, ksub), dtype=np.float64)
    for qi in range(len(q_mat)):
        for s in range(m):
            for c in range(ksub):
                acc = 0.0
                for dd in range(dsub):
                    acc += float(qsub[qi, s, dd]) * float(books[s, c, dd])
                lut[qi, s, c] = acc
    return lut


def train_ivf_pq(
    embeddings: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF-PQ training: spherical coarse centroids (the IVF cell
    quantizer) + subspace codebooks trained on the sample's RESIDUALS
    (x_norm - cell centroid) — residual coding is what lets 8-byte codes
    stay accurate once the coarse term absorbs cluster structure.
    Returns (centroids (n_cells, dim), books (m, ksub, dim//m))."""
    cent = _train_spherical_kmeans(
        embeddings, n_cells, sample_size, iters, seed, id_col, vec_col
    )
    Xn = _unit_rows(_hash_sample(embeddings, sample_size, 64, id_col, vec_col))
    R = Xn - cent[(Xn @ cent.T).argmax(axis=1)]
    books = _kmeans_subspaces(R, m, ksub, iters, np.random.default_rng(seed + 1))
    return cent, books


def ann_ivf_pq(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: tuple | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the canonical billion-scale ANN index
    (FAISS IVFPQ shape, public method): coarse cells give PRUNING
    (n_probe/n_cells of the corpus per query; at warehouse scale the cell
    id is a partition column), residual PQ codes give MEMORY (8 bytes a
    vector), and ADC gives scoring in m table lookups:

        score(q, x) ~= <q, c_cell(x)> + sum_s <q_s, books[s, code_s(x)]>

    ONE mapInArrow scan does assign + residual-encode + probe-mask +
    ADC + per-batch partial top-k (tie-safe 6dp cut, the knn_bruteforce
    survivor contract); the final window ranks skinny survivor rows.
    Deterministic end-to-end; pinned bitwise by the staged
    ``pq_ivf_oracle`` mirror and the ann_ivf_pq registry entry.
    """
    cent, books = model or train_ivf_pq(
        embeddings, n_cells, m, ksub, sample_size, iters, seed, id_col, vec_col
    )
    q_ids, q_raw = _query_block(embeddings, query_ids, id_col, vec_col)
    q_mat = _unit_rows(q_raw)
    qc = q_mat @ cent.T  # (nq, n_cells) coarse term
    probe_mask = np.zeros((cent.shape[0], len(q_ids)), dtype=bool)
    for qi in range(len(q_ids)):
        for c in np.argsort(-qc[qi])[:n_probe]:
            probe_mask[int(c), qi] = True
    lut = _build_lut(q_mat, books)

    def score(ids, mat):
        mat = _unit_rows(mat.astype(np.float64))
        cells = (mat @ cent.T).argmax(axis=1)
        codes = encode_block(mat - cent[cells], books)
        scores = qc[:, cells].T.copy()  # (n, nq) coarse term
        for s in range(books.shape[0]):
            scores += lut[:, s, :][:, codes[:, s]].T
        allowed = probe_mask[cells] & (ids[:, None] != q_ids[None, :])
        return _partial_topk(ids, q_ids, np.where(allowed, scores, -np.inf), k)

    flat = map_batches(embeddings, [id_col, vec_col], score, _ADC_FIELDS)
    return _rank_score_q6(flat, k)


# ---------------------------------------------------------------------------
# SQ8 scalar quantization — the simplest point on the ANN memory/recall
# curve (4x smaller than float32, ~lossless recall at 8 bits/dim; public
# method, implemented in every major vector store).  PQ above wins at 32x
# but pays codebook training; SQ8 needs only per-dimension min/max, so it
# is the default compressed tier for mid-size corpora and the re-ranking
# tier above PQ candidates.


def sq8_train(embeddings: DataFrame, vec_col: str, dim: int) -> tuple:
    """EXACT per-dimension (min, max) via one aggregate — deterministic
    by construction (min/max are order-invariant), no sampling, no
    shuffle beyond the single agg. Returns (mins, maxs) float64 arrays."""
    aggs = []
    for i in range(dim):
        e = F.element_at(F.col(vec_col), i + 1).cast("double")
        aggs.append(F.min(e).alias(f"_lo{i}"))
        aggs.append(F.max(e).alias(f"_hi{i}"))
    row = embeddings.agg(*aggs).collect()[0]
    lo = np.array([row[f"_lo{i}"] for i in range(dim)], dtype=np.float64)
    hi = np.array([row[f"_hi{i}"] for i in range(dim)], dtype=np.float64)
    return lo, hi


def _sq8_codes(mat: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    span = np.where(hi > lo, hi - lo, 1.0)
    q = np.floor((mat - lo) * 255.0 / span + 0.5)
    return np.clip(q, 0, 255).astype(np.int64)


def sq8_encode(
    embeddings: DataFrame,
    lo: np.ndarray,
    hi: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One mapInArrow over the corpus -> (id, codes array<long>); the
    4x-compressed tier, materialized once and scanned forever."""

    def enc(ids, mat):
        return [ids, _sq8_codes(mat.astype(np.float64), lo, hi)]

    return map_batches(
        embeddings, [id_col, vec_col], enc, f"{id_col} long, codes array<bigint>"
    )


def ann_sq8(
    codes_df: DataFrame,
    queries: np.ndarray,
    lo: np.ndarray,
    hi: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k scan over the SQ8 tier with a PURE-INTEGER score: the query
    quantizes with the same codec and similarity is the BIGINT dot
    product of code vectors — no float surface at scan time, so every
    rank and score pins bitwise (ties break on id ascending).  Per Arrow
    batch a partial top-k survives (the knn_bruteforce contract), then
    one window ranks batches x k survivors."""
    qcodes = _sq8_codes(queries.astype(np.float64), lo, hi)
    nq = len(qcodes)

    def scan(ids, mat):
        scores = mat @ qcodes.T  # (n, nq), exact int64
        take = min(k, len(ids))
        # per query, the partial top-k by (-score, id): stable and tie-correct
        top = np.array([np.lexsort((ids, -s))[:take] for s in scores.T], dtype=np.int64)
        top = top.reshape(nq, take)
        q = np.repeat(np.arange(nq), take)
        return [q, ids[top].ravel(), scores[top, np.arange(nq)[:, None]].ravel()]

    partial = map_batches(
        codes_df, [id_col, "codes"], scan, "query_id long, vec_id long, score long"
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )
