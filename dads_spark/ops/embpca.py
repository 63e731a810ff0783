"""Distributed PCA over the embedding corpus — the S2G TSQR machinery
(s2g/core.py pca_local/tsqr_tree, reference PCACalculatorControl.java)
re-exposed as the corpus-embedding whitener/visualizer every curation
pipeline wants: project every vector onto the top-k principal axes
(dedup diagnostics, cluster plots, whitening before ANN).

Distribution shape (the reference's own): per-slice column means +
centered QR run in parallel (one groupBy().applyInArrow over a
DETERMINISTIC id%P slicing, rows QR'd in vec_id order so the result is a pure
function of the input set, not its partitioning); the driver receives
P tiny (mean, R) pairs — KB-scale, the reference's master sync — does
the weighted-mean correction stack + TSQR tree reduction + SVD, and
broadcasts the (d x k) component matrix back via closure; ONE map-only
pass projects the corpus. Corpus cost: two scans, zero shuffles beyond
the P-way slice exchange.

Sign convention: each component is normalized so its first coordinate
is >= 0 (the reference's rule, s2g/core.py finalize_pca). Projections
are emitted quantized to integer micro-units (sign*floor(|x|*1e6+0.5)),
pinned bit-for-bit by the scalar mirror (oracles.embedding_pca_oracle)
— both sides run the identical NumPy/LAPACK ops in the identical order.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, functions as F

from ..groups import list_matrix, map_batches, per_group

__all__ = ["embedding_pca", "pca_components"]


def pca_components(
    embeddings: DataFrame,
    k: int = 4,
    n_slices: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """(total_mean (d,), components (d, k)) via the S2G distributed-PCA
    protocol: per-slice centered QR -> driver TSQR tree + SVD. Slicing is
    id % n_slices with in-slice vec_id order, so the factorization is
    partition-invariant by construction."""
    from dads_spark.s2g.core import tsqr_tree

    sliced = embeddings.select(
        F.col(id_col), F.col(vec_col), (F.col(id_col) % n_slices).alias("_slice")
    )

    def stats(sl, t):
        t = t.take(np.argsort(t.column(id_col).to_numpy(), kind="stable"))
        mat = list_matrix(t.column(vec_col), vec_col).astype(np.float64)
        mean = mat.mean(axis=0)
        r = np.linalg.qr(mat - mean, mode="r")
        return [sl], [mat.shape[0]], [mat.shape[1]], [r.shape[0]], [mean.tobytes()], [r.tobytes()]

    rows = per_group(
        sliced, "_slice", stats, "slice long, n long, d int, r_rows int, mean binary, r binary"
    ).collect()  # P tiny (mean, R) pairs — the reference's master sync
    rows.sort(key=lambda r: r["slice"])
    d = rows[0]["d"]
    means = [np.frombuffer(r["mean"], dtype=np.float64) for r in rows]
    rs = [
        np.frombuffer(r["r"], dtype=np.float64).reshape(r["r_rows"], d)
        for r in rows
    ]
    counts = [r["n"] for r in rows]
    total_n = sum(counts)
    total_mean = np.zeros(d)
    for m_i, n_i in zip(means, counts):
        total_mean = total_mean + m_i * (n_i / float(total_n))
    corr = [
        (m_i - total_mean) * math.sqrt(n_i) for m_i, n_i in zip(means, counts)
    ]
    r_final = np.linalg.qr(np.vstack(corr + [tsqr_tree(rs)]), mode="r")
    _, _, vt = np.linalg.svd(r_final)
    v = vt.T[:, :k].copy()
    for col in range(k):
        if v[0, col] < 0.0:
            v[:, col] = -v[:, col]
    return total_mean, v


def embedding_pca(
    embeddings: DataFrame,
    k: int = 4,
    n_slices: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every embedding onto the top-k principal axes.

    Returns (id, pc1_q6 .. pck_q6): integer micro-unit coordinates —
    flat columns, not an array, so the result is gate-hashable. The
    projection pass is map-only (components broadcast via closure)."""
    total_mean, v = pca_components(embeddings, k, n_slices, id_col, vec_col)

    cols = [f"pc{i + 1}_q6" for i in range(k)]

    def project(ids, mat):
        coords = (mat.astype(np.float64) - total_mean) @ v
        q = np.sign(coords) * np.floor(np.abs(coords) * 1e6 + 0.5)
        return [ids, *q.astype(np.int64).T]

    schema = f"{id_col} long, " + ", ".join(f"{c} long" for c in cols)
    return map_batches(embeddings, [id_col, vec_col], project, schema)
