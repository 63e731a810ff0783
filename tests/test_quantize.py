"""Product quantization (ops/quantize.py): bitwise vs the scalar oracle,
compression sanity, recall vs exact, partition invariance."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dads_spark.oracles import pq_topk_oracle
from dads_spark.ops.quantize import (
    ann_pq_adc,
    encode_block,
    pq_encode,
    train_pq_codebooks,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb_pdf():
    return pq.read_table(
        f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pandas()


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def books(emb_df):
    return train_pq_codebooks(emb_df)


def test_pipeline_bitwise_equals_scalar_oracle(spark, emb_df, emb_pdf, books):
    ids = emb_pdf["vec_id"].to_numpy()
    vecs = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    sel = np.isin(ids, [0, 1, 2, 3, 4])
    want = pq_topk_oracle(ids, vecs, books, ids[sel], vecs[sel], k=10)

    codes = pq_encode(emb_df, books)
    got_df = ann_pq_adc(codes, books, ids[sel], vecs[sel], k=10).collect()
    got = sorted(
        (
            r["query_id"],
            r["neighbor_id"],
            r["rank"],
            int(np.sign(r["score"]) * np.floor(abs(r["score"]) * 1e6 + 0.5)),
        )
        for r in got_df
    )
    assert got == sorted(want)


def test_encode_reduces_reconstruction_error(emb_pdf, books):
    vecs = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    m, ksub, dsub = books.shape
    codes = encode_block(vecs, books)
    recon = np.concatenate(
        [books[s][codes[:, s]] for s in range(m)], axis=1
    )
    mse = ((vecs - recon) ** 2).mean()
    var = vecs.var()
    # the synthetic embeddings are largely isotropic (16 centroids per
    # 8-dim subspace can only absorb so much of a noise ball: measured
    # ratio ~0.54); the bound pins that codes capture REAL variance —
    # meaningless codes would sit at ratio ~1.0
    assert mse < 0.8 * var


def test_recall_vs_exact_topk(emb_pdf, books):
    vecs = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    ids = emb_pdf["vec_id"].to_numpy()
    m, ksub, dsub = books.shape
    codes = encode_block(vecs, books)
    recon = np.concatenate([books[s][codes[:, s]] for s in range(m)], axis=1)
    hits = total = 0
    for qi in range(5):
        q = vecs[qi]
        exact = np.argsort(-(vecs @ q))
        exact = [ids[i] for i in exact if ids[i] != ids[qi]][:10]
        approx = np.argsort(-(recon @ q))
        approx = [ids[i] for i in approx if ids[i] != ids[qi]][:10]
        hits += len(set(exact) & set(approx))
        total += 10
    # the test embeddings are noise-dominated (see the reconstruction
    # test), where exact top-10 directions are barely separable — measured
    # recall ~0.26 vs a ~0.02 random baseline (10/499). The strong recall
    # property is pinned on structured data below.
    assert hits / total >= 0.12


def test_recall_on_separated_clusters():
    # 8 well-separated clusters: ADC top-k must retrieve same-cluster
    # neighbors — the regime PQ is built for
    rng = np.random.default_rng(5)
    centers = rng.normal(0, 10, (8, 64))
    vecs = np.concatenate(
        [c + rng.normal(0, 0.5, (40, 64)) for c in centers], axis=0
    )
    ids = np.arange(len(vecs))
    m, ksub, dsub = 8, 16, 8
    books = np.empty((m, ksub, dsub))
    for s in range(m):
        Xs = vecs[:, s * dsub : (s + 1) * dsub]
        cent = Xs[rng.choice(len(Xs), size=ksub, replace=False)].copy()
        for _ in range(10):
            d2 = ((Xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(ksub):
                mem = Xs[a == c]
                if len(mem):
                    cent[c] = mem.mean(axis=0)
        books[s] = cent
    codes = encode_block(vecs, books)
    recon = np.concatenate([books[s][codes[:, s]] for s in range(m)], axis=1)
    # PQ preserves the coarse geometry: every ADC top-10 neighbor must
    # come from the query's own cluster (intra-cluster fine ordering is
    # below the quantization noise floor by design — 8 bytes/vector)
    same = total = 0
    for qi in (0, 45, 123, 200, 301):
        q = vecs[qi]
        approx = [i for i in np.argsort(-(recon @ q)) if i != qi][:10]
        same += sum(1 for i in approx if i // 40 == qi // 40)
        total += 10
    assert same / total >= 0.9


def test_encode_partition_invariant(spark, emb_df, books):
    a = pq_encode(emb_df.coalesce(1), books)
    b = pq_encode(emb_df.repartition(7, "vec_id"), books)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_train_rejects_bad_subspace_split(spark, emb_df):
    with pytest.raises(ValueError):
        train_pq_codebooks(emb_df, m=7)  # 64 % 7 != 0


def test_ivf_pq_bitwise_equals_mirror(spark, emb_df, emb_pdf):
    from dads_spark.oracles import pq_ivf_oracle
    from dads_spark.ops.quantize import ann_ivf_pq, train_ivf_pq

    cent, books = train_ivf_pq(emb_df)
    ids = emb_pdf["vec_id"].to_numpy()
    vecs = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    want = pq_ivf_oracle(ids, vecs, cent, books, [0, 1, 2, 3, 4], k=10, n_probe=6)

    got_df = ann_ivf_pq(
        emb_df, [0, 1, 2, 3, 4], k=10, n_probe=6, model=(cent, books)
    ).collect()
    got = sorted(
        (
            r["query_id"],
            r["neighbor_id"],
            r["rank"],
            int(np.sign(r["score"]) * np.floor(abs(r["score"]) * 1e6 + 0.5)),
        )
        for r in got_df
    )
    assert got == sorted(want)


def test_ivf_pq_partition_invariant(spark, emb_df):
    from dads_spark.ops.quantize import ann_ivf_pq, train_ivf_pq

    model = train_ivf_pq(emb_df)
    a = ann_ivf_pq(emb_df.coalesce(1), [0, 1], k=5, n_probe=6, model=model)
    b = ann_ivf_pq(
        emb_df.repartition(7, "vec_id"), [0, 1], k=5, n_probe=6, model=model
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ivf_pq_full_probe_recall_vs_exact(spark, emb_df, emb_pdf):
    # with every cell probed, IVF-PQ reduces to residual-PQ ADC. On this
    # noise-dominated corpus residual coding cannot beat plain PQ (the
    # coarse centroids absorb little structure in an isotropic ball):
    # measured recall ~0.26, same as test_recall_vs_exact_topk, vs the
    # ~0.02 random baseline — the bound pins "well above chance"; the
    # structured-data regime is pinned by test_recall_on_separated_clusters
    from dads_spark.ops.quantize import ann_ivf_pq, train_ivf_pq

    model = train_ivf_pq(emb_df)
    vecs = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    ids = emb_pdf["vec_id"].to_numpy()
    out = ann_ivf_pq(
        emb_df, [0, 1, 2, 3, 4], k=10, n_probe=16, model=model
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    vn = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-30)
    hits = total = 0
    for qi in range(5):
        q = vn[ids.tolist().index(qi)]
        exact = [ids[i] for i in np.argsort(-(vn @ q)) if ids[i] != qi][:10]
        hits += len(set(exact) & got[qi])
        total += 10
    assert hits / total >= 0.15


def test_ivf_pq_scan_takes_shape_from_trained_model(spark, emb_df, emb_pdf):
    # a model trained with m=4 subspaces and 4 cells, scanned with the
    # default m=8 and n_cells=16: the scan follows the model, not the
    # arguments it does not use
    from dads_spark.oracles import pq_ivf_oracle
    from dads_spark.ops.quantize import ann_ivf_pq, train_ivf_pq

    cent, books = train_ivf_pq(emb_df, n_cells=4, m=4, ksub=8)
    assert cent.shape[0] == 4 and books.shape[0] == 4
    ids = emb_pdf["vec_id"].to_numpy()
    vecs = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    want = pq_ivf_oracle(ids, vecs, cent, books, [0, 1, 2], k=5, n_probe=2)

    got_df = ann_ivf_pq(emb_df, [0, 1, 2], k=5, n_probe=2, model=(cent, books))
    got = sorted(
        (
            r["query_id"],
            r["neighbor_id"],
            r["rank"],
            int(np.sign(r["score"]) * np.floor(abs(r["score"]) * 1e6 + 0.5)),
        )
        for r in got_df.collect()
    )
    assert got == sorted(want)
