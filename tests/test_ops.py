"""Dedup / text / similarity / multimodal operators vs small oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from dads_spark.ops import (
    ann_ivf,
    ann_lsh,
    attach_media_metadata,
    dedup_exact,
    doc_fingerprint,
    embedding_pca,
    exact_duplicates,
    extract_features,
    kmeans_assign,
    knn_bruteforce,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    semdedup,
    simhash64,
    text_quality,
    token_counts,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog"),  # near dup
    (3, "der schnelle braune fuchs springt und ist nicht langsam"),
    (4, "le renard brun et rapide saute pour que le chien"),
    (5, "el zorro marron salta y es que por una vez"),
    (6, "completely different content about spark query engines"),
    (7, "the of and to a in is that for it"),  # english stopword soup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    groups = exact_duplicates(docs).toPandas()
    assert len(groups) == 7  # 8 docs, one exact pair
    assert groups["dup_count"].max() == 2
    kept = dedup_exact(docs).toPandas()
    assert len(kept) == 7
    assert 0 in set(kept["doc_id"]) and 1 not in set(kept["doc_id"])


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.5).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 1) in got  # exact dup: est_jaccard == 1
    assert (0, 2) in got or (1, 2) in got  # near dup caught
    assert all(a < b for a, b in got)
    exact_pair = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]
    assert exact_pair["est_jaccard"].iloc[0] == 1.0


def test_minhash_lsh_bucket_cap_equivalence(spark):
    """Hot-bucket chunking (max_bucket_members) must not change the pair
    set: 40 distinct-signature near-dups land in shared band buckets far
    above a tiny cap, forcing the chunk-block path; the output must equal
    the single-row bucket path's. num_hashes deliberately NOT a power of
    two so the est>=threshold float compare is exercised."""
    base = [f"tok{i}" for i in range(30)]
    rows = []
    for d in range(40):
        toks = list(base)
        toks[d % 30] = f"uniq{d}"
        rows.append((d, " ".join(toks)))
    corpus = spark.createDataFrame(rows, "doc_id long, text string").cache()
    kw = dict(num_hashes=60, bands=15, threshold=0.5)
    uncapped = minhash_lsh_pairs(corpus, **kw).toPandas()
    capped = minhash_lsh_pairs(corpus, max_bucket_members=4, **kw).toPandas()

    def key(pdf):
        return {
            (int(a), int(b), float(e))
            for a, b, e in zip(pdf.id_a, pdf.id_b, pdf.est_jaccard)
        }

    assert len(uncapped) > 100  # the clique actually produced pairs
    assert key(capped) == key(uncapped)


def test_minhash_lsh_probe_gate_equivalence(spark):
    """Round-4 sampled probe gate: at a cap with probe_inv > 1 (cap >= 64)
    a 70-member near-dup clique must still be FLAGGED by the 1/2-sampled
    probe, routed through the hot chunk path, and emit the identical pair
    set as the uncapped run; a corpus with no hot bucket must also emit
    identically when the probe statically skips the hot subplan."""
    base = [f"tok{i}" for i in range(40)]
    rows = []
    for d in range(70):
        toks = list(base)
        toks[d % 40] = f"uniq{d}"
        rows.append((d, " ".join(toks)))
    corpus = spark.createDataFrame(rows, "doc_id long, text string").cache()
    kw = dict(num_hashes=64, bands=16, threshold=0.5)

    def key(pdf):
        return {
            (int(a), int(b), float(e))
            for a, b, e in zip(pdf.id_a, pdf.id_b, pdf.est_jaccard)
        }

    uncapped = key(minhash_lsh_pairs(corpus, **kw).toPandas())
    assert len(uncapped) > 100
    # cap=64 -> probe_inv=2, flag_at=8: ~35 sampled members flag the
    # bucket, the exact pass finds it hot, chunking engages
    capped = key(minhash_lsh_pairs(corpus, max_bucket_members=64, **kw).toPandas())
    assert capped == uncapped
    # a cold corpus (8 docs, default cap 4096 -> probe_inv=128): probe
    # skips the hot subplan statically; output must be unchanged
    small = spark.createDataFrame(DOCS, "doc_id long, text string")
    a = key(minhash_lsh_pairs(small, threshold=0.5).toPandas())
    b = key(minhash_lsh_pairs(small, threshold=0.5, max_bucket_members=4).toPandas())
    assert a == b


def test_ngram_jaccard_matches_python_oracle(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.1).toPandas()
    texts = dict(DOCS)
    for _, row in pairs.iterrows():
        a = set(texts[row.id_a].split())
        b = set(texts[row.id_b].split())
        want = len(a & b) / len(a | b)
        assert row.jaccard == pytest.approx(want)
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 1) in got and (0, 2) in got


def test_simhash_near_dup_hamming(spark, docs):
    sh = simhash64(docs).toPandas().set_index("doc_id")["simhash"]
    def ham(a, b):
        return bin(np.uint64(a) ^ np.uint64(b)).count("1")
    assert ham(sh[0], sh[1]) == 0  # identical text
    assert ham(sh[0], sh[2]) <= 12  # near dup: small distance
    assert ham(sh[0], sh[6]) > ham(sh[0], sh[2])  # unrelated is farther


def test_simhash_near_pairs_pigeonhole(spark, docs):
    from dads_spark.ops import simhash_near_pairs

    pairs = simhash_near_pairs(docs, max_hamming=12).toPandas()
    got = {(a, b): h for a, b, h in zip(pairs.id_a, pairs.id_b, pairs.hamming)}
    assert got.get((0, 1)) == 0  # exact dup -> identical simhash
    assert (0, 2) in got  # near dup within the hamming budget
    assert all(a < b for a, b in got)
    assert all(h <= 12 for h in got.values())
    # verify against brute force: the banding must not miss any pair
    sh = simhash64(docs).toPandas().set_index("doc_id")["simhash"]
    brute = {
        (a, b)
        for a in sh.index
        for b in sh.index
        if a < b and bin(np.uint64(sh[a]) ^ np.uint64(sh[b])).count("1") <= 12
    }
    assert set(got) == brute


def test_token_counts_and_quality(spark, docs):
    tc = token_counts(docs).toPandas().set_index("doc_id")
    assert tc.loc[0, "n_tokens"] == 9
    assert tc.loc[0, "n_distinct_tokens"] == 8  # 'the' twice
    q = text_quality(docs).toPandas().set_index("doc_id")
    assert q.loc[0, "type_token_ratio"] == pytest.approx(8 / 9, abs=1e-4)
    assert 0 < q.loc[0, "quality_score"] <= 1


def test_language_id(spark, docs):
    lid = language_id(docs).toPandas().set_index("doc_id")["pred_lang"]
    assert lid[0] == "en"
    assert lid[3] == "de"
    assert lid[4] == "fr"
    assert lid[5] == "es"
    assert lid[7] == "en"


def test_doc_fingerprint_stable_and_distinct(spark, docs):
    fp = doc_fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    assert fp[0] == fp[1]  # identical text, identical fingerprint
    assert fp.nunique() == 7
    fp2 = doc_fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    assert (fp == fp2).all()


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(0)
    centers = rng.normal(size=(4, 16))
    rows = []
    for i in range(80):
        c = i % 4
        v = centers[c] + rng.normal(0, 0.05, 16)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()


def test_knn_bruteforce_matches_numpy(spark, embeddings):
    got = knn_bruteforce(embeddings, [0, 1], k=5).toPandas()
    pdf = embeddings.toPandas()
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for q in (0, 1):
        cos = mn @ mn[q]
        cos[q] = -np.inf
        want = np.argsort(-cos, kind="stable")[:5]
        got_q = got[got.query_id == q].sort_values("rank")["neighbor_id"].to_numpy()
        assert set(got_q) == set(want)
        # same cluster dominates
        labels = pdf.set_index("vec_id")["label"]
        assert (labels.loc[got_q] == labels.loc[q]).mean() >= 0.8


def test_ann_lsh_recall_against_bruteforce(spark, embeddings):
    exact = knn_bruteforce(embeddings, [0], k=5).toPandas()
    approx = ann_lsh(embeddings, [0], k=5, n_planes=8, n_bands=6).toPandas()
    want = set(exact["neighbor_id"])
    got = set(approx["neighbor_id"])
    assert len(want & got) >= 3  # >=60% recall on clustered data


def test_ann_ivf_recall_against_bruteforce(spark, embeddings):
    from dads_spark.ops import ann_ivf

    exact = knn_bruteforce(embeddings, [0], k=5).toPandas()
    approx = ann_ivf(embeddings, [0], k=5, n_cells=8, n_probe=4).toPandas()
    want = set(exact["neighbor_id"])
    got = set(approx["neighbor_id"])
    assert len(want & got) >= 3  # >=60% recall at half the cells probed
    # probing every cell makes IVF exhaustive -> exact agreement
    full = ann_ivf(embeddings, [0], k=5, n_cells=8, n_probe=8).toPandas()
    assert list(full["neighbor_id"]) == list(exact["neighbor_id"])


def test_multimodal_plumbing(spark):
    rows = [
        (0, b"\xff\xd8\xff\xe0" + b"x" * 600, "image/jpeg", 0, 0, 0),
        (1, b"\x89PNG\r\n" + b"y" * 300, "image/png", 0, 0, 0),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, mime string, width int, height int, n_frames int"
    )
    meta = attach_media_metadata(df).toPandas().set_index("media_id")
    assert meta.loc[0, "sniffed_mime"] == "image/jpeg"
    assert meta.loc[1, "sniffed_mime"] == "image/png"
    assert meta.loc[0, "n_bytes"] == 604

    feats = extract_features(df, fake=True).toPandas()
    assert len(feats) == 2 and all(len(f) == 16 for f in feats["features"])
    feats2 = extract_features(df, fake=True).toPandas()
    assert np.allclose(
        np.array(list(feats["features"])), np.array(list(feats2["features"]))
    )  # deterministic

    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(df, fake=False).collect()


def test_winnow_fingerprints_detect_shared_content(spark):
    from dads_spark.ops import winnow_fingerprints

    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "prefix words then the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely unrelated text about columnar query engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(df, k=8, w=4).toPandas()
    by_doc = {d: set(g["fingerprint"]) for d, g in fp.groupby("doc_id")}
    # winnowing guarantee: any shared substring of length >= k + w - 1 leaves
    # at least one shared fingerprint; docs 0/1 share a long suffix
    assert by_doc[0] & by_doc[1]
    # overlap with the unrelated doc must be far smaller than the copy pair
    assert len(by_doc[0] & by_doc[1]) > 3 * len(by_doc[0] & by_doc[2])
    # deterministic across runs
    fp2 = winnow_fingerprints(df, k=8, w=4).toPandas()
    assert set(map(tuple, fp.values.tolist())) == set(map(tuple, fp2.values.tolist()))


def test_fnv1a_vectorized_bit_identity():
    """The padded-matrix FNV-1a must equal the scalar per-byte fold exactly
    (the scalar fold is the semantic definition; the vectorized kernel is
    the production implementation)."""
    from dads_spark.ops.dedup import _FNV_OFFSET, _FNV_PRIME, _fnv1a_tokens

    def scalar(t: str) -> np.uint64:
        h = _FNV_OFFSET
        with np.errstate(over="ignore"):
            for b in t.encode():
                h = (h ^ np.uint64(b)) * _FNV_PRIME
        return h

    rng = np.random.default_rng(11)
    tokens = [
        "", "a", "the", "fox", "über", "naïve", "你好世界",
        "x" * 200,  # long token exercises deep byte positions
        *("tok%d" % i for i in range(50)),
        *(
            "".join(chr(c) for c in rng.integers(33, 1000, size=rng.integers(1, 30)))
            for _ in range(200)
        ),
    ]
    got = _fnv1a_tokens(tokens)
    want = np.array([scalar(t) for t in tokens], dtype=np.uint64)
    assert (got == want).all()
    assert got.dtype == np.uint64
    assert len(_fnv1a_tokens([])) == 0


def test_knn_partial_topk_bounds_window_input(spark, embeddings):
    """The per-batch partial stage must shrink the window input from n*nq
    candidate rows to ~partitions*nq*k survivors (VERDICT r1 scale fix)."""
    from dads_spark.ops.similarity import _partial_topk_scores

    emb = embeddings.repartition(8)
    n = emb.count()
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).collect()
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    flat = _partial_topk_scores(emb, q_ids, q_mat, k=5)
    n_flat = flat.count()
    assert n_flat < n * len(q_ids), "partial top-k did not reduce candidates"
    # generous tie allowance: 8 partitions x 3 queries x (5 + ties)
    assert n_flat <= 8 * 3 * (5 + 25)
    # and the full operator still matches the exact result on a repartitioned
    # input (the cut must never drop a true winner)
    got = knn_bruteforce(emb, [0, 1, 2], k=5).toPandas()
    want = knn_bruteforce(embeddings.coalesce(1), [0, 1, 2], k=5).toPandas()
    key = ["query_id", "rank"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        want.sort_values(key).reset_index(drop=True)
    )


def test_resize_media_plumbing(spark):
    from dads_spark.ops import resize_media

    rows = [(0, bytearray(b"\xff\xd8" + bytes(range(250)))), (1, bytearray(b""))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = resize_media(df, 8, 6, fake=True).toPandas().set_index("media_id")
    assert (out["out_w"] == 8).all() and (out["out_h"] == 6).all()
    assert all(len(b) == 48 for b in out["resized"])  # one byte per pixel
    out2 = resize_media(df, 8, 6, fake=True).toPandas().set_index("media_id")
    assert bytes(out.loc[0, "resized"]) == bytes(out2.loc[0, "resized"])  # deterministic
    with pytest.raises(Exception, match="NotImplementedError|real image resize"):
        resize_media(df, 8, 6, fake=False).collect()


def test_heavy_hitters_exact_vs_naive(spark):
    from dads_spark.ops import heavy_hitters

    # zipf-ish: item i appears ~ 2000/(i+1) times, 200 distinct items ->
    # far more than k=ceil(2/0.02)=100 counters, so MG compression engages
    rng = np.random.default_rng(7)
    items = np.repeat(
        [f"w{i:03d}" for i in range(200)],
        (2000 / (np.arange(200) + 1)).astype(int) + 1,
    )
    rng.shuffle(items)
    df = spark.createDataFrame(pd.DataFrame({"tok": items})).repartition(8)

    got = heavy_hitters(df, "tok", 0.02).toPandas().sort_values("item")
    vc = pd.Series(items).value_counts()
    import math

    min_count = math.ceil(0.02 * len(items))
    want = vc[vc >= min_count]
    assert list(got["item"]) == sorted(want.index)
    assert dict(zip(got["item"], got["cnt"])) == {
        k: int(v) for k, v in want.items()
    }


def test_heavy_hitters_edges(spark):
    from dads_spark.ops import heavy_hitters

    df = spark.createDataFrame(
        pd.DataFrame({"tok": ["a"] * 50 + ["b"] * 30 + ["c"] * 20})
    )
    # all three clear a 10% bar; only 'a' clears 40%
    assert heavy_hitters(df, "tok", 0.1).count() == 3
    top = heavy_hitters(df, "tok", 0.4).toPandas()
    assert list(top["item"]) == ["a"] and int(top["cnt"].iloc[0]) == 50
    with pytest.raises(ValueError):
        heavy_hitters(df, "tok", 1.5)


def test_heavy_hitters_plan_two_scans(spark, tmp_path_factory):
    """The candidate phase consumes the source once (collected inside the
    operator call); the returned verify query scans it exactly once more,
    semi-joining against the BROADCAST candidate relation — the vocabulary
    never shuffles."""
    from dads_spark.ops import heavy_hitters

    path = str(tmp_path_factory.mktemp("hh") / "toks.parquet")
    pd.DataFrame({"tok": ["x"] * 40 + ["y"] * 10 + [f"z{i}" for i in range(50)]}).pipe(
        lambda p: spark.createDataFrame(p).write.mode("overwrite").parquet(path)
    )
    df = spark.read.parquet(path)
    out = heavy_hitters(df, "tok", 0.2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, f"verify pass must scan the source once\n{plan}"
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    got = out.toPandas()
    assert set(got["item"]) == {"x"} and int(got["cnt"].iloc[0]) == 40


def test_repetition_stats_known_counts(spark):
    # "a b a b a": bigrams [a b, b a, a b, b a] -> 4 grams, all duplicated
    # (dup_frac 1.0), top "a b" x2 -> top_frac 0.5
    # "x y z": bigrams [x y, y z] -> 2 grams, none duplicated, top_frac 0.5
    # "solo": 1 token -> no bigrams -> NO output row (matches oracle SQL)
    from dads_spark.ops import repetition_stats

    df = spark.createDataFrame(
        [(0, "a b a b a"), (1, "x y z"), (2, "solo")],
        "doc_id long, text string",
    )
    out = (
        repetition_stats(df, "text", "doc_id", n=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.index.tolist() == [0, 1]
    assert out.loc[0, "n_ngrams"] == 4
    assert out.loc[0, "dup_ngram_frac"] == 1.0
    assert out.loc[0, "top_ngram_frac"] == 0.5
    assert out.loc[1, "n_ngrams"] == 2
    assert out.loc[1, "dup_ngram_frac"] == 0.0
    assert out.loc[1, "top_ngram_frac"] == 0.5


def test_repetition_stats_no_python_stage(spark):
    # the n-gram build must stay in JVM expressions: no BatchEvalPython /
    # ArrowEvalPython operator may appear in the plan
    from dads_spark.ops import repetition_stats

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = repetition_stats(df, "text", "doc_id", n=2)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_line_dedup_global_keep_first(spark):
    """Corpus-global keep-first line dedup: a long line repeated across
    docs survives only at its first (doc_id, pos); short lines are
    exempt everywhere; a doc whose every line is dropped still exists
    with empty text; output is byte-deterministic under repartition."""
    from dads_spark.ops import line_dedup_global

    banner = "this banner is well over twenty characters long"
    uniq = "unique long content line that appears exactly once here"
    short = "tiny"
    rows = [
        (0, f"{banner}\n{uniq}\n{short}"),
        (1, f"{banner}\n{short}\nanother long line unique to document one"),
        (2, banner),  # everything dropped -> empty text survives
        (3, f"{short}\n{banner}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in line_dedup_global(docs, min_chars=20).collect()
    }
    assert out[0] == f"{banner}\n{uniq}\n{short}"  # first occurrence kept
    assert out[1] == f"{short}\nanother long line unique to document one"
    assert out[2] == ""
    assert out[3] == short
    # same-doc repeats past the first are dropped too
    docs2 = spark.createDataFrame(
        [(7, f"{banner}\n{short}\n{banner}")], "doc_id long, text string"
    )
    assert line_dedup_global(docs2, min_chars=20).collect()[0]["text"] == (
        f"{banner}\n{short}"
    )
    # partitioning-invariance: the (doc_id, pos) order is total
    out_rep = {
        r["doc_id"]: r["text"]
        for r in line_dedup_global(docs.repartition(7), min_chars=20).collect()
    }
    assert out_rep == out


def test_rrf_fuse_exact_arithmetic(spark):
    """RRF fusion: integer nano-unit contributions, doc in both arms
    beats single-arm docs, ties broken by id, top_n enforced."""
    from dads_spark.ops import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank int"
    )
    den = spark.createDataFrame(
        [(11, 1), (13, 2), (10, 3)], "doc_id long, rank int"
    )
    out = {r["doc_id"]: r.asDict() for r in rrf_fuse([lex, den], k=60).collect()}
    c = lambda r: int(1e9 / (60 + r) + 0.5)  # noqa: E731
    assert out[10]["rrf_q9"] == c(1) + c(3) and out[10]["n_arms"] == 2
    assert out[11]["rrf_q9"] == c(2) + c(1) and out[11]["n_arms"] == 2
    assert out[12]["rrf_q9"] == c(3) and out[12]["n_arms"] == 1
    assert out[13]["rrf_q9"] == c(2)
    # 10 and 11 have identical fused scores (c1+c3 == c2+c1 is false —
    # check actual ordering): rank follows (rrf_q9 desc, doc_id)
    ranked = sorted(out.values(), key=lambda d: d["rank"])
    scores = [d["rrf_q9"] for d in ranked]
    assert scores == sorted(scores, reverse=True)
    # exact tie between equal-score docs breaks by doc_id
    t1 = spark.createDataFrame([(5, 1), (3, 2)], "doc_id long, rank int")
    t2 = spark.createDataFrame([(3, 1), (5, 2)], "doc_id long, rank int")
    tied = rrf_fuse([t1, t2], k=60).collect()
    assert [r["doc_id"] for r in tied] == [3, 5]  # same score, id ascending
    assert rrf_fuse([lex, den], top_n=2).count() == 2


def test_wav_pcm_roundtrip_exact(spark):
    import numpy as np

    from dads_spark.ops import make_wav_pcm, wav_pcm_stats

    x1 = np.array([0, 100, -100, 32767, -32768, 7], dtype=np.int64)
    x2 = np.array([5] * 50, dtype=np.int64)
    df = spark.createDataFrame(
        [(1, bytearray(make_wav_pcm(x1, 44100))),
         (2, bytearray(make_wav_pcm(x2, 8000))),
         (3, bytearray(b"not a wav at all"))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in wav_pcm_stats(df).collect()}
    r1 = out[1]
    assert (r1["sample_rate"], r1["n_channels"], r1["n_samples"]) == (44100, 1, 6)
    assert r1["sum_amp"] == int(x1.sum())
    assert r1["sum_sq"] == int((x1 * x1).sum())
    assert r1["peak"] == 32768
    r2 = out[2]
    assert (r2["sample_rate"], r2["n_samples"], r2["sum_amp"]) == (8000, 50, 250)
    # malformed payload degrades to a -1 row instead of failing the batch
    assert out[3]["sample_rate"] == -1 and out[3]["n_samples"] == 0


def test_wav_pcm_chunk_walk_skips_extra_chunks(spark):
    import struct

    import numpy as np

    from dads_spark.ops import make_wav_pcm, wav_pcm_stats

    # splice a LIST chunk (odd length -> exercises the pad byte) between
    # fmt and data: the chunk walk must skip it and still find the data
    x = np.array([1, 2, 3], dtype=np.int64)
    raw = make_wav_pcm(x, 16000)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = raw[:fmt_end] + extra + raw[fmt_end:]
    # fix the RIFF size field
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    df = spark.createDataFrame(
        [(1, bytearray(spliced))], "media_id long, payload binary"
    )
    r = wav_pcm_stats(df).first()
    assert (r["sample_rate"], r["n_samples"], r["sum_amp"]) == (16000, 3, 6)


def test_bmp_roundtrip_exact(spark):
    import numpy as np

    from dads_spark.ops import bmp_stats, make_bmp

    rng = np.random.RandomState(2)
    img = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)  # w=7: stride pad
    df = spark.createDataFrame(
        [(1, bytearray(make_bmp(img))), (2, bytearray(b"PNG? no."))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in bmp_stats(df).collect()}
    r1 = out[1]
    assert (r1["width"], r1["height"]) == (7, 5)
    assert r1["sum_r"] == int(img[..., 0].sum())
    assert r1["sum_g"] == int(img[..., 1].sum())
    assert r1["sum_b"] == int(img[..., 2].sum())
    lum = 2 * img[..., 1].astype(int) + img[..., 0] + img[..., 2]
    assert r1["max_lum"] == int(lum.max())
    assert out[2]["width"] == -1  # corrupt-blob tolerance


def test_jaccard_join_threshold_boundary(spark):
    from dads_spark.ops import jaccard_join

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),      # vs 2: inter 3, union 5 -> 0.6
            (2, "a b c e f"),
            (3, "a b c d"),      # identical to 1 -> 1.0
            (4, "x y z"),        # disjoint from all
            (5, "a b c d e"),    # vs 1: inter 4, union 5 -> exactly 0.8
        ],
        "doc_id long, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"], r["jac_q6"])
        for r in jaccard_join(docs, tau_num=4, tau_den=5).collect()
    }
    assert out[(1, 3)] == (4, 4, 1_000_000)
    assert out[(1, 5)] == (4, 5, 800_000)   # >= is inclusive at the boundary
    assert out[(3, 5)] == (4, 5, 800_000)
    assert (1, 2) not in out and all(4 not in k for k in out)


def test_jaccard_join_prefix_filter_lossless_randomized(spark):
    import itertools
    import random

    from dads_spark.ops import jaccard_join

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(25)]
    texts = [
        " ".join(rng.sample(vocab, rng.randint(5, 18))) for _ in range(40)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]) for r in jaccard_join(docs, tau_num=3, tau_den=5).collect()
    }
    sets = [set(t.split()) for t in texts]
    want = set()
    for i, j in itertools.combinations(range(len(sets)), 2):
        x = len(sets[i] & sets[j])
        u = len(sets[i] | sets[j])
        if x * 5 >= 3 * u:
            want.add((i, j))
    assert got == want  # no false negatives from the prefix filter, no extras


def test_cdc_boundaries_cover_and_match_scalar():
    import hashlib

    import numpy as np

    from dads_spark.oracles import cdc_chunks_oracle
    from dads_spark.ops import cdc_boundaries

    data = b"".join(
        hashlib.md5(f"blob-{i}".encode()).digest() for i in range(300)
    )  # 4800 deterministic bytes
    chunks = cdc_boundaries(data)
    # exact cover: contiguous offsets, lengths sum to payload size
    pos = 0
    for off, ln in chunks:
        assert off == pos and 1 <= ln <= 1024
        pos += ln
    assert pos == len(data)
    # vectorized rolling hash == per-byte textbook recurrence
    want = [(r[2], r[3]) for r in cdc_chunks_oracle([1], [data])]
    assert chunks == want


def test_cdc_resynchronizes_after_insertion():
    import hashlib

    from dads_spark.ops import cdc_boundaries

    base = b"".join(
        hashlib.md5(f"doc-{i}".encode()).digest() for i in range(400)
    )
    shifted = b"PREFIX-INSERTED-BYTES-" + base

    def hashes(d):
        return [
            hashlib.md5(d[o : o + n]).hexdigest()
            for o, n in cdc_boundaries(d)
        ]

    ha, hb = set(hashes(base)), set(hashes(shifted))
    # content-defined boundaries re-align: the vast majority of chunks
    # survive a prefix insertion (fixed-size blocks would share ~none)
    assert len(ha & hb) >= 0.8 * len(ha)


# ---------------------------------------------------------------- png
def test_png_roundtrip_all_filters(spark):
    import numpy as np

    from dads_spark.ops import make_png, png_stats

    rng = np.random.default_rng(3)
    rows = []
    for mid in range(10):
        h, w = 9, 13
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        # every scanline gets a different filter type, all five exercised
        filt = [(mid + y) % 5 for y in range(h)]
        rows.append((mid, bytearray(make_png(img, filt)), img))
    df = spark.createDataFrame(
        [(m, p) for m, p, _ in rows], "media_id long, payload binary"
    )
    got = {r["media_id"]: r for r in png_stats(df).collect()}
    for mid, _, img in rows:
        px = img.astype(np.int64)
        r = got[mid]
        assert (r["width"], r["height"]) == (13, 9)
        assert r["sum_r"] == int(px[..., 0].sum())
        assert r["sum_g"] == int(px[..., 1].sum())
        assert r["sum_b"] == int(px[..., 2].sum())
        assert r["max_lum"] == int(
            (2 * px[..., 1] + px[..., 0] + px[..., 2]).max()
        )


def test_png_rgba_and_corrupt(spark):
    import numpy as np

    from dads_spark.ops import make_png, png_stats

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (5, 7, 4)).astype(np.uint8)  # RGBA
    good = make_png(img, [4, 3, 2, 1, 0])
    df = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(b"\x89PNG\r\n\x1a\ngarbage")),
            (3, bytearray(b"not a png")),
            (4, bytearray(good[:40])),  # truncated
        ],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in png_stats(df).collect()}
    px = img.astype(np.int64)
    assert got[1]["sum_r"] == int(px[..., 0].sum())  # alpha ignored
    assert got[1]["width"] == 7
    for bad in (2, 3, 4):
        assert got[bad]["width"] == -1


# --- embedding operators on the Arrow runners ------------------------------


def _queries(emb, ids):
    rows = emb.filter(F.col("vec_id").isin(ids)).orderBy("vec_id").collect()
    return (
        np.array([r["vec_id"] for r in rows], dtype=np.int64),
        np.array([r["embedding"] for r in rows], dtype=np.float64),
    )


def _pq_adc(emb):
    from dads_spark.ops import ann_pq_adc, pq_encode, train_pq_codebooks

    books = train_pq_codebooks(emb, m=4, ksub=8)
    return ann_pq_adc(pq_encode(emb, books), books, *_queries(emb, [0, 1, 2]), k=5)


def _sq8(emb):
    from dads_spark.ops import ann_sq8, sq8_encode, sq8_train

    lo, hi = sq8_train(emb, "embedding", dim=16)
    return ann_sq8(sq8_encode(emb, lo, hi), _queries(emb, [0, 1, 2])[1], lo, hi, k=5)


def _ivf_pq(emb):
    from dads_spark.ops.quantize import ann_ivf_pq

    return ann_ivf_pq(emb, [0, 1, 2], k=5, n_cells=4, n_probe=2, m=4, ksub=8)


EMBEDDING_OPS = {
    "knn_bruteforce": lambda emb: knn_bruteforce(emb, [0, 1, 2], k=5),
    "ann_ivf": lambda emb: ann_ivf(emb, [0, 1, 2], k=5, n_cells=4, n_probe=2),
    "ann_pq_adc": _pq_adc,
    "ann_ivf_pq": _ivf_pq,
    "ann_sq8": _sq8,
}


MOVED_OPS = {
    **EMBEDDING_OPS,
    "ann_lsh": lambda emb: ann_lsh(emb, [0, 1], k=5, n_planes=8, n_bands=3),
    "kmeans_assign": lambda emb: kmeans_assign(emb, n_clusters=4),
    "semdedup": lambda emb: semdedup(emb, n_clusters=4),
    "embedding_pca": lambda emb: embedding_pca(emb, k=2, n_slices=3),
}


@pytest.mark.parametrize("op", sorted(MOVED_OPS))
def test_embedding_ops_cross_as_arrow(spark, embeddings, op):
    """Every embedding operator hands its batches to Python as Arrow: the
    executed plan has a MapInArrow or FlatMapGroupsInArrow node and no
    pandas node."""
    out = MOVED_OPS[op](embeddings.select("vec_id", "embedding"))
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan or "FlatMapGroupsInArrow" in plan, plan
    assert "InPandas" not in plan, plan


@pytest.mark.parametrize("op", sorted(EMBEDDING_OPS))
def test_partial_topk_is_batch_size_invariant(spark, embeddings, op):
    """The shared per-batch cut keeps every true winner: 7-row Arrow
    batches (many cuts a partition) give exactly the default-batch
    output."""
    emb = embeddings.select("vec_id", "embedding")
    want = sorted(EMBEDDING_OPS[op](emb).collect())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = sorted(EMBEDDING_OPS[op](emb).collect())
    finally:
        spark.conf.set(key, old)
    assert got == want
    assert len(got) == 3 * 5
