"""Published LLM-corpus quality-filter suites, re-expressed Spark-first.

Three filter families every production training-data pipeline runs, each
implemented as pure JVM codegen expressions (no Python in the hot path) so
the corpus-wide pass is a single map-only scan at 100 TB:

- ``gopher_rules``   — the Gopher paper's document-quality heuristics
  (Rae et al. 2021, "Scaling Language Models", Appendix A1.1): word-count
  bounds, mean-word-length bounds, symbol-to-word ratio, bullet/ellipsis
  line ratios, alpha-word ratio, required-stopword count.
- ``c4_clean``       — the C4 line-level cleaning pass (Raffel et al.
  2020, "Exploring the Limits of Transfer Learning", §2.2): keep lines
  that end in terminal punctuation and have >=5 words, drop lines that
  mention javascript, drop docs containing "lorem ipsum" or "{", keep
  docs with >=3 surviving lines.
- ``perplexity_buckets`` — CCNet-style head/middle/tail quality buckets
  per language (Wenzek et al. 2020): documents ranked by their
  corpus-unigram surprisal inside each language, split into terciles.

Plus the embedding-space pass:

- ``semdedup``       — SemDeDup-style semantic dedup (Abbas et al. 2023):
  spherical-k-means cluster the corpus, compare pairs only WITHIN a
  cluster, drop every doc that has a lower-id near-duplicate above the
  cosine threshold. The cluster id bounds the candidate set exactly the
  way the LSH band-bucket does for MinHash — no all-pairs path exists.

Every rule is stated in INTEGER arithmetic (``10 * symbols <= n_words``
instead of ``symbols / n_words <= 0.1``) so the keep decision is exact,
engine-independent, and immune to float-division rounding — the same
discipline the rollup tiers use (SURVEY §3 cross-engine rules).

Scale shape: gopher_rules / c4_clean are map-only (one projection, no
shuffle — Catalyst folds every flag into one WholeStageCodegen span over
the scan). perplexity_buckets shuffles once keyed by language for the
exact tercile split; at 10^12 docs the documented swap-in is
percentile_approx cutpoints + a broadcast map-side bucket assignment.
semdedup shuffles once keyed by cluster id.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window as W, functions as F

from ..groups import list_matrix, map_batches, per_group

# Gopher A1.1 required stopwords ("the, be, to, of, and, that, have, with")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

TERMINAL_PUNCT = (".", "!", "?", '"')


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
) -> DataFrame:
    """Per-document Gopher quality flags + the composed keep decision.

    Returns (id, n_words, flag_*, keep) with one boolean column per rule:

    - ``flag_word_count``: min_words <= n_words <= max_words
    - ``flag_mean_word_len``: mean word length in [3, 10] — stated as the
      integer sandwich ``3*n_words <= sum_word_chars <= 10*n_words``
    - ``flag_symbol_ratio``: (count('#') + count('...')) / n_words <= 0.1,
      stated as ``10 * n_symbols <= n_words``
    - ``flag_bullet_lines``: < 90% of lines start with a bullet marker
      ("- ", "* ", "• ") — ``10 * n_bullet_lines < 9 * n_lines``
    - ``flag_ellipsis_lines``: <= 30% of lines end with "..." —
      ``10 * n_ellipsis_lines <= 3 * n_lines``
    - ``flag_alpha_words``: >= 80% of words contain an alphabetic char —
      ``5 * n_alpha_words >= 4 * n_words``
    - ``flag_stopwords``: >= 2 distinct members of GOPHER_STOPWORDS occur
      as whitespace tokens

    keep = AND of all seven. Entirely built-in expressions: the whole
    rule suite compiles into one codegen'd projection over the scan.
    """
    text = F.col(text_col)
    toks = F.split(text, " ")
    lines = F.split(text, "\n")
    n_words = F.size(toks)
    n_lines = F.size(lines)
    # characters inside words = total chars - single-space separators (the
    # same convention text_quality's mean_token_len uses)
    sum_word_chars = F.length(text) - (n_words - 1)
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    n_symbols = (n_hash + n_ellipsis).cast("long")
    n_bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("• "),
        )
    )
    n_ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    n_alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    sw_hits = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS
    )

    flag_word_count = (n_words >= min_words) & (n_words <= max_words)
    flag_mean_word_len = (sum_word_chars >= min_mean_word_len * n_words) & (
        sum_word_chars <= max_mean_word_len * n_words
    )
    flag_symbol_ratio = (10 * n_symbols) <= n_words
    flag_bullet_lines = (10 * n_bullet_lines) < (9 * n_lines)
    flag_ellipsis_lines = (10 * n_ellipsis_lines) <= (3 * n_lines)
    flag_alpha_words = (5 * n_alpha_words) >= (4 * n_words)
    flag_stopwords = sw_hits >= 2

    return docs.select(
        id_col,
        n_words.alias("n_words"),
        flag_word_count.alias("flag_word_count"),
        flag_mean_word_len.alias("flag_mean_word_len"),
        flag_symbol_ratio.alias("flag_symbol_ratio"),
        flag_bullet_lines.alias("flag_bullet_lines"),
        flag_ellipsis_lines.alias("flag_ellipsis_lines"),
        flag_alpha_words.alias("flag_alpha_words"),
        flag_stopwords.alias("flag_stopwords"),
        (
            flag_word_count
            & flag_mean_word_len
            & flag_symbol_ratio
            & flag_bullet_lines
            & flag_ellipsis_lines
            & flag_alpha_words
            & flag_stopwords
        ).alias("keep"),
    )


def c4_clean(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning: per doc, keep lines that end in terminal
    punctuation (. ! ? \"), contain >= min_words_per_line whitespace
    words, and do not mention "javascript" (case-insensitive); the doc
    survives when >= min_kept_lines lines survive AND the raw text
    contains neither "lorem ipsum" (case-insensitive) nor "{".

    Returns (id, n_lines, n_kept_lines, keep_doc, clean_text) where
    clean_text is the kept lines re-joined with "\\n" — deterministic
    byte-exact string surgery, the same per-url text invariant the WARC
    extractor keeps. Map-only: array higher-order functions inside one
    codegen projection, no shuffle, no Python.
    """
    text = F.col(text_col)
    lines = F.split(text, "\n")

    def line_ok(l):
        ends = l.endswith(TERMINAL_PUNCT[0])
        for p in TERMINAL_PUNCT[1:]:
            ends = ends | l.endswith(p)
        return (
            ends
            & (F.size(F.split(l, " ")) >= min_words_per_line)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, line_ok)
    keep_doc = (
        (F.size(kept) >= min_kept_lines)
        & ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
    )
    return docs.select(
        id_col,
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        keep_doc.alias("keep_doc"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style per-language quality buckets: rank every document by
    its corpus-unigram surprisal (integer micro-units — the exact,
    engine-independent score ``unigram_logprob`` emits) WITHIN its
    language and split into ``n_buckets`` ntile terciles. Bucket 1
    ("head") = least surprising / highest quality; bucket ``n`` ("tail")
    = most surprising. Ordering key is (avg_neglp_q6, id) — integer, so
    the split is total and reproducible on any engine.

    Returns (id, lang, avg_neglp_q6, bucket, bucket_name).

    Scale: one shuffle keyed by language for the exact ntile (skewed by
    the dominant language — at 10^12 docs swap the exact split for
    percentile_approx cutpoints computed per language and a broadcast
    map-side bucket assignment; the exact path is kept here because it is
    oracle-pinnable bit-for-bit).
    """
    from .textstats import unigram_logprob

    scored = unigram_logprob(docs, text_col=text_col, id_col=id_col).select(
        id_col, "avg_neglp_q6"
    )
    labeled = scored.join(docs.select(id_col, lang_col), id_col)
    w = W.partitionBy(lang_col).orderBy(F.col("avg_neglp_q6"), F.col(id_col))
    names = F.when(F.col("bucket") == 1, "head").otherwise(
        F.when(F.col("bucket") == n_buckets, "tail").otherwise("middle")
    )
    return (
        labeled.withColumn("bucket", F.ntile(n_buckets).over(w))
        .withColumn("bucket_name", names)
        .select(id_col, lang_col, "avg_neglp_q6", "bucket", "bucket_name")
    )


def semdedup(
    embeddings: DataFrame,
    tau_q6: int = 950_000,
    n_clusters: int = 8,
    sample_size: int = 2048,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup: embedding-space near-duplicate removal scoped to k-means
    clusters (Abbas et al. 2023). A document is DROPPED iff some
    lower-id document in the SAME cluster has cosine similarity
    >= tau_q6 micro-units; the witness is the smallest such id, so the
    output is a pure function of the input set (keep-first discipline,
    the same rule the exact/MinHash dedup stages use).

    Returns (id, cluster, dropped, witness_id) for every vector;
    witness_id is null for kept rows.

    Plan shape: the trainer is the shared deterministic driver-sample
    spherical k-means (similarity._train_spherical_kmeans — centroids
    broadcast via closure); ONE mapInArrow scan (``groups.map_batches``)
    assigns clusters; one shuffle keyed by cluster; per-cluster pairwise
    cosine inside ``groupBy().applyInArrow`` (``groups.per_group``). The
    cluster bound is the scale argument: k grows with
    the corpus so the per-cluster candidate set stays bounded, exactly
    the role the band bucket plays in minhash_lsh_pairs — no all-pairs
    path exists. Comparisons quantize per-pair to integer micro-units
    BEFORE thresholding, so the drop set is partition-invariant.
    """
    from .similarity import _train_spherical_kmeans, _unit_rows

    cent = _train_spherical_kmeans(
        embeddings, n_clusters, sample_size, kmeans_iters, seed, id_col, vec_col
    )

    def assign(ids, mat):
        return [ids, (_unit_rows(mat.astype(np.float64)) @ cent.T).argmax(axis=1), mat]

    assigned = map_batches(
        embeddings,
        [id_col, vec_col],
        assign,
        f"{id_col} long, cluster long, {vec_col} array<float>",
    )

    def dedup_cluster(cluster, t):
        t = t.take(np.argsort(t.column(id_col).to_numpy(), kind="stable"))
        ids = t.column(id_col).to_numpy()
        mat = _unit_rows(list_matrix(t.column(vec_col), vec_col).astype(np.float64))
        cos_q6 = np.floor(mat @ mat.T * 1e6 + 0.5).astype(np.int64)
        n = len(ids)
        dropped = np.zeros(n, dtype=bool)
        witness = np.zeros(n, dtype=np.int64)
        for i in range(1, n):
            hits = np.nonzero(cos_q6[i, :i] >= tau_q6)[0]
            if len(hits):
                dropped[i] = True
                witness[i] = ids[hits[0]]  # ids ascending -> smallest witness
        return ids, np.full(n, cluster), dropped, pa.array(witness, mask=~dropped)

    return per_group(
        assigned,
        "cluster",
        dedup_cluster,
        f"{id_col} long, cluster long, dropped boolean, witness_id long",
    )


def readability_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948) — the classic
    readability quality signal, over the standard cheap approximations:
    words = whitespace tokens, sentences = terminal-punctuation marks
    ('.', '!', '?'; min 1), syllables = vowel-group runs ([aeiouy]+,
    case-folded) across the text.

    score = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words),
    emitted as flesch_q3 = sign*floor(|score|*1e3 + 0.5) from the three
    EXACT integer counts — the only float step is the fixed closed-form
    expression, identical on any engine. Map-only: one codegen projection
    over the scan, the gopher_rules shape.

    Returns (id, n_words, n_sentences, n_syllables, flesch_q3).
    """
    text = F.col(text_col)
    n_words = F.size(F.split(text, " "))
    n_sentences = F.greatest(
        F.lit(1),
        F.length(text) - F.length(F.translate(text, ".!?", "")),
    )
    collapsed = F.regexp_replace(F.lower(text), "[aeiouy]+", "#")
    n_syllables = F.length(collapsed) - F.length(
        F.replace(collapsed, F.lit("#"), F.lit(""))
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sentences.cast("double"))
        - F.lit(84.6) * (n_syllables.cast("double") / n_words.cast("double"))
    )
    q3 = (
        F.signum(score) * F.floor(F.abs(score) * F.lit(1e3) + F.lit(0.5))
    ).cast("long")
    return docs.select(
        id_col,
        n_words.alias("n_words"),
        n_sentences.cast("int").alias("n_sentences"),
        n_syllables.cast("int").alias("n_syllables"),
        q3.alias("flesch_q3"),
    )


def zlib_ratio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Compression-ratio quality signal: DEFLATE level-6 bytes over
    raw UTF-8 bytes per document — the classic cheap proxy used by
    published web-corpus pipelines to drop boilerplate/templated text
    (compresses far below prose) and binary-ish noise (doesn't
    compress at all). Thresholds are corpus policy; this emits the
    measurements.

    Arrow-batched mapInPandas (zlib is CPython's zlib in both the
    engine and the staged oracle — byte-identical output lengths), one
    map-only pass, no shuffle. Returns (doc, n_raw_bytes,
    n_zlib_bytes, ratio_q6) with ratio = compressed/raw (small = very
    repetitive), NULL for empty docs.

    Reference analog: none; SURVEY §2.4 quality suite (Gopher/
    RefinedWeb-style repetition filters; public heuristic).
    """
    import pandas as pd

    schema = f"{id_col} long, n_raw_bytes long, n_zlib_bytes long, ratio_q6 long"

    def run(it):
        import zlib

        for pdf in it:
            raw = [
                t.encode("utf-8") if isinstance(t, str) else b""
                for t in pdf[text_col]
            ]
            nr = [len(x) for x in raw]
            nz = [len(zlib.compress(x, 6)) for x in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_raw_bytes": nr,
                    "n_zlib_bytes": nz,
                    "ratio_q6": [
                        (10**6 * z) // r + (1 if (10**6 * z) % r * 2 >= r
                                            else 0)
                        if r else None
                        for z, r in zip(nz, nr)
                    ],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def blockword_scan(
    df: DataFrame,
    text_col: str,
    categories: dict[str, list[str]],
    id_cols: list[str],
    flag_per_10k: int = 20,
) -> DataFrame:
    """Category word-blocklist scanner — the C4 "bad words" pass
    (Raffel et al. 2020 §2.2 dropped any page matching the public
    blocklist) generalized to CATEGORY COUNTS: per document, the exact
    number of blocklisted-term hits per category, the total, the token
    count, and a flag when hits exceed ``flag_per_10k`` per 10k tokens
    — so downstream can drop, down-weight, or route per category
    instead of a binary kill.

    Matching: case-insensitive whole words (``(?i)\\b(w1|w2|...)\\b``;
    terms are regex-escaped, so lists stay plain words).  Both RE2 and
    Java regex implement this subset identically — the boilerplate /
    script_mix cross-engine discipline.  The flag threshold is integer:
    ``10000 * total_hits > flag_per_10k * n_tokens``.

    Scale shape: the lists compile into ONE regexp_count per category
    inside a single map-only codegen projection over the scan — zero
    shuffles, zero Python, zero joins at 100 TB; the blocklists ride
    the plan as literals (the broadcast-rules shape of
    domain_blocklist/robots, degenerated to constants).
    """
    import re as _re

    cols = [F.col(c) for c in id_cols]
    total = None
    cat_cols = []
    for cat in sorted(categories):
        terms = sorted(categories[cat])
        pat = "(?i)\\b(" + "|".join(_re.escape(t) for t in terms) + ")\\b"
        c = F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        cat_cols.append(c.alias(f"n_{cat}"))
        total = c if total is None else total + c
    n_tokens = F.size(
        F.split(F.trim(F.col(text_col)), r"\s+")
    ).cast("long")
    staged = df.select(
        *cols,
        *cat_cols,
        total.cast("long").alias("n_blocked_total"),
        n_tokens.alias("n_tokens"),
    )
    flagged = (
        F.lit(10_000) * F.col("n_blocked_total")
        > F.lit(int(flag_per_10k)) * F.col("n_tokens")
    ).alias("flagged")
    return staged.select(*[c for c in staged.columns], flagged)


def hashed_linear_score(
    docs: DataFrame,
    weights: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    threshold: int = 0,
) -> DataFrame:
    """FastText-style hashed linear classifier scoring — the quality /
    domain filter shape used by DCLM, CCNet and RedPajama pipelines:
    tokens hash into ``n_buckets`` feature buckets, a document's logit
    is the sum of the (integer) bucket weights of its tokens, and the
    keep decision is a threshold on the logit.

    ``weights`` is a (b long, w long) table of integer micro-weights —
    in production the broadcast output of an offline trainer. ``None``
    uses a deterministic Knuth-multiplicative fixture
    ``w(b) = (b * 2654435761) % 2001 - 1000`` so the SCORING MECHANISM
    (hashing, explode, broadcast join, exact integer sum, threshold)
    is pinnable without shipping a model.

    Exactness: md5-prefix bucketing (engine-portable, the dsir bucket
    discipline) and exact long sums — no floats anywhere.

    Scale shape: corpus -> one explode pass -> per-(doc, bucket)
    counts (shuffle bounded by doc length) -> broadcast join against
    the <= n_buckets-row weight table -> one keyed agg back to docs.
    The corpus is never joined against anything non-broadcast.
    """
    spark = docs.sparkSession
    if weights is None:
        weights = spark.createDataFrame(
            [(b, (b * 2654435761) % 2001 - 1000) for b in range(n_buckets)],
            "_b long, _w long",
        )
    else:
        weights = weights.toDF("_b", "_w")
    tok = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("_t"),
    ).select(
        id_col,
        (
            F.conv(F.substring(F.md5(F.col("_t")), 1, 13), 16, 10)
            .cast("long")
            % n_buckets
        ).alias("_b"),
    )
    per_doc = tok.groupBy(id_col, "_b").agg(F.count(F.lit(1)).alias("_c"))
    return (
        per_doc.join(F.broadcast(weights), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.sum(F.col("_c") * F.col("_w")).alias("logit"),
        )
        .select(
            id_col,
            "n_tokens",
            "logit",
            (F.col("logit") > F.lit(threshold)).alias("keep"),
        )
    )
