"""Text analysis over the ``documents`` table (SURVEY.md §7 phase 4):
token counting, quality scoring, language ID, fingerprinting.

All hot-path expressions are native Columns (functions/text.py) — no Python
in the loop; at 100 TB these run inside whole-stage codegen at scan speed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amazon_climate_data_etl_spark.catalog import load_table, rebalance_for_compute
from amazon_climate_data_etl_spark.functions.text import (
    WS,
    ascii_lower,
    ascii_lower_sql,
    bpe_token_count,
    bpe_token_count_sql,
    doc_fingerprint,
    doc_fingerprint_sql,
    lang_guess,
    lang_guess_sql,
    quality_score,
    quality_score_sql,
    token_count,
    token_count_sql,
    tokens,
)
from amazon_climate_data_etl_spark.operators._portable import (
    _moment_to_double,
    _moment_to_double_sql,
    stable_round,
)


def lang_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus budget profile: doc count, whitespace-token and
    char volumes, BPE-ish pre-tokenizer counts and the BPE-per-word
    fertility ratio — the budgeting query a training pipeline runs before
    tokenizing 100 TB for real. (Round-7 consolidation of
    ``doc_token_stats`` + ``bpe_token_stats`` — same per-language grain
    over the same scan; merged, the corpus is read and regex-tokenized
    ONCE for both counter families.) One rebalanced scan (the BPE regex
    is the per-row cost) + one tiny-key aggregate, no Python."""
    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    ws = token_count(F.col("text"))
    bpe = bpe_token_count(F.col("text"))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).alias("ws_tokens"),
            stable_round(
                F.sum(ws).cast("double") / F.count(F.lit(1)), 2
            ).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(bpe).alias("bpe_tokens"),
            stable_round(
                F.sum(bpe).cast("double") / F.sum(ws), 4
            ).alias("bpe_per_ws"),
        )
        .orderBy("lang")
    )


LANG_TOKEN_PROFILE_SQL = f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum({token_count_sql('text')}) AS BIGINT) AS ws_tokens,
       round(CAST(sum({token_count_sql('text')}) AS DOUBLE) / count(*), 2) AS avg_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum({bpe_token_count_sql('text')}) AS BIGINT) AS bpe_tokens,
       round(CAST(sum({bpe_token_count_sql('text')}) AS DOUBLE)
             / sum({token_count_sql('text')}), 4) AS bpe_per_ws
FROM documents
GROUP BY lang
ORDER BY lang
"""


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristic + keep/drop verdict — the filter step
    of a training-data pipeline. At scale this is a pure map: no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    return (
        d.select(
            "doc_id",
            "lang",
            token_count(F.col("text")).alias("n_tokens"),
            q.alias("quality"),
            (q >= 0.5).alias("keep"),
        )
        .orderBy("doc_id")
    )


DOC_QUALITY_SQL = f"""
SELECT doc_id, lang,
       {token_count_sql('text')} AS n_tokens,
       {quality_score_sql('text')} AS quality,
       {quality_score_sql('text')} >= 0.5 AS keep
FROM documents
ORDER BY doc_id
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID vs the stored label: confusion counts.
    (The heuristic is deliberately SQL-portable; a fastText-style model
    would slot in as a pandas UDF with the multimodal plumbing pattern.)"""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_guess(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


LANG_ID_SQL = f"""
SELECT lang, {lang_guess_sql('text')} AS lang_pred, count(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY lang, lang_pred
"""


def doc_fingerprint_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fingerprint family in one frame: md5 of normalized
    text (exact-dedup key), a prefix fingerprint (first-64-chars hash, for
    locality-sensitive grouping), and the 16-bit SimHash (near-dup key).
    (Round-7 consolidation of ``doc_fingerprints`` + ``simhash_fingerprints``
    — same doc-level grain over the same table; the oracle certifies all
    three hash families side by side.) SimHash is NULL for token-less
    documents (the simhash frame drops them by construction); the md5
    side keeps every row, so the profile is a LEFT join — at scale both
    sides shuffle once on the uniform doc_id key. The scan is rebalanced
    first — the per-row hash work dominates, and a single-row-group file
    would serialize it (no-op at 100 TB)."""
    from amazon_climate_data_etl_spark.operators.dedup import _simhash_frame

    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    md = d.select(
        "doc_id",
        doc_fingerprint(F.col("text")).alias("fp"),
        F.md5(F.substring(F.trim(F.col("text")), 1, 64)).alias("fp_prefix64"),
    )
    sh = _simhash_frame(spark, sf_dir)
    return md.join(sh, "doc_id", "left").orderBy("doc_id")


def _doc_fingerprint_profile_sql() -> str:
    # deferred import keeps the fingerprint-body single-sourced in dedup.py
    from amazon_climate_data_etl_spark.operators.dedup import _SIMHASH_BODY

    return f"""
SELECT d.doc_id,
       {doc_fingerprint_sql('d.text')} AS fp,
       md5(substr(trim(d.text, ' '), 1, 64)) AS fp_prefix64,
       sh.simhash
FROM documents d LEFT JOIN ({_SIMHASH_BODY}) sh ON d.doc_id = sh.doc_id
ORDER BY d.doc_id
"""


DOC_FINGERPRINT_PROFILE_SQL = _doc_fingerprint_profile_sql()


# Deterministic sampling: md5(doc_id) prefix compared lexicographically —
# two hex chars give 256 uniform buckets, thresholds 0xcc/0xe6 ≈ 80/10/10.
# Content-hash sampling is how a 100 TB corpus gets REPRODUCIBLE splits:
# no RNG state, no seed coordination across executors, stable under
# re-partitioning and re-runs (rand()-based sampling is none of these).
_SPLIT_TRAIN, _SPLIT_VAL = "cc", "e6"


def _split_col() -> "F.Column":
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        F.when(h2 < _SPLIT_TRAIN, "train")
        .when(h2 < _SPLIT_VAL, "val")
        .otherwise("test")
    )


_SPLIT_SQL_EXPR = f"""CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SPLIT_TRAIN}' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SPLIT_VAL}' THEN 'val'
            ELSE 'test' END"""


def split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level train/val/test assignment for EVERY document, with its
    token weight — the query a pipeline runs to materialize (and
    re-materialize, identically) reproducible splits. (Round-7
    consolidation of ``sample_split_stats`` + ``val_split_docs``: the
    row-level assignment strictly subsumes both — the per-language volume
    profile is a one-line aggregate of this frame, and the val holdout is
    a filter on it — and the oracle now certifies every row's membership
    rather than group totals.) Pure map expression: assignment costs one
    md5 per row inside the scan; no shuffle but the ordered output."""
    d = load_table(spark, sf_dir, "documents")
    ws = token_count(F.col("text"))
    return (
        d.select(
            "doc_id", "lang", _split_col().alias("split"), ws.alias("ws_tokens")
        )
        .orderBy("doc_id")
    )


SPLIT_ASSIGNMENT_SQL = f"""
SELECT doc_id, lang, {_SPLIT_SQL_EXPR} AS split,
       {token_count_sql('text')} AS ws_tokens
FROM documents
ORDER BY doc_id
"""


# Rabin-Karp rolling hash: K-char windows, polynomial base B mod M. The
# window dot-product uses mod-reduced powers so int64 never overflows
# (max codepoint 0x10FFFF × 2^31 × K ≈ 2e16 < 2^63).
_RK_K, _RK_B, _RK_M = 8, 257, (1 << 31) - 1
_RK_POWS = [pow(_RK_B, _RK_K - 1 - j, _RK_M) for j in range(_RK_K)]


def doc_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints (Rabin-Karp over 8-char windows):
    per-doc window count, winnowed minimum hash, and distinct-hash count —
    the content-defined fingerprint family (winnowing/MOSS-style), distinct
    from the whole-document md5 of ``doc_fingerprint_profile``.

    The per-window hash stream is inherently O(len) sequential per row, so
    this is a legitimate Pandas-UDF hot path (SURVEY.md §2.10): numpy
    computes all windows of an Arrow batch as one strided matrix-vector
    product — no per-character Python. Exact int64 modular arithmetic makes
    the result engine-portable (the oracle runs the same polynomial in SQL).
    Pure map + tiny sort: nothing shuffles but the ordered output."""
    # bind as locals so the closure is self-contained (workers need no
    # package import, only numpy/pandas)
    pows, k, m = _RK_POWS, _RK_K, _RK_M

    @F.pandas_udf("struct<n_windows: long, min_hash: long, n_distinct: long>")
    def rk(texts: pd.Series) -> pd.DataFrame:
        import numpy as _np
        import pandas as _pd

        p = _np.array(pows, dtype=_np.int64)
        n, mn, nd = [], [], []
        for t in texts:
            codes = _np.array([ord(c) for c in t], dtype=_np.int64)
            w = _np.lib.stride_tricks.sliding_window_view(codes, k)
            h = (w @ p) % m
            n.append(len(h))
            mn.append(int(h.min()))
            nd.append(len(_np.unique(h)))
        return _pd.DataFrame({"n_windows": n, "min_hash": mn, "n_distinct": nd})

    # rebalance so the Arrow batches fan out across Python workers — a
    # single-partition input would stream every batch through ONE worker
    # process (no-op on well-split 100 TB inputs)
    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    return (
        d.filter(F.length("text") >= _RK_K)
        .select("doc_id", rk(F.col("text")).alias("fp"))
        .select("doc_id", "fp.n_windows", "fp.min_hash", "fp.n_distinct")
        .orderBy("doc_id")
    )


_RK_TERMS = " + ".join(
    f"CAST(unicode(substr(text, i + {j}, 1)) AS BIGINT) * {_RK_POWS[j]}"
    for j in range(_RK_K)
)

ROLLING_FP_SQL = f"""
SELECT doc_id, len(hs) AS n_windows, list_min(hs) AS min_hash,
       len(list_distinct(hs)) AS n_distinct
FROM (
  SELECT doc_id,
         list_transform(range(1, length(text) - {_RK_K} + 2),
                        i -> ({_RK_TERMS}) % {_RK_M}) AS hs
  FROM documents WHERE length(text) >= {_RK_K}
)
ORDER BY doc_id
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: 50-char width-bucket histogram of document
    length per language — the distribution check run before setting length
    filters in a training-data pipeline.

    Pure integer arithmetic (floor-div bucket) inside whole-stage codegen;
    the groupBy is map-side combined down to |langs|×|buckets| rows, so the
    shuffle is O(distinct buckets) regardless of corpus size — the same plan
    at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.floor(F.length("text") / F.lit(50)) * 50).alias("len_bucket")
    return (
        d.groupBy("lang", bucket)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.length("text")).alias("min_len"),
            F.max(F.length("text")).alias("max_len"),
        )
        .orderBy("lang", "len_bucket")
    )


DOC_LENGTH_HIST_SQL = """
SELECT lang, (length(text) // 50) * 50 AS len_bucket, count(*) AS n_docs,
       min(length(text)) AS min_len, max(length(text)) AS max_len
FROM documents
GROUP BY lang, len_bucket
ORDER BY lang, len_bucket
"""


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-25 terms by document frequency and total
    occurrence count — vocabulary/boilerplate inspection over the whole
    corpus.

    explode(split) stays JVM-side (generator inside codegen, no Python);
    the count aggregate is map-side combined so the shuffle carries one row
    per distinct term per task, not one per token occurrence. The final
    top-k is a TakeOrdered over |vocab| rows — no global sort of the token
    stream. Deterministic tie-break on the term itself."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("occurrences"), "term")
        .limit(25)
    )


TOP_TERMS_SQL = """
SELECT term, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
)
WHERE term <> ''
GROUP BY term
ORDER BY occurrences DESC, term
LIMIT 25
"""


def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile — the Gopher-style "repetitive
    content" quality signals (duplicate-token and duplicate-bigram
    fractions) used to filter boilerplate/spam out of web corpora.

    Pure map: every measure is an array expression over the token list
    (size vs size(array_distinct)), so at 100 TB this runs inside
    whole-stage codegen at scan speed with ZERO shuffles except the output
    sort. No explode, no per-term aggregation — the per-doc array form is
    the scale-correct shape for doc-level signals (corpus-level term stats
    are tfidf_top_terms' job). The pre-map rebalance spreads an
    under-split scan across cores (no-op at 100 TB) — the per-row array
    expressions dominate, not the scan."""
    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n = F.size(toks)
    big = 1 << 30
    # bigrams as (a, b) STRUCTS, not "a b" strings: tokens are
    # whitespace-split (no token contains a space), so distinct pairs and
    # distinct joined strings are in bijection — same count, but the struct
    # form skips one string allocation per bigram per row (measured 2.7×
    # on this query; the oracle keeps the string form and counts agree)
    z = F.arrays_zip(toks.alias("a"), F.slice(toks, 2, big).alias("b"))
    bigrams = F.slice(z, 1, F.greatest(n - 1, F.lit(0)))
    n2 = F.size(bigrams)
    dup_tok = F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n
    )
    dup_big = F.when(n2 == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / n2
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        stable_round(dup_tok, 4).alias("dup_token_ratio"),
        stable_round(dup_big, 4).alias("dup_bigram_ratio"),
        ((stable_round(dup_tok, 4) <= 0.6) & (stable_round(dup_big, 4) <= 0.3)).alias(
            "keep"
        ),
    ).orderBy("doc_id")


# explicit whitespace class: Java \s and RE2 \s disagree on \x0b
_TOKS = "string_split_regex(trim(text, ' '), '[ \\t\\n\\x0B\\f\\r]+')"
_BIGRAMS = f"list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"

DOC_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id,
         (CASE WHEN length(trim(text, ' ')) = 0 THEN [] ELSE {_TOKS} END) AS toks
  FROM documents
),
b AS (
  SELECT doc_id, toks, {_BIGRAMS} AS bigrams FROM t
),
scored AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         round(CASE WHEN len(toks) = 0 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 4)
           AS dup_token_ratio,
         round(CASE WHEN len(bigrams) = 0 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams) END, 4)
           AS dup_bigram_ratio
  FROM b
)
SELECT doc_id, n_tokens, dup_token_ratio, dup_bigram_ratio,
       (dup_token_ratio <= 0.6 AND dup_bigram_ratio <= 0.3) AS keep
FROM scored
ORDER BY doc_id
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF term ranking: total term frequency × ln(N/df),
    top 20. The inverted-index statistics every retrieval / data-curation
    stack needs over its corpus.

    Shape: explode tokens → one hash agg keyed by term computes BOTH tf
    (count) and df (distinct docs) — partial map-side combine keeps the
    shuffle at one row per (term, partition) — then a 1-row broadcast of
    the corpus size N, score, and TakeOrdered top-k (no global sort). The
    ln() argument N/df is an exact small-int ratio, so both engines
    round-trip it identically (verified bit-exact by the oracle gate)."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    ex = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    stats = ex.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    score = stable_round(
        F.col("tf").cast("double")
        * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        4,
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select("term", "tf", "df", score.alias("tfidf"))
        .orderBy(F.desc("tfidf"), "term")
        .limit(20)
    )


TFIDF_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS}) AS term
  FROM documents WHERE length(trim(text, ' ')) > 0
),
stats AS (
  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM ex GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, tf, df,
       round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 4) AS tfidf
FROM stats, n
ORDER BY tfidf DESC, term
LIMIT 20
"""


_VOCAB_SIZE = 16


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based vocabulary build + per-document OOV rate: the top-V
    corpus terms form the vocabulary (ties broken lexically), then each
    document reports how much of its token stream falls outside it — the
    coverage check run before committing to a tokenizer vocab.

    Shape: ONE tokenize→explode→(doc, term) aggregation pass over the
    corpus, PERSISTED — Catalyst does not CSE across join branches, so
    without the persist the vocab build and the membership join would
    each re-scan and re-tokenize the corpus (the same hazard
    ``ngram_logprob_quality`` documents). The vocab is a heavy-hitter
    top-k over the cached frame (partial agg + TakeOrdered), small by
    construction (V rows), so it BROADCASTS back onto the cached
    (doc, term) counts; the only corpus-scale shuffle is the one behind
    the cache."""
    d = load_table(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n_dt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = (
        dt.groupBy("term")
        .agg(F.sum("n_dt").alias("tf"))
        .orderBy(F.desc("tf"), "term")
        .limit(_VOCAB_SIZE)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    oov = F.col("n_tokens") - F.col("n_in_vocab")
    rate = oov.cast("double") / F.col("n_tokens")
    return (
        dt.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("n_dt").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNotNull(), F.col("n_dt")).otherwise(0)
            ).alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            oov.alias("n_oov"),
            stable_round(rate, 4).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


VOCAB_COVERAGE_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS}) AS term
  FROM documents WHERE length(trim(text, ' ')) > 0
),
vocab AS (
  SELECT term FROM (SELECT term, count(*) AS tf FROM ex GROUP BY term)
  ORDER BY tf DESC, term LIMIT {_VOCAB_SIZE}
),
agg AS (
  SELECT ex.doc_id, count(*) AS n_tokens,
         CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_vocab
  FROM ex LEFT JOIN vocab v ON ex.term = v.term
  GROUP BY ex.doc_id
)
SELECT doc_id, n_tokens, n_tokens - n_in_vocab AS n_oov,
       round(CAST(n_tokens - n_in_vocab AS DOUBLE) / n_tokens, 4) AS oov_rate
FROM agg
ORDER BY doc_id
"""


_BM25_TERMS = ("data", "join", "spark")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a fixed query-term set — the
    retrieval scoring function behind most lexical search engines
    (Robertson-Sparck Jones idf, Okapi tf saturation, length
    normalization), run as a batch scoring job.

    Shape: one explode pass yields per-doc lengths (hash agg) and the
    query-restricted (doc, term) tf frame — the term filter lands BEFORE
    the tf agg, so only query-term postings ever shuffle; document
    frequencies and the corpus length stats are tiny re-aggregations
    broadcast back onto the postings. Scoring is a pure map; top-k is
    TakeOrdered (no global sort shuffle). At 100 TB the posting shuffle
    is |docs containing query terms| rows — a search engine's posting
    list, not the corpus. Per-term contributions round to 10 dp and sum
    as exact decimals (order-independent across partitionings).
    """
    d = load_table(spark, sf_dir, "documents")
    # ONE tokenize→explode→(doc, term) agg pass, persisted: doc lengths,
    # postings, and document frequencies all re-derive from the cached
    # frame (Catalyst does not CSE across join branches — without the
    # persist the corpus would be scanned and tokenized twice)
    dt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n_dt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dl = dt.groupBy("doc_id").agg(F.sum("n_dt").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = dt.filter(F.col("term").isin(*_BM25_TERMS)).select(
        "doc_id", "term", F.col("n_dt").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (F.col("dl") / avgdl)
    )
    contrib = stable_round(
        idf * tf_d * F.lit(_BM25_K1 + 1.0) / denom, 10
    ).cast("decimal(18,12)")
    score = stable_round(F.col("score_sum").cast("double"), 6)
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum(contrib).alias("score_sum"),
        )
        .select("doc_id", "n_terms_hit", score.alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


BM25_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS}) AS term
  FROM documents WHERE length(trim(text, ' ')) > 0
),
dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM ex
  WHERE term IN {tuple(_BM25_TERMS)!r} GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(round(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0}
             / (CAST(tf AS DOUBLE) + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B}
                * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
           , 10) AS DECIMAL(18,12)) AS contrib
  FROM tf JOIN dfreq ON tf.term = dfreq.term
          JOIN dl ON tf.doc_id = dl.doc_id, stats
)
SELECT doc_id, count(*) AS n_terms_hit,
       round(CAST(sum(contrib) AS DOUBLE), 6) AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {_BM25_TOPK}
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by corpus slice: BPE-ish tokens per whitespace
    word — the standard measure of how well a subword tokenizer fits a
    text distribution (≈1 on plain prose, spikes on punctuation-dense /
    structured text the vocabulary underserves; used to budget per-slice
    token counts when planning multilingual + code/JSON mixtures).

    Two slices prove the measure both ways: natural-language documents
    per language (fertility 1.0 on this corpus's clean prose) and the
    events table's JSON ``props`` per event type (every brace/quote/colon
    splits, fertility ≫ 1 — exactly the code-like text that blows up
    token budgets in practice).

    Pure map-side counting on both scans (the token counts are codegen
    regex expressions) + one tiny slice-keyed agg over the union; the
    ratio rounds through the decimal-stable path over exact integer
    sums."""
    d = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("docs:"), F.col("lang")).alias("slice"),
        F.col("text"),
    )
    e = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("json:"), F.col("event_type")).alias("slice"),
        F.col("props").alias("text"),
    )
    fert = F.when(
        F.col("ws_tokens") > 0,
        stable_round(
            F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 6
        ),
    )
    return (
        d.unionByName(e)
        .groupBy("slice")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(bpe_token_count(F.col("text"))).alias("bpe_tokens"),
            F.sum(token_count(F.col("text"))).alias("ws_tokens"),
        )
        .select("slice", "n_docs", "bpe_tokens", "ws_tokens",
                fert.alias("fertility"))
        .orderBy("slice")
    )


TOKENIZER_FERTILITY_SQL = f"""
WITH u AS (
  SELECT 'docs:' || lang AS slice, text FROM documents
  UNION ALL
  SELECT 'json:' || event_type AS slice, props AS text FROM events
),
c AS (
  SELECT slice,
         {bpe_token_count_sql('text')} AS bpe,
         {token_count_sql('text')} AS ws
  FROM u
)
SELECT slice,
       count(*) AS n_docs,
       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       CASE WHEN sum(ws) > 0 THEN
         round(CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE), 6)
       END AS fertility
FROM c
GROUP BY slice
ORDER BY slice
"""


_TR_SCALE = 1_000_000  # fixed-point score scale (s0 = 1.0)
_TR_BASE = 150_000  # (1 - d) at the scale, d = 0.85
_TR_ITERS = 3
_TR_TOPK = 25


def _textrank_step(g: DataFrame, scores: DataFrame) -> DataFrame:
    """One quantized PageRank sweep: every node distributes its score
    along weighted out-edges (integer floor division — bit-identical in
    Spark's DIV and DuckDB's //), then damping re-mixes. The graph is
    symmetric by construction so every node receives inflow."""
    # explicit aliases: iteration k's scores frame derives from g itself,
    # so an unqualified self-join would hit column-lineage ambiguity
    ga, sa = g.alias("ga"), scores.alias("sa")
    return (
        ga.join(sa, F.col("ga.u") == F.col("sa.node"))
        .groupBy(F.col("ga.v").alias("node"))
        .agg(F.sum(F.expr("(sa.s * ga.w) DIV ga.ow")).alias("inflow"))
        .select(
            "node",
            (F.lit(_TR_BASE) + F.expr("(85 * inflow) DIV 100"))
            .cast("long")
            .alias("s"),
        )
    )


def _cooc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric weighted token co-occurrence edges (u, v, w), persisted —
    the shared graph substrate of ``textrank_keywords`` and
    ``token_triangle_census``. One corpus pass builds directed adjacent-
    pair counts; symmetrization happens on the vocab²-bounded aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(ascii_lower(F.col("text")))
    n = F.size(toks)
    z = F.arrays_zip(toks.alias("a"), F.slice(toks, 2, 1 << 30).alias("b"))
    bigrams = F.slice(z, 1, F.greatest(n - 1, F.lit(0)))
    pairs = (
        rebalance_for_compute(d)
        .select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.a").alias("u"), F.col("bg.b").alias("v"))
        .filter(
            (F.col("u") != F.col("v"))
            & F.col("u").rlike("^[a-z]{3,}$")
            & F.col("v").rlike("^[a-z]{3,}$")
        )
    )
    directed = pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c"))
    return (
        directed.unionAll(
            directed.select(F.col("v").alias("u"), F.col("u").alias("v"), "c")
        )
        .groupBy("u", "v")
        .agg(F.sum("c").cast("long").alias("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords (Mihalcea & Tarau 2004): PageRank over the
    token co-occurrence graph — the graph-centrality member of the text
    family (keyword/keyphrase extraction for corpus exploration and
    quality dashboards).

    Nodes are ASCII-lowered alphabetic tokens (≥3 chars); undirected
    edges weight adjacent co-occurrence. Scores are FIXED-POINT integers
    (scale 1e6) and every update uses integer floor division, so the
    DuckDB oracle replays all 3 damped sweeps bit-identically — the same
    quantized-iteration contract as ``kmeans_cluster_profile``, but with
    ZERO driver materialization: the score frame stays distributed across
    sweeps (kmeans must collect k·d centroids; here the "model" is
    vocab-sized, so it remains a DataFrame end-to-end).

    Scale: every exchange is keyed on a single token (vocab-bounded
    cardinality, uniform hash); the per-sweep state is one row per vocab
    entry regardless of corpus size; the edge frame is persisted once and
    reused by all sweeps + the final profile join. Sweep count is fixed
    (3), so the unrolled plan stays shallow — no checkpointing needed.
    """
    edges = _cooc_edges(spark, sf_dir)
    outw = edges.groupBy("u").agg(F.sum("w").alias("ow"))
    # derived per-consumer from the persisted (tiny, vocab²-bounded) edge
    # frame — persisting g too would just duplicate it in the block store
    g = edges.join(outw, "u")
    scores = outw.select(
        F.col("u").alias("node"), F.lit(_TR_SCALE).cast("long").alias("s")
    )
    for _ in range(_TR_ITERS):
        scores = _textrank_step(g, scores)
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"), F.sum("w").alias("out_weight")
    )
    sc, dg = scores.alias("sc"), deg.alias("dg")
    return (
        sc.join(dg, F.col("sc.node") == F.col("dg.u"))
        .select(
            F.col("sc.node").alias("token"),
            "n_links",
            "out_weight",
            F.col("sc.s").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("token"))
        .limit(_TR_TOPK)
    )


_TR_TOKS_SQL = (
    f"string_split_regex(trim({ascii_lower_sql('text')}, ' '), '{WS}+')"
)

# shared co-occurrence-graph CTE chain (the SQL twin of _cooc_edges)
_COOC_CTE = f"""t AS (
  SELECT {_TR_TOKS_SQL} AS toks
  FROM documents WHERE length(trim(text, ' ')) > 0
),
flat AS (
  SELECT bg.w1 AS u, bg.w2 AS v FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
           i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg
    FROM t WHERE len(toks) > 1)
),
pairs AS (
  SELECT u, v FROM flat
  WHERE u <> v AND regexp_matches(u, '^[a-z]{{3,}}$')
              AND regexp_matches(v, '^[a-z]{{3,}}$')
),
sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
edges AS (SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM sym GROUP BY u, v)"""

TEXTRANK_SQL = f"""
WITH {_COOC_CTE},
outw AS (SELECT u, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY u),
g AS (SELECT e.u, e.v, e.w, o.ow FROM edges e JOIN outw o ON e.u = o.u),
s0 AS (SELECT u AS node, CAST({_TR_SCALE} AS BIGINT) AS s FROM outw),
s1 AS (SELECT g.v AS node,
              CAST({_TR_BASE} + (85 * sum((s.s * g.w) // g.ow)) // 100 AS BIGINT) AS s
       FROM g JOIN s0 s ON g.u = s.node GROUP BY g.v),
s2 AS (SELECT g.v AS node,
              CAST({_TR_BASE} + (85 * sum((s.s * g.w) // g.ow)) // 100 AS BIGINT) AS s
       FROM g JOIN s1 s ON g.u = s.node GROUP BY g.v),
s3 AS (SELECT g.v AS node,
              CAST({_TR_BASE} + (85 * sum((s.s * g.w) // g.ow)) // 100 AS BIGINT) AS s
       FROM g JOIN s2 s ON g.u = s.node GROUP BY g.v),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS n_links,
               CAST(sum(w) AS BIGINT) AS out_weight
        FROM edges GROUP BY u)
SELECT s3.node AS token, deg.n_links, deg.out_weight, s3.s AS score
FROM s3 JOIN deg ON s3.node = deg.u
ORDER BY score DESC, token ASC
LIMIT {_TR_TOPK}
"""


_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent token
    pairs whose co-occurrence beats chance, PMI = ln(c₁₂·T / (c₁·c₂)) —
    the classic collocation detector (Church & Hanks 1990), and the
    lexical-statistics sibling of the co-occurrence graph queries.

    Determinism: all counts are exact integers from one corpus pass (the
    DIRECTED pair aggregate + its margin re-aggregations); the only float
    is the final ln of an exact-count ratio, computed with the identical
    expression shape in both engines and decimal-rounded to 6 dp before
    the rank sort — order ties broken by the pair text. Pairs under
    ``_PMI_MIN_COUNT`` are dropped first (PMI's low-frequency pathology).

    Scale: token-keyed exchanges only; margins are vocab-bounded
    re-aggregations of the persisted pair frame; TakeOrdered top-k."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(ascii_lower(F.col("text")))
    n = F.size(toks)
    z = F.arrays_zip(toks.alias("a"), F.slice(toks, 2, 1 << 30).alias("b"))
    bigrams = F.slice(z, 1, F.greatest(n - 1, F.lit(0)))
    pairs = (
        rebalance_for_compute(d)
        .select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.a").alias("w1"), F.col("bg.b").alias("w2"))
        .filter(
            F.col("w1").rlike("^[a-z]{3,}$") & F.col("w2").rlike("^[a-z]{3,}$")
        )
    )
    c12 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = c12.agg(F.sum("c12").alias("t"))
    pmi = stable_round(
        F.log(
            F.col("c12").cast("double")
            * F.col("t")
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        6,
    )
    return (
        c12.filter(F.col("c12") >= _PMI_MIN_COUNT)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOPK)
    )


PMI_SQL = f"""
WITH t AS (
  SELECT {_TR_TOKS_SQL} AS toks
  FROM documents WHERE length(trim(text, ' ')) > 0
),
flat AS (
  SELECT bg.w1 AS w1, bg.w2 AS w2 FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
           i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg
    FROM t WHERE len(toks) > 1)
),
p AS (
  SELECT w1, w2 FROM flat
  WHERE regexp_matches(w1, '^[a-z]{{3,}}$')
    AND regexp_matches(w2, '^[a-z]{{3,}}$')
),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM p GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY w2),
tot AS (SELECT CAST(sum(c12) AS BIGINT) AS t FROM c12)
SELECT c12.w1, c12.w2, c12.c12,
       round(ln(CAST(c12.c12 AS DOUBLE) * t / (CAST(c1.c1 AS DOUBLE) * c2.c2)), 6)
         AS pmi
FROM c12
JOIN c1 ON c12.w1 = c1.w1
JOIN c2 ON c12.w2 = c2.w2
CROSS JOIN tot
WHERE c12.c12 >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, c12.w1, c12.w2
LIMIT {_PMI_TOPK}
"""


def token_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the token co-occurrence graph: corpus triangle
    count + the tokens participating in the most triangles — the
    clustering-structure member of the graph family (components measure
    connectivity, PageRank measures centrality, triangles measure local
    cohesion; high-triangle tokens sit inside dense phrase clusters).

    Enumeration is DEGREE-ORDERED (round 7, VERDICT r6 item 6 — the
    standard MapReduce triangle recipe, Suri & Vassilvitskii 2011 /
    Schank's node-iterator++): every undirected edge is oriented from its
    lower-(degree, token) endpoint to the higher one, wedges pair two
    out-edges of a shared apex, and the closure semi-check probes the
    oriented third edge. Orientation caps out-degree at O(√m) on ANY
    graph — on a power-law co-occurrence graph (which this is: Zipf
    tokens) lexicographic orientation lets a low-sorting hub token fan
    out to its full degree², while degree-ordering provably bounds wedge
    fan-out at m^1.5 total. Every triangle is produced exactly once
    (its vertices have a unique (degree, token) order), so the census is
    orientation-invariant and the oracle keeps the simpler lexicographic
    form — same rows, bit-identical. All joins key on single tokens; the
    degree table is vocab-bounded. The corpus total rides every row via
    the broadcast scalar-subquery shape."""
    und = _cooc_edges(spark, sf_dir).filter(F.col("u") < F.col("v")).select("u", "v")
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ann = und.join(du, "u").join(dv, "v")
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    # persisted: referenced by both wedge sides and the closure probe —
    # unpersisted, the degree-annotation joins would run 3× (vocab²-bounded
    # frame; released by the harness clearCache between queries)
    oriented = ann.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    wedge = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            F.struct(F.col("o1.ddst"), F.col("o1.dst"))
            < F.struct(F.col("o2.ddst"), F.col("o2.dst"))
        ),
    ).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    # the (b, c) closure edge, if present, is oriented b → c: b precedes c
    # in (degree, token) order by the wedge inequality above
    tri = wedge.join(
        o3,
        (F.col("b") == F.col("o3.src")) & (F.col("c") == F.col("o3.dst")),
        "left_semi",
    )
    counts = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    total = tri.agg(F.count(F.lit(1)).cast("long").alias("corpus_triangles"))
    return (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n_triangles"), F.asc("token"))
        .limit(15)
    )


TRIANGLE_CENSUS_SQL = f"""
WITH {_COOC_CTE},
e AS (SELECT u, v FROM edges WHERE u < v),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e1.v = e2.u
  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)
),
nodes AS (SELECT unnest([a, b, c]) AS token FROM tri),
counts AS (SELECT token, CAST(count(*) AS BIGINT) AS n_triangles
           FROM nodes GROUP BY token),
tot AS (SELECT CAST(count(*) AS BIGINT) AS corpus_triangles FROM tri)
SELECT token, n_triangles, corpus_triangles
FROM counts, tot
ORDER BY n_triangles DESC, token ASC
LIMIT 15
"""


_ZIPF_MAX_RANK = 10_000


def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS of ln(frequency) on ln(rank) over the corpus
    term-frequency distribution (slope ≈ −1 for natural language) — the
    single-number lexical-health check data-quality dashboards track
    (templated/generated corpora bend the tail visibly).

    Determinism: term counts are exact; each ln is decimal-rounded to
    10 dp (the logprob-filter recipe) so the four regression moments are
    ORDER-INDEPENDENT exact decimals with operand widths inside DuckDB's
    p1+p2 ≤ 38 multiply rule; slope/intercept/r² then evaluate as
    mirrored double expressions. Vocabulary is capped at the top
    ``_ZIPF_MAX_RANK`` ranks (deterministic (freq desc, term) order) so
    the dim-sized rank window never grows with the corpus tail."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(ascii_lower(F.col("text")))
    counts = (
        rebalance_for_compute(d)
        .select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), "term")
    ranked = counts.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= _ZIPF_MAX_RANK
    )
    dec = "decimal(18,12)"
    x = stable_round(F.log(F.col("r").cast("double")), 10).cast(dec)
    y = stable_round(F.log(F.col("c").cast("double")), 10).cast(dec)
    pts = ranked.select(x.alias("x"), y.alias("y"))
    s = pts.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n_terms").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    sxx_d, syy_d = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = n_d * sxy_d - sx_d * sy_d
    varx = n_d * sxx_d - sx_d * sx_d
    vary = n_d * syy_d - sy_d * sy_d
    return s.filter(F.col("n_terms") >= 2).select(
        "n_terms",
        stable_round(cov / varx, 6).alias("zipf_slope"),
        stable_round((sy_d * sxx_d - sx_d * sxy_d) / varx, 6).alias("intercept"),
        stable_round(cov * cov / (varx * vary), 6).alias("r2"),
    )


ZIPF_SQL = f"""
WITH counts AS (
  SELECT t AS term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest({_TR_TOKS_SQL}) AS t
        FROM documents WHERE length(trim(text, ' ')) > 0)
  GROUP BY t
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r FROM counts
),
pts AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)), 10) AS DECIMAL(18,12)) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)), 10) AS DECIMAL(18,12)) AS y
  FROM ranked WHERE r <= {_ZIPF_MAX_RANK}
),
s AS (
  SELECT count(*) AS n_terms,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pts
)
SELECT n_terms,
       round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
             / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS intercept,
       round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
FROM s WHERE n_terms >= 2
"""


# --------------------------------------------------------------------------
# HTML / boilerplate extraction (r11): raw markup → clean text + per-doc
# extraction stats — the C4/Gopher boilerplate-rule family, the standard
# first stage of a web-scrape training pipeline. The markup is synthesized
# deterministically FROM the documents table with portable SQL expressions
# (both engines build byte-identical HTML), then the extraction proper —
# tag stripping, per-line link-density / short-line / terminal-punctuation
# rules, clean-text reassembly — runs as generic array/regex expressions
# that work on ANY markup (edge behavior on malformed HTML pinned in
# tests/test_html_extract.py).
# --------------------------------------------------------------------------

_HTML_NAV = (
    '<div class="nav"><a href="/">home</a> <a href="/c">about</a> '
    '<a href="/x">contact</a></div>'
)
_WPL = 8  # words per synthesized content line
_TAG_PAT = "<[^>]*>"  # a '>' inside an attribute value ends the tag: documented
_ANCHOR_PAT = "<a[^>]*>([^<]*)</a>"
_HTML_MIN_WORDS = 5  # Gopher-style short-line rule
_LINK_NUM, _LINK_DEN = 3, 10  # drop when link chars > 3/10 of visible chars


def synth_html(text: Column, source: Column) -> Column:
    """Deterministic markup around a document: nav header (link-dense
    boilerplate), 8-word ``<p>`` content lines with a period (every 3rd
    line fully wrapped in an anchor — link-rule bait), and a source-stamped
    footer (no terminal punctuation). Pure JVM expressions; the SQL twin
    builds the identical bytes."""
    w = tokens(text)
    nlines = F.greatest(
        F.lit(1), F.floor((F.size(w) + F.lit(_WPL - 1)) / F.lit(_WPL)).cast("int")
    )
    body = F.transform(
        F.sequence(F.lit(1), nlines),
        lambda i: F.concat(
            F.when(i % 3 == 0, F.lit('<p><a href="/ref">')).otherwise(F.lit("<p>")),
            F.array_join(F.slice(w, (i - 1) * _WPL + 1, _WPL), " "),
            F.when(i % 3 == 0, F.lit(".</a></p>")).otherwise(F.lit(".</p>")),
        ),
    )
    footer = F.concat(F.lit('<div class="footer">(c) '), source, F.lit("</div>"))
    return F.concat_ws("\n", F.lit(_HTML_NAV), F.array_join(body, "\n"), footer)


def _html_strip(l: Column) -> Column:
    return F.trim(F.regexp_replace(l, _TAG_PAT, ""))


def _html_anchor_chars(s: Column) -> Column:
    """Total anchor-text chars in a string — int aggregate over the capture
    group, 0 when no anchors (F.aggregate's init covers the empty list)."""
    return F.aggregate(
        F.regexp_extract_all(s, F.lit(_ANCHOR_PAT), 1),
        F.lit(0),
        lambda acc, x: acc + F.length(x),
    )


def html_is_content(l: Column) -> Column:
    """The boilerplate verdict for one markup line, C4/Gopher rules:
    visible word count >= 5, link text <= 3/10 of visible chars
    (cross-multiplied ints — no float compare), and the visible text ends
    in terminal punctuation."""
    s = _html_strip(l)
    return (
        (token_count(s) >= _HTML_MIN_WORDS)
        & (_html_anchor_chars(l) * _LINK_DEN <= _LINK_NUM * F.length(s))
        & F.substring(s, -1, 1).isin(".", "!", "?")
    )


def html_clean_stage(h: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Markup → (doc_id, *carry, html, n_lines, n_kept, clean): the
    line-rule core of the extraction, exposing the CLEAN TEXT itself for
    downstream stages (the crawl pipeline scrubs and fingerprints it).
    The per-line rule chain is materialized through this projection for
    the CSE reason documented on :func:`html_extract_stage`."""
    return h.select(
        "doc_id",
        *carry,
        "html",
        F.split(F.col("html"), "\n").alias("lines"),
        F.filter(F.split(F.col("html"), "\n"), html_is_content).alias("kept"),
    ).select(
        "doc_id",
        *carry,
        "html",
        F.size("lines").alias("n_lines"),
        F.size("kept").alias("n_kept"),
        F.array_join(F.transform(F.col("kept"), _html_strip), "\n").alias(
            "clean"
        ),
    )


def html_extract_stage(h: DataFrame) -> DataFrame:
    """Generic markup → clean text + stats over a (doc_id, html) frame —
    a pure map (no shuffle): every rule is an array/regex expression inside
    whole-stage codegen, so at 100 TB this runs at scan speed with zero
    Python. Emits the clean text's md5 rather than the text itself (the
    bit-exact certificate without shipping the corpus through the gate).

    The per-line rule chain (split → filter lambda with regex counts) is
    materialized through an INTERMEDIATE projection: higher-order-function
    lambdas are outside Catalyst's common-subexpression elimination, so
    the single-select form re-evaluated the kept-filter chain once per
    consuming output column (3× the per-row regex work — 19 lambda nodes
    in the executed plan vs 7 staged; CollapseProject keeps the boundary
    because the produced attributes are non-cheap and multiply-referenced).
    Same trick as the dedup chain's persisted signature frames, but free:
    a projection, not a cache."""
    mid = html_clean_stage(h)
    n_tags = F.regexp_count(F.col("html"), F.lit(_TAG_PAT))
    visible = F.length(F.regexp_replace(F.col("html"), _TAG_PAT, ""))
    link_chars = _html_anchor_chars(F.col("html"))
    return mid.select(
        "doc_id",
        "n_lines",
        "n_kept",
        stable_round(
            (F.col("n_lines") - F.col("n_kept")).cast("double")
            / F.col("n_lines"),
            4,
        ).alias("boiler_frac"),
        n_tags.alias("n_tags"),
        # zero-length guards (ANSI mode): empty markup has no tags/links, so
        # both densities are 0.0 by definition — the synthesized markup is
        # never empty, but the generic stage must not throw on it
        F.when(F.length("html") == 0, F.lit(0.0))
        .otherwise(stable_round(n_tags.cast("double") / F.length("html"), 6))
        .alias("tag_density"),
        link_chars.alias("link_chars"),
        F.when(visible == 0, F.lit(0.0))
        .otherwise(stable_round(link_chars.cast("double") / visible, 4))
        .alias("link_ratio"),
        F.length("clean").alias("clean_chars"),
        F.md5("clean").alias("clean_md5"),
    )


def html_boilerplate_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: markup synthesis + boilerplate extraction
    over every document. Scale shape: one rebalanced scan (the per-row
    regex/array work dominates — same contract as lang_token_profile),
    map-only extraction, sort-only output exchange."""
    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    h = d.select("doc_id", synth_html(F.col("text"), F.col("source")).alias("html"))
    return html_extract_stage(h).orderBy("doc_id")


def _tokens_sql(expr: str) -> str:
    """DuckDB twin of functions.text.tokens (array form)."""
    return (
        f"(CASE WHEN length(trim({expr}, ' ')) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex(trim({expr}, ' '), '{WS}+') END)"
    )


def _strip_sql(expr: str) -> str:
    # DuckDB regexp_replace is FIRST-match by default: the 'g' flag is
    # load-bearing (Spark's regexp_replace is always global)
    return f"trim(regexp_replace({expr}, '{_TAG_PAT}', '', 'g'), ' ')"


def _anchor_chars_sql(expr: str) -> str:
    return (
        f"CAST(coalesce(list_sum(list_transform("
        f"regexp_extract_all({expr}, '{_ANCHOR_PAT}', 1), a -> length(a))), 0)"
        f" AS INTEGER)"
    )


def _is_content_sql(line: str) -> str:
    s = _strip_sql(line)
    return (
        f"({token_count_sql(s)} >= {_HTML_MIN_WORDS}"
        f" AND {_anchor_chars_sql(line)} * {_LINK_DEN} <= {_LINK_NUM} * length({s})"
        f" AND right({s}, 1) IN ('.', '!', '?'))"
    )


def _synth_html_sql(toks: str, source: str) -> str:
    """DuckDB twin of :func:`synth_html` over a token-array expression and
    a source expression (parameterized in r12 so the crawl oracle can
    synthesize from PII-planted text)."""
    return f"""concat_ws(chr(10),
           '{_HTML_NAV.replace("'", "''")}',
           array_to_string(
             list_transform(
               range(1, greatest(1, (len({toks}) + {_WPL - 1}) // {_WPL}) + 1),
               i -> (CASE WHEN i % 3 = 0 THEN '<p><a href="/ref">' ELSE '<p>' END
                     -- coalesce: array_to_string of an EMPTY slice is NULL
                     -- in DuckDB ('' in Spark), and || NULL would erase the
                     -- whole wordless line (the empty-document case)
                     || coalesce(array_to_string(
                          list_slice({toks}, (i - 1) * {_WPL} + 1, (i - 1) * {_WPL} + {_WPL}),
                          ' '), '')
                     || CASE WHEN i % 3 = 0 THEN '.</a></p>' ELSE '.</p>' END)),
             chr(10)),
           '<div class="footer">(c) ' || {source} || '</div>')"""


HTML_EXTRACT_SQL = f"""
WITH t AS (
  SELECT doc_id, source, {_tokens_sql('text')} AS toks FROM documents
),
h AS (
  SELECT doc_id,
         {_synth_html_sql('toks', 'source')} AS html
  FROM t
),
x AS (
  SELECT doc_id, html,
         string_split(html, chr(10)) AS lines,
         list_filter(string_split(html, chr(10)), l -> {_is_content_sql('l')}) AS kept
  FROM h
),
c AS (
  SELECT doc_id, html, lines, kept,
         -- coalesce: DuckDB's array_to_string([]) is NULL where Spark's
         -- array_join([]) is '' (all-boilerplate docs hit this)
         coalesce(
           array_to_string(list_transform(kept, k -> {_strip_sql('k')}), chr(10)),
           '') AS clean
  FROM x
)
SELECT doc_id,
       CAST(len(lines) AS INTEGER) AS n_lines,
       CAST(len(kept) AS INTEGER) AS n_kept,
       round(CAST(len(lines) - len(kept) AS DOUBLE) / len(lines), 4) AS boiler_frac,
       CAST(len(regexp_extract_all(html, '{_TAG_PAT}')) AS INTEGER) AS n_tags,
       round(CAST(len(regexp_extract_all(html, '{_TAG_PAT}')) AS DOUBLE)
             / length(html), 6) AS tag_density,
       {_anchor_chars_sql('html')} AS link_chars,
       round(CAST({_anchor_chars_sql('html')} AS DOUBLE)
             / length(regexp_replace(html, '{_TAG_PAT}', '', 'g')), 4) AS link_ratio,
       CAST(length(clean) AS INTEGER) AS clean_chars,
       md5(clean) AS clean_md5
FROM c
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# PII scrub (r11): the per-DOCUMENT scrub stage every public-web training
# pipeline runs (the C4 family strips emails/phones/IPs before anything
# else sees the text). Sibling of curation.pii_redaction_stats — that
# query is the corpus-level compliance ACCOUNTING report (segment-grain
# aggregate over a customer-derived ticket corpus, unordered rule pair);
# this one is the scrub itself: per-doc grain over documents, an ORDERED
# three-rule chain with staged counts, and the redacted text's md5 as the
# bit-exact certificate. Different scan, grain, and contract; the shared
# name fragment is the domain, not the shape.
# The corpus carries no real PII, so the
# query plants deterministic doc_id-derived PII spans first (same
# portable-synthesis pattern as html_boilerplate_extract), then runs the
# GENERIC detect+redact stage: three anchored regex families applied in a
# fixed order (emails before IPs before phones — an email's host can
# contain digit runs, so order is part of the contract), counts per kind,
# and the redacted text's md5 as the bit-exact certificate. Patterns stay
# inside the Java-regex ∩ RE2 dialect: ASCII classes, bounded repeats,
# \\b word boundaries (ASCII \\w in both), no lookaround.
# --------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\b[0-9]{3}-[0-9]{4}\b"
_PII_RULES = (  # (kind, pattern, replacement) — applied IN ORDER
    ("email", _PII_EMAIL, "<EMAIL>"),
    ("ip", _PII_IP, "<IP>"),
    ("phone", _PII_PHONE, "<PHONE>"),
)


def plant_pii(text: Column, doc_id: Column) -> Column:
    """Deterministic doc_id-derived PII spans: doc_id % 4 picks none /
    email / phone / ip+email, with digits folded from the id so values
    vary. Portable int arithmetic + concat only."""
    email = F.concat(
        F.lit("user"), doc_id.cast("string"), F.lit("@mail-"),
        (doc_id % 97).cast("string"), F.lit(".example.com"),
    )
    phone = F.concat(F.lit("555-"), F.lpad((doc_id % 10000).cast("string"), 4, "0"))
    ip = F.concat(
        (doc_id % 256).cast("string"), F.lit("."),
        ((doc_id * 7) % 256).cast("string"), F.lit("."),
        ((doc_id + 3) % 256).cast("string"), F.lit("."),
        ((doc_id * 13) % 256).cast("string"),
    )
    m = doc_id % 4
    return F.concat(
        text,
        F.when(m == 1, F.concat(F.lit(" contact "), email, F.lit(" now")))
        .when(m == 2, F.concat(F.lit(" call "), phone, F.lit(" today")))
        .when(m == 3, F.concat(F.lit(" from "), ip, F.lit(" by "), email))
        .otherwise(F.lit("")),
    )


def pii_scrub_columns(t: Column) -> tuple[dict, Column]:
    """(staged per-kind count Columns, redacted-text Column) over ``t`` —
    the composable core of the scrub stage. Each kind's count runs on the
    stream AFTER the earlier kinds redacted (counts == spans actually
    replaced per kind), so an IP that only exists inside an email host is
    an email, never also an ip — the counters and the redaction can never
    disagree on overlaps."""
    stage = t
    counts = {}
    for k, p, rep in _PII_RULES:
        counts[k] = F.regexp_count(stage, F.lit(p))
        stage = F.regexp_replace(stage, p, rep)
    return counts, stage


def pii_redact_stage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Generic detect + redact over any text column — a pure map (regex
    counts + the ordered regexp_replace chain inside whole-stage
    codegen); see ``pii_scrub_columns`` for the staged-count contract."""
    t = F.col(text_col)
    counts, red = pii_scrub_columns(t)
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return df.select(
        "doc_id",
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        total.alias("n_pii"),
        (F.length(t) - F.length(red)).alias("chars_delta"),
        F.md5(red).alias("redacted_md5"),
    )


def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: plant deterministic PII spans, then detect
    and redact them with the generic stage. Scale shape: one rebalanced
    scan (regex chain is the per-row cost), map-only, sort-only output
    exchange — the same contract as html_boilerplate_extract."""
    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    planted = d.select(
        "doc_id", plant_pii(F.col("text"), F.col("doc_id")).alias("text")
    )
    return pii_redact_stage(planted).orderBy("doc_id")


def _pii_planted_sql() -> str:
    email = "'user' || CAST(doc_id AS VARCHAR) || '@mail-' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'"
    phone = "'555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    ip = (
        "CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
        " || '.' || CAST((doc_id + 3) % 256 AS VARCHAR) || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)"
    )
    return (
        f"text || CASE doc_id % 4"
        f" WHEN 1 THEN ' contact ' || {email} || ' now'"
        f" WHEN 2 THEN ' call ' || {phone} || ' today'"
        f" WHEN 3 THEN ' from ' || {ip} || ' by ' || {email}"
        f" ELSE '' END"
    )


def _pii_scrub_sql_parts(expr: str) -> tuple[list[str], str]:
    """(staged per-kind ``n_<kind>`` count exprs, fully-redacted expr) over
    ``expr`` — the DuckDB twin of :func:`pii_scrub_columns`, mirroring the
    engine: kind k counts on the stream after kinds < k redacted ('g':
    DuckDB regexp_replace defaults to first-match)."""
    stage = expr
    counts = []
    for k, p, rep in _PII_RULES:
        counts.append(
            f"CAST(len(regexp_extract_all({stage}, '{p}')) AS INTEGER) AS n_{k}"
        )
        stage = f"regexp_replace({stage}, '{p}', '{rep}', 'g')"
    return counts, stage


def _build_pii_sql() -> str:
    counts, red = _pii_scrub_sql_parts("t")
    total = " + ".join(f"n_{k}" for k, _, _ in _PII_RULES)
    counts_sql = ",\n       ".join(counts)
    return f"""
WITH p AS (
  SELECT doc_id, {_pii_planted_sql()} AS t FROM documents
),
c AS (
  SELECT doc_id, t,
       {counts_sql},
       {red} AS red
  FROM p
)
SELECT doc_id, n_email, n_ip, n_phone,
       CAST({total} AS INTEGER) AS n_pii,
       CAST(length(t) - length(red) AS INTEGER) AS chars_delta,
       md5(red) AS redacted_md5
FROM c
ORDER BY doc_id
"""


PII_REDACT_SQL = _build_pii_sql()


# --------------------------------------------------------------------------
# Exact BPE tokenization (r11): apply the committed merge list — real
# subword tokenization, closing the gap between the pre-tokenizer COUNTS
# (lang_token_profile / tokenizer_fertility estimate fertility) and actual
# token streams. Merges apply in rank order, each as one left-to-right
# non-overlapping replace — the rule the trainer itself used
# (tools/gen_bpe_merges.py), so trained words re-tokenize to their training
# segmentation, and unseen words get a well-defined deterministic split.
#
# Encoding: a word's symbols are wrapped/joined with the \x1f unit
# separator as  SEP sym SEP SEP sym SEP ... SEP  (single SEP at word edges,
# DOUBLE between symbols; words joined by ' '). Merge (l, r) is then the
# literal replace  SEP l SEP SEP r SEP  →  SEP lr SEP : the leading/
# trailing single SEPs anchor full-symbol matches (no suffix/prefix false
# positives — 'xa'+'b' never matches merge (a,b)), and consuming only ONE
# boundary's separators keeps an adjacent same-pair mergeable in the same
# pass ('abab' → 'ab','ab', exactly the list-walk rule — verified against
# the symbol-list twin in tests/test_bpe_twin.py). String replace is
# left-to-right non-overlapping in Spark, DuckDB, and Python alike.
# --------------------------------------------------------------------------

_BPE_SEP = "\x1f"
_BPE_WORD_PAT = "[a-z]+"


def _bpe_stream(text: Column) -> Column:
    """SEP-encoded exact token stream after the committed merges — pure
    JVM expressions (one regexp pre-tokenize + 40 literal replaces)."""
    from amazon_climate_data_etl_spark.functions.bpe_vocab import MERGES

    words = F.regexp_extract_all(ascii_lower(text), F.lit(_BPE_WORD_PAT), 0)
    s = F.array_join(
        F.transform(
            words,
            # (?<=.)(?=.) splits between every pair of chars, never at the
            # string edges (split('') keeps a trailing empty at limit -1)
            lambda w: F.concat(
                F.lit(_BPE_SEP),
                F.array_join(F.split(w, "(?<=.)(?=.)"), _BPE_SEP + _BPE_SEP),
                F.lit(_BPE_SEP),
            ),
        ),
        " ",
    )
    for left, right in MERGES:
        s = F.replace(
            s,
            F.lit(f"{_BPE_SEP}{left}{_BPE_SEP}{_BPE_SEP}{right}{_BPE_SEP}"),
            F.lit(f"{_BPE_SEP}{left}{right}{_BPE_SEP}"),
        )
    return s


def bpe_tokenize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: exact per-document BPE tokenization stats —
    pre-token count, real token count after the committed merges, exact
    fertility, and the md5 of the full encoded token stream (the bit-exact
    segmentation certificate, same pattern as html's clean_md5). Scale
    shape: one rebalanced scan (the replace chain is the per-row cost),
    map-only, sort-only output exchange — zero Python, zero joins."""
    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    # the 40-replace chain and the pre-tokenize regex are materialized
    # through intermediate projections (the html_extract_stage finding:
    # repeated non-cheap expressions re-evaluate per consuming column —
    # the stream feeds length/replace/md5, so the single-select form ran
    # the chain 3× per row; CollapseProject keeps these boundaries)
    mid = d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                ascii_lower(F.col("text")), F.lit(_BPE_WORD_PAT), 0
            )
        ).alias("n_words"),
        _bpe_stream(F.col("text")).alias("s"),
    )
    n_words = F.col("n_words")
    # tokens per word = inter-symbol DOUBLE-separator count + 1; summed:
    # n_words + (#doubles), where each double shrinks by one char under
    # replace(SEP SEP → SEP)
    n_tokens = n_words + (
        F.length("s")
        - F.length(F.replace(F.col("s"), F.lit(_BPE_SEP * 2), F.lit(_BPE_SEP)))
    )
    return (
        mid.select(
            "doc_id",
            "n_words",
            n_tokens.alias("n_tokens"),
            F.when(
                n_words > 0,
                stable_round(n_tokens.cast("double") / n_words, 4),
            ).alias("fertility"),
            F.md5("s").alias("token_md5"),
        )
        .orderBy("doc_id")
    )


def _bpe_replace_chain_sql(expr: str) -> str:
    """The identical merge chain as nested DuckDB replace() calls."""
    from amazon_climate_data_etl_spark.functions.bpe_vocab import MERGES

    s = expr
    for left, right in MERGES:
        pat = f"{_BPE_SEP}{left}{_BPE_SEP}{_BPE_SEP}{right}{_BPE_SEP}"
        rep = f"{_BPE_SEP}{left}{right}{_BPE_SEP}"
        s = f"replace({s}, '{pat}', '{rep}')"
    return s


def _build_bpe_sql() -> str:
    sep = _BPE_SEP
    # outer coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' (word-less docs hit this); the inner call is
    # safe because [a-z]+ pre-tokens are never empty strings
    encode = (
        f"coalesce(array_to_string(list_transform("
        f"regexp_extract_all({ascii_lower_sql('text')}, '{_BPE_WORD_PAT}'), "
        f"w -> '{sep}' || array_to_string(string_split(w, ''), '{sep}{sep}') || '{sep}'"
        f"), ' '), '')"
    )
    return f"""
WITH s0 AS (
  SELECT doc_id,
         len(regexp_extract_all({ascii_lower_sql('text')}, '{_BPE_WORD_PAT}')) AS n_words,
         {encode} AS s
  FROM documents
),
s1 AS (
  SELECT doc_id, n_words, {_bpe_replace_chain_sql('s')} AS s FROM s0
),
s2 AS (
  SELECT doc_id, n_words,
         n_words + (length(s) - length(replace(s, '{sep}{sep}', '{sep}'))) AS n_tokens,
         s
  FROM s1
)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CASE WHEN n_words > 0
            THEN round(CAST(n_tokens AS DOUBLE) / n_words, 4) END AS fertility,
       md5(s) AS token_md5
FROM s2
ORDER BY doc_id
"""


BPE_TOKENIZE_SQL = _build_bpe_sql()


# --------------------------------------------------------------------------
# crawl_e2e (r12): the WHOLE crawl boundary in one driver-checked query —
# the climate_e2e pattern for the web-crawl family. Deterministic WARC
# bytes are synthesized FROM the documents table (PII-planted text →
# synth_html markup → HTTP response records → member-per-record .warc.gz
# files, written DISTRIBUTED), then read back through read_warc's
# distributed decode and pushed through the registered extraction stages:
# html_clean_stage (boilerplate rules) → pii_scrub_columns (ordered
# staged redaction) → exact-dedup fingerprint over the redacted clean
# text. The DuckDB oracle replays only the LOGICAL derivations from
# documents; the hash match therefore certifies
# build_warc → gzip → parse_warc → HTTP split → URI round-trip → extract
# end to end, exactly as climate_e2e's oracle certifies its CSV sink.
# Modeled on the reference's write-and-validate close
# (process_climate_amazon_annual.py:380-531 — writes the CSV sink and
# reports stats from the in-memory frame).
# --------------------------------------------------------------------------

# files per crawl snapshot: the Common Crawl "segment" unit — read_warc
# fans out one task per file, so this is the read parallelism; doc → file
# assignment is pmod(xxhash64(doc_id), N) — a HASH, not doc_id % N,
# because strided/sparse id patterns (e.g. ids 4·i) concentrate whole
# residue classes into a few groups under a modulo, defeating the
# records-per-group bound (r12 ADVICE); per-doc outputs are
# file-independent, so the oracle never sees the assignment.
# N_CRAWL_FILES is the FLOOR: the count grows with the corpus
# (ceil(n_docs / RECORDS_PER_FILE)) so one applyInPandas write group —
# delivered as a single pandas frame — holds ≈RECORDS_PER_FILE pages in
# expectation at any scale (hash-uniform balls-in-bins), never corpus/16.
N_CRAWL_FILES = 16
CRAWL_RECORDS_PER_FILE = 2048

# URL identity shared by every crawl-family writer/reader (crawl_e2e,
# wat_metadata_profile, wet_text_e2e): pages live at
# http://{source}.example.com/doc/{doc_id}, and this capture recovers the
# source. ONE constant so the writers and readers cannot silently desync.
CRAWL_URL_SOURCE_RE = r"^http://(.*)\.example\.com/doc/[0-9]+$"


def _crawl_sink(sf_dir: str) -> str:
    from amazon_climate_data_etl_spark.catalog import pid_scoped_store

    return pid_scoped_store("spark_graft_crawl_e2e", sf_dir)


def _write_warc_segments(
    pages: DataFrame,
    sink: str,
    file_prefix: str,
    make_records,
    n_docs: int,
    label: str,
    derive_after_shuffle: dict | None = None,
    drop_after_shuffle: tuple = (),
) -> int:
    """Shared distributed ``.warc.gz`` segment writer (r13 — factored out
    of ``_write_crawl_warcs`` so the crawl and WAT paths cannot diverge
    on the write-path invariants): ``pages`` must carry ``doc_id`` and
    ``file_seq``; each ``file_seq`` group arrives as ONE pandas frame,
    is sorted by doc_id, turned into WARC record dicts by
    ``make_records(pdf)``, serialized member-per-record, and published
    atomically (tempfile + ``os.replace`` — task retries write identical
    bytes, last replace wins, no reader ever sees a partial file). The
    driver sees only a one-row-per-file manifest; returns the doc total,
    fail-loud if it disagrees with ``n_docs``.

    Deployment contract: the sink path must be storage every executor
    AND the subsequent scan can reach — trivially true in local mode
    (/tmp), a shared filesystem or object mount on a cluster."""
    import os
    import shutil
    import tempfile

    from amazon_climate_data_etl_spark.session import ship_package_to_workers

    ship_package_to_workers(pages.sparkSession)
    shutil.rmtree(sink, ignore_errors=True)
    os.makedirs(sink, exist_ok=True)

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from amazon_climate_data_etl_spark.sources.warc_min import build_warc

        seq = int(pdf["file_seq"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        data = build_warc(make_records(pdf), gzip_per_record=True)
        path = os.path.join(sink, f"{file_prefix}{seq:05d}.warc.gz")
        fd, tmp = tempfile.mkstemp(dir=sink, suffix=".tmp")
        with os.fdopen(fd, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)
        # the manifest counts DOCS, not WARC records (a doc may emit
        # several records — the WAT path writes two per doc)
        return pd.DataFrame({"file_seq": [seq], "n_docs": [len(pdf)]})

    # Explicit repartition on file_seq (r14): the groupBy's own exchange
    # is AQE-coalesced by SIZE, and the small WAT/WET page frames landed
    # every file group on ONE task — 16 gzip'd segments written serially
    # (profiled as a single-task 0.6 s job). An explicit keyed
    # repartition is never coalesced, satisfies the groupBy's clustering
    # (no second exchange), and writes one file per task. file_seq counts
    # grow with the corpus (ceil(n_docs / RECORDS_PER_FILE)), so the
    # fan-out scales and per-task memory stays bounded at any SF.
    n_files = max(
        N_CRAWL_FILES, -(-n_docs // CRAWL_RECORDS_PER_FILE)
    )
    shuffled = pages.repartition(n_files, "file_seq")
    # r15: heavy per-page derivations (PII plant + HTML synth — a chain
    # of regex/concat passes over the text) are applied ABOVE this
    # exchange when the caller asks: below it they run inside the SCAN
    # task (profiled: a 0.8 s single-task job at sf0.1 — a single-row-
    # group parquet scans as one task), above it they run on the
    # n_files-way write fan-out. The exchange then also carries the raw
    # text instead of the larger marked-up page. Spark does not push
    # projections back down through a repartition, so the placement is
    # stable.
    if derive_after_shuffle:
        for name, col in derive_after_shuffle.items():
            shuffled = shuffled.withColumn(name, col)
    if drop_after_shuffle:
        shuffled = shuffled.drop(*drop_after_shuffle)
    manifest = (
        shuffled
        .groupBy("file_seq")
        .applyInPandas(write_group, "file_seq int, n_docs long")
        .collect()  # bounded: one row per file — this IS the write action
    )
    total = sum(r.n_docs for r in manifest)
    if total != n_docs:
        raise RuntimeError(
            f"{label}: the write manifest accounts for {total} documents "
            f"but the corpus has {n_docs}"
        )
    return total


def _write_crawl_warcs(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Synthesize and WRITE the crawl: documents → PII-planted text →
    markup → one HTTP response record per doc → member-per-record
    ``.warc.gz`` files, one per ``pmod(xxhash64(doc_id), n_files)`` group
    (a hash, not a modulo — strided id patterns stay uniform), written
    executor-side via ``applyInPandas`` (the driver never sees a page).
    The file count grows with the corpus (bounded records per file —
    an applyInPandas group arrives as ONE pandas frame, so a fixed count
    would put corpus/16 pages in task memory at scale; the floor keeps
    the read fan-out at bench scales). Deterministic bytes: records sort
    by doc_id within a file and zlib gzip is level-default with no
    mtime. Returns (sink dir, record total); fail-loud if the manifest's
    record total disagrees with the corpus size.

    Deployment contract: see ``_write_warc_segments`` (the shared writer
    carries the sink/atomic-publish/manifest invariants for both the
    crawl and WAT paths)."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    n_files = max(N_CRAWL_FILES, -(-n_docs // CRAWL_RECORDS_PER_FILE))
    # r15: the PII plant + markup synth (regex-heavy) moved ABOVE the
    # file_seq exchange (derive_after_shuffle) — below it they executed
    # inside the one-task parquet scan (profiled 0.8 s serial at sf0.1);
    # above it they run n_files-wide, and the shuffle carries the raw
    # text instead of the larger marked-up page.
    pages = d.select(
        "doc_id",
        "source",
        "text",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_files)).cast("int").alias("file_seq"),
    )

    def make_records(pdf: pd.DataFrame) -> list:
        recs = []
        for doc_id, source, html in zip(
            pdf["doc_id"], pdf["source"], pdf["html"]
        ):
            body = html.encode("utf-8")
            block = (
                b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=utf-8\r\n"
                b"Content-Length: " + str(len(body)).encode() + b"\r\n"
                b"\r\n" + body
            )
            recs.append(
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Record-ID": f"<urn:uuid:doc-{doc_id}>",
                        "WARC-Date": "2024-01-01T00:00:00Z",
                        "WARC-Target-URI": (
                            f"http://{source}.example.com/doc/{doc_id}"
                        ),
                        "Content-Type": "application/http; msgtype=response",
                    },
                    "block": block,
                }
            )
        return recs

    sink = _crawl_sink(sf_dir)
    total = _write_warc_segments(
        pages, sink, "crawl-", make_records, n_docs, "crawl_e2e",
        derive_after_shuffle={
            "html": synth_html(
                plant_pii(F.col("text"), F.col("doc_id")), F.col("source")
            )
        },
        drop_after_shuffle=("text",),
    )
    return sink, total


def crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the crawl pipeline END TO END — write real
    ``.warc.gz`` segments (distributed), read them back through
    ``read_warc``'s distributed member-at-a-time decode, split the HTTP
    payloads, recover doc identity from the target URI, extract clean
    text with the boilerplate rules, scrub PII with the ordered staged
    chain, and exact-dedup the redacted text corpus-wide. Per-doc output
    carries the URI-recovered source, the HTTP status, extraction and
    scrub counters, the redacted text's md5 (the bit-exact certificate),
    and the dedup verdict (group size + keep-smallest-doc_id flag).

    Scale shape: the write is one shuffle on file_seq into
    executor-side file writes (one Common Crawl segment per group; the
    driver sees a one-row-per-file manifest); the read is binaryFile → one task per
    segment file → map-only decode/extract/scrub (all JVM regex/array
    expressions after the Arrow boundary); the only logical-plan shuffles
    are the fingerprint group agg + skew-splittable join-back (see the
    inline note) and the output sort. At 100 TB the file
    count is the fan-out and nothing driver-side grows with the corpus."""
    from amazon_climate_data_etl_spark.sources.warc_min import read_warc

    sink, n_written = _write_crawl_warcs(spark, sf_dir)
    # decode-side type pushdown: on a real segment this skips the
    # request/metadata blocks before the Arrow boundary
    recs = read_warc(spark, sink, record_types=("response",))
    h = recs.select(
        F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract("target_uri", CRAWL_URL_SOURCE_RE, 1).alias("source"),
        "http_status",
        F.decode(F.col("payload"), "UTF-8").alias("html"),
    )
    mid = html_clean_stage(h, carry=("source", "http_status"))
    counts, red = pii_scrub_columns(F.col("clean"))
    scrubbed = mid.select(
        "doc_id",
        "source",
        "http_status",
        "n_lines",
        "n_kept",
        F.length("clean").alias("clean_chars"),
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        F.md5(red).alias("redacted_md5"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # read-back completeness guard (r12 ADVICE): the write manifest counts
    # WRITES; on a deployment whose sink isn't shared storage, executors
    # write node-local files and the scan would silently yield a truncated
    # corpus. One cheap count on the persisted frame (which also warms it
    # before the two join branches) makes that fail loudly instead.
    n_read = scrubbed.count()
    if n_read != n_written:
        raise RuntimeError(
            f"crawl_e2e: wrote {n_written} records but read back {n_read} — "
            "the sink path must be storage every executor AND the read_warc "
            "scan can reach (shared filesystem / object mount)"
        )
    # dedup verdicts via map-combinable group agg + join-back, NOT a
    # window over the fingerprint: a crawl's mega-duplicate group (the
    # boilerplate page mirrored millions of times) would land in ONE
    # unsplittable window partition, while the join-back's group side is
    # one short row per fingerprint (map-side combined) and AQE's
    # skew-join can split the probe side. The branch point is persisted
    # (short counter rows) so the binaryFile read + decode + extract
    # chain runs once, not once per join side.
    groups = scrubbed.groupBy("redacted_md5").agg(
        F.count(F.lit(1)).alias("dup_count"),
        F.min("doc_id").alias("keeper_doc_id"),
    )
    return (
        scrubbed.join(groups, "redacted_md5")
        .select(
            "doc_id",
            "source",
            "http_status",
            "n_lines",
            "n_kept",
            "clean_chars",
            *[f"n_{k}" for k, _, _ in _PII_RULES],
            "redacted_md5",
            "dup_count",
            (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


def _build_crawl_e2e_sql() -> str:
    """The oracle replays the LOGICAL chain from documents (plant →
    synth → extract → scrub → fingerprint window); matching the engine's
    from-the-files result hash-certifies the physical WARC round trip."""
    counts, red = _pii_scrub_sql_parts("clean")
    counts_sql = ",\n       ".join(counts)
    return f"""
WITH p AS (
  SELECT doc_id, source, {_pii_planted_sql()} AS ptext FROM documents
),
t AS (
  SELECT doc_id, source, {_tokens_sql('ptext')} AS toks FROM p
),
h AS (
  SELECT doc_id, source,
         {_synth_html_sql('toks', 'source')} AS html
  FROM t
),
x AS (
  SELECT doc_id, source, html,
         string_split(html, chr(10)) AS lines,
         list_filter(string_split(html, chr(10)), l -> {_is_content_sql('l')}) AS kept
  FROM h
),
c AS (
  SELECT doc_id, source,
         CAST(len(lines) AS INTEGER) AS n_lines,
         CAST(len(kept) AS INTEGER) AS n_kept,
         coalesce(
           array_to_string(list_transform(kept, k -> {_strip_sql('k')}), chr(10)),
           '') AS clean
  FROM x
),
s AS (
  SELECT doc_id, source, n_lines, n_kept,
       CAST(length(clean) AS INTEGER) AS clean_chars,
       {counts_sql},
       md5({red}) AS redacted_md5
  FROM c
)
SELECT doc_id, source,
       200 AS http_status,
       n_lines, n_kept, clean_chars, n_email, n_ip, n_phone,
       redacted_md5,
       count(*) OVER (PARTITION BY redacted_md5) AS dup_count,
       doc_id = min(doc_id) OVER (PARTITION BY redacted_md5) AS is_kept
FROM s
ORDER BY doc_id
"""


CRAWL_E2E_SQL = _build_crawl_e2e_sql()


# --------------------------------------------------------------------------
# wat_metadata_profile (r13): the WAT/metadata half of the crawl boundary —
# crawl_e2e certifies RESPONSE records end to end; this certifies METADATA
# records the same way. Common Crawl's WAT files carry per-page JSON
# metadata next to the WARC payloads; here deterministic WAT-style
# metadata-JSON records are synthesized FROM the documents table,
# interleaved with stub response records in member-per-record .warc.gz
# segments (so the read's record_types=("metadata",) pushdown provably
# SKIPS the response blocks), read back through read_warc, parsed with
# from_json, and rolled up per (source, lang). The DuckDB oracle replays
# only the logical derivations from documents, so the hash match
# certifies build_warc → gzip → metadata-type pushdown → JSON round trip
# → from_json → aggregation physically.
# --------------------------------------------------------------------------

_WAT_SCHEMA = (
    "struct<url:string, lang:string, n_chars:bigint, n_tokens:bigint, "
    "links:array<string>>"
)


def _wat_sink(sf_dir: str) -> str:
    from amazon_climate_data_etl_spark.catalog import pid_scoped_store

    return pid_scoped_store("spark_graft_wat_profile", sf_dir)


def _write_wat_warcs(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Synthesize and WRITE the WAT-style snapshot: per doc, ONE stub
    response record AND ONE metadata record whose JSON block carries the
    page's derived metadata (url, lang, n_chars, n_tokens, links — the
    link list is doc_id%4 deterministic URLs). Same distributed write
    shape, hashed file assignment, atomic publish, manifest fail-loud,
    and shared-storage deployment contract as ``_write_crawl_warcs``.
    Returns (sink dir, metadata-record total)."""
    import json

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    n_files = max(N_CRAWL_FILES, -(-n_docs // CRAWL_RECORDS_PER_FILE))
    pages = d.select(
        "doc_id",
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % 4).cast("int").alias("n_links"),
        F.pmod(F.xxhash64("doc_id"), F.lit(n_files)).cast("int").alias("file_seq"),
    )
    def make_records(pdf: pd.DataFrame) -> list:
        recs = []
        for doc_id, source, lang, n_chars, n_tokens, n_links in zip(
            pdf["doc_id"], pdf["source"], pdf["lang"],
            pdf["n_chars"], pdf["n_tokens"], pdf["n_links"],
        ):
            url = f"http://{source}.example.com/doc/{doc_id}"
            body = b"<html><body>wat stub</body></html>"
            block = (
                b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=utf-8\r\n"
                b"Content-Length: " + str(len(body)).encode() + b"\r\n"
                b"\r\n" + body
            )
            meta = json.dumps(
                {
                    "url": url,
                    "lang": lang,
                    "n_chars": int(n_chars),
                    "n_tokens": int(n_tokens),
                    "links": [
                        f"http://{source}.example.com/doc/{doc_id + j + 1}"
                        for j in range(int(n_links))
                    ],
                },
                sort_keys=True,
            ).encode("utf-8")
            common = {
                "WARC-Date": "2024-01-01T00:00:00Z",
                "WARC-Target-URI": url,
            }
            recs.append(
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Record-ID": f"<urn:uuid:wat-resp-{doc_id}>",
                        "Content-Type": "application/http; msgtype=response",
                        **common,
                    },
                    "block": block,
                }
            )
            recs.append(
                {
                    "headers": {
                        "WARC-Type": "metadata",
                        "WARC-Record-ID": f"<urn:uuid:wat-meta-{doc_id}>",
                        "Content-Type": "application/json",
                        **common,
                    },
                    "block": meta,
                }
            )
        return recs

    sink = _wat_sink(sf_dir)
    # the shared writer's manifest counts DOCS per file (= metadata
    # records here; each doc also carries its stub response record)
    total = _write_warc_segments(
        pages, sink, "wat-", make_records, n_docs, "wat_metadata_profile"
    )
    return sink, total


def wat_metadata_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the WAT/metadata crawl boundary END TO END —
    write real interleaved response+metadata ``.warc.gz`` segments
    (distributed), read back ONLY the metadata records through
    ``read_warc``'s decode-side type pushdown (the response blocks are
    skipped before the Arrow boundary — this query is the driver
    attestation of that pushdown), parse the JSON blocks with
    ``from_json``, recover page identity from the round-tripped URL, and
    roll the corpus up per (source, lang): doc counts, token/char/link
    sums, and the portable token mean.

    Scale shape: the write is one shuffle on the hashed file_seq into
    executor-side file writes; the read is binaryFile → one task per
    segment → map-only decode + JSON parse; the only logical-plan
    shuffles are the (source, lang) aggregate and the output sort.
    Nothing driver-side grows with the corpus (one manifest row per
    file, one guard count)."""
    from amazon_climate_data_etl_spark.sources.warc_min import read_warc

    sink, n_written = _write_wat_warcs(spark, sf_dir)
    recs = read_warc(spark, sink, record_types=("metadata",))
    m = recs.select(
        F.from_json(F.decode(F.col("payload"), "UTF-8"), _WAT_SCHEMA).alias("m")
    ).select(
        F.regexp_extract("m.url", CRAWL_URL_SOURCE_RE, 1).alias("source"),
        F.col("m.lang").alias("lang"),
        F.col("m.n_chars").alias("n_chars"),
        F.col("m.n_tokens").alias("n_tokens"),
        F.size("m.links").cast("long").alias("n_links"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # read-back completeness guard, the crawl_e2e contract: a sink the
    # scan can't reach fails loudly instead of truncating the corpus
    n_read = m.count()
    if n_read != n_written:
        raise RuntimeError(
            f"wat_metadata_profile: wrote {n_written} metadata records but "
            "read back "
            f"{n_read} — the sink path must be storage every executor AND "
            "the read_warc scan can reach (shared filesystem / object mount)"
        )
    return (
        m.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_links").alias("sum_links"),
            stable_round(
                _moment_to_double(
                    F.sum(F.col("n_tokens").cast("decimal(38,0)")),
                    0,
                    "wat_metadata_profile.avg_tokens",
                )
                / F.count(F.lit(1)),
                4,
            ).alias("avg_tokens"),
        )
        .orderBy("source", "lang")
    )


WAT_METADATA_SQL = f"""
WITH t AS (
  SELECT doc_id, source, lang, n_chars,
         {token_count_sql('text')} AS n_tokens,
         doc_id % 4 AS n_links
  FROM documents
)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(n_links) AS BIGINT) AS sum_links,
       round({_moment_to_double_sql("sum(CAST(n_tokens AS DECIMAL(38,0)))", 0)}
             / count(*), 4) AS avg_tokens
FROM t
GROUP BY source, lang
ORDER BY source, lang
"""


# --------------------------------------------------------------------------
# wet_text_e2e (r14): the WET/conversion third of the crawl boundary —
# crawl_e2e certifies RESPONSE records, wat_metadata_profile certifies
# METADATA records; this certifies CONVERSION records (Common Crawl's WET
# convention: text/plain blocks carrying the extracted page text) the
# same way, completing the driver-attested WARC/WET/WAT trio. The
# defining WET property is that extraction happens at WRITE time: the
# boilerplate rules run JVM-side over the synthesized markup BEFORE the
# segment write, and the conversion block carries the clean text itself.
# Stub response records are interleaved member-per-record in the same
# files so the read's record_types=("conversion",) pushdown provably
# SKIPS them before the Arrow boundary. The read-back side runs the
# curation stats a WET consumer runs (char/token volume, quality verdict,
# language ID) plus the text md5; the DuckDB oracle replays only the
# logical plant → synth → extract → stats chain from documents, so the
# hash match certifies build_warc → gzip → conversion-type pushdown →
# text/plain round trip → stats physically.
# --------------------------------------------------------------------------


def _wet_sink(sf_dir: str) -> str:
    from amazon_climate_data_etl_spark.catalog import pid_scoped_store

    return pid_scoped_store("spark_graft_wet_e2e", sf_dir)


def _write_wet_warcs(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Synthesize and WRITE the WET-style snapshot: per doc, ONE stub
    response record AND ONE conversion record whose text/plain block is
    the boilerplate-extracted clean text of the PII-planted synthesized
    page (extraction at write time — the WET convention). Same
    distributed write shape, hashed file assignment, atomic publish,
    manifest fail-loud, and shared-storage deployment contract as
    ``_write_crawl_warcs``. Returns (sink dir, conversion-record
    total)."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    n_files = max(N_CRAWL_FILES, -(-n_docs // CRAWL_RECORDS_PER_FILE))
    # rebalance BEFORE the extraction: the write-time plant/synth/extract
    # chain is the heavy per-row regex/array work (the same contract as
    # html_boilerplate_extract), and a single-row-group parquet scan
    # would otherwise run it on one task
    h = rebalance_for_compute(d).select(
        "doc_id",
        "source",
        synth_html(
            plant_pii(F.col("text"), F.col("doc_id")), F.col("source")
        ).alias("html"),
    )
    # extraction BEFORE the write shuffle: plant/synth/extract are one
    # map-only codegen stage over the rebalanced scan; only (doc_id,
    # source, clean) crosses the file_seq exchange — the markup never
    # ships
    pages = html_clean_stage(h, carry=("source",)).select(
        "doc_id",
        "source",
        "clean",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_files)).cast("int").alias("file_seq"),
    )

    def make_records(pdf: pd.DataFrame) -> list:
        recs = []
        for doc_id, source, clean in zip(
            pdf["doc_id"], pdf["source"], pdf["clean"]
        ):
            url = f"http://{source}.example.com/doc/{doc_id}"
            stub = b"<html><body>wet stub</body></html>"
            block = (
                b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=utf-8\r\n"
                b"Content-Length: " + str(len(stub)).encode() + b"\r\n"
                b"\r\n" + stub
            )
            common = {
                "WARC-Date": "2024-01-01T00:00:00Z",
                "WARC-Target-URI": url,
            }
            recs.append(
                {
                    "headers": {
                        "WARC-Type": "response",
                        "WARC-Record-ID": f"<urn:uuid:wet-resp-{doc_id}>",
                        "Content-Type": "application/http; msgtype=response",
                        **common,
                    },
                    "block": block,
                }
            )
            recs.append(
                {
                    "headers": {
                        "WARC-Type": "conversion",
                        "WARC-Record-ID": f"<urn:uuid:wet-conv-{doc_id}>",
                        "Content-Type": "text/plain; charset=utf-8",
                        **common,
                    },
                    "block": clean.encode("utf-8"),
                }
            )
        return recs

    sink = _wet_sink(sf_dir)
    # the shared writer's manifest counts DOCS per file (= conversion
    # records here; each doc also carries its stub response record)
    total = _write_warc_segments(
        pages, sink, "wet-", make_records, n_docs, "wet_text_e2e"
    )
    return sink, total


def wet_text_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the WET/conversion crawl boundary END TO
    END — extract clean text from the synthesized pages at write time,
    write real interleaved response+conversion ``.warc.gz`` segments
    (distributed), read back ONLY the conversion records through
    ``read_warc``'s decode-side type pushdown (the response blocks never
    cross the Arrow boundary — this query is the driver attestation of
    the conversion pushdown), recover page identity from the target URI,
    and run the WET-consumer curation stats per doc: char/whitespace-token
    volume, the composite quality score + keep verdict, marker-based
    language ID, and the round-tripped text's md5 (the bit-exact
    certificate).

    Scale shape: the write is one shuffle on the hashed file_seq into
    executor-side file writes (extraction is map-only BEFORE it); the
    read is binaryFile → one task per segment → map-only decode + stats;
    the only logical-plan shuffle is the output sort. Nothing driver-side
    grows with the corpus (one manifest row per file, one guard count)."""
    from amazon_climate_data_etl_spark.sources.warc_min import read_warc

    sink, n_written = _write_wet_warcs(spark, sf_dir)
    recs = read_warc(spark, sink, record_types=("conversion",))
    w = recs.select(
        F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.regexp_extract("target_uri", CRAWL_URL_SOURCE_RE, 1).alias("source"),
        F.decode(F.col("payload"), "UTF-8").alias("wet"),
    )
    q = quality_score(F.col("wet"))
    stats = w.select(
        "doc_id",
        "source",
        F.length("wet").alias("wet_chars"),
        token_count(F.col("wet")).alias("wet_tokens"),
        q.alias("quality"),
        (q >= 0.5).alias("keep"),
        lang_guess(F.col("wet")).alias("lang_pred"),
        F.md5("wet").alias("wet_md5"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # read-back completeness guard, the crawl_e2e contract: a sink the
    # scan can't reach fails loudly instead of truncating the corpus
    n_read = stats.count()
    if n_read != n_written:
        raise RuntimeError(
            f"wet_text_e2e: wrote {n_written} conversion records but read "
            f"back {n_read} — the sink path must be storage every executor "
            "AND the read_warc scan can reach (shared filesystem / object "
            "mount)"
        )
    return stats.orderBy("doc_id")


def _build_wet_text_e2e_sql() -> str:
    """The oracle replays the LOGICAL chain from documents (plant →
    synth → extract → stats); matching the engine's from-the-files result
    hash-certifies the physical conversion-record round trip."""
    return f"""
WITH p AS (
  SELECT doc_id, source, {_pii_planted_sql()} AS ptext FROM documents
),
t AS (
  SELECT doc_id, source, {_tokens_sql('ptext')} AS toks FROM p
),
h AS (
  SELECT doc_id, source,
         {_synth_html_sql('toks', 'source')} AS html
  FROM t
),
c AS (
  SELECT doc_id, source,
         coalesce(
           array_to_string(
             list_transform(
               list_filter(string_split(html, chr(10)), l -> {_is_content_sql('l')}),
               k -> {_strip_sql('k')}),
             chr(10)),
           '') AS wet
  FROM h
)
SELECT doc_id, source,
       CAST(length(wet) AS INTEGER) AS wet_chars,
       {token_count_sql('wet')} AS wet_tokens,
       {quality_score_sql('wet')} AS quality,
       {quality_score_sql('wet')} >= 0.5 AS keep,
       {lang_guess_sql('wet')} AS lang_pred,
       md5(wet) AS wet_md5
FROM c
ORDER BY doc_id
"""


WET_TEXT_E2E_SQL = _build_wet_text_e2e_sql()


QUERIES = {
    "wet_text_e2e": wet_text_e2e,
    "wat_metadata_profile": wat_metadata_profile,
    "crawl_e2e": crawl_e2e,
    "html_boilerplate_extract": html_boilerplate_extract,
    "bpe_tokenize_profile": bpe_tokenize_profile,
    "pii_scrub_docs": pii_scrub_docs,
    "textrank_keywords": textrank_keywords,
    "zipf_law_fit": zipf_law_fit,
    "token_triangle_census": token_triangle_census,
    "pmi_collocations": pmi_collocations,
    "tokenizer_fertility": tokenizer_fertility,
    "doc_repetition_scores": doc_repetition_scores,
    "vocab_coverage": vocab_coverage,
    "bm25_search": bm25_search,
    "tfidf_top_terms": tfidf_top_terms,
    "lang_token_profile": lang_token_profile,
    "split_assignment": split_assignment,
    "doc_rolling_fingerprints": doc_rolling_fingerprints,
    "doc_length_histogram": doc_length_histogram,
    "top_terms": top_terms,
    "doc_quality_scores": doc_quality_scores,
    "lang_id_confusion": lang_id_confusion,
    "doc_fingerprint_profile": doc_fingerprint_profile,
}

ORACLE = {
    "wet_text_e2e": WET_TEXT_E2E_SQL,
    "wat_metadata_profile": WAT_METADATA_SQL,
    "crawl_e2e": CRAWL_E2E_SQL,
    "html_boilerplate_extract": HTML_EXTRACT_SQL,
    "bpe_tokenize_profile": BPE_TOKENIZE_SQL,
    "pii_scrub_docs": PII_REDACT_SQL,
    "textrank_keywords": TEXTRANK_SQL,
    "token_triangle_census": TRIANGLE_CENSUS_SQL,
    "pmi_collocations": PMI_SQL,
    "zipf_law_fit": ZIPF_SQL,
    "tokenizer_fertility": TOKENIZER_FERTILITY_SQL,
    "doc_repetition_scores": DOC_REPETITION_SQL,
    "vocab_coverage": VOCAB_COVERAGE_SQL,
    "bm25_search": BM25_SQL,
    "tfidf_top_terms": TFIDF_SQL,
    "lang_token_profile": LANG_TOKEN_PROFILE_SQL,
    "split_assignment": SPLIT_ASSIGNMENT_SQL,
    "doc_rolling_fingerprints": ROLLING_FP_SQL,
    "doc_length_histogram": DOC_LENGTH_HIST_SQL,
    "top_terms": TOP_TERMS_SQL,
    "doc_quality_scores": DOC_QUALITY_SQL,
    "lang_id_confusion": LANG_ID_SQL,
    "doc_fingerprint_profile": DOC_FINGERPRINT_PROFILE_SQL,
}
