"""Corpus-curation operators for LLM training-data pipelines: benchmark
decontamination, sequence packing, stratified sampling, mixture planning,
and domain-divergence scoring.

These extend the reference's relational surface (SURVEY.md §7 phase 4) with
the curation stages a 100 TB pretraining pipeline runs between "raw corpus"
and "tokenized batches". Scale design notes per operator:

- ``contamination_overlap``: eval↔train shingle overlap shuffles on the
  SHINGLE HASH (high-cardinality, uniform), never on document pairs — the
  same candidate-keyed shape as the dedup family.
- ``pack_sequences``: running token cumsum partitioned BY SOURCE, so packing
  parallelizes across sources; a single-stream corpus would use the
  two-phase prefix-sum form (per-partition partials + broadcast offsets).
- ``stratified_sample_stats``: per-stratum rates from exact group counts,
  membership by content hash — reproducible with no RNG state, stable under
  repartitioning (same contract as textops' split sampling).
- ``source_mixture_plan``: per-source token shares vs target mixture
  weights — the whole reduction is one tiny-key agg plus a scalar broadcast.
- ``source_domain_divergence``: per-source KL(source‖corpus) over unigram
  distributions — one term-keyed agg (map-side combined) joined to corpus
  term stats on the term key; nothing quadratic anywhere.
- ``corpus_merge_upsert`` / ``corpus_snapshot_diff`` (r10): the CDC layer
  over ``sinks.write_snapshot``'s immutable versions — Delta-style MERGE
  accounting (insert/update/delete/noop/keep per key) and the
  version-to-version diff, each ONE full-outer join on the uniform doc_id
  key comparing 32-char content hashes (text never rides the exchange).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amazon_climate_data_etl_spark.catalog import load_table
from amazon_climate_data_etl_spark.functions.text import (
    doc_fingerprint_sql,
    quality_score,
    quality_score_sql,
    token_count,
    token_count_sql,
    tokens,
)
from amazon_climate_data_etl_spark.operators._portable import stable_round
from amazon_climate_data_etl_spark.operators.dedup import (
    _SHINGLES_SQL,
    _TOKS_SQL,
    _shingle_frame,
)
from amazon_climate_data_etl_spark.operators.textops import (
    _SPLIT_SQL_EXPR,
    _TOKS as _TEXTOPS_TOKS,
    _split_col,
)

# --------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap between held-out and train splits
# --------------------------------------------------------------------------

_CONTAM_THRESHOLD = 0.2


def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per held-out document: fraction of its 3-token shingles that also
    occur anywhere in the train split — the GPT-3-style n-gram
    decontamination check run before trusting any benchmark number.

    Shape: one shingle pass over the corpus (shared ``_shingle_frame``),
    split assignment by content hash, distinct train-shingle set via hash
    agg, then a left join of eval shingles against it KEYED ON THE SHINGLE —
    the contamination state is O(|distinct train shingles|) and the shuffle
    key is uniform, so no document pair and no skewed key ever crosses the
    wire. At 100 TB the train side would also carry a bloom filter pushed
    to the eval scan; the join shape is already the scalable one.

    The shingle frame is persisted (r14): the train-distinct branch and
    the eval-probe branch have different top exchanges, so neither
    exchange reuse nor CSE dedupes them and the tokenize→shingle pass ran
    twice (paired scan jobs in the profile; 3.16 → 2.2–2.5 s A/B). Same
    discipline as ngram_jaccard_pairs' shared shingle frame."""
    sh = _shingle_frame(load_table(spark, sf_dir, "documents")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ex = sh.select(
        "doc_id", F.explode("sh").alias("shingle"), _split_col().alias("split")
    )
    train = ex.filter(F.col("split") == "train").select("shingle").distinct()
    eva = ex.filter(F.col("split") != "train")
    hit = eva.join(
        train.withColumn("hit", F.lit(1)), "shingle", "left"
    )
    ratio = F.col("n_contaminated").cast("double") / F.col("n_shingles")
    return (
        hit.groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "split",
            "n_shingles",
            "n_contaminated",
            stable_round(ratio, 4).alias("contamination"),
            (stable_round(ratio, 4) >= _CONTAM_THRESHOLD).alias("flagged"),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_SQL = f"""
WITH sh AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL.format(t='toks')}) AS s
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
),
ex AS (
  SELECT doc_id, unnest(s) AS shingle, {_SPLIT_SQL_EXPR} AS split
  FROM sh WHERE len(s) > 0
),
train AS (SELECT DISTINCT shingle FROM ex WHERE split = 'train'),
ev AS (SELECT * FROM ex WHERE split <> 'train'),
agg AS (
  SELECT ev.doc_id, ev.split,
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated
  FROM ev LEFT JOIN train t ON ev.shingle = t.shingle
  GROUP BY ev.doc_id, ev.split
)
SELECT doc_id, split, n_shingles, n_contaminated,
       round(CAST(n_contaminated AS DOUBLE) / n_shingles, 4) AS contamination,
       round(CAST(n_contaminated AS DOUBLE) / n_shingles, 4) >= {_CONTAM_THRESHOLD}
         AS flagged
FROM agg
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Sequence packing: fill fixed token-budget training sequences
# --------------------------------------------------------------------------

_PACK_BUDGET = 256


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: documents are laid end-to-end in
    deterministic (source, doc_id) order and cut into training sequences of
    ``_PACK_BUDGET`` tokens; each doc is assigned to the sequence where it
    STARTS. Output is the per-sequence fill profile (doc count, token count,
    utilization) — the packing-efficiency query run before materializing
    tokenized batches.

    The running cumsum is a window PARTITIONED BY SOURCE, so packing
    parallelizes across sources and no global single-reducer sort exists.
    A corpus with one giant source would switch to the two-phase prefix-sum
    form (per-partition partial sums + a broadcast offset join) — same
    outputs, still no global window."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select("source", "doc_id", token_count(F.col("text")).alias("n_tok"))
    cum = toks.withColumn("cum", F.sum("n_tok").over(w))
    seq = cum.withColumn(
        "seq_id", F.expr(f"(cum - n_tok) DIV {_PACK_BUDGET}")
    )
    return (
        seq.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("seq_tokens"),
        )
        .withColumn(
            "utilization",
            stable_round(F.col("seq_tokens") / F.lit(float(_PACK_BUDGET)), 4),
        )
        .orderBy("source", "seq_id")
    )


PACK_SEQUENCES_SQL = f"""
WITH toks AS (
  SELECT source, doc_id, {token_count_sql('text')} AS n_tok FROM documents
),
cum AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT source, CAST((cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
       round(CAST(sum(n_tok) AS BIGINT) / {float(_PACK_BUDGET)}, 4) AS utilization
FROM cum
GROUP BY source, seq_id
ORDER BY source, seq_id
"""


# --------------------------------------------------------------------------
# Stratified sampling: equal-size per-language sample, content-hash membership
# --------------------------------------------------------------------------

_STRATA_TARGET = 60  # target docs per language stratum


def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sample profile: each stratum gets rate
    ``target/n`` derived from its EXACT group count, and membership is
    decided by comparing a 16-bit content-hash prefix against the rate
    threshold — deterministic, seedless, stable under repartitioning (the
    same reproducibility contract as the textops content-hash splits, which
    ``rand()``/``TABLESAMPLE`` cannot give).

    Shape: one tiny-key count agg, broadcast of the |langs|-row threshold
    dim back onto the scan, then a second tiny-key agg. The threshold is
    integer arithmetic (``target*65536 DIV n`` rendered as 4 hex digits) so
    both engines draw the identical cut line."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        # clamp to 0xffff: a stratum smaller than the target keeps ~all rows
        # (a 5-hex-digit threshold would break the 4-digit string compare)
        .withColumn(
            "thr",
            F.least(
                F.expr(f"CAST({_STRATA_TARGET * 65536} AS BIGINT) DIV n_docs"),
                F.lit(65535).cast("bigint"),
            ),
        )
        .withColumn("thr_hex", F.format_string("%04x", F.col("thr")))
    )
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < F.col("thr_hex")
    return (
        d.join(F.broadcast(counts), "lang")
        .groupBy("lang")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.sum(keep.cast("int")).alias("n_kept"),
            stable_round(
                F.first("thr").cast("double") / F.lit(65536.0), 4
            ).alias("sample_rate"),
        )
        .orderBy("lang")
    )


STRATIFIED_SQL = f"""
WITH counts AS (
  SELECT lang, count(*) AS n_docs,
         least(CAST({_STRATA_TARGET * 65536} AS BIGINT) // count(*), 65535) AS thr
  FROM documents GROUP BY lang
),
marked AS (
  SELECT d.lang, c.n_docs, c.thr,
         (substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', c.thr))
           AS keep
  FROM documents d JOIN counts c ON d.lang = c.lang
)
SELECT lang,
       CAST(max(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(max(thr) AS DOUBLE) / 65536.0, 4) AS sample_rate
FROM marked
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# Mixture planning: token shares vs target mixture weights per source
# --------------------------------------------------------------------------

# Target mixture: upweight the first five sources 2:1 (stand-in for "high
# quality" domains), normalized to sum to 1. Literal doubles so both engines
# parse the identical values.
_MIX_WEIGHTS = {f"src{i}": (2.0 if i < 5 else 1.0) for i in range(20)}
_MIX_TOTAL = sum(_MIX_WEIGHTS.values())
_TARGET_SHARES = {s: w / _MIX_TOTAL for s, w in _MIX_WEIGHTS.items()}


def source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling plan: actual token share vs target mixture weight
    → the sampling-rate multiplier ("epochs") each source needs so the
    training stream matches the target mixture. This is the static data-mix
    planning step (the DoReMi/Pile-style weighted-mixture setup) expressed
    as one aggregation.

    Shape: tiny-key agg (|sources| rows) + scalar broadcast of the corpus
    total; everything before the 20-row result is map-side combined."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("src_tokens"),
    )
    total = per_src.select(F.sum("src_tokens").alias("total_tokens"))
    target = F.create_map(
        *[F.lit(x) for kv in _TARGET_SHARES.items() for x in kv]
    )[F.col("source")]
    share = F.col("src_tokens").cast("double") / F.col("total_tokens")
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            stable_round(share, 6).alias("token_share"),
            target.alias("target_share"),
            stable_round(target / share, 4).alias("sample_epochs"),
        )
        .orderBy("source")
    )


_MIX_CASE = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {v!r}" for s, v in _TARGET_SHARES.items()
) + " ELSE NULL END"

SOURCE_MIXTURE_SQL = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum({token_count_sql('text')}) AS BIGINT) AS src_tokens
  FROM documents GROUP BY source
),
total AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens FROM per_src)
SELECT source, n_docs, src_tokens,
       round(CAST(src_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       {_MIX_CASE} AS target_share,
       round(({_MIX_CASE}) / (CAST(src_tokens AS DOUBLE) / total_tokens), 4)
         AS sample_epochs
FROM per_src, total
ORDER BY source
"""


# --------------------------------------------------------------------------
# Domain divergence: KL(source unigram distribution ‖ corpus distribution)
# --------------------------------------------------------------------------


def source_domain_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution from
    the corpus distribution — the domain-similarity score used for
    data-selection (Moore-Lewis style): low KL = looks like the corpus,
    high KL = distributional outlier.

    Shape: the corpus pays ONE explode→(source,term) agg pass (map-side
    combined, so the shuffle carries distinct keys, not token occurrences);
    the term totals, per-source totals, and corpus total are all exact
    integer re-aggregations of that much smaller (source,term) frame, which
    is persisted so its consumers share the single corpus scan (Catalyst
    does not CSE across join branches). The join aligning source terms with
    corpus terms shuffles on the TERM key (uniform, high-cardinality).
    Per-term contributions are rounded to 10 dp and summed as exact
    decimals, making the float reduction order-independent — bit-identical
    across engines and run-to-run at any partitioning (see _portable.py)."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    st = (
        ex.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf_st"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ct = st.groupBy("term").agg(F.sum("tf_st").alias("tf_t"))
    tot_s = st.groupBy("source").agg(F.sum("tf_st").alias("src_tokens"))
    tot_c = st.select(F.sum("tf_st").alias("corpus_tokens"))
    p = F.col("tf_st").cast("double") / F.col("src_tokens")
    q = F.col("tf_t").cast("double") / F.col("corpus_tokens")
    contrib = stable_round(p * F.log(p / q), 10).cast("decimal(28,12)")
    return (
        st.join(ct, "term")
        .join(F.broadcast(tot_s), "source")
        .crossJoin(F.broadcast(tot_c))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.first("src_tokens").alias("src_tokens"),
            stable_round(F.sum(contrib).cast("double"), 6).alias("kl_divergence"),
        )
        .orderBy("source")
    )


SOURCE_DIVERGENCE_SQL = f"""
WITH ex AS (
  SELECT source, unnest({_TOKS_SQL}) AS term
  FROM documents WHERE length(trim(text, ' ')) > 0
),
st AS (SELECT source, term, count(*) AS tf_st FROM ex GROUP BY source, term),
ct AS (SELECT term, count(*) AS tf_t FROM ex GROUP BY term),
tot_s AS (SELECT source, count(*) AS src_tokens FROM ex GROUP BY source),
tot_c AS (SELECT count(*) AS corpus_tokens FROM ex),
scored AS (
  SELECT st.source, st.term, tot_s.src_tokens,
         CAST(round((CAST(tf_st AS DOUBLE) / src_tokens)
               * ln((CAST(tf_st AS DOUBLE) / src_tokens)
                    / (CAST(tf_t AS DOUBLE) / corpus_tokens)), 10)
              AS DECIMAL(28,12)) AS contrib
  FROM st JOIN ct ON st.term = ct.term
          JOIN tot_s ON st.source = tot_s.source, tot_c
)
SELECT source, count(*) AS n_terms,
       CAST(max(src_tokens) AS BIGINT) AS src_tokens,
       round(CAST(sum(contrib) AS DOUBLE), 6) AS kl_divergence
FROM scored
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# Unigram log-prob quality proxy: the cheapest "LM-based" quality filter
# --------------------------------------------------------------------------

_LOGPROB_KEEP_THRESHOLD = -3.45


def _unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus unigram
    distribution — the degenerate (order-0) case of the KenLM perplexity
    filter used by CCNet/LLaMA-style pipelines: documents whose tokens are
    atypical for the corpus score low and get dropped.

    Shape: one explode→(doc,term) agg pass over the corpus (map-side
    combined), term totals re-aggregated from that frame (shared via
    persist — Catalyst does not CSE across join branches), then the
    corpus term-frequency table BROADCAST onto the doc-term frame:
    vocabulary grows sublinearly in corpus size (Heaps' law), so the
    vocab side stays executor-resident at any corpus scale while the
    doc-term frame — the side that actually grows — never re-shuffles on
    the term key. Per-term log-probs are rounded to
    10 dp and summed as exact decimals weighted by term count, making the
    float reduction order-independent — bit-identical across engines and
    partitionings (same contract as ``source_domain_divergence``)."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    dt = (
        ex.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n_dt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ct = dt.groupBy("term").agg(F.sum("n_dt").alias("tf"))
    tot = dt.select(F.sum("n_dt").alias("corpus_tokens"))
    # operand precisions chosen so the product is EXACT in both engines:
    # (18,12)×(10,0) → (29,12) stays under decimal128's 38-digit cap; a
    # wider logp type would overflow it and Spark silently REDUCES SCALE
    # on overflow (per-term rounding → 1-ulp drift vs the oracle).
    logp = stable_round(
        F.log(F.col("tf").cast("double") / F.col("corpus_tokens")), 10
    ).cast("decimal(18,12)")
    contrib = logp * F.col("n_dt").cast("decimal(10,0)")
    avg = F.col("sum_logp").cast("double") / F.col("n_tokens")
    return (
        dt.join(F.broadcast(ct), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("n_dt").alias("n_tokens"),
            F.sum(contrib).alias("sum_logp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            stable_round(avg, 6).alias("uni_logprob"),
            (stable_round(avg, 6) >= _LOGPROB_KEEP_THRESHOLD).alias("uni_keep"),
        )
    )


# --------------------------------------------------------------------------
# Per-source quota cap: mixture enforcement by deterministic hash rank
# --------------------------------------------------------------------------

_SOURCE_QUOTA = 20


def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each source at a fixed document quota, selecting members by
    content-hash rank — the enforcement half of ``source_mixture_plan``:
    once the mixture says "at most N docs from source X", this picks WHICH
    N, reproducibly (no RNG state, stable under repartitioning).

    Shape: one window ranking per source (shuffle on the source key; at
    100 TB a skewed source would rank via the two-phase top-k form —
    per-partition head + global merge of N·P rows) followed by a tiny
    per-source agg. Selection is by md5(doc_id) order so the kept set is
    a uniform sample of the source, not its physical prefix."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "source",
        token_count(F.col("text")).alias("ws"),
        F.row_number().over(w).alias("rn"),
    )
    kept = F.col("rn") <= _SOURCE_QUOTA
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("ws")).otherwise(0)).alias("kept_tokens"),
            F.sum("ws").alias("total_tokens"),
        )
        .orderBy("source")
    )


SOURCE_QUOTA_SQL = f"""
WITH ranked AS (
  SELECT source, {token_count_sql('text')} AS ws,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rn <= {_SOURCE_QUOTA} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN rn <= {_SOURCE_QUOTA} THEN ws ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       CAST(sum(ws) AS BIGINT) AS total_tokens
FROM ranked
GROUP BY source
ORDER BY source
"""


_BIGRAM_KEEP_THRESHOLD = -3.44


def _bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-1 LM quality proxy: per-document mean conditional bigram
    log-probability ln P(w2|w1) under the corpus bigram model — one step
    up the CCNet ladder from the unigram score (unigram scores
    word choice; this scores word ORDER, catching shuffled/templated text
    a unigram filter cannot).

    Shape: one bigram-explode → (doc, w1, w2) agg over the corpus
    (map-side combined, shuffle carries distinct doc-bigrams); the
    corpus bigram table C(w1,w2) and its prefix normalizer C(w1) =
    Σ_w2 C(w1,w2) are re-aggregations of that persisted frame, joined
    back on the uniform (w1,w2)/(w1) keys. Docs with <2 tokens have no
    bigrams and are excluded by construction in both engines. Same
    exact-decimal weighted-sum contract as the unigram filter."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    z = F.arrays_zip(toks.alias("a"), F.slice(toks, 2, 1 << 30).alias("b"))
    bigrams = F.slice(z, 1, F.greatest(n - 1, F.lit(0)))
    ex = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            F.col("bg.a").alias("w1"),
            F.col("bg.b").alias("w2"),
        )
    )
    db = (
        ex.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_dbg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cbg = db.groupBy("w1", "w2").agg(F.sum("n_dbg").alias("c12"))
    cu = db.groupBy("w1").agg(F.sum("n_dbg").alias("c1"))
    logp = stable_round(
        F.log(F.col("c12").cast("double") / F.col("c1")), 10
    ).cast("decimal(18,12)")
    contrib = logp * F.col("n_dbg").cast("decimal(10,0)")
    avg = F.col("sum_logp").cast("double") / F.col("n_bigrams")
    return (
        db.join(cbg, ["w1", "w2"])
        .join(cu, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("n_dbg").alias("n_bigrams"),
            F.sum(contrib).alias("sum_logp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            stable_round(avg, 6).alias("bi_logprob"),
            (stable_round(avg, 6) >= _BIGRAM_KEEP_THRESHOLD).alias("bi_keep"),
        )
    )


def ngram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram LM quality ladder in one frame: the order-0
    (unigram) and order-1 (conditional bigram) mean log-probabilities with
    their keep verdicts. (Round-7 consolidation of
    ``unigram_logprob_quality`` + ``bigram_logprob_quality`` — same
    per-document grain over the same corpus; a real CCNet-style filter
    thresholds both scores together.) Docs with <2 tokens have no bigrams
    (LEFT join): their count coalesces to 0 and the keep verdict to false
    — a word-order filter cannot vouch for an orderless doc — while the
    score itself stays NULL (no evidence ≠ a score; nullable doubles are
    driver-hash-safe, nullable booleans/ints are not: the engines
    stringify missing non-float values differently). Each side keeps its
    own documented scale shape (see ``_unigram_scores`` /
    ``_bigram_scores``); the final join is doc-keyed, uniform, and
    carries only scored rows."""
    uni = _unigram_scores(spark, sf_dir)
    bi = _bigram_scores(spark, sf_dir)
    return (
        uni.join(bi, "doc_id", "left")
        .withColumn("n_bigrams", F.coalesce(F.col("n_bigrams"), F.lit(0)))
        .withColumn("bi_keep", F.coalesce(F.col("bi_keep"), F.lit(False)))
        .orderBy("doc_id")
    )


NGRAM_LOGPROB_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term
  FROM documents WHERE length(trim(text, ' ')) > 0
),
dt AS (SELECT doc_id, term, count(*) AS n_dt FROM ex GROUP BY doc_id, term),
ct AS (SELECT term, count(*) AS tf FROM ex GROUP BY term),
tot AS (SELECT count(*) AS corpus_tokens FROM ex),
uni_scored AS (
  SELECT dt.doc_id, dt.n_dt,
         CAST(round(ln(CAST(tf AS DOUBLE) / corpus_tokens), 10)
              AS DECIMAL(18,12))
           * CAST(dt.n_dt AS DECIMAL(10,0)) AS contrib
  FROM dt JOIN ct ON dt.term = ct.term, tot
),
uni AS (
  SELECT doc_id, CAST(sum(n_dt) AS BIGINT) AS n_tokens,
         round(CAST(sum(contrib) AS DOUBLE) / sum(n_dt), 6) AS uni_logprob,
         round(CAST(sum(contrib) AS DOUBLE) / sum(n_dt), 6)
           >= {_LOGPROB_KEEP_THRESHOLD} AS uni_keep
  FROM uni_scored GROUP BY doc_id
),
t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks
  FROM documents WHERE length(trim(text, ' ')) > 0
),
flat AS (
  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                  i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg
    FROM t WHERE len(toks) > 1)
),
db AS (
  SELECT doc_id, w1, w2, count(*) AS n_dbg FROM flat GROUP BY doc_id, w1, w2
),
cbg AS (SELECT w1, w2, CAST(sum(n_dbg) AS BIGINT) AS c12 FROM db GROUP BY w1, w2),
cu AS (SELECT w1, CAST(sum(n_dbg) AS BIGINT) AS c1 FROM db GROUP BY w1),
bi_scored AS (
  SELECT db.doc_id, db.n_dbg,
         CAST(round(ln(CAST(c12 AS DOUBLE) / c1), 10)
              AS DECIMAL(18,12))
           * CAST(db.n_dbg AS DECIMAL(10,0)) AS contrib
  FROM db JOIN cbg ON db.w1 = cbg.w1 AND db.w2 = cbg.w2
          JOIN cu ON db.w1 = cu.w1
),
bi AS (
  SELECT doc_id, CAST(sum(n_dbg) AS BIGINT) AS n_bigrams,
         round(CAST(sum(contrib) AS DOUBLE) / sum(n_dbg), 6) AS bi_logprob,
         round(CAST(sum(contrib) AS DOUBLE) / sum(n_dbg), 6)
           >= {_BIGRAM_KEEP_THRESHOLD} AS bi_keep
  FROM bi_scored GROUP BY doc_id
)
SELECT uni.doc_id, uni.n_tokens, uni.uni_logprob, uni.uni_keep,
       COALESCE(bi.n_bigrams, 0) AS n_bigrams, bi.bi_logprob,
       COALESCE(bi.bi_keep, FALSE) AS bi_keep
FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
ORDER BY uni.doc_id
"""


# --------------------------------------------------------------------------
# Filter funnel: how much corpus survives each curation stage
# --------------------------------------------------------------------------


def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor counts and token volumes through the cumulative filter
    chain raw → quality → repetition → exact-dedup — the data-loss report
    every training-data pipeline publishes before a run commits.

    Shape: quality and repetition flags are pure map expressions (the
    same formulas as ``doc_quality_scores`` / ``doc_repetition_scores``);
    the dedup-keep flag is one window over the content fingerprint (the
    ``dedup_corpus`` semantics — lowest doc_id per normalized text wins);
    then ONE aggregation computes every stage via conditional sums and a
    map-only stack unpivots to per-stage rows. One fingerprint shuffle +
    one single-row agg regardless of corpus size."""
    from amazon_climate_data_etl_spark.functions.text import (
        doc_fingerprint,
        quality_score,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    z = F.arrays_zip(toks.alias("a"), F.slice(toks, 2, 1 << 30).alias("b"))
    bigrams = F.slice(z, 1, F.greatest(n - 1, F.lit(0)))
    n2 = F.size(bigrams)
    dup_tok = F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n
    )
    dup_big = F.when(n2 == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / n2
    )
    w = Window.partitionBy(doc_fingerprint(F.col("text"))).orderBy("doc_id")
    flagged = d.select(
        n.alias("n_tok"),
        (quality_score(F.col("text")) >= 0.5).alias("q_keep"),
        (
            (stable_round(dup_tok, 4) <= 0.6)
            & (stable_round(dup_big, 4) <= 0.3)
        ).alias("r_keep"),
        (F.row_number().over(w) == 1).alias("d_keep"),
    )
    s1 = F.col("q_keep")
    s2 = s1 & F.col("r_keep")
    s3 = s2 & F.col("d_keep")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    def tok(cond):
        return F.sum(F.when(cond, F.col("n_tok")).otherwise(0))

    wide = flagged.agg(
        F.count(F.lit(1)).alias("raw_docs"),
        F.sum("n_tok").alias("raw_toks"),
        cnt(s1).alias("q_docs"),
        tok(s1).alias("q_toks"),
        cnt(s2).alias("r_docs"),
        tok(s2).alias("r_toks"),
        cnt(s3).alias("d_docs"),
        tok(s3).alias("d_toks"),
    )
    return (
        wide.select(
            F.expr(
                "stack(4, '0_raw', raw_docs, raw_toks,"
                " '1_quality', q_docs, q_toks,"
                " '2_repetition', r_docs, r_toks,"
                " '3_exact_dedup', d_docs, d_toks)"
                " AS (stage, n_docs, n_tokens)"
            )
        )
        .orderBy("stage")
    )


# canonical helpers, NOT re-spelled: any future portability fix to the
# tokenizer/fingerprint SQL (cf. the \x0b / trim / casing round) must land
# here automatically or the funnel's dedup stage keys on a different
# fingerprint than exact_dedup
_FUNNEL_TOKS = _TEXTOPS_TOKS
_FUNNEL_NTOK = token_count_sql("text")

FILTER_FUNNEL_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_FUNNEL_NTOK} AS n_tok,
         (CASE WHEN length(trim(text, ' ')) = 0 THEN []::VARCHAR[]
               ELSE {_FUNNEL_TOKS} END) AS toks
  FROM documents
),
flags AS (
  SELECT n_tok,
         {quality_score_sql('text')} >= 0.5 AS q_keep,
         (round((CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 END), 4) <= 0.6
          AND round((CASE WHEN len(toks) < 2 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct(
                        list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])
                      )) AS DOUBLE) / (len(toks) - 1) END), 4)
              <= 0.3) AS r_keep,
         row_number() OVER (
           PARTITION BY {doc_fingerprint_sql('text')}
           ORDER BY doc_id) = 1 AS d_keep
  FROM t
),
wide AS (
  SELECT count(*) AS raw_docs, CAST(sum(n_tok) AS BIGINT) AS raw_toks,
         CAST(sum(CASE WHEN q_keep THEN 1 ELSE 0 END) AS BIGINT) AS q_docs,
         CAST(sum(CASE WHEN q_keep THEN n_tok ELSE 0 END) AS BIGINT) AS q_toks,
         CAST(sum(CASE WHEN q_keep AND r_keep THEN 1 ELSE 0 END) AS BIGINT) AS r_docs,
         CAST(sum(CASE WHEN q_keep AND r_keep THEN n_tok ELSE 0 END) AS BIGINT) AS r_toks,
         CAST(sum(CASE WHEN q_keep AND r_keep AND d_keep THEN 1 ELSE 0 END) AS BIGINT) AS d_docs,
         CAST(sum(CASE WHEN q_keep AND r_keep AND d_keep THEN n_tok ELSE 0 END) AS BIGINT) AS d_toks
  FROM flags
)
SELECT '0_raw' AS stage, raw_docs AS n_docs, raw_toks AS n_tokens FROM wide
UNION ALL
SELECT '1_quality', q_docs, q_toks FROM wide
UNION ALL
SELECT '2_repetition', r_docs, r_toks FROM wide
UNION ALL
SELECT '3_exact_dedup', d_docs, d_toks FROM wide
ORDER BY stage
"""


# --------------------------------------------------------------------------
# CCNet head/middle/tail quality buckets
# --------------------------------------------------------------------------


def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source head/middle/tail thirds by quality score — the CCNet
    bucketing step (Wenzek et al. 2020): each source's documents are
    ranked by the composite quality heuristic and cut into three equal
    buckets; downstream mixtures keep 'head', sample 'middle', drop
    'tail'.

    Bucketing is RANK-based, not value-threshold-based, so it is exactly
    reproducible cross-engine: order by (quality desc, doc_id) — the
    doc_id tie-break matters, score ties are common — and bucket =
    3*(rank-1) // n_source. One window shuffle on the source key, one
    tiny agg; at 100 TB the per-source rank is the same sort a
    percentile-threshold pass would need, without a second pass to apply
    the thresholds."""
    d = load_table(spark, sf_dir, "documents")
    from amazon_climate_data_etl_spark.functions.text import quality_score

    w = Window.partitionBy("source").orderBy(
        F.col("q").desc(), F.col("doc_id")
    )
    scored = d.select(
        "doc_id", "source", quality_score(F.col("text")).alias("q")
    ).select(
        "source", "q",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    )
    # explicit floor: Spark's int cast truncates but DuckDB's ROUNDS, so a
    # bare CAST(x/y AS INT) would diverge on the bucket boundaries
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.floor((F.col("rn") - 1) * 3 / F.col("n_src")).cast("int") + 1,
    )
    return (
        scored.select("source", "q", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("q").alias("q_min"),
            F.max("q").alias("q_max"),
        )
        .orderBy("source", "bucket")
    )


CCNET_BUCKETS_SQL = f"""
WITH scored AS (
  SELECT source, doc_id, {quality_score_sql('text')} AS q
  FROM documents
),
ranked AS (
  SELECT source, q,
         row_number() OVER (PARTITION BY source
                            ORDER BY q DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM scored
)
SELECT source,
       (['head', 'middle', 'tail'])[CAST(floor((rn - 1) * 3 / n_src) AS INT) + 1]
         AS bucket,
       count(*) AS n_docs,
       min(q) AS q_min,
       max(q) AS q_max
FROM ranked
GROUP BY source, bucket
ORDER BY source, bucket
"""


# --------------------------------------------------------------------------
# PII detection / redaction: the compliance pass every pretraining corpus
# runs before tokenization
# --------------------------------------------------------------------------

# explicit ASCII classes only (no \d, \b, lookarounds) so Java regex and
# DuckDB's RE2 agree byte-for-byte — the repo's portable-regex contract
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction ACCOUNTING over a support-ticket corpus — the
    segment-grain compliance report. Sibling of textops.pii_scrub_docs
    (r11), which is the per-document scrub itself (documents scan, ordered
    three-rule chain with staged counts, redacted-md5 certificate); this
    one answers "how much PII per segment", that one produces and
    certifies the scrubbed corpus.

    The documents fixture carries no PII, so the corpus is CONSTRUCTED
    from the customer dimension: name, market segment, a TPC-H-format
    phone synthesized deterministically from the keys (the testdata
    customer table is trimmed), and a contact email derived from the
    name — both engines build the identical text, then detect and redact
    with the same portable regexes, so the oracle certifies detection
    counts AND the redacted-byte accounting, not just plumbing.

    Scale shape: one scan → map-only regex columns (whole-stage codegen,
    no Python) → tiny segment-keyed agg → sort. At 100 TB the regex work
    rides the scan; nothing shuffles but the 5-row aggregate. Counters are
    integers end-to-end — no float portability surface at all."""
    from amazon_climate_data_etl_spark.functions.text import ascii_lower

    c = load_table(spark, sf_dir, "customer")

    def part(mult: int, mod: int, width: int) -> F.Column:
        return F.lpad(
            (F.pmod(F.col("c_custkey") * mult, F.lit(mod))).cast("string"),
            width, "0",
        )

    phone = F.concat(
        (F.col("c_nationkey") + 10).cast("string"), F.lit("-"),
        part(7, 1000, 3), F.lit("-"), part(13, 1000, 3), F.lit("-"),
        part(31, 10000, 4),
    )
    email = F.concat(
        ascii_lower(F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", ".")),
        F.lit("@example.com"),
    )
    text = F.concat(
        F.col("c_name"), F.lit(" ("), F.col("c_mktsegment"),
        F.lit(") reachable at "), phone, F.lit(" or "),
        email, F.lit(" ref: "), F.col("c_nationkey").cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(text, _PII_EMAIL_RE, "[EMAIL]"),
        _PII_PHONE_RE, "[PHONE]",
    )
    t = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.regexp_count(text, F.lit(_PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(text, F.lit(_PII_PHONE_RE)).alias("n_phones"),
        (F.length(text) - F.length(redacted)).alias("chars_redacted"),
    )
    return (
        t.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_emails") > 0).cast("long")).alias("docs_with_email"),
            F.sum((F.col("n_phones") > 0).cast("long")).alias("docs_with_phone"),
            F.sum("n_emails").alias("total_emails"),
            F.sum("n_phones").alias("total_phones"),
            F.sum("chars_redacted").alias("total_chars_redacted"),
        )
        .orderBy("segment")
    )


PII_REDACTION_SQL = f"""
WITH t AS (
  SELECT c_mktsegment AS segment,
         c_name || ' (' || c_mktsegment || ') reachable at '
           || CAST(c_nationkey + 10 AS VARCHAR) || '-'
           || lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0') || '-'
           || lpad(CAST(c_custkey * 13 % 1000 AS VARCHAR), 3, '0') || '-'
           || lpad(CAST(c_custkey * 31 % 10000 AS VARCHAR), 4, '0')
           || ' or '
           || translate(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g'),
                        'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                        'abcdefghijklmnopqrstuvwxyz')
           || '@example.com ref: ' || CAST(c_nationkey AS VARCHAR) AS text
  FROM customer
),
m AS (
  SELECT segment,
         len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS n_phones,
         length(text) - length(
           regexp_replace(
             regexp_replace(text, '{_PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PII_PHONE_RE}', '[PHONE]', 'g')
         ) AS chars_redacted
  FROM t
)
SELECT segment,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_email,
       CAST(sum(CASE WHEN n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_phone,
       CAST(sum(n_emails) AS BIGINT) AS total_emails,
       CAST(sum(n_phones) AS BIGINT) AS total_phones,
       CAST(sum(chars_redacted) AS BIGINT) AS total_chars_redacted
FROM m
GROUP BY segment
ORDER BY segment
"""


def source_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration profile: Gini coefficient + top-source shares
    of the corpus token mass — the one-row skew diagnostic behind mixture
    planning (a corpus where three crawls hold 80% of tokens needs
    quota caps before training; `source_mixture_plan` prescribes, this
    measures).

    Determinism: token masses are exact integers; the discrete Gini
    G = 2·Σ(i·mᵢ)/(n·T) − (n+1)/n uses the ascending (mass, source) rank,
    so Σ(i·mᵢ) is an exact decimal and the only doubles are the final
    ratios, rounded to 6 dp with identical expression shape in both
    engines. Shape: one map-side-combined per-source agg, two
    |sources|-row windows (global order over a dim-sized frame — NOT a
    corpus-scale sort), one single-row reduction."""
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("source").agg(F.sum(token_count(F.col("text"))).alias("m"))
    asc = Window.orderBy("m", "source")
    desc = Window.orderBy(F.desc("m"), F.desc("source"))
    ranked = m.withColumn("i", F.row_number().over(asc)).withColumn(
        "rd", F.row_number().over(desc)
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("m").alias("total_tokens"),
        F.sum(
            F.col("i").cast("decimal(18,0)") * F.col("m").cast("decimal(19,0)")
        ).alias("s_im"),
        F.sum(F.when(F.col("rd") == 1, F.col("m")).otherwise(F.lit(0))).alias(
            "top1"
        ),
        F.sum(F.when(F.col("rd") <= 3, F.col("m")).otherwise(F.lit(0))).alias(
            "top3"
        ),
    )
    n_d = F.col("n_sources").cast("double")
    t_d = F.col("total_tokens").cast("double")
    gini = stable_round(
        2.0 * F.col("s_im").cast("double") / (n_d * t_d) - (n_d + 1.0) / n_d, 6
    )
    return agg.select(
        "n_sources",
        "total_tokens",
        gini.alias("gini"),
        stable_round(F.col("top1").cast("double") / t_d, 6).alias("top1_share"),
        stable_round(F.col("top3").cast("double") / t_d, 6).alias("top3_share"),
    )


SOURCE_GINI_SQL = f"""
WITH m AS (
  SELECT source, CAST(sum({token_count_sql('text')}) AS BIGINT) AS m
  FROM documents GROUP BY source
),
ranked AS (
  SELECT m.*,
         row_number() OVER (ORDER BY m, source) AS i,
         row_number() OVER (ORDER BY m DESC, source DESC) AS rd
  FROM m
),
agg AS (
  SELECT count(*) AS n_sources,
         CAST(sum(m) AS BIGINT) AS total_tokens,
         sum(CAST(i AS DECIMAL(18,0)) * CAST(m AS DECIMAL(19,0))) AS s_im,
         CAST(sum(CASE WHEN rd = 1 THEN m ELSE 0 END) AS BIGINT) AS top1,
         CAST(sum(CASE WHEN rd <= 3 THEN m ELSE 0 END) AS BIGINT) AS top3
  FROM ranked
)
SELECT n_sources, total_tokens,
       round(2.0 * CAST(s_im AS DOUBLE)
             / (CAST(n_sources AS DOUBLE) * CAST(total_tokens AS DOUBLE))
             - (CAST(n_sources AS DOUBLE) + 1.0) / CAST(n_sources AS DOUBLE),
             6) AS gini,
       round(CAST(top1 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS top1_share,
       round(CAST(top3 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS top3_share
FROM agg
"""


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic QUALITY-WEIGHTED Bernoulli sampling: each document's
    selection probability is proportional to its quality score within its
    source (the best doc samples at ~100%, a zero-quality doc never) —
    the curation step between uniform stratified sampling and hard
    quality cutoffs, with the same seedless reproducibility contract as
    the content-hash splits.

    Portability: the per-doc threshold is INTEGER arithmetic — quality
    quantized through the exact-decimal cast to wq ∈ [0, 10000], thr =
    (wq·65536) div max-source-wq (div by greatest(·,1): an all-zero
    source thresholds at 0 and selects nothing, no division guard
    branching) — and membership compares a 4-hex-digit md5 prefix
    against ``%04x``-rendered thr, so both engines draw identical
    per-document cut lines. Shape: one tiny per-source max broadcast
    back onto the scan, one output agg; the sampled-quality mass is an
    exact integer sum."""
    d = load_table(spark, sf_dir, "documents")
    wq = (quality_score(F.col("text")).cast("decimal(6,4)") * 10000).cast("long")
    base = d.select("source", "doc_id", wq.alias("wq"))
    mx = base.groupBy("source").agg(F.max("wq").alias("wq_max"))
    thr = F.least(
        F.expr("(wq * 65536) DIV greatest(wq_max, 1L)"),
        F.lit(65535).cast("bigint"),
    )
    j = base.join(F.broadcast(mx), "source").withColumn("thr", thr)
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < F.format_string(
        "%04x", F.col("thr")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep.cast("int")).alias("n_sampled"),
            stable_round(
                F.sum("thr").cast("double") / (F.count(F.lit(1)) * F.lit(65536.0)),
                4,
            ).alias("expected_rate"),
            F.sum(F.when(keep, F.col("wq")).otherwise(F.lit(0))).alias(
                "sampled_wq_sum"
            ),
        )
        .orderBy("source")
    )


QUALITY_WEIGHTED_SAMPLE_SQL = f"""
WITH q AS (
  SELECT source, doc_id,
         CAST(CAST({quality_score_sql('text')} AS DECIMAL(6,4)) * 10000 AS BIGINT) AS wq
  FROM documents
),
mx AS (SELECT source, max(wq) AS wq_max FROM q GROUP BY source),
m AS (
  SELECT q.source, q.doc_id, q.wq,
         least((q.wq * 65536) // greatest(mx.wq_max, 1), 65535) AS thr
  FROM q JOIN mx ON q.source = mx.source
),
k AS (
  SELECT source, wq, thr,
         (substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr)) AS keep
  FROM m
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       round(CAST(sum(thr) AS DOUBLE) / (count(*) * 65536.0), 4) AS expected_rate,
       CAST(sum(CASE WHEN keep THEN wq ELSE 0 END) AS BIGINT) AS sampled_wq_sum
FROM k
GROUP BY source
ORDER BY source
"""


_CHUNK_W = 64  # tokens per training/RAG window
_CHUNK_S = 48  # stride (overlap = W - S = 16 tokens)


def doc_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunk plan — the context-window slicing
    step between curation and tokenization (RAG indexing / long-doc
    training both consume it). Each document yields windows of W=64
    tokens at stride S=48; the final window is clipped to the document
    end, and windows start at 0, S, 2S, … up to the first start covering
    the tail, so every token lands in ≥1 chunk and interior tokens in
    ≥⌈W/S⌉.

    Scale: pure map + explode — per-row fan-out is n_tokens/S with no
    data-dependent state, so it parallelizes with the scan; the only
    exchange is the output sort (which a real pipeline, writing chunks
    back to parquet, would drop entirely).
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    last_id = F.floor(
        (F.greatest(F.col("n_tokens") - _CHUNK_W, F.lit(0)) + (_CHUNK_S - 1))
        / _CHUNK_S
    ).cast("long")
    start = (F.col("chunk_id") * _CHUNK_S).cast("long")
    end = F.least(start + _CHUNK_W, F.col("n_tokens").cast("long"))
    return (
        base.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.explode(F.sequence(F.lit(0).cast("long"), last_id)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "lang",
            "chunk_id",
            start.alias("start_tok"),
            (end - start).alias("chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


DOC_CHUNK_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, {token_count_sql('text')} AS n_tokens
  FROM documents
  WHERE {token_count_sql('text')} > 0
),
fan AS (
  SELECT doc_id, lang, n_tokens,
         unnest(generate_series(
           0, CAST((greatest(n_tokens - {_CHUNK_W}, 0) + {_CHUNK_S - 1})
                   // {_CHUNK_S} AS BIGINT))) AS chunk_id
  FROM base
)
SELECT doc_id, lang, chunk_id,
       CAST(chunk_id * {_CHUNK_S} AS BIGINT) AS start_tok,
       least(chunk_id * {_CHUNK_S} + {_CHUNK_W}, n_tokens)
         - chunk_id * {_CHUNK_S} AS chunk_tokens
FROM fan
ORDER BY doc_id, chunk_id
"""


# --------------------------------------------------------------------------
# Corpus versioning / CDC: Delta-style MERGE accounting + snapshot diff
# --------------------------------------------------------------------------


def _merge_split(
    d: DataFrame, base: Column, revised: Column, name: str
) -> tuple[DataFrame, DataFrame]:
    """The deterministic MERGE split of a doc_id-keyed frame, the one
    definition every CDC query reads: the TARGET ``(doc_id, name)`` is
    the corpus minus every 7th doc (those become inserts), the SOURCE
    ``(doc_id, name, is_delete)`` is the ``doc_id % 3 == 0`` slice
    carrying ``revised`` for even ids (``base`` otherwise) and a
    tombstone for ``doc_id % 21 == 0`` (a subset of the source by
    construction). ``base``/``revised`` are the text or its
    fingerprint."""
    doc = F.col("doc_id")
    target = d.filter(doc % 7 != 6).select("doc_id", base.alias(name))
    source = d.filter(doc % 3 == 0).select(
        "doc_id",
        F.when(doc % 2 == 0, revised).otherwise(base).alias(name),
        (doc % 21 == 0).alias("is_delete"),
    )
    return target, source


def _snapshot_versions(
    d: DataFrame, base: Column, revised: Column, name: str, *keep: str
) -> tuple[DataFrame, DataFrame]:
    """The deterministic corpus snapshot pair of a doc_id-keyed frame, the
    one definition every CDC query reads: v1 drops ``doc_id % 11 == 3``;
    v2 drops ``doc_id % 11 == 7`` and carries ``revised`` in place of
    ``base`` for ``doc_id % 13 == 0``. Each is ``(doc_id, *keep, name)``."""
    doc = F.col("doc_id")
    v1 = d.filter(doc % 11 != 3).select("doc_id", *keep, base.alias(name))
    v2 = d.filter(doc % 11 != 7).select(
        "doc_id",
        *keep,
        F.when(doc % 13 == 0, revised).otherwise(base).alias(name),
    )
    return v1, v2


def _merge_frames(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic MERGE inputs over the documents table, so the oracle
    can re-derive them: target ``(doc_id, text)`` and source ``(doc_id,
    text, is_delete)`` of ``_merge_split``, the revision appending
    ``' [rev2]'``."""
    text = F.col("text")
    return _merge_split(d, text, F.concat(text, F.lit(" [rev2]")), "text")


def merge_upsert(target: DataFrame, source: DataFrame) -> DataFrame:
    """Delta-style MERGE in pure Spark: key-matched upsert with
    tombstone deletes, returning one accounting row per doc_id in
    (target ∪ source) — the frame both the audit query and the applied
    merge (``apply_merge``) derive from.

    Semantics (MERGE INTO target USING source ON doc_id):
    - matched + tombstone            → ``delete``  (result_fp NULL)
    - matched + content differs      → ``update``
    - matched + content identical    → ``noop``
    - not matched + not tombstone    → ``insert``
    - not matched + tombstone        → ``noop``    (delete of an absent
      key is a no-op, result_fp NULL — Delta raises only in strict mode)
    - target row untouched by source → ``keep``

    Scale shape: ONE full-outer join on the uniform doc_id key (both
    sides corpus-scale by construction — never broadcastable, see
    _SMJ_EXEMPT) plus map-only md5/CASE arithmetic; the content compare
    uses the byte-exact hash so the wide text columns never feed a
    comparison wider than 32 chars. This is exactly the shuffle a
    lakehouse MERGE pays before its file rewrite."""
    return _merge_accounting(
        target.select("doc_id", F.md5("text").alias("fp")),
        source.select("doc_id", F.md5("text").alias("fp"), "is_delete"),
    )


def _merge_accounting(t: DataFrame, s: DataFrame) -> DataFrame:
    """The MERGE action CASE over fingerprint frames ``t (doc_id, fp)``
    and ``s (doc_id, fp, is_delete)``: one full-outer join on the key,
    one accounting row ``(doc_id, action, result_fp)`` per key of
    t ∪ s. Shared by ``merge_upsert`` and ``corpus_cdc_profile``."""
    t = t.select(F.col("doc_id").alias("t_id"), F.col("fp").alias("t_fp"))
    s = s.select(F.col("doc_id").alias("s_id"), F.col("fp").alias("s_fp"), "is_delete")
    j = t.join(s, t["t_id"] == s["s_id"], "full_outer")
    matched = F.col("t_id").isNotNull() & F.col("s_id").isNotNull()
    action = (
        F.when(matched & F.col("is_delete"), F.lit("delete"))
        .when(matched & (F.col("t_fp") != F.col("s_fp")), F.lit("update"))
        .when(matched, F.lit("noop"))
        .when(F.col("t_id").isNull() & ~F.col("is_delete"), F.lit("insert"))
        .when(F.col("t_id").isNull(), F.lit("noop"))
        .otherwise(F.lit("keep"))
    )
    dead = action.isin("delete") | (F.col("t_id").isNull() & F.col("is_delete"))
    return j.select(
        F.coalesce("t_id", "s_id").alias("doc_id"),
        action.alias("action"),
        F.when(~dead, F.coalesce("s_fp", "t_fp")).alias("result_fp"),
    )


def corpus_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert accounting over the deterministic target/source split
    (see _merge_split): per-document action + resulting content
    fingerprint — the CDC audit a versioned corpus pipeline records with
    every merge commit. Not registered: it is the ``merge`` frame of
    ``corpus_cdc_profile``, kept as the value-preservation test surface
    (test_sinks.py::test_cdc_profile_preserves_predecessors)."""
    target, source = _merge_frames(load_table(spark, sf_dir, "documents"))
    return merge_upsert(target, source).orderBy("doc_id")


MERGE_UPSERT_SQL = """
WITH target AS (
  SELECT doc_id, md5(text) AS t_fp FROM documents WHERE doc_id % 7 <> 6
),
source AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 2 = 0 THEN text || ' [rev2]' ELSE text END) AS s_fp,
         doc_id % 21 = 0 AS is_delete
  FROM documents WHERE doc_id % 3 = 0
),
j AS (
  SELECT t.doc_id AS t_id, t.t_fp, s.doc_id AS s_id, s.s_fp, s.is_delete
  FROM target t FULL OUTER JOIN source s ON t.doc_id = s.doc_id
)
SELECT COALESCE(t_id, s_id) AS doc_id,
       CASE WHEN t_id IS NOT NULL AND s_id IS NOT NULL AND is_delete THEN 'delete'
            WHEN t_id IS NOT NULL AND s_id IS NOT NULL AND t_fp <> s_fp THEN 'update'
            WHEN t_id IS NOT NULL AND s_id IS NOT NULL THEN 'noop'
            WHEN t_id IS NULL AND NOT is_delete THEN 'insert'
            WHEN t_id IS NULL THEN 'noop'
            ELSE 'keep' END AS action,
       CASE WHEN (t_id IS NOT NULL AND s_id IS NOT NULL AND is_delete)
              OR (t_id IS NULL AND is_delete) THEN NULL
            ELSE COALESCE(s_fp, t_fp) END AS result_fp
FROM j
ORDER BY doc_id
"""


def apply_merge(target: DataFrame, source: DataFrame) -> DataFrame:
    """Materialized MERGE result: the post-merge (doc_id, text) corpus —
    kept rows carry the target text, inserts/updates the source text,
    deletes vanish. Feed this to ``sinks.write_snapshot`` for the
    immutable v=N+1 the accounting row describes (tested in
    test_sinks.py). Same single full-outer shuffle as the audit."""
    t = target.select(F.col("doc_id").alias("t_id"), F.col("text").alias("t_text"))
    s = source.select(
        F.col("doc_id").alias("s_id"), F.col("text").alias("s_text"), "is_delete"
    )
    j = t.join(s, t["t_id"] == s["s_id"], "full_outer")
    return (
        j.filter(~F.coalesce("is_delete", F.lit(False)))
        .select(
            F.coalesce("t_id", "s_id").alias("doc_id"),
            F.coalesce("s_text", "t_text").alias("text"),
        )
    )


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions (the read half of CDC:
    what changed between v=N and v=N+1): docs ``added``, ``removed``, or
    ``changed`` — unchanged docs are omitted, so the output is
    delta-sized, not corpus-sized. Versions are derived deterministically
    from the documents table (``_snapshot_versions``) so the oracle
    re-derives them. Not registered: it is the ``diff`` frame of
    ``corpus_cdc_profile``, kept as the value-preservation test surface
    (test_sinks.py::test_cdc_profile_preserves_predecessors).

    Scale shape: one full-outer join on doc_id comparing 32-char content
    hashes (the text never rides the exchange) — the same plan a
    manifest-level diff of two write_snapshot versions executes."""
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return _snapshot_changes(
        *_snapshot_versions(
            d, F.md5(text), F.md5(F.concat(text, F.lit(" [v2]"))), "fp"
        )
    ).orderBy("doc_id")


def _snapshot_changes(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """The snapshot-diff change CASE over fingerprint frames ``v1`` and
    ``v2`` (each ``(doc_id, fp)``): one full-outer join on the key,
    delta rows only — ``(doc_id, change, fp_v1, fp_v2)`` for docs added,
    removed or changed. Shared by ``corpus_snapshot_diff`` and
    ``corpus_cdc_profile``."""
    v1 = v1.select(F.col("doc_id").alias("id1"), F.col("fp").alias("fp_v1"))
    v2 = v2.select(F.col("doc_id").alias("id2"), F.col("fp").alias("fp_v2"))
    j = v1.join(v2, v1["id1"] == v2["id2"], "full_outer")
    change = (
        F.when(F.col("id1").isNull(), F.lit("added"))
        .when(F.col("id2").isNull(), F.lit("removed"))
        .when(F.col("fp_v1") != F.col("fp_v2"), F.lit("changed"))
    )
    return j.select(
        F.coalesce("id1", "id2").alias("doc_id"),
        change.alias("change"),
        "fp_v1",
        "fp_v2",
    ).filter(F.col("change").isNotNull())


SNAPSHOT_DIFF_SQL = """
WITH v1 AS (
  SELECT doc_id, md5(text) AS fp_v1 FROM documents WHERE doc_id % 11 <> 3
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [v2]' ELSE text END) AS fp_v2
  FROM documents WHERE doc_id % 11 <> 7
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN fp_v1 <> fp_v2 THEN 'changed' END AS change,
       fp_v1, fp_v2
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE CASE WHEN v1.doc_id IS NULL THEN 'added'
           WHEN v2.doc_id IS NULL THEN 'removed'
           WHEN fp_v1 <> fp_v2 THEN 'changed' END IS NOT NULL
ORDER BY doc_id
"""


def corpus_cdc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC WRITE-SIDE audit in one frame, consolidating
    ``corpus_merge_upsert`` and ``corpus_snapshot_diff`` (same doc_id
    grain over the same documents scan, every operator shape of both
    preserved under one oracle). The ``merge`` frame carries the
    per-document MERGE action + resulting content fingerprint; the
    ``diff`` frame the delta-only v1→v2 snapshot changes.
    ``corpus_read_asof`` remains the separately-registered READ half
    (physical write_snapshot round trip).

    The merge's whole point at scale: the predecessors each paid a full
    documents scan + per-row md5 before their joins. Here ONE persisted
    pass computes every fingerprint variant (base, ' [rev2]' revision,
    ' [v2]' revision — 3 md5s in one codegen stage over one text read),
    and all four join sides derive from that narrow (doc_id, 3×32-char)
    frame: the wide text column is read once and never rides an exchange.
    Both full-outer joins keep their predecessors' exact shape and CASE
    semantics (full outers cannot broadcast — see _SMJ_EXEMPT).

    Columns unify as (frame, doc_id, verdict, fp_a, fp_b): merge rows
    carry verdict = action, fp_a = result_fp, fp_b NULL; diff rows carry
    verdict = change, fp_a/fp_b = the v1/v2 fingerprints."""
    d = load_table(spark, sf_dir, "documents")
    fps = d.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.md5(F.concat(F.col("text"), F.lit(" [rev2]"))).alias("fp_rev2"),
        F.md5(F.concat(F.col("text"), F.lit(" [v2]"))).alias("fp_v2rev"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # --- merge frame: merge_upsert's accounting over the shared
    # fingerprint pass (value preservation vs the predecessor is pinned
    # row-for-row in test_sinks.py) ---
    fp = F.col("fp")
    merge = _merge_accounting(
        *_merge_split(fps, fp, F.col("fp_rev2"), "fp")
    ).select(
        F.lit("merge").alias("frame"),
        "doc_id",
        F.col("action").alias("verdict"),
        F.col("result_fp").alias("fp_a"),
        F.lit(None).cast("string").alias("fp_b"),
    )

    # --- diff frame: corpus_snapshot_diff's changes ---
    diff = _snapshot_changes(
        *_snapshot_versions(fps, fp, F.col("fp_v2rev"), "fp")
    ).select(
        F.lit("diff").alias("frame"),
        "doc_id",
        F.col("change").alias("verdict"),
        F.col("fp_v1").alias("fp_a"),
        F.col("fp_v2").alias("fp_b"),
    )
    return merge.unionByName(diff).orderBy("frame", "doc_id")


CDC_PROFILE_SQL = """
WITH fps AS (
  SELECT doc_id, md5(text) AS fp,
         md5(text || ' [rev2]') AS fp_rev2,
         md5(text || ' [v2]') AS fp_v2rev
  FROM documents
),
target AS (SELECT doc_id, fp AS t_fp FROM fps WHERE doc_id % 7 <> 6),
source AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN fp_rev2 ELSE fp END AS s_fp,
         doc_id % 21 = 0 AS is_delete
  FROM fps WHERE doc_id % 3 = 0
),
mj AS (
  SELECT t.doc_id AS t_id, t.t_fp, s.doc_id AS s_id, s.s_fp, s.is_delete
  FROM target t FULL OUTER JOIN source s ON t.doc_id = s.doc_id
),
mrg AS (
  SELECT COALESCE(t_id, s_id) AS doc_id,
         CASE WHEN t_id IS NOT NULL AND s_id IS NOT NULL AND is_delete THEN 'delete'
              WHEN t_id IS NOT NULL AND s_id IS NOT NULL AND t_fp <> s_fp THEN 'update'
              WHEN t_id IS NOT NULL AND s_id IS NOT NULL THEN 'noop'
              WHEN t_id IS NULL AND NOT is_delete THEN 'insert'
              WHEN t_id IS NULL THEN 'noop'
              ELSE 'keep' END AS verdict,
         CASE WHEN (t_id IS NOT NULL AND s_id IS NOT NULL AND is_delete)
                OR (t_id IS NULL AND is_delete) THEN NULL
              ELSE COALESCE(s_fp, t_fp) END AS fp_a
  FROM mj
),
v1 AS (SELECT doc_id, fp AS fp_v1 FROM fps WHERE doc_id % 11 <> 3),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN fp_v2rev ELSE fp END AS fp_v2
  FROM fps WHERE doc_id % 11 <> 7
),
dj AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN fp_v1 <> fp_v2 THEN 'changed' END AS verdict,
         fp_v1, fp_v2
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT 'merge' AS frame, doc_id, verdict, fp_a, CAST(NULL AS VARCHAR) AS fp_b
FROM mrg
UNION ALL
SELECT 'diff' AS frame, doc_id, verdict, fp_v1 AS fp_a, fp_v2 AS fp_b
FROM dj WHERE verdict IS NOT NULL
ORDER BY frame, doc_id
"""


def _snapshot_store(sf_dir: str) -> str:
    """PID- and full-path-scoped snapshot store (see
    catalog.pid_scoped_store for the lifetime + single-threaded
    contract; the query wipes and rebuilds its subdir per invocation, so
    versions never accumulate across bench repeats)."""
    from amazon_climate_data_etl_spark.catalog import pid_scoped_store

    return pid_scoped_store("spark_graft_corpus_snapshots", sf_dir)


def corpus_read_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read over ``write_snapshot`` versions — the READ half of
    the versioned-corpus family, next to ``corpus_snapshot_diff`` (diff)
    and ``corpus_merge_upsert`` (write accounting): materialize corpus
    v=1 and v=2 (the same deterministic derivations the diff query uses)
    into an immutable snapshot store, then read BOTH back through
    ``read_snapshot``'s manifest-gated resolution — v=1 by EXPLICIT pin
    (the "training run pinned corpus v=N" reproducibility contract) and
    the default read resolving to the LATEST committed manifest (= v2) —
    and profile each from the files actually re-read: per (version,
    source) doc counts, char volume, revision count, id range. The output
    is computed from the round-tripped parquet, so the oracle match
    certifies write → manifest commit → pinned read end-to-end, not just
    the logical derivations (the climate_e2e pattern for the CDC family).

    Scale shape: each snapshot write is one ordinary distributed parquet
    job into a fresh ``v=<N>`` directory (write_snapshot never rewrites
    history; the manifest is O(1) driver metadata); each read-back is a
    version-pinned scan feeding a tiny (version, source)-grain aggregate.
    Cites reference scripts' write-then-reread verification step
    (process_climate_amazon_annual.py:380-531) as the round-trip model."""
    import shutil

    from amazon_climate_data_etl_spark.sources.sinks import (
        read_snapshot,
        snapshot_manifests,
        write_snapshot,
    )

    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    v1, v2 = _snapshot_versions(
        d, text, F.concat(text, F.lit(" [v2]")), "text", "source"
    )
    store = _snapshot_store(sf_dir)
    shutil.rmtree(store, ignore_errors=True)
    write_snapshot(v1, store, note="initial crawl")
    write_snapshot(v2, store, note="drop 11k+7, revise 13k")
    versions = [m["version"] for m in snapshot_manifests(store)]
    if versions != [1, 2]:  # fail-loud, not assert: survives python -O
        raise RuntimeError(f"snapshot store {store!r} has versions {versions}")
    pinned = read_snapshot(spark, store, version=1)  # explicit as-of pin
    latest = read_snapshot(spark, store)  # manifest-gated latest == v2

    def profile(df: DataFrame, version: int) -> DataFrame:
        return (
            df.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).alias("total_chars"),
                F.sum(F.col("text").endswith(" [v2]").cast("long")).alias(
                    "n_revised"
                ),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .withColumn("version", F.lit(version))
        )

    return (
        profile(pinned, 1)
        .unionByName(profile(latest, 2))
        .select(
            "version", "source", "n_docs", "total_chars", "n_revised",
            "min_doc", "max_doc",
        )
        .orderBy("version", "source")
    )


READ_ASOF_SQL = """
WITH v1 AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 3
),
v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 0 THEN text || ' [v2]' ELSE text END AS text
  FROM documents WHERE doc_id % 11 <> 7
),
p1 AS (
  SELECT 1 AS version, source, count(*) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         CAST(sum(CASE WHEN text LIKE '% [v2]' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_revised,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM v1 GROUP BY source
),
p2 AS (
  SELECT 2 AS version, source, count(*) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         CAST(sum(CASE WHEN text LIKE '% [v2]' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_revised,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM v2 GROUP BY source
)
SELECT * FROM p1 UNION ALL SELECT * FROM p2
ORDER BY version, source
"""


# --------------------------------------------------------------------------
# URL-side curation (r12): the crawl-pipeline stage between ingest and
# content filtering — URL canonicalization + registrable-domain
# aggregation + blocklist accounting (the CCNet/C4 pipelines run exactly
# this before touching page text: tracking-param and fragment stripping so
# mirrors collapse, per-domain doc/token concentration so one host can't
# dominate a mix, domain blocklist filtering). Closes read_warc's
# ``target_uri`` column into the curation family. Raw URLs are synthesized
# deterministically FROM doc_id/source (the synth_html/plant_pii pattern —
# mixed-case schemes/hosts, default and explicit ports, empty paths,
# utm_* tracking params, fragments), then the canonicalization proper is
# GENERIC string/regex derivation that works on any URL. Pure JVM
# expressions; every step has an exact DuckDB twin (regexp_extract returns
# '' on no-match in BOTH engines, which the empty-component CASEs lean on).
# --------------------------------------------------------------------------

# registrable-domain extraction: last two labels, or last three under a
# multi-part public suffix (a representative slice of the PSL — the full
# list is a data file swap, not a code change)
_URL_MULTI_SUFFIX = ("co.uk", "com.br")
_URL_DOMAIN_PAT = (
    "([^.]+\\.(?:" + "|".join(s.replace(".", "\\.") for s in _URL_MULTI_SUFFIX)
    + ")|[^.]+\\.[^.]+)$"
)
_URL_BLOCKLIST = ("site7.com", "site16.co.uk", "site21.net")
_URL_SCHEME = "^[A-Za-z][A-Za-z0-9+.-]*"


def synth_url(doc_id) -> "F.Column":
    """Deterministic doc_id-derived raw URL exercising every
    canonicalization rule: upper-case scheme/host, optional www/m
    subdomains, default (:80/:443) and explicit (:8080) ports, empty
    paths, utm_* tracking params (alone and mixed with real params), and
    fragments. Portable int arithmetic + concat only."""
    scheme = F.when(doc_id % 2 == 0, F.lit("http")).otherwise(F.lit("HTTPS"))
    # case-mixing keyed on %9 so SOME urls are already canonical — the
    # n_canonicalized accounting must discriminate, not fire on every row
    www = F.when(
        doc_id % 3 == 0,
        F.when(doc_id % 9 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
    ).otherwise(F.lit(""))
    sub = F.when(doc_id % 5 == 0, F.lit("m.")).otherwise(F.lit(""))
    dom = F.concat(
        F.when(doc_id % 9 == 0, F.lit("Site")).otherwise(F.lit("site")),
        (doc_id % 23).cast("string"),
    )
    suf = (
        F.when(doc_id % 4 == 0, F.lit("com"))
        .when(doc_id % 4 == 1, F.lit("org"))
        .when(doc_id % 4 == 2, F.lit("co.uk"))
        .otherwise(F.lit("net"))
    )
    port = (
        F.when(doc_id % 11 == 0, F.lit(":8080"))
        .when(
            doc_id % 7 == 0,
            F.when(doc_id % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .otherwise(F.lit(""))
    )
    path = F.when(doc_id % 13 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/p/"), doc_id.cast("string"))
    )
    query = (
        F.when(
            doc_id % 3 == 1,
            F.concat(
                F.lit("?utm_source=feed&id="),
                (doc_id % 50).cast("string"),
                F.lit("&utm_campaign=x"),
            ),
        )
        .when(doc_id % 3 == 2, F.lit("?utm_medium=email"))
        .otherwise(F.lit(""))
    )
    frag = F.when(
        doc_id % 2 == 1, F.concat(F.lit("#sec"), (doc_id % 5).cast("string"))
    ).otherwise(F.lit(""))
    return F.concat(
        scheme, F.lit("://"), www, sub, dom, F.lit("."), suf,
        port, path, query, frag,
    )


def url_canonical_columns(url) -> dict:
    """Generic URL canonicalization over any URL column: lower-case
    scheme+host, drop the fragment, drop utm_* tracking params (keeping
    real params in order), drop the scheme-default port, normalize an
    empty path to '/'. Returns the derived Columns (host, registrable
    domain, canonical form) — composable, all JVM expressions."""
    nofrag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, f"({_URL_SCHEME})://", 1))
    hostport = F.lower(
        F.regexp_extract(nofrag, f"{_URL_SCHEME}://([^/?#]*)", 1)
    )
    host = F.regexp_replace(hostport, ":[0-9]+$", "")
    port = F.regexp_extract(hostport, ":([0-9]+)$", 1)
    path = F.regexp_extract(nofrag, f"{_URL_SCHEME}://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.regexp_extract(nofrag, "\\?([^#]*)", 1)
    kept = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )
    domain = F.regexp_extract(host, _URL_DOMAIN_PAT, 1)
    domain = F.when(domain == "", host).otherwise(domain)
    return {"host": host, "domain": domain, "canon": canon}


def url_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: per-registrable-domain curation profile —
    doc/host counts, token volume and concentration (share + cumulative
    share in token-desc order), canonicalization accounting (how many raw
    URLs the rules actually changed), and the blocklist verdict. Scale
    shape: one map-only scan (regex canonicalization inside whole-stage
    codegen) → one domain-keyed aggregate (the domain universe is
    blocklist/PSL-bounded — orders of magnitude under doc count, the
    classic heavy-key rollup) → window shares over the domain-grain frame
    (bounded rows; the empty-partition window never sees corpus-sized
    data) → sort. No joins, no Python."""
    d = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    raw = synth_url(doc_id)
    cols = url_canonical_columns(raw)
    per_doc = d.select(
        cols["domain"].alias("domain"),
        cols["host"].alias("host"),
        (cols["canon"] != raw).cast("int").alias("changed"),
        token_count(F.col("text")).alias("n_tok"),
    )
    g = per_doc.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("changed").alias("n_canonicalized"),
    )
    tot = Window.partitionBy()
    cum = Window.partitionBy().orderBy(
        F.col("n_tokens").desc(), F.col("domain")
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.select(
            "domain",
            "n_docs",
            "n_hosts",
            "n_tokens",
            "n_canonicalized",
            stable_round(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(tot), 6
            ).alias("doc_share"),
            stable_round(
                F.col("n_tokens").cast("double") / F.sum("n_tokens").over(tot),
                6,
            ).alias("token_share"),
            stable_round(
                F.sum("n_tokens").over(cum).cast("double")
                / F.sum("n_tokens").over(tot),
                6,
            ).alias("cum_token_share"),
            F.col("domain").isin(*_URL_BLOCKLIST).alias("blocked"),
        )
        .orderBy("domain")
    )


def _build_url_domain_sql() -> str:
    multi = "|".join(s.replace(".", "\\.") for s in _URL_MULTI_SUFFIX)
    synth = """
  CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END || '://'
  || CASE WHEN doc_id % 3 = 0 THEN
       CASE WHEN doc_id % 9 = 0 THEN 'WWW.' ELSE 'www.' END ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN 'm.' ELSE '' END
  || CASE WHEN doc_id % 9 = 0 THEN 'Site' ELSE 'site' END
  || CAST(doc_id % 23 AS VARCHAR) || '.'
  || CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                     WHEN 2 THEN 'co.uk' ELSE 'net' END
  || CASE WHEN doc_id % 11 = 0 THEN ':8080'
          WHEN doc_id % 7 = 0 THEN
            CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
          ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN ''
          ELSE '/p/' || CAST(doc_id AS VARCHAR) END
  || CASE doc_id % 3
       WHEN 1 THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
                   || '&utm_campaign=x'
       WHEN 2 THEN '?utm_medium=email'
       ELSE '' END
  || CASE WHEN doc_id % 2 = 1 THEN '#sec' || CAST(doc_id % 5 AS VARCHAR)
          ELSE '' END"""
    scheme_pat = "^[A-Za-z][A-Za-z0-9+.-]*"
    block_list = ", ".join(f"'{b}'" for b in _URL_BLOCKLIST)
    return f"""
WITH raw AS (
  SELECT doc_id, {token_count_sql('text')} AS n_tok,
         ({synth}) AS url
  FROM documents
),
parts AS (
  SELECT doc_id, n_tok, url,
         regexp_replace(url, '#.*$', '') AS nofrag
  FROM raw
),
comp AS (
  SELECT doc_id, n_tok, url,
         lower(regexp_extract(nofrag, '({scheme_pat})://', 1)) AS scheme,
         lower(regexp_extract(nofrag, '{scheme_pat}://([^/?#]*)', 1))
           AS hostport,
         regexp_extract(nofrag, '{scheme_pat}://[^/?#]*([^?#]*)', 1) AS rpath,
         regexp_extract(nofrag, '\\?([^#]*)', 1) AS qs
  FROM parts
),
canon AS (
  SELECT doc_id, n_tok, url,
         regexp_replace(hostport, ':[0-9]+$', '') AS host,
         scheme || '://'
         || regexp_replace(hostport, ':[0-9]+$', '')
         || CASE WHEN regexp_extract(hostport, ':([0-9]+)$', 1) <> ''
                  AND NOT ((scheme = 'http'
                            AND regexp_extract(hostport, ':([0-9]+)$', 1) = '80')
                        OR (scheme = 'https'
                            AND regexp_extract(hostport, ':([0-9]+)$', 1) = '443'))
                 THEN ':' || regexp_extract(hostport, ':([0-9]+)$', 1)
                 ELSE '' END
         || CASE WHEN rpath = '' THEN '/' ELSE rpath END
         || CASE WHEN len(list_filter(string_split(qs, '&'),
                          p -> p <> '' AND NOT starts_with(p, 'utm_'))) > 0
                 THEN '?' || coalesce(array_to_string(
                        list_filter(string_split(qs, '&'),
                          p -> p <> '' AND NOT starts_with(p, 'utm_')), '&'), '')
                 ELSE '' END AS canon
  FROM comp
),
dom AS (
  SELECT doc_id, n_tok,
         CASE WHEN regexp_extract(host,
                '([^.]+\\.(?:{multi})|[^.]+\\.[^.]+)$', 1) = ''
              THEN host
              ELSE regexp_extract(host,
                '([^.]+\\.(?:{multi})|[^.]+\\.[^.]+)$', 1) END AS domain,
         host,
         CASE WHEN canon <> url THEN 1 ELSE 0 END AS changed
  FROM canon
),
g AS (
  SELECT domain,
         count(*) AS n_docs,
         count(DISTINCT host) AS n_hosts,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(changed) AS BIGINT) AS n_canonicalized
  FROM dom GROUP BY domain
)
SELECT domain, n_docs, n_hosts, n_tokens, n_canonicalized,
       round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS doc_share,
       round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6)
         AS token_share,
       round(CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, domain
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
             / sum(n_tokens) OVER (), 6) AS cum_token_share,
       domain IN ({block_list}) AS blocked
FROM g
ORDER BY domain
"""


URL_DOMAIN_SQL = _build_url_domain_sql()


QUERIES = {
    "corpus_cdc_profile": corpus_cdc_profile,
    "corpus_read_asof": corpus_read_asof,
    "quality_weighted_sample": quality_weighted_sample,
    "source_concentration_gini": source_concentration_gini,
    "doc_chunk_plan": doc_chunk_plan,
    "ccnet_quality_buckets": ccnet_quality_buckets,
    "pii_redaction_stats": pii_redaction_stats,
    "contamination_overlap": contamination_overlap,
    "ngram_logprob_quality": ngram_logprob_quality,
    "source_quota_cap": source_quota_cap,
    "corpus_filter_funnel": corpus_filter_funnel,
    "pack_sequences": pack_sequences,
    "stratified_sample_stats": stratified_sample_stats,
    "source_mixture_plan": source_mixture_plan,
    "source_domain_divergence": source_domain_divergence,
    "url_domain_profile": url_domain_profile,
}

ORACLE = {
    "url_domain_profile": URL_DOMAIN_SQL,
    "corpus_cdc_profile": CDC_PROFILE_SQL,
    "corpus_read_asof": READ_ASOF_SQL,
    "quality_weighted_sample": QUALITY_WEIGHTED_SAMPLE_SQL,
    "source_concentration_gini": SOURCE_GINI_SQL,
    "doc_chunk_plan": DOC_CHUNK_SQL,
    "ccnet_quality_buckets": CCNET_BUCKETS_SQL,
    "pii_redaction_stats": PII_REDACTION_SQL,
    "contamination_overlap": CONTAMINATION_SQL,
    "ngram_logprob_quality": NGRAM_LOGPROB_SQL,
    "source_quota_cap": SOURCE_QUOTA_SQL,
    "corpus_filter_funnel": FILTER_FUNNEL_SQL,
    "pack_sequences": PACK_SEQUENCES_SQL,
    "stratified_sample_stats": STRATIFIED_SQL,
    "source_mixture_plan": SOURCE_MIXTURE_SQL,
    "source_domain_divergence": SOURCE_DIVERGENCE_SQL,
}
