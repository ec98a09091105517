"""Deduplication operators for training-data pipelines (SURVEY.md §7
phase 4): exact, MinHash+LSH, n-gram Jaccard verification, SimHash.

Scale design:
- Exact dedup is a hash groupBy on the content fingerprint — one shuffle on
  a high-cardinality key, the cheapest possible form.
- MinHash LSH is the exact-collapse→shingle→minhash→band→bucket-join
  pipeline (r9/r10: BYTE-identical duplicates collapse to one
  representative BEFORE banding, and pair-emitting buckets larger than
  LSH_BUCKET_CAP split into doc_id-mod sub-buckets — the two
  template-corpus guards): candidate generation shuffles on (band,
  signature) — tiny keys — NEVER on document pairs; per-bucket pair
  output is bounded linearly in the bucket size, and the connectivity
  consumer avoids the pair form entirely with per-bucket STAR edges
  (_star_edges). This is the standard 100 TB near-dedup shape (the same
  plan Spark ML's MinHashLSH lowers to, expressed openly so the oracle can
  check it, plus the collapse/star skew guards production pipelines add).
- SimHash packs a document into a 16-bit fingerprint (portable variant of
  the usual 64-bit); near-dup candidates join on fingerprint bands and
  verify by Hamming distance.

All hashing is md5-based (engine-portable), not Spark's xxhash64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amazon_climate_data_etl_spark.catalog import load_table, rebalance_for_compute
from amazon_climate_data_etl_spark.functions.text import (
    ascii_lower,
    doc_fingerprint,
    doc_fingerprint_sql,
    quality_score,
    quality_score_sql,
    tokens,
)
from amazon_climate_data_etl_spark.operators._portable import stable_round

N_BANDS = 4  # one minhash per band (banded LSH; tune bands×rows for recall)
SHINGLE_K = 3

# Per-(band, signature) bucket cap for the PAIR-emitting queries
# (minhash_lsh_pairs / ngram_jaccard_pairs). The r9 exact-collapse removes
# byte-identical copies, but a family of B NEAR-identical templates
# (boilerplate ± one token — each its own byte group, most sharing band
# signatures) would still emit B²/2 candidate pairs per bucket; at 100 TB a
# mirrored-site family of 10⁶ near-copies is 5·10¹¹ pairs. A bucket larger
# than the cap is split deterministically into rank chunks of ≤ CAP docs
# (doc_id order within the bucket — the SEM_CLUSTER_CAP idea,
# similarity.py, with ranks instead of a modulus) and pairs are emitted
# within chunks only: ≤ ceil(B/CAP)·C(CAP,2) ≈ B·CAP/2 pairs per bucket —
# LINEAR in B, a hard bound. Rank chunks also ALIGN across bands (a
# template family's buckets have near-identical membership in every band,
# so the same docs chunk together band after band), which keeps the
# distinct-pair union near the per-band count instead of N_BANDS× it — a
# doc_id modulus decorrelates whenever per-band counts straddle a
# ceil(B/CAP) boundary (measured 3× pair inflation). This is a documented
# recall trade on pathological buckets only (buckets ≤ CAP are untouched);
# connectivity consumers (dedup_components) never use the pair form —
# their star edges are exact AND linear. The oracle mirrors the split
# bit-exactly (same window, same rank arithmetic, pure integers).
LSH_BUCKET_CAP = 128


def _shingles(text_col) -> "F.Column":
    """3-token shingles as array<string>; [] for docs with <3 tokens.

    Built by zipping the token array with its two shifted slices, NOT by
    ``transform(sequence(...), i -> element_at(toks, i+k))``: a lambda that
    captures the outer token expression re-evaluates the regex tokenizer per
    element (no CSE inside higher-order functions) — measured 12× slower.
    Here ``toks`` is referenced a constant 4 times regardless of length."""
    return _shingles_of(tokens(F.trim(text_col)))


def _shingles_of(toks) -> "F.Column":
    """:func:`_shingles` over an ALREADY-tokenized array column (callers
    that materialize the token array once for several consumers)."""
    n = F.size(toks)
    big = 1 << 30  # "to end of array" slice length
    z = F.arrays_zip(
        toks.alias("a"),
        F.slice(toks, 2, big).alias("b"),
        F.slice(toks, 3, big).alias("c"),
    )
    return F.transform(
        F.slice(z, 1, F.greatest(n - (SHINGLE_K - 1), F.lit(0))),
        lambda s: F.concat_ws(" ", s["a"], s["b"], s["c"]),
    )


_SHINGLES_SQL = (
    "list_transform(range(1, len({t}) - 1), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])"
)
# explicit whitespace class: Java \s and RE2 \s disagree on \x0b
_TOKS_SQL = "string_split_regex(trim(trim(text, ' '), ' '), '[ \\t\\n\\x0B\\f\\r]+')"


def _hashed_shingles(sh_col) -> "F.Column":
    """array<string> shingles → array<long> (first 15 md5 hex chars as an
    int64): the Jaccard-verify representation. Injective in practice (the
    md5-key assumption shared by every collapse in this module) and
    engine-portable — DuckDB's ('0x' || substr(md5(s), 1, 15))::BIGINT
    produces the identical integer."""
    return F.transform(
        sh_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


_HASHED_SH_SQL = "list_transform({sh}, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)"


def _shingle_frame(df: DataFrame) -> DataFrame:
    """doc_id → DISTINCT shingle set, non-empty docs only — the one
    tokenize→shingle pass, shared by signature generation and Jaccard
    verification (min-md5 over the distinct set equals min over the
    multiset, so signatures are unchanged by the dedup). Docs with no
    shingles are dropped, matching the reference's skip-on-empty semantics
    (P8). Tokenize+shingle is the expensive stage: rebalance the doc scan
    so it fans out."""
    return (
        rebalance_for_compute(df)
        .select("doc_id", F.array_distinct(_shingles(F.col("text"))).alias("sh"))
        .filter(F.size("sh") > 0)
    )


def _rep_docs(d: DataFrame) -> DataFrame:
    """Exact-collapse pre-pass: ONE representative document (the min
    doc_id) per BYTE-IDENTICAL text group (md5 of the raw text).

    This is the standard pipeline order for near-dedup at scale (exact →
    near): a template-heavy corpus — boilerplate pages, mirrored sites,
    the norm at 100 TB — concentrates thousands of byte-identical docs
    into single LSH buckets, and feeding them all to the banded self-join
    costs B² per bucket. Collapsing first makes that blowup impossible
    for BYTE-EXACT copies (the dominant template class) while changing
    no near-dup decision — and the lossless claim is exact precisely
    because the key is the raw bytes: byte-identical copies have
    identical token streams, hence identical shingle sets, hence
    identical signatures, hence pair with exactly what their
    representative pairs with. (The earlier normalized-fingerprint key
    lowercased before hashing, so case-variant duplicates shared a group
    while their case-sensitive shingle sets differed — the r9-advice
    parity hazard. Case/whitespace-variant duplicates now keep their own
    LSH identity; their EXACT-dup relation is still decided by
    ``exact_dedup`` on the normalized fingerprint.)

    Shape: the TEXT never rides an exchange — the hash agg shuffles only
    (md5, doc_id), and the representative-id set semi-joins back onto
    the corpus. At fixture scale AQE broadcasts the id set (a runtime
    decision off the agg's measured output); at 100 TB, where most docs
    are unique and the id set is corpus-sized, it degrades to a
    doc_id-keyed shuffle semi-join — one well-partitioned corpus
    exchange, the floor for any collapse."""
    fps = d.select("doc_id", F.md5(F.col("text")).alias("bfp"))
    reps = fps.groupBy("bfp").agg(F.min("doc_id").alias("doc_id"))
    return d.join(reps.select("doc_id"), "doc_id", "left_semi")


_REPS_M_SQL = """m AS (
  SELECT doc_id, text,
         min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
  FROM documents
),
repdocs AS (SELECT doc_id, text FROM m WHERE doc_id = rep_id)"""


def _minhash_sigs(sh: DataFrame) -> DataFrame:
    """shingle frame → one min-md5 signature per band (banded MinHash).

    Shape: explode the shingle array, then take the per-band minimum as 4
    hash aggregates. The agg is map-side combinable (partial min per
    partition), so the shuffle carries one row per (doc, partition) — not
    the shingle stream. The alternative (N array_min(transform(...))
    projections over a shared shingle column) looks map-only but Catalyst's
    projection collapse re-inlines the shingle expression into every
    signature column, recomputing tokenize+shingle N+1 times — measured 5×
    slower."""
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{b}|"), F.col("s")))).alias(f"sig_{b}")
        for b in range(N_BANDS)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def _minhash_sigs_sql(src: str = "documents") -> str:
    toks = _TOKS_SQL
    sh = _SHINGLES_SQL.format(t="toks")
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{b}|' || s))) AS sig_{b}"
        for b in range(N_BANDS)
    )
    return f"""
  SELECT doc_id, {sig_cols}
  FROM (SELECT doc_id, {sh} AS sh
        FROM (SELECT doc_id, {toks} AS toks FROM {src}))
  WHERE len(sh) > 0
"""


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: normalized-content fingerprint → keeper (min
    doc_id) + duplicate count. Returning groups (not the filtered corpus)
    keeps the operator composable and the oracle small."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_doc_id")
    )


EXACT_DEDUP_SQL = f"""
SELECT {doc_fingerprint_sql('text')} AS fp,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY keeper_doc_id
"""


def _sig_long(sigs: DataFrame) -> DataFrame:
    """Signatures unpivoted to the (doc_id, band, sig) bucket stream —
    the shared input of the pair join, the star-edge generator, and the
    incremental probe."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"sig_{b}").alias("sig"))
                for b in range(N_BANDS)
            ])
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")


def _pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """Signatures → unsorted banded-LSH candidate pairs (composable form).

    Plan: explode signatures to (band, sig) → per-bucket CAP split (see
    LSH_BUCKET_CAP: buckets larger than the cap split into rank chunks
    of ≤ CAP members in doc_id order, bounding per-bucket output at
    ~B·CAP/2 — linear in B; buckets ≤ CAP get sub = 0 everywhere and
    are untouched) → self equi-join on (band, sig, sub) → distinct
    pairs. The shuffle keys are the signature (the rank window) and the
    chunked signature (the join), so co-candidates land on one
    partition and nothing quadratic crosses the wire. Every caller feeds
    this exact-collapse REPRESENTATIVES (``_rep_docs``, the
    byte-identical template guard); the cap is the residual guard for
    NEAR-identical families. Consumers that only need connectivity use
    ``_star_edges`` (O(B) per bucket, no recall trade) instead. No
    global sort here: the pair stream is the LARGE intermediate, and
    every downstream consumer (Jaccard verify, group assembly)
    re-shuffles it anyway.

    The signature frame is persisted: the self-join's two sides would
    otherwise each recompute the whole collapse→shingle→signature
    pipeline (Catalyst does not CSE across join branches). One row per
    doc with 4 fixed-width hashes — corpus-linear, spills if evicted."""
    long = _sig_long(sigs.persist(StorageLevel.MEMORY_AND_DISK))
    w = Window.partitionBy("band", "sig").orderBy("doc_id")
    # floor((rank-1)/CAP): exact rank arithmetic, spelled floor(x/128.0)
    # in the DuckDB mirror too (a bare BIGINT cast would ROUND there)
    capped = long.withColumn(
        "sub",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(LSH_BUCKET_CAP)),
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.sub") == F.col("b.sub")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _star_edges(sigs: DataFrame) -> DataFrame:
    """Per-bucket STAR edges (bucket-min, doc) instead of all B² pairs.

    Every member of a (band, sig) bucket reaches every other member
    through the bucket minimum, so connected components over star edges
    equal components over the bucket cliques — at O(B) edges per
    B-document bucket instead of O(B²). This is the connectivity
    consumer's answer to template-corpus skew: a million-doc bucket emits
    a million edges, not 10¹² pairs. One window-min over the (band, sig)
    key — the same exchange the pair join would have paid, minus the
    quadratic output."""
    long = _sig_long(sigs)
    w = Window.partitionBy("band", "sig")
    return (
        long.withColumn("root", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs over exact-collapse representatives
    (one-shot form: exact-collapse → shingle → signature → bucket-join)."""
    return _pairs_from_sigs(
        _minhash_sigs(
            _shingle_frame(_rep_docs(load_table(spark, sf_dir, "documents")))
        )
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH candidate pairs among exact-duplicate
    representatives (see _minhash_pairs_frame), ordered output for the
    driver contract.

    Semantics (r9/r10): byte-identical duplicates are collapsed BEFORE
    banding — one representative (min doc_id) per md5(text) group enters
    the LSH join, so exact copies never appear in the pair stream (their
    dedup verdict is already decided by ``exact_dedup`` / the exact
    edges in ``dedup_components``) — and buckets of NEAR-identical
    templates larger than LSH_BUCKET_CAP split into doc_id-mod
    sub-buckets, bounding every bucket's pair output linearly in its
    size (the r10 guard; a documented recall trade on pathological
    buckets only). Connectivity consumers use the star-edge form, which
    needs neither trade."""
    return _minhash_pairs_frame(spark, sf_dir).orderBy("doc_a", "doc_b")


# shared oracle CTE: unpivoted signatures with the LSH_BUCKET_CAP rank
# chunking (mirrors _pairs_from_sigs bit-exactly: same window, same
# floor((rank-1)/CAP) arithmetic), then the within-chunk candidate pair
# join
_CAPPED_PAIRS_SQL = f"""long AS (
  SELECT doc_id, band, sig,
         CAST(floor((row_number() OVER (PARTITION BY band, sig
                                        ORDER BY doc_id) - 1)
                    / {LSH_BUCKET_CAP}.0) AS BIGINT) AS sub
  FROM (
    {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, sig_{b} AS sig FROM sigs" for b in range(N_BANDS))}
  )
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM long a JOIN long b
    ON a.band = b.band AND a.sig = b.sig AND a.sub = b.sub
   AND a.doc_id < b.doc_id
)"""

MINHASH_PAIRS_SQL = f"""
WITH {_REPS_M_SQL},
sigs AS ({_minhash_sigs_sql('repdocs')}),
{_CAPPED_PAIRS_SQL}
SELECT doc_a, doc_b FROM pairs
ORDER BY doc_a, doc_b
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by true shingle-set Jaccard ≥ 0.12 — the
    verify stage of candidate-generation→verification near-dedup. Only
    candidate pairs (not all pairs) pay the set-intersection cost, and
    (r9/r10) only byte-exact-collapse REPRESENTATIVES enter candidate
    generation, with oversized buckets capped into sub-buckets (see
    minhash_lsh_pairs / LSH_BUCKET_CAP — the template-corpus B² guards).

    The representative shingle frame is built ONCE and persisted:
    signature generation (candidate side) and set-intersection (verify
    side) both read it, so the corpus pays one collapse→tokenize→shingle
    pass instead of two full scans (Catalyst does not CSE across join
    branches; without the persist the plan re-inlines the shingle
    pipeline three times — asserted in test_plan_quality).
    MEMORY_AND_DISK: at 100 TB the shingle frame spills rather than
    recomputes; eviction only costs a partition recompute."""
    sh = _shingle_frame(
        _rep_docs(load_table(spark, sf_dir, "documents"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Range-partition + sort the SKINNY candidate stream BEFORE the
    # verify join, for two measured reasons (400k-pair template family):
    # (a) fan-out — the pair rows are 16 bytes, so AQE coalesces the
    #     distinct's output to a couple of partitions by SIZE while the
    #     per-pair set intersection downstream is the dominant COMPUTE
    #     (2 tasks × ~3 s); an explicit repartition is never coalesced,
    #     so the verify spreads across the session's cores;
    # (b) sort placement — ordering the 16-byte ids here lets the final
    #     orderBy be satisfied by the preserved output ordering
    #     (broadcast joins/filter/project keep the streamed side's
    #     order), so the global sort's range sampling samples the CHEAP
    #     pair chain instead of re-running the whole verify a second
    #     time (which it did: a twin ~10 s sampling stage).
    # At 100 TB a large candidate stream exceeds the coalesce target and
    # arrives well-split anyway — this guards the small-bytes/heavy-
    # compute corner, same rationale as catalog.rebalance_for_compute.
    pairs = (
        _pairs_from_sigs(_minhash_sigs(sh))
        .repartitionByRange(
            spark.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        .sortWithinPartitions("doc_a", "doc_b")
    )
    # verify on HASHED shingle sets (int64 = first 15 hex chars of md5,
    # computed ONCE per doc on the persisted frame): the per-pair
    # intersection becomes a primitive-array op instead of ~40-char
    # string hashing — measured 5× cheaper on a 200k-pair family. The
    # hash is injective in practice (same collision-freeness assumption
    # as the md5 collapse keys), and the oracle hashes IDENTICALLY
    # (('0x' || substr(md5, 1, 15))::BIGINT ≡ conv(…, 16, 10)), so the
    # two engines intersect the same int sets — values cannot diverge
    # asymmetrically even under a collision.
    hashed = _hashed_shingles(F.col("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), hashed.alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), hashed.alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", stable_round(jac, 4))
        .filter(F.col("jaccard") >= 0.12)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_SQL = f"""
WITH {_REPS_M_SQL},
sigs AS ({_minhash_sigs_sql('repdocs')}),
{_CAPPED_PAIRS_SQL},
sh AS (
  SELECT doc_id,
         {_HASHED_SH_SQL.format(sh=f"list_distinct({_SHINGLES_SQL.format(t='toks')})")} AS s
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM repdocs)
),
scored AS (
  SELECT doc_a, doc_b,
         round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4) AS jaccard
  FROM pairs JOIN sh sa ON pairs.doc_a = sa.doc_id
             JOIN sh sb ON pairs.doc_b = sb.doc_id
  WHERE len(sa.s) > 0 AND len(sb.s) > 0
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.12
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# SimHash (16-bit portable variant)
# ---------------------------------------------------------------------------

_N_BITS = 16
# XOR masks of popcount ≤ 3: print p's hamming-≤3 neighbours are p ^ m for
# each m (1 + 16 + 120 + 560 = 697 masks)
_HAM3_MASKS = [m for m in range(1 << _N_BITS) if bin(m).count("1") <= 3]


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 16-bit SimHash, unsorted (composable form).

    Bit j of md5(token) is taken from hex digit j (high bit of the nibble:
    digit >= '8'); tokens vote ±1 per bit; the fingerprint takes the sign.
    Distinct tokens only (set semantics) so the vote is portable. At 64 bits
    you'd swap md5 nibbles for xxhash64 bit tests — same plan shape: explode
    → 16 conditional sums → pack. One shuffle on doc_id."""
    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(ascii_lower(F.col("text"))))).alias("tok")
    ).withColumn("h", F.md5("tok"))
    votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(_N_BITS)
    ]
    packed = None
    agg = tok.groupBy("doc_id").agg(*votes)
    for j in range(_N_BITS):
        bit = F.when(F.col(f"v{j}") >= 0, F.lit(2**j)).otherwise(F.lit(0))
        packed = bit if packed is None else packed + bit
    return agg.select("doc_id", packed.alias("simhash"))


# unordered body + thin ORDER BY wrapper: SIMHASH_PAIRS_SQL embeds the body
# as a subquery (where a trailing ORDER BY would be illegal/meaningless), the
# registered oracle uses the ordered wrapper — no post-hoc string surgery
_SIMHASH_BODY = f"""
WITH tok AS (
  SELECT doc_id, md5(t) AS h
  FROM (SELECT doc_id,
               unnest(list_distinct(string_split_regex(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[ \\t\\n\\x0B\\f\\r]+'))) AS t
        FROM documents
        -- token guard: string_split_regex('') yields [''] in DuckDB, which
        -- would give empty docs a fingerprint; Spark's tokens() drops them
        WHERE length(trim(text, ' ')) > 0)
),
votes AS (
  SELECT doc_id,
         {", ".join(f"sum(CASE WHEN substr(h, {j+1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{j}" for j in range(_N_BITS))}
  FROM tok GROUP BY doc_id
)
SELECT doc_id,
       {" + ".join(f"(CASE WHEN v{j} >= 0 THEN {2**j} ELSE 0 END)" for j in range(_N_BITS))} AS simhash
FROM votes
"""



def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicates: Hamming distance ≤ 3 on the 16-bit prints.

    Candidates are enumerated, not searched: each document's print ``fp_a``
    is XORed with every mask in ``_HAM3_MASKS``, giving the neighbour prints
    ``fp_b`` it can pair with, and one equi-join on ``fp_b`` against the
    doc→print frame recovers the documents. The cost is a map-side
    |docs| × 697 explode, where a print-space self-join would cost |prints|²
    comparisons (up to 2³² at 16 bits). Each unordered pair meets exactly
    once: across prints via ``fp_a < fp_b``, within a print via ``da < db``.

    The doc→print frame is widened by a round-robin repartition: at fixture
    scale AQE coalesces the vote aggregate to one partition, and pair
    production would otherwise run on one task. It is not keyed on doc_id:
    when the shuffle partitions equal the parallelism (the session default)
    the planner drops that as already satisfied by the aggregate's own
    exchange, which AQE then coalesces. Both join sides read the widened
    frame, so the planner reuses its exchange and each document is
    tokenized once.

    Nothing is hinted broadcast: the join strategy, and the skew split of a
    hot print's pairs, are left to the engine's statistics (AQE).

    At 64-bit prints enumeration is infeasible (~44k masks); there the
    candidate step becomes a banded-LSH equi-join on 16-bit sub-bands,
    pigeonhole-exact for hamming ≤ 3, with the same doc join afterwards."""
    fp = _simhash_frame(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    cand = (
        fp.select(
            F.col("doc_id").alias("da"),
            F.col("simhash").alias("fp_a"),
            F.explode(F.lit(_HAM3_MASKS)).alias("mask"),
        )
        .select("da", "fp_a", F.col("fp_a").bitwiseXOR(F.col("mask")).alias("fp_b"))
        .filter(F.col("fp_a") <= F.col("fp_b"))
    )
    docs = fp.select(F.col("doc_id").alias("db"), F.col("simhash").alias("fp_b"))
    return (
        cand.join(docs, "fp_b")
        .filter((F.col("fp_a") < F.col("fp_b")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.expr("bit_count(fp_a ^ fp_b)").alias("hamming"),
        )
        # No global sort: the pair stream is the large output here (7.4M
        # rows at sf0.1 — quadratic in cluster sizes); a candidate stream
        # feeds a downstream verify/group stage that re-shuffles anyway.
    )


SIMHASH_PAIRS_SQL = f"""
WITH fp AS ({_SIMHASH_BODY})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""


def dedup_corpus(documents: DataFrame) -> DataFrame:
    """End-to-end exact dedup: keep the lowest-doc_id copy of each
    normalized fingerprint. (Library form used by tests; the driver queries
    expose the group view above.)"""
    w = Window.partitionBy(doc_fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        documents.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash candidate-pair graph: every
    doc in a near-dup cluster labeled with the cluster's minimum doc_id —
    the step that turns PAIRS into KEEP/DROP decisions (keep the label row,
    drop the rest). Docs that pair with nothing are not emitted (they need
    no decision), which keeps the state linear in |pairs|, not |corpus|.

    Iterative min-label propagation with pointer jumping: each round (a)
    every node takes the min of its neighbors' labels (edge step), then
    (b) every node takes its label's label (pointer-jump step). The edge
    step alone needs graph-diameter rounds — LSH pair graphs form long
    chains (doc A↔B on band 0, B↔C on band 1, …), so diameter is NOT
    small; the jump step compresses label paths by half each round,
    giving O(log diameter) convergence (the same contraction idea as
    large-star/small-star, Kiveris et al., "Connected Components in
    MapReduce and Beyond"). Each round is two join+min-aggregate pairs,
    all shuffling on node id; lineage is truncated per round with an eager
    localCheckpoint (iterative plans otherwise grow exponentially and
    planning itself OOMs).

    Edge construction (r9 collapse/star, r10 byte-exact LSH side — the
    100 TB skew guard): the pair CLIQUES of the original formulation are
    replaced by a linear edge set with the same connectivity —
    (a) exact edges from the NORMALIZED fingerprint relation (the
        engine's exact-dup definition, same as ``exact_dedup``): each
        member of a fingerprint group contributes one edge to the
        group's min doc_id. A million-copy template group is 10⁶ edges,
        never 10¹² pairs.
    (b) per-bucket STAR edges (bucket-min → doc, see _star_edges) over
        BYTE-EXACT representatives (one doc per md5(text) group, see
        _rep_docs) instead of the B² bucket clique — O(B) per bucket,
        so even near-identical-but-not-byte-identical template families
        stay linear.
    Components over (a) ∪ (b) equal components over (full-corpus LSH
    bucket graph ∪ exact-fingerprint groups), exactly: every dropped doc
    is byte-identical to its byte-representative (identical shingle
    sets, hence identical buckets) and reaches it through fingerprint
    edges (byte groups are subsets of fingerprint groups), so no
    connectivity is lost — including for case-variant duplicates, whose
    own case-sensitive shingle buckets now enter the star graph through
    their byte-representative (the r10 fix: the previous
    fingerprint-keyed collapse dropped those buckets). The set also
    extends to docs whose only duplicates are exact copies too short to
    shingle (an exact-dup group IS a near-dup cluster; they correctly
    receive a verdict). Labels: every rep is its group's min doc_id, so
    min-over-representatives = min-over-members.

    Not SQL-expressible as one query? It IS — via a recursive CTE (the
    oracle below) — but only because DuckDB evaluates the recursion to the
    same fixpoint; Spark SQL has no recursive CTE, which is exactly why
    the driver-loop form exists."""
    return (
        _components_frame(spark, sf_dir)
        .select(F.col("node").alias("doc_id"), F.col("label").alias("component_id"))
        .orderBy("doc_id")
    )


def _components_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The :func:`dedup_components` core WITHOUT the presentation sort —
    the (node, label) fixpoint frame. The keep/histogram consumers read
    this form (r14): they join/aggregate the labels immediately, so the
    ordered query's range exchange + its sampling pass would be pure
    waste inside them; ``dedup_components`` itself adds the sort."""
    d = load_table(spark, sf_dir, "documents")
    # both hash layers in ONE text scan: (doc_id, normalized fp,
    # byte-exact md5) — TEXT-free downstream, so the fingerprint window
    # and the byte-rep agg each exchange 70-byte rows. r14: EAGER
    # localCheckpoint instead of a lazy persist — the exact-edge branch
    # and the byte-representative agg are INDEPENDENT stages that AQE
    # launches concurrently, and a lazy cache materializes under both at
    # once, computing the scan+hash pass twice in parallel (measured as
    # paired 0.69 s single-task jobs); the blocking checkpoint runs it
    # exactly once. Same fault-tolerance trade as the sym/labels
    # checkpoints below, and one row per doc — corpus-linear, spills to
    # local disk if memory-tight.
    hashes = (
        d.select(
            "doc_id",
            doc_fingerprint(F.col("text")).alias("fp"),
            F.md5(F.col("text")).alias("bfp"),
        )
        .localCheckpoint()
    )
    fpm = hashes.withColumn(
        "rep_id", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    member_edges = fpm.filter(F.col("doc_id") != F.col("rep_id")).select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    # text re-enters through a semi join (broadcast at fixture scale via
    # AQE; doc_id-keyed shuffle at 100 TB) — see _rep_docs for the contract
    breps = hashes.groupBy("bfp").agg(F.min("doc_id").alias("doc_id"))
    rep_docs = d.join(breps.select("doc_id"), "doc_id", "left_semi")
    star = _star_edges(_minhash_sigs(_shingle_frame(rep_docs)))
    # doc_a < doc_b in both branches (each doc_a is a group/bucket min);
    # a byte-rep that is NOT its fingerprint group's rep can draw the
    # same edge from both branches — duplicates are harmless under the
    # min-aggregate label steps, so plain union beats a distinct shuffle
    pairs = member_edges.union(star)
    # Symmetrize with ONE explode, not a self-union (r14): Catalyst does
    # not CSE across union branches, so `pairs.select(a,b) UNION
    # pairs.select(b,a)` planned the ENTIRE edge pipeline — collapse,
    # shingle, minhash, bucket window — twice, and AQE ran both copies
    # (measured as paired 32-task 1.8 s jobs). Exploding each edge into
    # its two directions is a map-only expansion of the single pipeline:
    # same rows, half the work (executed tasks 136 → 105 per run).
    # localCheckpoint rather than persist: iterative plans embed the
    # previous round's logical plan twice per round (join + union), so
    # lineage grows exponentially and planning itself OOMs by round ~8;
    # checkpointing truncates the plan to the materialized partitions.
    # r15 (verdict item 4 — cut driver jobs, not tasks): the edge table is
    # STATIC across rounds but was re-shuffled by every round's edge join.
    # Hash-partitioning it by ``src`` ONCE before the checkpoint makes the
    # captured LogicalRDD carry hashpartitioning(src) — every round's
    # ``sym ⋈ labels ON src = node`` then satisfies its left-side
    # distribution from the checkpoint and only exchanges the (small)
    # label table: one shuffle map stage (= one AQE job) and one full
    # edge-table pass REMOVED per round, at every scale (§2.4). The
    # keyless form's sort cost doesn't apply (hash-by-key, r14 rule), and
    # the count-less repartition stays AQE-coalescible so the width is
    # scale-adaptive, not a local[32] constant. The checkpoint is LAZY:
    # its first action is the init-label sum collect below, which
    # materializes sym + labels + the sum in ONE job instead of three
    # (§1.2 — fewer actions, same work).
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(F.col("src"))
        .localCheckpoint(eager=False)
    )
    # init: each node's label = min(itself, its neighbors). The groupBy
    # key IS sym's partitioning key, so the init aggregate needs no
    # exchange of its own on top of the checkpointed layout.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("mind"))
        .select("node", F.least("node", "mind").alias("label"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
    for it in range(50):  # O(log diameter) with the jump step; 50 ≫ enough
        # (a) edge step: min over neighbors' labels
        prop = (
            sym.join(labels, sym["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "label")
            .union(labels)
        )
        m1 = prop.groupBy("node").agg(F.min("label").alias("label"))

        # (b) pointer jump ×2: label := label(label) — each application
        # halves label-chain depth, two quarter it; the label table is the
        # small side of these joins, so extra jumps are cheap relative to
        # saved rounds (each round pays fixed scheduling + checkpoint cost)
        def _jump(df: DataFrame) -> DataFrame:
            lk = df.select(F.col("node").alias("jn"), F.col("label").alias("jl"))
            return df.join(lk, df["label"] == lk["jn"], "left").select(
                "node", F.least("label", F.coalesce("jl", "label")).alias("label")
            )

        # LAZY checkpoint + the convergence aggregate as its materializing
        # action (r15): the eager form ran one job to checkpoint and a
        # second to sum — the sum now rides the same job, one driver
        # action per round instead of two.
        new_labels = _jump(_jump(m1)).localCheckpoint(eager=False)
        # convergence check: labels only ever DECREASE (every step is a
        # min), so sum(label) is unchanged iff no label moved — one
        # map-side-combinable agg over the label table instead of a
        # join+filter+count (saves a shuffle and a job per round)
        new_sum = new_labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
        converged = new_sum == prev_sum
        prev_sum = new_sum
        labels = new_labels
        if converged:
            break
    else:  # pragma: no cover
        raise RuntimeError("dedup_components did not converge in 50 rounds")
    return labels


# unordered body (embeddable as a subquery) + ordered registered wrapper —
# same pattern as _SIMHASH_BODY above
_DEDUP_COMPONENTS_BODY = f"""
WITH RECURSIVE {_REPS_M_SQL},
fpm AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY {doc_fingerprint_sql('text')}) AS frep_id
  FROM documents
),
sigs AS ({_minhash_sigs_sql('repdocs')}),
long AS (
  SELECT doc_id, band, sig FROM (
    {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, sig_{b} AS sig FROM sigs" for b in range(N_BANDS))}
  )
),
star AS (
  SELECT min(doc_id) OVER (PARTITION BY band, sig) AS doc_a,
         doc_id AS doc_b
  FROM long
),
pairs AS (
  SELECT doc_a, doc_b FROM star WHERE doc_a <> doc_b
  UNION
  SELECT frep_id AS doc_a, doc_id AS doc_b FROM fpm WHERE doc_id <> frep_id
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
cc(node, label) AS (
  SELECT src, least(src, min(dst)) FROM sym GROUP BY src
  UNION
  SELECT s.dst, least(s.dst, cc.label) FROM sym s JOIN cc ON s.src = cc.node
)
SELECT node AS doc_id, min(label) AS component_id
FROM cc GROUP BY node
"""

DEDUP_COMPONENTS_SQL = _DEDUP_COMPONENTS_BODY + "ORDER BY doc_id\n"


def neardup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup pipeline: a per-document KEEP/DROP verdict for
    the whole corpus — docs in a near-dup component keep only the
    minimum-doc_id member; docs that pair with nothing keep themselves.
    This is the frame a user filters on to materialize the deduplicated
    corpus (pairs → components → decisions, closed end-to-end).

    Shape: the component labels (one row per PAIRED doc — a small
    fraction of the corpus) left-join back onto the document ids on the
    uniform doc_id key. At 100 TB both sides partition cleanly on that
    key; the shuffle join is the correct plan (neither side is a dim by
    construction), so this operator is exempt from the broadcast-only
    test gate."""
    return _keep_frame(spark, sf_dir).orderBy("doc_id")


def _keep_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`neardup_keep_corpus` without the presentation sort (r14) —
    the histogram consumer aggregates this frame immediately, so it reads
    the unordered form; the declared query adds the sort. Both build on
    the unordered ``_components_frame`` for the same reason."""
    labels = _components_frame(spark, sf_dir).select(
        F.col("node").alias("ldoc"), F.col("label").alias("component_id")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    keep = F.col("component_id").isNull() | (
        F.col("component_id") == F.col("doc_id")
    )
    return d.join(labels, d["doc_id"] == labels["ldoc"], "left").select(
        "doc_id",
        F.coalesce(F.col("component_id"), F.col("doc_id")).alias(
            "component_id"
        ),
        keep.alias("keep"),
    )


NEARDUP_KEEP_SQL = f"""
SELECT d.doc_id,
       COALESCE(l.component_id, d.doc_id) AS component_id,
       (l.component_id IS NULL OR l.component_id = d.doc_id) AS keep
FROM documents d
LEFT JOIN ({_DEDUP_COMPONENTS_BODY}) l
       ON d.doc_id = l.doc_id
ORDER BY d.doc_id
"""


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup component sizes — the dedup pipeline's
    summary report: how much of the corpus sits in clusters of 2, 3, …,
    and what fraction of documents a keep-one policy would drop.

    Derivation: the keep/drop frame (components already closed over the
    whole corpus, singles = their own component) → per-component size →
    size histogram with exact document accounting. drop_fraction is the
    per-size (size−1)/size mass over the corpus, rounded to 6 dp. Two
    tiny aggregations over component-cardinality frames — every exchange
    is keyed on component_id or size."""
    keep = _keep_frame(spark, sf_dir)
    sizes = keep.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("size")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # corpus total as a lazy broadcast scalar (never a driver-side action)
    tot = sizes.agg(F.sum("size").alias("t"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.col("size") * F.col("n_clusters"))
        .withColumn("docs_dropped", (F.col("size") - 1) * F.col("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "corpus_share",
            stable_round(F.col("n_docs").cast("double") / F.col("t"), 6),
        )
        .drop("t")
        .orderBy("size")
    )


DEDUP_CLUSTER_HIST_SQL = f"""
WITH keep AS (
  SELECT d.doc_id, COALESCE(l.component_id, d.doc_id) AS component_id
  FROM documents d
  LEFT JOIN ({_DEDUP_COMPONENTS_BODY}) l ON d.doc_id = l.doc_id
),
sizes AS (SELECT component_id, count(*) AS size FROM keep GROUP BY component_id),
tot AS (SELECT count(*) AS t FROM keep)
SELECT size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(size * count(*) AS BIGINT) AS n_docs,
       CAST((size - 1) * count(*) AS BIGINT) AS docs_dropped,
       round(CAST(size * count(*) AS DOUBLE) / (SELECT t FROM tot), 6)
         AS corpus_share
FROM sizes
GROUP BY size
ORDER BY size
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for every source pair, how much of
    their shingle vocabulary is shared (count + Jaccard) — the corpus-
    composition diagnostic behind mixture planning (two crawls of the
    same sites should be merged, not double-weighted) and the
    source-level view of contamination.

    Scale shape: ONE tokenize→shingle pass to the distinct (source,
    shingle) frame; the pair matrix is a self-join keyed on the SHINGLE
    (uniform, high-cardinality) whose per-key fan-out is bounded by the
    number of sources carrying that shingle — |sources| is dim-sized, so
    the join does |shingle-universe|·O(|sources|²) work in the worst
    case, never |docs|². Totals are a tiny per-source agg broadcast back
    onto the matrix."""
    d = rebalance_for_compute(load_table(spark, sf_dir, "documents"))
    per = (
        d.select(
            "source",
            F.explode(F.array_distinct(_shingles(F.col("text")))).alias("sh"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = per.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = per.alias("a"), per.alias("b")
    shared = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta, tb = totals.alias("ta"), totals.alias("tb")
    union_size = F.col("ta.n_sh") + F.col("tb.n_sh") - F.col("n_shared")
    return (
        shared.join(F.broadcast(ta), F.col("source_a") == F.col("ta.source"))
        .join(F.broadcast(tb), F.col("source_b") == F.col("tb.source"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.col("ta.n_sh").alias("n_sh_a"),
            F.col("tb.n_sh").alias("n_sh_b"),
            stable_round(
                F.col("n_shared").cast("double") / union_size, 6
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


_PER_SOURCE_SH = f"""t AS (
  SELECT source, {_TOKS_SQL} AS toks
  FROM documents WHERE length(trim(text, ' ')) > 0
),
per AS (
  SELECT DISTINCT source, sh FROM (
    SELECT source, unnest({_SHINGLES_SQL.format(t='toks')}) AS sh
    FROM t WHERE len(toks) >= 3)
)"""

SOURCE_OVERLAP_SQL = f"""
WITH {_PER_SOURCE_SH},
totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM per GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM per a JOIN per b ON a.sh = b.sh AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_shared,
       ta.n_sh AS n_sh_a, tb.n_sh AS n_sh_b,
       round(CAST(n_shared AS DOUBLE) / (ta.n_sh + tb.n_sh - n_shared), 6)
         AS jaccard
FROM shared
JOIN totals ta ON source_a = ta.source
JOIN totals tb ON source_b = tb.source
ORDER BY source_a, source_b
"""


def neardup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup component
    keep the HIGHEST-quality member (ties → min doc_id), not the minimum
    id — the policy real pretraining dedup uses (when a page cluster has
    a clean copy and a boilerplate-ridden copy, keep the clean one;
    min-id keeps whichever was crawled first).

    Shape: the component labels join (same as ``neardup_keep_corpus``)
    plus ONE component-keyed window for the per-component argmax. The
    quality score is the decimal-rounded heuristic (functions/text.py),
    bit-identical cross-engine, so the argmax — and therefore every
    keep verdict — replays exactly in the DuckDB oracle. Singles are
    their own component and keep themselves by construction."""
    labels = _components_frame(spark, sf_dir).select(
        F.col("node").alias("ldoc"), F.col("label").alias("component_id")
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )
    comp = (
        d.join(labels, d["doc_id"] == labels["ldoc"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("component_id"),
            "quality",
        )
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        comp.withColumn("rn", F.row_number().over(w))
        .select("doc_id", "component_id", "quality", (F.col("rn") == 1).alias("keep"))
        .orderBy("doc_id")
    )


NEARDUP_KEEP_BEST_SQL = f"""
WITH labels AS ({_DEDUP_COMPONENTS_BODY}),
comp AS (
  SELECT d.doc_id,
         COALESCE(l.component_id, d.doc_id) AS component_id,
         {quality_score_sql('d.text')} AS quality
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component_id
                               ORDER BY quality DESC, doc_id ASC) AS rn
  FROM comp
)
SELECT doc_id, component_id, quality, rn = 1 AS keep
FROM ranked
ORDER BY doc_id
"""


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a NEW batch of documents (the delta — here the
    deterministic 20% slice ``doc_id % 5 == 4``) deduped AGAINST the
    existing corpus, the daily-crawl pattern. This is a different scale
    shape from corpus self-dedup: the delta probes the corpus's exact-
    fingerprint and banded-LSH indexes (delta×corpus equi-joins on fp and
    (band, sig) keys — work proportional to |delta|, never |corpus|²),
    candidates verify by shingle Jaccard, and each delta doc gets a
    verdict: ``exact_dup`` (same normalized content as a corpus doc),
    ``near_dup`` (best verified match at Jaccard ≥ 0.12), or ``new``.

    At 100 TB the corpus-side fp/signature frames are the precomputed
    index tables of the previous run; here they derive from the same scan
    so the oracle can check the whole chain. One shared shingle pass is
    persisted across the signature and verify stages (same discipline as
    ngram_jaccard_pairs).

    Corpus-side exact collapse (r9; r10 re-keyed BYTE-exact, bit-identical
    by construction): only one representative (min corpus doc_id) per
    md5(text) group enters the LSH probe. Byte-identical corpus docs have
    identical shingle sets, hence identical buckets and identical Jaccard
    against any delta doc, and the best-match tie-break (max jaccard,
    then min corpus_id) is therefore always attained at a representative
    — so verdicts and ``near_of``/``jaccard`` match the UNCOLLAPSED
    oracle exactly, while a template-heavy corpus probes |delta|·1 per
    bucket instead of |delta|·|copies|. (The r9 key was the lowercased
    normalized fingerprint; case-variant corpus duplicates share that
    group while their case-sensitive shingle sets differ, so dropping
    them changed candidates — the r10-advice parity break, pinned by the
    case-variant pair in the edge corpus.)"""
    d = load_table(spark, sf_dir, "documents")
    delta_pred = F.col("doc_id") % 5 == 4
    return _incremental_verdicts(
        d.filter(delta_pred), d.filter(~delta_pred)
    ).orderBy("doc_id")


def _incremental_verdicts(delta: DataFrame, corpus: DataFrame) -> DataFrame:
    """The incremental-dedup core over two (doc_id, text) frames: exact
    fp probe, corpus-representative LSH probe, Jaccard verify, per-delta
    best match, three-way verdict.

    Both hash layers (normalized fp for the exact probe, byte md5 for the
    representative collapse) come from ONE flagged delta∪corpus scan,
    checkpointed so the exact probe's two branches cannot re-evaluate
    their scans independently (the concurrent-materialization class of
    ``_components_frame``'s hashes). One text pass feeds the exact probe,
    the collapse, and the verdict spine."""
    flagged = delta.select(
        "doc_id", "text", F.lit(True).alias("is_new")
    ).unionByName(corpus.select("doc_id", "text", F.lit(False).alias("is_new")))
    hashes = flagged.select(
        "doc_id",
        "is_new",
        doc_fingerprint(F.col("text")).alias("fp"),
        F.md5(F.col("text")).alias("bfp"),
    ).localCheckpoint()
    dfp = hashes.filter(F.col("is_new")).select("doc_id", "fp")
    cfp = hashes.filter(~F.col("is_new")).select("doc_id", "fp")
    exact = (
        dfp.alias("n")
        .join(cfp.alias("o"), "fp")
        .groupBy(F.col("n.doc_id").alias("doc_id"))
        .agg(F.min(F.col("o.doc_id")).alias("exact_of"))
    )
    # byte-exact collapse BEFORE shingling: the expensive tokenize→shingle
    # pass runs over representatives only (one doc per corpus md5(text)
    # group — the _rep_docs contract, read off the shared hash frame),
    # and both the sig probe and the Jaccard verify read the collapsed
    # shingle frame — every corpus_id that can reach a verdict is a
    # representative
    breps = (
        hashes.filter(~F.col("is_new"))
        .groupBy("bfp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    rep_docs = corpus.join(breps.select("doc_id"), "doc_id", "left_semi")
    sh_d = _shingle_frame(delta).persist(StorageLevel.MEMORY_AND_DISK)
    sh_c = _shingle_frame(rep_docs).persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        _sig_long(_minhash_sigs(sh_d))
        .select(F.col("doc_id").alias("delta_id"), "band", "sig")
        .join(
            _sig_long(_minhash_sigs(sh_c)).select(
                F.col("doc_id").alias("corpus_id"), "band", "sig"
            ),
            ["band", "sig"],
        )
        .select("delta_id", "corpus_id")
        .distinct()
    )
    # hashed-shingle verify (see ngram_jaccard_pairs / _hashed_shingles):
    # primitive-int intersections, oracle hashes identically
    hashed = _hashed_shingles(F.col("sh"))
    a = sh_d.select(F.col("doc_id").alias("delta_id"), hashed.alias("sh_a"))
    b = sh_c.select(F.col("doc_id").alias("corpus_id"), hashed.alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    verified = (
        cand.join(a, "delta_id")
        .join(b, "corpus_id")
        .withColumn("jaccard", stable_round(inter.cast("double") / union, 4))
        .filter(F.col("jaccard") >= 0.12)
        .select("delta_id", "corpus_id", "jaccard")
    )
    w = Window.partitionBy("delta_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_id")
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("delta_id", F.col("corpus_id").alias("near_of"), "jaccard")
    )
    dd = delta.select("doc_id")
    return (
        dd.join(exact, "doc_id", "left")
        .join(best, dd["doc_id"] == best["delta_id"], "left")
        .select(
            "doc_id",
            F.when(F.col("exact_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce(F.col("exact_of"), F.col("near_of")).alias("dup_of"),
            F.when(F.col("exact_of").isNull(), F.col("jaccard")).alias("jaccard"),
        )
    )


INCREMENTAL_DEDUP_SQL = f"""
WITH sigs AS ({_minhash_sigs_sql()}),
long AS (
  SELECT doc_id, band, sig FROM (
    {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, sig_{b} AS sig FROM sigs" for b in range(N_BANDS))}
  )
),
fps AS (SELECT doc_id, {doc_fingerprint_sql('text')} AS fp FROM documents),
exact AS (
  SELECT n.doc_id, min(o.doc_id) AS exact_of
  FROM fps n JOIN fps o ON n.fp = o.fp
  WHERE n.doc_id % 5 = 4 AND o.doc_id % 5 <> 4
  GROUP BY n.doc_id
),
cand AS (
  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
  FROM long d JOIN long c ON d.band = c.band AND d.sig = c.sig
  WHERE d.doc_id % 5 = 4 AND c.doc_id % 5 <> 4
),
sh AS (
  SELECT doc_id,
         {_HASHED_SH_SQL.format(sh=f"list_distinct({_SHINGLES_SQL.format(t='toks')})")} AS s
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
),
verified AS (
  SELECT delta_id, corpus_id,
         round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 4) AS jaccard
  FROM cand JOIN sh sa ON cand.delta_id = sa.doc_id
            JOIN sh sb ON cand.corpus_id = sb.doc_id
  WHERE len(sa.s) > 0 AND len(sb.s) > 0
),
best AS (
  SELECT delta_id, corpus_id AS near_of, jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY delta_id
                                 ORDER BY jaccard DESC, corpus_id) AS rn
    FROM verified WHERE jaccard >= 0.12
  ) WHERE rn = 1
)
SELECT d.doc_id,
       CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
            WHEN b.near_of IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict,
       COALESCE(e.exact_of, b.near_of) AS dup_of,
       CASE WHEN e.exact_of IS NULL THEN b.jaccard END AS jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
LEFT JOIN exact e ON d.doc_id = e.doc_id
LEFT JOIN best b ON d.doc_id = b.delta_id
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# Exact-substring duplicate-span profile (Lee et al. 2022 shape)
# --------------------------------------------------------------------------


SPAN_W = 20  # exact-substring window, in tokens


def duplicate_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span profile — BOTH grains of the
    exact-substring dedup family ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022) in one doc-grain frame
    (r12 consolidation of the former ``duplicate_span_stats`` +
    ``duplicate_spans_exact`` registrations; every operator shape of both
    is preserved under this one oracle):

    - the SHINGLE-ACCOUNTING half (W=3 multiset counts): how many of a
      document's 3-token windows also occur in OTHER documents — the
      measurement grain (``n_windows``, ``n_dup_windows``,
      ``shingle_dup_fraction``; NULL fraction for docs with <3 tokens,
      which have no windows);
    - the EXACT-EXTENT half (W=20 maximal extents): any W-token window
      whose hash occurs ≥2 times corpus-wide (including twice in one
      document) is duplicated, and runs of duplicated positions merge
      into MAXIMAL extents (positions p, q merge when q ≤ p + W) — the
      unit the paper deletes (``n_spans``, ``dup_tokens``, ``max_span``,
      ``span_dup_fraction``; W=20 because the paper's 50 exceeds half of
      the fixture docs, whose median length is 56 tokens).

    Scale shape — the distributed stand-in for the paper's single-node
    suffix array: ONE tokenize pass, persisted (the token array feeds the
    shingle explode, the window-hash explode, and the n_tokens spine —
    three consumers, one regex pass). The shingle half shuffles on the
    (doc, shingle) multiset key then the shingle key (uniform,
    high-cardinality — the LSH-family key discipline; the DF side is
    NEVER broadcast: the shingle universe grows with the corpus). The
    extent half computes per-position window hashes inside a higher-order
    transform over the MATERIALIZED token array, shuffles ONCE on the
    window hash for occurrence counts, joins back on that key, and merges
    extents with a gaps-and-islands window over doc_id partitions. The
    final doc-grain assembly left-joins both halves onto the spine —
    doc_id is uniform and high-cardinality, and both sides are already
    doc-grain aggregates. Integer token arithmetic end-to-end; the only
    floats are the final rounded fractions of exact integers, identical
    IEEE division in both engines."""
    d = load_table(spark, sf_dir, "documents")
    t = (
        rebalance_for_compute(d)
        .select("doc_id", tokens(F.trim(F.col("text"))).alias("toks"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # ---- shingle-accounting half (W=3)
    sh = t.select("doc_id", F.explode(_shingles_of(F.col("toks"))).alias("s"))
    ds = (
        sh.groupBy("doc_id", "s")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    docs_with = ds.groupBy("s").agg(F.count(F.lit(1)).alias("docs_with"))
    stats = (
        ds.join(docs_with, "s")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_windows"),
            F.sum(
                F.when(F.col("docs_with") > 1, F.col("n")).otherwise(F.lit(0))
            ).alias("n_dup_windows"),
        )
    )
    # ---- exact-extent half (W=20)
    n = F.size("toks")
    wins = F.when(
        n >= SPAN_W,
        F.transform(
            F.sequence(F.lit(1), n - (SPAN_W - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, SPAN_W))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    w = t.select(
        "doc_id", F.posexplode(wins).alias("pos", "h")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    freq = w.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    dup_pos = (
        w.join(freq.filter(F.col("n_occ") >= 2), "h").select("doc_id", "pos")
    )
    byd = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup_pos.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(byd) <= SPAN_W, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "island",
        F.sum("brk").over(byd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + SPAN_W).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
        F.max(F.col("e") - F.col("s")).alias("max_span"),
    )
    # ---- doc-grain assembly
    spine = t.select("doc_id", n.alias("n_tokens"))
    return (
        spine.join(stats, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_windows", F.lit(0).cast("long")).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.when(
                F.col("n_windows").isNotNull(),
                stable_round(
                    F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6
                ),
            ).alias("shingle_dup_fraction"),
            F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
            F.coalesce("max_span", F.lit(0)).alias("max_span"),
            stable_round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("dup_tokens", F.lit(0).cast("long")).cast("double")
                    / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("span_dup_fraction"),
        )
        .orderBy("doc_id")
    )


DUP_SPAN_PROFILE_SQL = f"""
WITH t AS (
  -- empty guard mirrors functions.text.tokens(): splitting '' yields ['']
  -- in DuckDB (len 1) where Spark's guarded tokenizer yields [] (len 0)
  SELECT doc_id,
         CASE WHEN length(trim(text, ' ')) = 0
              THEN CAST([] AS VARCHAR[]) ELSE {_TOKS_SQL} END AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL.format(t="toks")}) AS s FROM t
),
ds AS (
  SELECT doc_id, s, count(*) AS n FROM sh GROUP BY doc_id, s
),
sfreq AS (
  SELECT s, count(*) AS docs_with FROM ds GROUP BY s
),
stats AS (
  SELECT ds.doc_id,
         CAST(sum(n) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN docs_with > 1 THEN n ELSE 0 END) AS BIGINT)
           AS n_dup_windows
  FROM ds JOIN sfreq USING (s)
  GROUP BY ds.doc_id
),
wp AS (
  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - {SPAN_W} + 2),
                  i -> struct_pack(pos := i - 1,
                                   h := md5(array_to_string(
                                            toks[i:i+{SPAN_W}-1], ' '))))) AS u
    FROM t
  )
),
wfreq AS (SELECT h, count(*) AS n_occ FROM wp GROUP BY h),
dup AS (
  SELECT doc_id, pos FROM wp JOIN wfreq USING (h) WHERE n_occ >= 2
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     <= {SPAN_W} THEN 0 ELSE 1 END AS brk
    FROM dup
  )
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {SPAN_W} AS e
  FROM isl GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, count(*) AS n_spans,
         CAST(sum(e - s) AS BIGINT) AS dup_tokens,
         CAST(max(e - s) AS INTEGER) AS max_span
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       COALESCE(n_windows, 0) AS n_windows,
       COALESCE(n_dup_windows, 0) AS n_dup_windows,
       CASE WHEN n_windows > 0
            THEN round(CAST(n_dup_windows AS DOUBLE)
                       / CAST(n_windows AS DOUBLE), 6)
       END AS shingle_dup_fraction,
       COALESCE(n_spans, 0) AS n_spans,
       COALESCE(dup_tokens, 0) AS dup_tokens,
       COALESCE(max_span, 0) AS max_span,
       CASE WHEN len(toks) > 0
            THEN round(CAST(COALESCE(dup_tokens, 0) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE), 6)
            ELSE 0.0 END AS span_dup_fraction
FROM t LEFT JOIN stats USING (doc_id) LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""


QUERIES = {
    "duplicate_span_profile": duplicate_span_profile,
    "exact_dedup": exact_dedup,
    "dedup_components": dedup_components,
    "neardup_keep_corpus": neardup_keep_corpus,
    "neardup_keep_best_quality": neardup_keep_best_quality,
    "source_overlap_matrix": source_overlap_matrix,
    "dedup_cluster_size_histogram": dedup_cluster_size_histogram,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "simhash_near_pairs": simhash_near_pairs,
    "incremental_dedup": incremental_dedup,
}

ORACLE = {
    "duplicate_span_profile": DUP_SPAN_PROFILE_SQL,
    "incremental_dedup": INCREMENTAL_DEDUP_SQL,
    "exact_dedup": EXACT_DEDUP_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "neardup_keep_corpus": NEARDUP_KEEP_SQL,
    "neardup_keep_best_quality": NEARDUP_KEEP_BEST_SQL,
    "source_overlap_matrix": SOURCE_OVERLAP_SQL,
    "dedup_cluster_size_histogram": DEDUP_CLUSTER_HIST_SQL,
    "minhash_lsh_pairs": MINHASH_PAIRS_SQL,
    "ngram_jaccard_pairs": NGRAM_JACCARD_SQL,
    "simhash_near_pairs": SIMHASH_PAIRS_SQL,
}
