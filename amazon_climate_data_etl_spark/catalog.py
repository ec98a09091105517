"""Table catalog over a directory of parquet files.

The driver's testdata layout is ``<sf_dir>/<table>.parquet`` (TESTDATA.md).
``load_tables`` reads them lazily and optionally registers temp views so the
same workload can be written in the DataFrame API or ``spark.sql``.

Scale note: ``spark.read.parquet`` gives Catalyst the parquet footer stats,
so filters land as ``PushedFilters`` and projections prune columns at the
scan (SURVEY.md §4 — the reference's hand-written clip/column-open logic,
``process_climate_amazon_annual.py:229-266``, is subsumed entirely).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def pid_scoped_store(prefix: str, sf_dir: str) -> str:
    """A /tmp store dir scoped to (process, full sf_dir path) — shared by
    the e2e queries that materialize files a returned DataFrame lazily
    re-reads (corpus snapshots, crawl segments). PID-scoping keeps
    parallel pytest workers / bench-alongside-parity runs from
    overwriting each other's live reads; the full-path hash keeps two sf
    dirs that merely share a basename apart. HARD CONTRACT:
    single-threaded per (process, sf_dir) — callers wipe and rebuild
    their store per invocation, so two concurrent invocations on the
    same sf_dir in one process would rmtree under each other's reads.
    Every harness here (driver gate, bench.py, check_parity,
    pytest-per-worker) runs queries sequentially within a process."""
    import hashlib

    full = os.path.abspath(sf_dir.rstrip("/"))
    key = hashlib.sha256(full.encode()).hexdigest()[:16]
    return os.path.join(
        f"/tmp/{prefix}_{os.getpid()}", f"{os.path.basename(full)}-{key}"
    )


# Timestamp columns whose physical parquet type has varied across testdata
# generations: TIMESTAMP(NANOS) (read as int64 via nanosAsLong, truncated to
# micros) or TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
# Both are normalized to plain TimestampType: the session timezone is pinned
# to UTC (session.py), so the NTZ→TZ cast is wall-clock-preserving and matches
# DuckDB's naive-timestamp reading of the same files. Without the cast,
# NTZ-rejecting expressions (unix_micros) fail and driver-side hashes drift.
_NANO_TS_COLUMNS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table, with timestamp normalization."""
    if name in _NANO_TS_COLUMNS:
        # runtime-settable SQL conf; required to read TIMESTAMP(NANOS)
        # parquet even on sessions not built by session.get_spark
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in _NANO_TS_COLUMNS.get(name, ()):
        field = df.schema[col] if col in df.columns else None
        if field is None:
            continue
        kind = field.dataType.simpleString()
        if kind == "bigint":
            # integer division: double division would lose precision at 1e18 ns
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif kind == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def rebalance_for_compute(
    df: DataFrame,
    min_partitions: int | None = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Spread a narrow scan across cores before a SUPER-LINEAR operator.

    Parallelism of a map/cross-join/explode stage equals the stream side's
    partition count, and a parquet file is splittable only at row-group
    boundaries — a small table (or one written as a single row group)
    arrives as ONE task, serializing the downstream O(n²)/O(n·m) work on a
    single core. When the scan has fewer splits than the session's
    parallelism, shuffle the LINEAR side once (cheap by definition — it's
    the small pre-blowup stream) so the quadratic stage fans out. No-op on
    well-split inputs, which is what a 100 TB table's scan looks like.

    Use when the post-scan, pre-exchange work DOMINATES the scan itself:
    cross products, within-bucket pair joins, large explodes, heavy
    per-row expressions (decimal partials, regex/md5 chains, pandas-UDF
    batches), and broadcast-join probe streams. Do NOT use when the
    downstream work is light relative to the scan — a selective filter
    feeding one cheap expression (q10), or an aggregation that plans its
    own keyed exchange immediately (the count-distinct Expand in
    table_quality_audit): there the extra exchange measured as pure loss.
    The call sites record which side of that line they measured on.

    ``keys`` switches the spread from round-robin to hash-by-key. Either
    one is reused when the SAME rebalanced stream feeds both sides of a
    self-join: the final adaptive plan of ``fuzzy_join_names`` scans
    ``customer`` once and reads the second side through ``ReusedExchange``
    keyed and keyless alike (sf0.001 and sf0.01, 4 and 8 shuffle
    partitions; ``plans/fuzzy_join_keys/``). What the key bought there is
    downstream: the hash partitioning by ``c_custkey`` survives the
    broadcast join, so the candidates' ``distinct`` plans no exchange of
    its own (3 shuffles keyed, 4 keyless). Pass a high-cardinality key so
    the spread is still even.

    The keying rule, from alternating-arm measurement: a KEYLESS
    round-robin exchange first pays a full-row local sort of its input
    (``spark.sql.execution.sortBeforeRepartition``, on by default since
    SPARK-23207 so retried map tasks reproduce the same row-to-partition
    assignment), while hash-by-key needs no sort but spreads only
    binomially (a 5k-row table over 32 partitions lands ±10% uneven).
    So the choice is row-count-dependent:
    - BIG scans (lineitem, 600k rows): the avoided sort dominates — KEY
      them (1.03 → 0.55 s for the scan task; q1 2.18 → 1.22 s, and when
      the key equals a downstream groupBy/join key the downstream
      exchange is reused outright, q18 1.84 → 0.96 s).
    - SMALL tables with HEAVY per-row downstream (documents 5k rows
      before tokenize/shingle/decode, embeddings 2k rows before numpy
      kernels): round-robin's PERFECT balance beats the trivial sort —
      keyless (documents-family A/B total 7.06 vs 8.81 s median keyed;
      ngram_jaccard_pairs 1.45 vs 2.22).

    NOTE: ``keys`` only takes effect when the fan-out actually happens —
    an input already at >= target partitions takes the early return with
    NO exchange at all (which is also deterministic: the scan itself is
    reused). Callers must not rely on the output being hash-partitioned by
    ``keys`` for downstream co-location; the contract is "deterministic +
    spread", never "keyed".
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if keys:
        # Guard: hash-by-key spreads over at most |distinct key values|
        # partitions, so keys need cardinality ≫ target (the call sites
        # use ≥2.5k-distinct natural columns against a ≤ core-count
        # target). If that ever tightens, the early return above already
        # covers the 100 TB case — well-split scans never reach here.
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def rebalance_for_kernel(df: DataFrame) -> DataFrame:
    """``rebalance_for_compute`` for LINEAR Arrow kernels: fan-out floor of
    ``defaultParallelism // 4`` instead of the full core count.

    A ``mapInPandas`` stage pays a fixed per-task cost (Arrow eval-loop
    setup, closure dispatch, batch framing) that a LINEAR kernel — one
    bounded numpy pass per row, no pair blowup — cannot amortize on a
    small scan: on the 32-core bench box a trivial 10k-row kernel measures
    0.65 s wall at 32 tasks vs 0.43 s at 8, and the ANN assign kernels
    reproduce the same delta (the recall panel runs three such stages).
    A quarter of the cores still bounds the serialized span at 4× the
    per-row work while cutting the per-task overhead 4×. Super-linear
    stages (cross joins, within-bucket pair kernels) keep the full-width
    ``rebalance_for_compute`` — there the downstream blowup dominates any
    per-task cost. No-op on well-split inputs (a 100 TB scan arrives with
    thousands of splits), and results are partition-independent: the
    kernels are pure maps feeding keyed joins/windows downstream.
    (Keyless by design: every call site is a small-table heavy-kernel
    fan-out, exactly the row-count rule's round-robin side; a ``keys``
    passthrough sat here unused and was dropped.)
    """
    sc = df.sparkSession.sparkContext
    return rebalance_for_compute(df, max(2, sc.defaultParallelism // 4))


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    """Load all tables in ``names`` that exist under ``sf_dir``.

    With ``register_views=True`` each is also exposed as a temp view named
    after the table, enabling ``spark.sql`` over the same data.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
