"""Join family (SURVEY.md §2.3): broadcast dimension enrichment, the
grid-snap nearest-neighbor join (the reference's core join, J-NN), its
general top-1-by-distance fallback, and semi/anti joins (the error-reporting
path P8).

Scale posture: every dimension here (customer/supplier/nation/region) is
broadcast — the fact table (lineitem/events) never shuffles for a join; the
only exchange in these plans is the final groupBy. That is the 100 TB-safe
shape: a shuffle of a 100 TB fact on join keys would dominate the job, a
broadcast of a few-MB dim is free.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from amazon_climate_data_etl_spark.catalog import load_table, rebalance_for_compute
from amazon_climate_data_etl_spark.functions.climate import grid_snap, grid_snap_sql
from amazon_climate_data_etl_spark.operators._portable import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    stable_round,
)


def join_enrich_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-enrichment join chain (J3: attach NM_MUN/UF to aggregates,
    process_climate_amazon_annual.py:464-467): revenue per nation via
    lineitem ⋈ supplier ⋈ nation ⋈ region, all dims broadcast."""
    li = rebalance_for_compute(
        load_table(spark, sf_dir, "lineitem"), keys=('l_suppkey',)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # exact decimal revenue: order-independent sum (_portable.py)
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            stable_round(F.sum(revenue).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


JOIN_ENRICH_SQL = """
SELECT r_name, n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact-fact join with group + top-k (TPC-H Q3 shape):
    customer(filtered, broadcast) ⋈ orders ⋈ lineitem."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # rebalance the fact probe: an under-split scan would serialize the
    # broadcast-join map + decimal partials (no-op at 100 TB)
    li = rebalance_for_compute(
        load_table(spark, sf_dir, "lineitem"), keys=("l_orderkey",)
    )
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("o_orderdate") < F.lit("2000-01-01"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(stable_round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join pipeline (TPC-H Q5 shape): local-supplier revenue per
    nation — customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region with
    the extra c_nationkey = s_nationkey locality predicate.

    Plan shape at scale: region/nation/supplier broadcast (no fact shuffle
    for the dim edges); the only exchanges are the orders⋈lineitem equi-join
    on orderkey and the final 5-group agg. The date range is pushed to the
    orders scan and the region filter prunes the broadcast side before it
    ships."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = rebalance_for_compute(
        load_table(spark, sf_dir, "lineitem"), keys=("l_orderkey",)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            stable_round(F.sum(revenue).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers that have at least one high-priority order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no orders at all — the reference's
    skip-and-report error path (P8, process_climate_amazon_annual.py:465-471)
    expressed relationally."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# Nearest-neighbor joins (J-NN, process_climate_amazon_annual.py:256-277)
# ---------------------------------------------------------------------------


def grid_snap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core join on a regular grid, generalized.

    xarray's ``sel(lon=…, lat=…, method='nearest')`` against a regular 0.25°
    grid is deterministic arithmetic: snap the probe coordinate to the
    nearest grid multiple on the (small) dimension side, then broadcast
    equi-join — the fact side never shuffles. Here: events carry a 1-D
    "grid" coordinate (value snapped to 25-unit cells); customers are probes
    at c_acctbal/100 (not grid-aligned).
    """
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    fact = e.select(
        "value",
        grid_snap(F.col("value"), 25.0).alias("grid_cell"),
    )
    probes = c.select(
        "c_custkey",
        grid_snap(F.col("c_acctbal") / 100.0, 25.0).alias("grid_cell"),
    )
    # Aggregation pushdown below the join: grid_cell is low-cardinality, so
    # joining raw facts to probes first is a many-to-many blow-up (every
    # probe in a cell × every fact in that cell) that the groupBy then
    # re-collapses. Aggregating the fact per cell FIRST reduces 100 TB of
    # facts to |cells| rows map-side (partial hash agg), and the join
    # becomes broadcast-tiny. Result is identical because each probe's
    # answer depends only on its cell's totals.
    cell_stats = fact.groupBy("grid_cell").agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_round(dsum(F.col("value")), 2).alias("sum_value"),
    )
    return (
        probes.join(F.broadcast(cell_stats), "grid_cell")
        .select("c_custkey", "grid_cell", "n_events", "sum_value")
        .orderBy("c_custkey")
    )


GRID_SNAP_SQL = f"""
SELECT c_custkey, grid_cell,
       count(*) AS n_events,
       round({dsum_sql('value')}, 2) AS sum_value
FROM (SELECT event_id, value, {grid_snap_sql('value', 25.0)} AS grid_cell FROM events) f
JOIN (SELECT c_custkey, {grid_snap_sql('c_acctbal / 100.0', 25.0)} AS grid_cell FROM customer) p
USING (grid_cell)
GROUP BY c_custkey, grid_cell
ORDER BY c_custkey
"""


def nn_join_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General nearest-neighbor fallback for irregular grids: cross-join the
    probe set against the candidate set, rank by distance with a
    deterministic tie-break, keep rank 1 (SURVEY.md §2 J-NN "exact-general
    fallback"). Candidates are broadcast; ranking is per-probe.

    Each customer finds its nearest supplier in acctbal space."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    dist = F.abs(F.col("c_acctbal") - F.col("s_acctbal"))
    # top-1-per-group as a hash aggregate, not a window: aggregating argmin
    # map-side (partial min per partition) instead of shuffling + sorting
    # the full |probes|×|candidates| cross product is the difference
    # between O(n·m) shuffle bytes and O(n) at cluster scale. The
    # (dist, suppkey) lexicographic order is packed into ONE long —
    # acctbals are exact 2-decimal values, so dist·100 is integral and the
    # pack is order-preserving — making the inner loop a primitive
    # long-min instead of per-row struct allocation (min_by(struct)),
    # measured ~3× faster over the 15M-pair stream.
    cents = F.round(dist * 100).cast("long")
    packed = cents * F.lit(10_000_000) + F.col("s_suppkey")
    best = F.min(packed).alias("best")
    # the |probes|×|candidates| blowup parallelizes with the probe side's
    # splits; rebalance the (linear) probe scan so one input file doesn't
    # serialize the whole cross product on a single core
    c = rebalance_for_compute(c)
    return (
        c.crossJoin(F.broadcast(s))
        .groupBy("c_custkey")
        .agg(best)
        .select(
            "c_custkey",
            (F.col("best") % 10_000_000).alias("s_suppkey"),
            (F.expr("best div 10000000").cast("double") / 100.0).alias("dist"),
        )
        .orderBy("c_custkey")
    )


NN_GENERAL_SQL = """
SELECT c_custkey, s_suppkey, round(abs(c_acctbal - s_acctbal), 2) AS dist
FROM (
  SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY abs(c_acctbal - s_acctbal), s_suppkey) AS rn
  FROM customer CROSS JOIN supplier
)
WHERE rn = 1
ORDER BY c_custkey
"""


# max distinct candidate values the sorted-1D path may collect driver-side
SORTED_1D_DIM_CAP = 2_000_000


def nn_join_sorted_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D nearest neighbor, scale path: binary search into the sorted
    candidate set instead of a cross product.

    The candidate dim (deduped to min s_suppkey per distinct value — the
    deterministic tie-break representative) is materialized driver-side —
    the same data movement a broadcast would do — and shipped in the UDF
    closure as two sorted numpy arrays; each Arrow batch of probes runs one
    vectorized ``np.searchsorted``. Per-probe cost is O(log m) with zero
    joins and zero shuffles before the final sort, vs O(m) per probe for
    the cross-product fallback above — at 100 TB of probes this is the
    plan that survives. Results are bit-identical to nn_join_general
    (same float64 arithmetic, same (dist, suppkey) tie-break)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    # the collect is broadcast-equivalent data movement but unbounded by
    # construction — cap it so a mis-sized candidate side fails loudly
    # instead of OOMing the driver (at the cap: ~32 MB of value/key pairs)
    rows = (
        s.groupBy("s_acctbal")
        .agg(F.min("s_suppkey").alias("k"))
        .limit(SORTED_1D_DIM_CAP + 1)
        .collect()
    )
    if len(rows) > SORTED_1D_DIM_CAP:
        raise ValueError(
            f"nn_join_sorted_1d: candidate dim has more than {SORTED_1D_DIM_CAP}"
            " distinct values — too large to ship in a UDF closure; use"
            " nn_join_general (shuffle path) or raise SORTED_1D_DIM_CAP"
        )
    vals = np.array([r["s_acctbal"] for r in rows], dtype=np.float64)
    keys = np.array([r["k"] for r in rows], dtype=np.int64)
    order = np.argsort(vals, kind="stable")
    vals, keys = vals[order], keys[order]

    @F.pandas_udf("s_suppkey long, dist double")
    def nearest(acct: pd.Series) -> pd.DataFrame:
        x = acct.to_numpy(dtype=np.float64)
        idx = np.searchsorted(vals, x)
        li = np.clip(idx - 1, 0, len(vals) - 1)
        ri = np.clip(idx, 0, len(vals) - 1)
        ld, rd = np.abs(x - vals[li]), np.abs(x - vals[ri])
        lk, rk = keys[li], keys[ri]
        left = (ld < rd) | ((ld == rd) & (lk <= rk))
        return pd.DataFrame(
            {
                "s_suppkey": np.where(left, lk, rk),
                "dist": np.where(left, ld, rd),
            }
        )

    return (
        c.select("c_custkey", nearest(F.col("c_acctbal")).alias("nn"))
        .select(
            "c_custkey",
            F.col("nn.s_suppkey").alias("s_suppkey"),
            stable_round(F.col("nn.dist"), 2).alias("dist"),
        )
        .orderBy("c_custkey")
    )


N_SALT = 8


def skew_salt_col() -> F.Column:
    """Deterministic fact-side salt in [0, N_SALT): hash of the tuple-local
    triple so every hot join key spreads across all N_SALT reducers (a
    single low-cardinality column would cap the spread at its own
    cardinality — the anti-pattern this helper exists to avoid)."""
    return F.pmod(
        F.xxhash64("l_linenumber", "l_partkey", "l_suppkey"), F.lit(N_SALT)
    ).cast("int")


def adversarial_skew_frames(spark: SparkSession, n: int = 4_000_000):
    """Synthetic (fact, build) pair with 90% of fact rows on ONE join key
    — the fixture both the structural salting test
    (tests/test_plan_quality.py) and the bench harness's quiesced
    salted-vs-naive wall-clock race (bench.py) are built on. 90% on one
    key gives ~1.6× naive/salted separation on an idle machine."""
    fact = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(1))
        .otherwise(F.pmod(F.col("id"), F.lit(20_000)) + 2)
        .alias("k"),
        F.col("id").alias("v"),
    )
    build = spark.range(20_002).select(
        F.col("id").alias("bk"), (F.col("id") * 3).alias("w")
    )
    return fact, build


def salted_equi_join(
    fact: DataFrame,
    build: DataFrame,
    fact_key: str,
    build_key: str,
    salt_src_cols: tuple[str, ...],
    n_salt: int = N_SALT,
) -> DataFrame:
    """The reusable salting rewrite: fact gets a deterministic salt from
    row-local columns, the build side replicates n_salt×, and the join key
    becomes (key, salt) — a hot key's rows land on n_salt reducers instead
    of one. Result provably identical to the plain equi-join (salt values
    partition the fact; each fact row meets its key's build row exactly
    once, at its own salt). ``salt_src_cols`` must be effectively unique
    per row — a low-cardinality source caps the spread at its own
    cardinality (see skew_salt_col)."""
    fact_s = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*salt_src_cols), F.lit(n_salt)).cast("int"),
    )
    build_s = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    joined = fact_s.join(
        build_s,
        (fact_s[fact_key] == build_s[build_key])
        & (fact_s["__salt"] == build_s["__salt"]),
    )
    return joined.drop(fact_s["__salt"]).drop(build_s["__salt"])


def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated large×large equi-join: lineitem ⋈ orders on orderkey,
    with the fact side salted and the build side replicated N_SALT×.

    When BOTH join sides are too big to broadcast and a handful of keys
    are hot, the plain shuffle join lands every hot-key row on one reducer.
    Salting spreads them: the fact adds salt = pmod(hash(tuple-local col),
    N_SALT), the build side explodes each row against sequence(0, N-1),
    and the join key becomes (orderkey, salt) — hot keys now occupy N_SALT
    reducers. The salt derives from data, not rand(), so the result is
    deterministic and provably identical to the unsalted join — which is
    exactly what the oracle checks (plain JOIN, no salt). It hashes the
    full tuple-local triple (l_linenumber, l_partkey, l_suppkey) — a single
    low-cardinality column (l_linenumber alone has 7 distinct values) would
    cap a hot key's spread at that cardinality no matter how large N_SALT
    is; the triple is effectively unique per row, so a hot orderkey spreads
    across all N_SALT reducers (asserted in test_plan_quality). AQE's
    skewedJoin optimization is the automatic form of the same rewrite; the
    manual form composes with any operator and does not depend on runtime
    stats being fresh. Aggregation after the join keeps the output small."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        salted_equi_join(
            li,
            o.select("o_orderkey", "o_orderpriority"),
            "l_orderkey",
            "o_orderkey",
            ("l_linenumber", "l_partkey", "l_suppkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice")).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


SALTED_JOIN_SQL = f"""
SELECT o_orderpriority, count(*) AS n_items,
       {dsum_sql('l_extendedprice')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


PRICE_BANDS = (
    ("budget", 0.0, 20_000.0),
    ("mid", 20_000.0, 45_000.0),
    ("premium", 45_000.0, 80_000.0),
    ("luxury", 80_000.0, 1e18),
)


def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: fact rows matched to a band dimension on
    lo <= value < hi — the general form of bucketing against arbitrary,
    possibly overlapping intervals (the degenerate non-overlapping case
    could compile to a CASE expression; the join form is what survives
    when intervals come from a table).

    Scale: the band side is tiny and broadcast, so the non-equi predicate
    evaluates as a BroadcastNestedLoopJoin — a pure map over the fact
    stream (each row tests 4 intervals in codegen), no shuffle until the
    band aggregation; the fact stream is rebalanced first so an
    under-split scan doesn't serialize the NL probe (no-op at 100 TB).
    A large×large interval join would instead bucketize both sides to a
    common grid and equi-join on bucket — the same candidates→verify
    shape as grid_snap_join."""
    li = rebalance_for_compute(
        load_table(spark, sf_dir, "lineitem"), keys=('l_extendedprice',)
    )
    bands = spark.createDataFrame(
        list(PRICE_BANDS), schema="band string, lo double, hi double"
    )
    joined = li.join(
        F.broadcast(bands),
        (F.col("l_extendedprice") >= F.col("lo"))
        & (F.col("l_extendedprice") < F.col("hi")),
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            stable_round(davg(F.col("l_extendedprice")), 2).alias("avg_price"),
            stable_round(dsum(F.col("l_quantity")), 2).alias("sum_qty"),
        )
        .orderBy("band")
    )


RANGE_BAND_SQL = f"""
SELECT band, count(*) AS n_items,
       round({davg_sql('l_extendedprice')}, 2) AS avg_price,
       round({dsum_sql('l_quantity')}, 2) AS sum_qty
FROM lineitem
JOIN (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)})
     AS bands(band, lo, hi)
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
ORDER BY band
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue report (TPC-H Q10 shape): customers ranked by
    the revenue they returned in one quarter — customer ⋈ orders(quarter)
    ⋈ lineitem(R-flag) ⋈ nation, 20 top customers.

    Plan shape at scale: the quarter predicate prunes orders at the scan;
    the R-flag predicate prunes lineitem at the scan; nation broadcasts;
    the custkey join agg groups on the customer key — high-cardinality and
    uniform, the healthy shuffle shape. Top-20 is TakeOrdered, no global
    sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    # no rebalance here: the R-flag filter is selective and the downstream
    # per-row work is one decimal multiply — fanning out the survivors
    # costs more than it parallelizes (measured)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            stable_round(F.sum(revenue).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


_Q18_QTY_THRESHOLD = 300


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-customer report (TPC-H Q18 shape): orders whose total
    lineitem quantity exceeds a threshold, with their customers — the
    HAVING-subquery / semi-join-on-aggregate pattern.

    Shape: the big-order set comes from ONE orderkey-keyed lineitem agg
    (map-side combined) filtered on the aggregate — at 100 TB that agg is
    the only corpus-scale shuffle, and its survivor set is tiny and
    selective by construction, so it re-enters as the BROADCAST side of
    the orders join (a runtime-sized semi-join reduction: exactly what
    Spark's AQE + broadcast hint gives for free where the reference class
    would hand-build a filter list). The quantity total rides along from
    the same agg — lineitem is never re-joined."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        rebalance_for_compute(li, keys=("l_orderkey",)).groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty"))
        .filter(F.col("qty") > _Q18_QTY_THRESHOLD)
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > {_Q18_QTY_THRESHOLD}
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(qty AS DOUBLE) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped cross-nation volume: revenue shipped between two
    trading nations in either direction, per (supplier nation, customer
    nation, ship year). The nation dimension joins TWICE under different
    roles — the classic multi-role-dim shape — and the pair predicate is
    a disjunction across both join sides, so it can only apply post-join.

    Plan at scale: both nation roles broadcast (2 rows after the IN-pair
    prune never ship the fact anywhere) and supplier broadcasts; customer
    grows with SF so it joins on the uniform custkey (no hint). The fact
    exchanges are orders ⋈ lineitem on orderkey, the custkey join, and
    the 4-group agg. Revenue sums are exact decimals; the year is the
    only date part."""
    pair = ("NATION_1", "NATION_2")
    li = rebalance_for_compute(
        load_table(spark, sf_dir, "lineitem"), keys=("l_orderkey",)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    )
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer grows with SF: equi-join (broadcasts at fixture scale
        # via AQE only); supplier/nation are the hinted dims
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            stable_round(F.sum(revenue).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, ship_year,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE), 2)
         AS revenue,
       count(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name
)
GROUP BY supp_nation, cust_nation, ship_year
ORDER BY supp_nation, cust_nation, ship_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped national market share: of all ECONOMY-part revenue
    sold to ASIA-region customers, the fraction supplied by NATION_3, per
    order year — the conditional-aggregate-ratio shape (two sums over one
    pass, one a CASE-gated subset of the other).

    Numerics: both sums are exact decimals over identical row sets in
    both engines; the share is ONE double division of those exact sums,
    rounded — bit-stable without interval arithmetic. Part, supplier,
    nation, region broadcast; customer joins on custkey (grows with SF,
    no hint), and orders ⋈ lineitem is the other fact exchange."""
    li = rebalance_for_compute(
        load_table(spark, sf_dir, "lineitem"), keys=("l_orderkey",)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        # customer grows with SF: no broadcast hint (AQE decides locally)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), s.s_nationkey == F.col("sn_key"))
    )
    zero = F.lit(0).cast("decimal(26,6)")
    return (
        base.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", revenue).otherwise(zero)
            ).alias("nation_rev"),
            F.sum(revenue).alias("total_rev"),
        )
        .select(
            "order_year",
            stable_round(
                F.col("nation_rev").cast("double") / F.col("total_rev").cast("double"),
                6,
            ).alias("mkt_share"),
            stable_round(F.col("total_rev").cast("double"), 2).alias("total_rev"),
        )
        .orderBy("order_year")
    )


Q8_SQL = """
SELECT CAST(order_year AS INTEGER) AS order_year,
       round(CAST(nation_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
         AS mkt_share,
       round(CAST(total_rev AS DOUBLE), 2) AS total_rev
FROM (
  SELECT year(o_orderdate) AS order_year,
         sum(CASE WHEN n2.n_name = 'NATION_3'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(1 - l_discount AS DECIMAL(8,4))
                  ELSE CAST(0 AS DECIMAL(26,6)) END) AS nation_rev,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(8,4))) AS total_rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
  GROUP BY year(o_orderdate)
)
ORDER BY order_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped product-type profit per (supplier nation, order
    year). The testdata carries no partsupp table, so supply cost is the
    standard synthetic stand-in 60% of p_retailprice — the SHAPE under
    test is the 5-way star (two broadcast dims on the fact, one orderkey
    exchange) with a two-term decimal measure (revenue minus cost), not
    the cost model.

    profit = l_extendedprice·(1-l_discount) − 0.6·p_retailprice·l_quantity,
    every term exact decimal; the only double is the final rounded sum."""
    li = rebalance_for_compute(
        load_table(spark, sf_dir, "lineitem"), keys=("l_orderkey",)
    )
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)") - F.lit("0.6").cast("decimal(3,1)") * F.col(
        "p_retailprice"
    ).cast("decimal(18,2)") * F.col("l_quantity").cast("decimal(12,2)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(stable_round(F.sum(profit).cast("double"), 2).alias("profit"))
        .orderBy("nation", F.col("order_year").desc())
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS order_year,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(8,4))
                      - CAST(0.6 AS DECIMAL(3,1))
                        * CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'STANDARD'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, order_year DESC
"""


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped supplier promotion screen: suppliers that shipped
    MORE THAN A QUARTER of some PROMO part's total 1997 volume — the
    nested-aggregate correlation shape (per-(part, supplier) quantities
    compared against a re-aggregate of the same frame per part), resolved
    as one semi-join into the supplier dim.

    Comparison is integer-exact after scaling (4·pair > total avoids the
    division); the per-part totals re-aggregate the persisted pair frame
    and join back on partkey — the duplicate_span_profile key discipline.
    Quantities are exact decimals, so both engines agree on every
    threshold decision."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    # keyless: keying this rebalance by the group keys read 0.47 s ->
    # 1.51 s in paired closes, and a 4-pass A/B isolated the keyed
    # exchange as the whole delta (keyed 1.6-1.9 s vs round-robin
    # 0.75-0.80 s, stable). The filtered 1997 slice is a SMALL
    # heavy-downstream frame feeding a persisted multi-consumer aggregate
    # — the row-count rule's round-robin side, like the documents family;
    # q18/q3, where keying won, are single-chain aggregates over the full
    # scan.
    pairs = (
        rebalance_for_compute(li)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("pair_qty"))
        .persist()
    )
    totals = pairs.groupBy("l_partkey").agg(F.sum("pair_qty").alias("part_qty"))
    dominant = (
        pairs.join(totals, "l_partkey")
        .filter(F.col("pair_qty") * 4 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
WITH pairs AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS pair_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
),
totals AS (SELECT l_partkey, sum(pair_qty) AS part_qty FROM pairs GROUP BY l_partkey)
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM pairs JOIN totals USING (l_partkey)
  WHERE pair_qty * 4 > part_qty
)
ORDER BY s_suppkey
"""


def _bucketed_table(
    spark: SparkSession, sf_dir: str, table: str, key: str, n_buckets: int = 8
) -> DataFrame:
    """Materialize ``<sf_dir>/<table>.parquet`` as a bucketed catalog table
    (bucketBy(key) + in-bucket sortBy) and return its scan.

    The table name is keyed by the absolute sf_dir so correctness (sf0.01)
    and bench (sf0.1) runs never share a table. Within a session the write
    happens once (catalog hit); a fresh session re-creates it (the default
    in-memory catalog drops metadata on exit), with mode=overwrite so stale
    warehouse files from a previous process are replaced, never appended.
    """
    token = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    name = f"bkt_{table}_{key}_{n_buckets}_{token}"
    if not spark.catalog.tableExists(name):
        # a previous PROCESS may have left the managed location behind while
        # the (in-memory) catalog forgot the table — Spark then refuses the
        # create (LOCATION_ALREADY_EXISTS); clear the orphan. A persistent
        # metastore deployment never hits this branch: tableExists is true.
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        orphan = os.path.join(warehouse, name.lower())
        if warehouse and os.path.isdir(orphan):
            shutil.rmtree(orphan)
        (
            load_table(spark, sf_dir, table)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    return spark.table(name)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (schema-adapted: no partsupp in the testdata, so
    the observed per-(part, supplier) minimum line price plays
    ps_supplycost): for PROMO parts under size 15, find each part's
    cheapest ASIA supplier(s) — the correlated-min-subquery pattern
    resolved as aggregate + join-back, exactly the ``q20`` recipe.

    Shape: part and the supplier⋈nation⋈region chain broadcast into the
    fact; one (part, supp) agg; the per-part min re-aggregates the
    persisted frame and joins back on the partkey (at scale both sides
    are part-cardinality — the keyed shuffle join is the plan, as in
    q20); supplier attributes re-attach by broadcast. Costs are exact
    decimal mins, so the min-cost tie set replays identically in the
    oracle."""
    # keyless (see q20 — same persisted-multi-consumer-agg shape;
    # close-to-close read 0.476 -> 0.677 when keyed)
    li = rebalance_for_compute(load_table(spark, sf_dir, "lineitem"))
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") < 15)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sdim = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sdim), li.l_suppkey == sdim.s_suppkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("cost")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mn = cost.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("cost").alias("mcost")
    )
    win = cost.join(
        mn, (cost.l_partkey == mn.mk) & (cost.cost == mn.mcost)
    ).select("l_partkey", "l_suppkey", "cost")
    return (
        win.join(F.broadcast(sdim), win.l_suppkey == sdim.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            F.col("cost").cast("double").alias("min_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH sdim AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
cost AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN sdim ON l_suppkey = s_suppkey
  WHERE p_type = 'PROMO' AND p_size < 15
  GROUP BY l_partkey, l_suppkey
),
mn AS (SELECT l_partkey AS mk, min(cost) AS mcost FROM cost GROUP BY l_partkey)
SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
       CAST(cost AS DOUBLE) AS min_cost
FROM cost
JOIN mn ON l_partkey = mk AND cost = mcost
JOIN sdim ON l_suppkey = s_suppkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (schema-adapted: observed line value
    extendedprice·quantity plays supplycost·availqty): the parts whose
    value supplied from the top supplier nation exceeds 2× the mean
    per-part value — the scalar-subquery-threshold pattern over a
    grouped aggregate. Two parameters are made data-driven so the
    report is non-empty at every SF: the nation (Q11's literal nation
    would not exist at tiny SFs) and the threshold (Q11's fixed
    fraction is scale-DEpendent — at 10× the parts each share shrinks
    10× and the report empties; cutting against the mean keeps the
    "disproportionately valuable parts" semantics everywhere).

    Shape: supplier⋈nation dim broadcast into the fact, one partkey agg
    (exact decimal value), the grand total re-aggregates the persisted
    frame and broadcasts back as a 1-row scalar; the threshold compares
    the SAME double expression shape in both engines. Output order is
    value-desc with the partkey tiebreak."""
    # keyless (see q20 — same persisted-multi-consumer-agg shape; keyed
    # measured 0.93-1.09 s vs keyless 0.55 s over 4 passes)
    li = rebalance_for_compute(load_table(spark, sf_dir, "lineitem"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    # Q11's nation parameter, made data-driven so the report is non-empty
    # at every SF: the nation with the most suppliers (name tiebreak)
    top_nation = (
        sn.groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "n_name")
        .limit(1)
        .select("n_name")
    )
    sdim = sn.join(F.broadcast(top_nation), "n_name").select("s_suppkey")
    value = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_quantity"
    ).cast("decimal(10,0)")
    v = (
        li.join(F.broadcast(sdim), li.l_suppkey == sdim.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("val"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = v.agg(
        F.sum("val").alias("total"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(
            F.col("val").cast("double") * F.col("n_parts")
            > F.col("total").cast("double") * 2
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("val").cast("double").alias("stock_value"),
        )
        .orderBy(F.desc("stock_value"), "p_partkey")
    )


Q11_SQL = """
WITH top_nation AS (
  SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name ORDER BY count(*) DESC, n_name LIMIT 1
),
v AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(10,0))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = (SELECT n_name FROM top_nation)
  GROUP BY l_partkey
),
tot AS (SELECT sum(val) AS total, count(*) AS n_parts FROM v)
SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS stock_value
FROM v, tot
WHERE CAST(val AS DOUBLE) * n_parts > CAST(total AS DOUBLE) * 2
ORDER BY stock_value DESC, p_partkey
"""


def _year_partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders materialized as a year-partitioned parquet layout (the
    ``partitionBy`` storage pattern every 100 TB fact table uses — same
    layout the ingest boundaries write), cached per sf_dir like the
    bucketed tables."""
    token = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path or "."
    path = os.path.join(warehouse, f"part_orders_year_{token}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(path)
        )
    return spark.read.parquet(path)


# static era dim covering the TPC-H-ish date span; the filtered slice is
# what dynamic partition pruning turns into a runtime partition filter
_ERA_YEARS = tuple(range(1992, 2002))
_MODERN_FROM = 1999


def dpp_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the runtime counterpart of static
    partition pruning, and (with bucketing) the second storage-level
    technique a 100 TB fact layout exists for. orders lives year-
    partitioned on disk; the era dimension is filtered at runtime, and
    Catalyst injects the broadcast's year set into the fact scan's
    PartitionFilters (``dynamicpruningexpression``) — so the scan reads
    ONLY the matching year directories even though the matching years are
    not known until the dim is evaluated. The plan contract (DPP actually
    firing) is pinned in test_plan_quality.test_dpp_partition_filter.

    Reference analog: the year-chunked file loop in
    process_climate_amazon_annual.py:58-62 — its manual "open only the
    years I need" becomes a runtime property of the storage layout."""
    fact = _year_partitioned_orders(spark, sf_dir)
    era = spark.createDataFrame(
        [(y, "modern" if y >= _MODERN_FROM else "classic") for y in _ERA_YEARS],
        "yr int, era string",
    )
    return (
        fact.join(F.broadcast(era.filter(F.col("era") == "modern")),
                  fact.o_year == F.col("yr"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


DPP_JOIN_SQL = f"""
SELECT o_orderpriority,
       count(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders
WHERE year(o_orderdate) >= {_MODERN_FROM}
  AND year(o_orderdate) <= {max(_ERA_YEARS)}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level runtime filtering: the third runtime-pruning lever
    next to DPP (``dpp_pruned_join``) and storage co-location
    (``bucketed_join_revenue``). A selective filter on the part dim joins
    the fact on ``l_partkey`` — NOT a partition key, so DPP cannot prune —
    and Catalyst's InjectRuntimeFilter builds a bloom filter from the
    filtered dim's join keys and pushes ``might_contain(xxhash64(
    l_partkey))`` beneath the fact side's exchange: non-matching fact rows
    drop BEFORE the join shuffle instead of riding it. At 100 TB this is
    the difference between shuffling the whole lineitem scan and shuffling
    the ~fraction that survives the dim filter. The plan contract (bloom
    actually injected and applied) is pinned in
    test_plan_quality.test_bloom_filter_pruning.

    Session posture: runs on a cloned session (``newSession`` — shared
    context, ISOLATED SQLConf, so nothing leaks into the caller's other
    queries): broadcast is disabled to model the production case the bloom
    exists for (a dim too large to broadcast but still selective — at
    fixture scale everything would broadcast and the bloom would be moot),
    and the application-side scan threshold drops to 0 because the 10 GB
    default assumes real fact sizes. The shuffle equi-join IS the correct
    100 TB plan for that case (see _SMJ_EXEMPT)."""
    s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    part = (
        load_table(s, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_brand")
    )
    li = load_table(s, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


BLOOM_JOIN_SQL = f"""
SELECT p_brand,
       count(*) AS n_items,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 5
GROUP BY p_brand
ORDER BY p_brand
"""


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located join: the write-once / join-free-forever pattern
    for the case J3's broadcast posture can't cover — BOTH join sides are
    fact-scale (orders and customer grow with SF; reference analog is the
    repeated municipality⋈series joins, process_climate_amazon_annual.py:
    464-467, which re-pay the match every run).

    orders and customer are persisted bucketed on their custkey with the
    same bucket count, so the equi-join consumes the on-disk hash
    distribution directly: the sort-merge join here has NO exchange on
    either input — at 100 TB the shuffle is paid once at ingest, then every
    subsequent join of these tables is exchange-free. The merge hint pins
    the bucketed SMJ even where fixture-scale stats would broadcast (a
    broadcast would hide exactly the plan this query certifies); the only
    exchange in the whole plan is the final segment aggregation.
    """
    o = _bucketed_table(spark, sf_dir, "orders", "o_custkey")
    c = _bucketed_table(spark, sf_dir, "customer", "c_custkey")
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("segment_revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


BUCKETED_JOIN_SQL = f"""
SELECT c_mktsegment,
       count(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS segment_revenue,
       count(DISTINCT c_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Bounded edit-distance fuzzy join (entity resolution)
# --------------------------------------------------------------------------

_FUZZY_K = 1  # Levenshtein bound


def _delete_variants(name) -> "F.Column":
    """The symmetric-delete (SymSpell) 1-neighborhood of a string: the
    string itself plus every single-character deletion, distinct. Two
    strings within Levenshtein distance 1 ALWAYS share a variant —
    substitution at i: both i-deletions equal; insertion: the shorter
    string is a deletion of the longer and a member of its own
    neighborhood — so the variant equi-join is a LOSSLESS candidate
    generator and the exact ``levenshtein`` post-filter only removes
    false positives. O(len) emission per row."""
    big = 1 << 30
    return F.array_distinct(
        F.concat(
            F.array(name),
            F.transform(
                F.sequence(F.lit(1), F.length(name)),
                lambda i: F.concat(
                    F.substring(name, 1, i - 1), F.substring(name, i + 1, big)
                ),
            ),
        )
    )


def fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution self-join: customer-name pairs within Levenshtein
    distance ≤ 1 — the bounded edit-distance fuzzy join, the remaining
    classic join shape Spark lacks natively next to as-of
    (events.asof_join_events) and time-range (events.range_join_events).

    Same bucket-then-exact-predicate pattern as the range join: candidates
    come from an EQUI-join on symmetric-delete variants (never a
    cartesian/BNLJ — asserted in test_plan_quality), then the exact
    ``levenshtein() <= k`` predicate verifies. The variant key is
    near-uniform (a bucket holds the ≤ ~(10·len) strings one edit from a
    common ancestor), so the shuffle partitions cleanly at 100 TB and the
    candidate volume is output-bound, not |rows|² — measured at sf0.1:
    15k names → 956k distinct candidates vs 262k true ≤1-distance pairs
    (3.6:1; all-pairs would be 112M), largest variant bucket 38 members. The oracle is the
    naive theta-join form — the ground truth the banding must reproduce
    exactly (the lossless-neighborhood argument above, in test form)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # fan the variant explode out before it runs: sequence+transform
    # lambdas evaluate interpreted (no codegen), and a single-row-group
    # scan otherwise serializes the whole O(rows·len) neighborhood build
    # on one core (measured 3.4 s of the query's 4.6 s wall at sf0.1;
    # 1.5 s with the fan-out). Both self-join sides read the one spread
    # exchange either way; keyed, its c_custkey partitioning also carries
    # through the broadcast join and spares the candidates' distinct an
    # exchange of its own (plans/fuzzy_join_keys/).
    v = rebalance_for_compute(c, keys=("c_custkey",)).select(
        "c_custkey",
        "c_name",
        F.explode(_delete_variants(F.col("c_name"))).alias("variant"),
    )
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(b, (F.col("a.variant") == F.col("b.variant")))
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_custkey").alias("cust_b"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= _FUZZY_K)
        .select("cust_a", "cust_b", "name_a", "name_b", "distance")
        .orderBy("cust_a", "cust_b")
    )


FUZZY_JOIN_SQL = f"""
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       a.c_name AS name_a, b.c_name AS name_b,
       levenshtein(a.c_name, b.c_name) AS distance
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {_FUZZY_K}
ORDER BY cust_a, cust_b
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_stock": q11_important_stock,
    "dpp_pruned_join": dpp_pruned_join,
    "bloom_pruned_join": bloom_pruned_join,
    "bucketed_join_revenue": bucketed_join_revenue,
    "q10_returned_items": q10_returned_items,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q20_dominant_suppliers": q20_dominant_suppliers,
    "q18_large_volume_customers": q18_large_volume_customers,
    "range_band_join": range_band_join,
    "join_enrich_revenue": join_enrich_revenue,
    "salted_skew_join": salted_skew_join,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_supplier_volume": q5_supplier_volume,
    "semi_join_customers": semi_join_customers,
    "anti_join_customers": anti_join_customers,
    "grid_snap_join": grid_snap_join,
    "nn_join_general": nn_join_general,
    "nn_join_sorted_1d": nn_join_sorted_1d,
    "fuzzy_join_names": fuzzy_join_names,
}

ORACLE = {
    "q2_min_cost_supplier": Q2_SQL,
    "q11_important_stock": Q11_SQL,
    "dpp_pruned_join": DPP_JOIN_SQL,
    "bloom_pruned_join": BLOOM_JOIN_SQL,
    "bucketed_join_revenue": BUCKETED_JOIN_SQL,
    "q10_returned_items": Q10_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q20_dominant_suppliers": Q20_SQL,
    "q18_large_volume_customers": Q18_SQL,
    "range_band_join": RANGE_BAND_SQL,
    "join_enrich_revenue": JOIN_ENRICH_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_supplier_volume": Q5_SQL,
    "semi_join_customers": SEMI_SQL,
    "anti_join_customers": ANTI_SQL,
    "grid_snap_join": GRID_SNAP_SQL,
    "nn_join_general": NN_GENERAL_SQL,
    "nn_join_sorted_1d": NN_GENERAL_SQL,
    "salted_skew_join": SALTED_JOIN_SQL,
    "fuzzy_join_names": FUZZY_JOIN_SQL,
}
