"""Event-stream analytics over ``events`` (SURVEY.md §7 phase 4).

The reference is pure batch (§2.9); these operators define the engine's
time-windowing surface with *batch-checkable* semantics — each has a DuckDB
oracle.

Scale: window aggregation shuffles on (window, key) — bounded keyspace;
sessionization shuffles on user_id once and sorts within partitions
(window functions), the same shape Spark's native session_window lowers to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_climate_data_etl_spark.catalog import load_table
from amazon_climate_data_etl_spark.operators._portable import dsum_sql, stable_round

SESSION_GAP_MIN = 30


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type (F.window, the Structured
    Streaming windowing primitive, run in batch)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


TUMBLING_SQL = f"""
SELECT date_trunc('hour', ts) AS win_start, event_type,
       count(*) AS n_events,
       round({dsum_sql('value')}, 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY win_start, event_type
"""


def sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
        .orderBy("win_start")
    )


# oracle: explode the 4 slide offsets per event; window start =
# floor(epoch/900)*900 - k*900 (epoch-aligned like Spark's window())
SLIDING_SQL = """
WITH exploded AS (
  SELECT e.event_id,
         to_timestamp((CAST(floor(epoch(e.ts) / 900) AS BIGINT) - k.k) * 900)
           AT TIME ZONE 'UTC' AS win_start
  FROM events e, (SELECT unnest([0, 1, 2, 3]) AS k) k
)
SELECT CAST(win_start AS TIMESTAMP) AS win_start, count(*) AS n_events
FROM exploded
GROUP BY 1
ORDER BY win_start
"""


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) per user:
    lag → new-session flag → running sum = session id; then per-session
    bounds/counts. This is the composable form of
    ``F.session_window`` with oracle parity."""
    e = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_order)
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_MIN * 60), F.lit(1)
    ).otherwise(F.lit(0))
    w_run = w_order.rowsBetween(Window.unboundedPreceding, 0)
    return (
        e.withColumn("new_s", new_session)
        .withColumn("session_id", F.sum("new_s").over(w_run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


SESSION_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def event_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the earliest event per (user_id, event_type) — deterministic
    ``dropDuplicates`` (plain dropDuplicates keeps an arbitrary row, so
    rank explicitly)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    )


EVENT_DEDUP_SQL = """
SELECT user_id, event_type, event_id, ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id, event_type
"""


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parsing of the props column (semi-structured payloads):
    extract $.k, bucket it, aggregate."""
    e = load_table(spark, sf_dir, "events")
    # try_cast: ANSI mode (Spark 4 default) makes plain CAST throw on
    # non-numeric payloads like {"k": "abc"}; the contract is NULL
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            stable_round(
                F.sum(F.col("k").cast("decimal(18,0)")).cast("double") / F.count("k"),
                2,
            ).alias("k_avg"),
        )
        .orderBy("event_type")
    )


# json_valid + TRY_CAST mirror Spark's defensive semantics: get_json_object
# returns NULL on malformed JSON and CAST(string AS INT) returns NULL on
# non-numeric strings (ANSI off) — DuckDB would raise on both without the
# guards. Identical results on well-formed numeric payloads.
JSON_PROPS_SQL = """
SELECT event_type,
       count(k) AS n_with_k, min(k) AS k_min, max(k) AS k_max,
       round(CAST(sum(CAST(k AS DECIMAL(18,0))) AS DOUBLE) / count(k), 2) AS k_avg
FROM (SELECT event_type,
             TRY_CAST(CASE WHEN json_valid(props)
                           THEN json_extract_string(props, '$.k') END AS INT) AS k
      FROM events)
GROUP BY event_type
ORDER BY event_type
"""


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional AS-OF join (an operator Spark lacks natively; pandas
    merge_asof / kdb aj / QuestDB ASOF JOIN semantics), both directions
    in one frame (r9 registry merge of ``asof_join_purchases`` +
    ``asof_join_forward`` — both operator shapes and column families
    preserved under one oracle):

    - ``direction = 'backward'``: for each purchase, the user's most
      recent click at or before it (``matched_ts``; ``gap_us`` ≥ 0) —
      merge_asof's default direction;
    - ``direction = 'forward'``: for each click, the user's NEXT purchase
      at or after it — the attribution-window direction
      (``merge_asof direction='forward'``).

    Implemented as the sort-based union form: both sides interleave in
    one stream ordered by (ts, side, id) within each user — clicks
    before purchases at equal ts, which serves BOTH directions: the
    same-ts click is inside the purchase row's PRECEDING frame
    (at-or-before tie) and the same-ts purchase is inside the click
    row's FOLLOWING frame (at-or-after tie; ordering purchases first
    would push an equal-ts purchase BEFORE the click row and silently
    drop the tie — the r9 advice bug). A running ``last(click_ts,
    ignorenulls)`` window carries the most recent click forward onto
    purchase rows, and a ``first(purchase_ts, ignorenulls)`` over the
    FOLLOWING frame carries the next purchase backward onto click rows.
    One shuffle on the join key (the two frames share one window sort),
    no range-correlated subquery, no per-key blow-up — the plan a
    dedicated as-of join operator would produce, expressed with stock
    exchanges. At 100 TB both sides stream through a single sort-merge
    pass per key partition; skewed users split fine because the window
    state is one value."""
    e = load_table(spark, sf_dir, "events")
    sub = e.filter(F.col("event_type").isin("click", "purchase"))
    # clicks sort before purchases at equal ts — one ordering, two frames
    side = F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1))
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), side, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), side, F.col("event_id"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    ann = sub.withColumn(
        "last_click_ts", F.last(click_ts, ignorenulls=True).over(wb)
    ).withColumn(
        "next_purchase_ts", F.first(purchase_ts, ignorenulls=True).over(wf)
    )
    backward = ann.filter(F.col("event_type") == "purchase").select(
        F.lit("backward").alias("direction"),
        "event_id",
        "user_id",
        "ts",
        F.col("last_click_ts").alias("matched_ts"),
        (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias("gap_us"),
    )
    forward = ann.filter(F.col("event_type") == "click").select(
        F.lit("forward").alias("direction"),
        "event_id",
        "user_id",
        "ts",
        F.col("next_purchase_ts").alias("matched_ts"),
        (F.unix_micros("next_purchase_ts") - F.unix_micros("ts")).alias("gap_us"),
    )
    return backward.unionByName(forward).orderBy("direction", "event_id")


ASOF_SQL = """
WITH sub AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
  FROM events WHERE event_type IN ('click', 'purchase')
),
j AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_click_ts,
         first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_purchase_ts
  FROM sub
)
SELECT 'backward' AS direction, event_id, user_id, ts,
       last_click_ts AS matched_ts,
       epoch_us(ts) - epoch_us(last_click_ts) AS gap_us
FROM j WHERE event_type = 'purchase'
UNION ALL
SELECT 'forward' AS direction, event_id, user_id, ts,
       next_purchase_ts AS matched_ts,
       epoch_us(next_purchase_ts) - epoch_us(ts) AS gap_us
FROM j WHERE event_type = 'click'
ORDER BY direction, event_id
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: per-day event counts, one column per event type
    (the inverse of the reference's 7-way series assembly J2 — there the
    wide frame is built from per-variable series; here from a long stream).

    The pivot VALUES are passed explicitly: without them Spark runs an
    extra distinct-collection job over the whole fact to discover the
    column set — at 100 TB that is a full scan spent inferring what the
    schema should have declared."""
    e = load_table(spark, sf_dir, "events")
    # day is emitted as midnight TIMESTAMP, not DATE: Spark DateType crosses
    # Arrow as python ``date`` objects (pandas dtype=object) while DuckDB's
    # DATE materializes as datetime64 — a representation gap the value-hash
    # correctness gate would flag even at equal values. TIMESTAMP is the one
    # type both engines round-trip identically.
    pivoted = (
        e.groupBy(F.to_date("ts").cast("timestamp").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .orderBy("day")
    )
    # pivot leaves NULL where a (day, type) cell had no rows; a count is 0
    return pivoted.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


PIVOT_SQL = f"""
SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
       {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
FROM events
GROUP BY 1
ORDER BY day
"""


def user_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (signup → click → purchase): per-stage user
    counts where each stage's FIRST occurrence follows the previous
    stage's first occurrence — the product-analytics query every event
    pipeline answers.

    Shape: one hash agg keyed by user_id turns each user's history into
    three first-occurrence timestamps (conditional min — map-side
    combinable, so the shuffle carries 3 timestamps per user per
    partition, never the event stream), then a single global agg counts
    stage completions. Two shuffles total, second over one row per user;
    no self-joins, no windows — at 100 TB the user-keyed agg is the only
    real cost and it partitions cleanly."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    reached_click = F.col("t_click") > F.col("t_signup")
    reached_purchase = reached_click & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(reached_click, F.lit(1))).alias("n_signup_click"),
        F.count(F.when(reached_purchase, F.lit(1))).alias("n_full_funnel"),
    )


FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'signup') AS t_signup,
         min(ts) FILTER (WHERE event_type = 'click') AS t_click,
         min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_signup) AS n_signup,
       count(CASE WHEN t_click > t_signup THEN 1 END) AS n_signup_click,
       count(CASE WHEN t_click > t_signup AND t_purchase > t_click THEN 1 END)
         AS n_full_funnel
FROM per_user
"""


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by the week of their
    first event; for each (cohort, week-offset) cell, how many cohort
    members were active that week and what fraction of the cohort that is.

    Shape: the event stream collapses to DISTINCT (user, week) — a hash
    agg whose shuffle carries at most one row per user-week, not the
    stream; the per-user first week is a second agg on the SAME user key
    (co-partitioned, no extra exchange under AQE); the cohort join is
    user-keyed and the final matrix agg is over a tiny (cohort, offset)
    keyspace. No windows, no self-join over events — at 100 TB the only
    real cost is the first user-week dedup and it partitions cleanly."""
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    j = uw.join(first, "user_id")
    offset = F.floor(F.datediff(F.col("wk"), F.col("cohort_wk")) / 7).cast("int")
    active = j.groupBy(
        F.col("cohort_wk"), offset.alias("week_offset")
    ).agg(F.count(F.lit(1)).alias("n_active"))
    sizes = first.groupBy("cohort_wk").agg(F.count(F.lit(1)).alias("cohort_size"))
    rate = F.col("n_active").cast("double") / F.col("cohort_size")
    return (
        active.join(sizes, "cohort_wk")
        .select(
            F.to_date("cohort_wk").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            stable_round(rate, 4).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


RETENTION_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
first AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id),
j AS (
  SELECT uw.user_id, uw.wk, f.cohort_wk
  FROM uw JOIN first f ON uw.user_id = f.user_id
),
active AS (
  SELECT cohort_wk, CAST(date_diff('day', cohort_wk, wk) // 7 AS INT)
           AS week_offset, count(*) AS n_active
  FROM j GROUP BY 1, 2
),
sizes AS (SELECT cohort_wk, count(*) AS cohort_size FROM first GROUP BY 1)
SELECT CAST(a.cohort_wk AS DATE) AS cohort_week, a.week_offset,
       a.n_active, s.cohort_size,
       round(CAST(a.n_active AS DOUBLE) / s.cohort_size, 4) AS retention
FROM active a JOIN sizes s ON a.cohort_wk = s.cohort_wk
ORDER BY cohort_week, week_offset
"""




def daily_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: per event type, flag days whose event
    count sits more than 2 sigma from that type's mean daily count — the
    monitoring primitive every event pipeline runs over its ingest rates.

    Portability: counts are integers; mean and population-sigma derive
    from exact integer sums (Σn, Σn²), so the z-score is one
    deterministic double expression in both engines, rounded to 6 dp
    BEFORE the 2.0 threshold so a boundary value cannot flip membership
    cross-engine. Shape: one (type, day) count agg, a tiny per-type
    moment agg broadcast back, map-only z/flag, sort."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    moments = daily.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - mean * mean
    z = stable_round(
        (F.col("n").cast("double") - mean) / F.sqrt(var), 6
    )
    return (
        daily.join(
            F.broadcast(moments), F.col("event_type") == F.col("et")
        )
        .filter(F.col("s2") * F.col("n_days") != F.col("s1") * F.col("s1"))
        .select(
            "event_type",
            F.col("day").cast("timestamp").alias("day"),
            "n",
            z.alias("z_score"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


DAILY_ANOMALY_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
moments AS (
  SELECT event_type AS et, count(*) AS n_days,
         sum(n) AS s1, sum(n * n) AS s2
  FROM daily GROUP BY event_type
),
scored AS (
  SELECT event_type, day, n,
         round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / n_days)
               / sqrt(CAST(s2 AS DOUBLE) / n_days
                      - (CAST(s1 AS DOUBLE) / n_days)
                        * (CAST(s1 AS DOUBLE) / n_days)), 6) AS z_score
  FROM daily JOIN moments ON event_type = et
  WHERE s2 * n_days <> s1 * s1
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, n, z_score,
       abs(z_score) > 2.0 AS is_anomaly
FROM scored
ORDER BY event_type, day
"""




RANGE_W_US = 300_000_000  # 5-minute attribution window, in microseconds


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE join (another operator Spark lacks natively): for each
    error event, the same user's clicks in the preceding 5 minutes —
    count and nearest gap — the error-attribution / burst-correlation
    primitive (kdb wj, QuestDB/ClickHouse range joins).

    Expressed as a BUCKETED equi-join, not the naive theta join: a plain
    ``ON a.user = b.user AND b.ts BETWEEN a.ts - W AND a.ts`` gives
    Catalyst only the user_id equi-key, so every hot user becomes a
    per-key cross product (and with no equi-key at all it plans a
    broadcast-nested-loop — O(|err|·|clk|)). Here each click lands in
    its W-second time bucket AND the next one (any error in [tc, tc+W]
    lies in one of those two), the join key is (user_id, bucket), and
    the exact window predicate filters after the join. Each (click,
    error) pair meets in exactly ONE bucket (the error's own), so no
    dedup pass is needed. At 100 TB the shuffle key is
    (user × time-bucket) — a hot user's traffic spreads across time, so
    per-key fan-out is bounded by single-bucket occupancy, never by a
    user's history. Integer microsecond arithmetic end-to-end (``div``
    = floor division on positives in both engines)."""
    e = load_table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("te")
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("tc")
    )
    bc = F.expr(f"tc div {RANGE_W_US}")
    clk_b = clk.select("user_id", "tc", bc.alias("bucket")).unionByName(
        clk.select("user_id", "tc", (bc + 1).alias("bucket"))
    )
    err_b = err.withColumn("bucket", F.expr(f"te div {RANGE_W_US}"))
    gap = F.col("te") - F.col("tc")
    matched = (
        err_b.join(clk_b, ["user_id", "bucket"])
        .filter((gap >= 0) & (gap <= RANGE_W_US))
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks_5m"),
            F.min(gap).alias("min_gap_us"),
        )
    )
    return (
        err.join(matched, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n_clicks_5m"), F.lit(0).cast("long")).alias(
                "n_clicks_5m"
            ),
            "min_gap_us",
        )
        .orderBy("event_id")
    )


# oracle: the naive non-equi form IS the semantic ground truth the
# bucketed plan must reproduce exactly
RANGE_JOIN_SQL = f"""
WITH err AS (
  SELECT event_id, user_id, epoch_us(ts) AS te
  FROM events WHERE event_type = 'error'
),
clk AS (
  SELECT user_id, epoch_us(ts) AS tc
  FROM events WHERE event_type = 'click'
),
m AS (
  SELECT err.event_id,
         count(*) AS n_clicks_5m,
         min(te - tc) AS min_gap_us
  FROM err JOIN clk
    ON err.user_id = clk.user_id
   AND te - tc BETWEEN 0 AND {RANGE_W_US}
  GROUP BY err.event_id
)
SELECT e.event_id, e.user_id,
       COALESCE(m.n_clicks_5m, 0) AS n_clicks_5m,
       m.min_gap_us
FROM err e LEFT JOIN m ON e.event_id = m.event_id
ORDER BY e.event_id
"""


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: each user's LATEST event — the
    dedup-to-current-row primitive every change-data-capture / SCD-1
    pipeline runs to materialize "current state" from an append log.

    Deterministic winner: max (ts, event_id) struct per user — max_by
    with a total-order tie-break, one map-side-combined agg (no window
    sort over the whole log, which is the naive row_number form's cost).
    At 100 TB this is the standard log→snapshot compaction: one shuffle
    on the key, state one row per key."""
    e = load_table(spark, sf_dir, "events")
    packed = F.struct(
        F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value")
    )
    return (
        e.groupBy("user_id")
        .agg(F.max(packed).alias("m"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("m.ts").alias("ts"),
            F.col("m.event_id").alias("event_id"),
            F.col("m.event_type").alias("event_type"),
            F.col("m.value").alias("value"),
            "n_events",
        )
        .orderBy("user_id")
    )


def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival statistics: the time gaps between a user's
    CONSECUTIVE events of the same type — the rate/burstiness profile
    (alert tuning, bot detection, watermark sizing) that complements the
    transition matrix's what-comes-next view.

    Portability: gaps are exact integer MICROSECONDS (unix_micros /
    epoch_us — the fixture timestamps carry sub-second components, so
    second-truncating diffs would be engine-trap territory) over the
    unique (ts, event_id) per-(user, type) order; count / min / max /
    exact-decimal mean are order-independent; the mean converts to
    seconds in one mirrored double expression, rounded to 2 dp. Shape:
    one (user, type)-keyed lag window + one per-type agg (map-side
    combined), sort."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = (
        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    ).alias("gap_us")
    gaps = e.select("event_type", gap).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            stable_round(
                F.sum(F.col("gap_us").cast("decimal(24,0)")).cast("double")
                / F.count(F.lit(1))
                / 1e6,
                2,
            ).alias("mean_gap_s"),
        )
        .orderBy("event_type")
    )


EVENT_INTERARRIVAL_SQL = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT event_type,
       count(*) AS n_gaps,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       round(CAST(sum(CAST(gap_us AS DECIMAL(24,0))) AS DOUBLE) / count(*)
             / 1e6, 2) AS mean_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: for each ordered pair of
    event types, how often does the second DIRECTLY follow the first in a
    user's stream, and with what row-normalized probability — the Markov
    view of user behavior under session mining and next-action modeling.

    Determinism: successor pairs come from one per-user lead() window
    with the unique (ts, event_id) order; counts are exact and the
    probability is one count ratio rounded to 6 dp. Shape: one user-keyed
    window exchange, one pair agg (map-side combined), a |types|-row
    margin broadcast back, sort."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select("event_type", F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
    )
    c = trans.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    margin = c.groupBy(F.col("event_type").alias("et")).agg(
        F.sum("n").alias("row_n")
    )
    return (
        c.join(F.broadcast(margin), c.event_type == margin.et)
        .select(
            "event_type",
            "next_type",
            "n",
            stable_round(F.col("n").cast("double") / F.col("row_n"), 6).alias(
                "p_next"
            ),
        )
        .orderBy("event_type", "next_type")
    )


EVENT_TRANSITION_SQL = """
WITH trans AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM trans WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
margin AS (SELECT event_type AS et, CAST(sum(n) AS BIGINT) AS row_n
           FROM c GROUP BY event_type)
SELECT event_type, next_type, n,
       round(CAST(n AS DOUBLE) / row_n, 6) AS p_next
FROM c JOIN margin ON event_type = et
ORDER BY event_type, next_type
"""


def event_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend: closed-form least-squares slope/intercept of
    event value over time — the drift-detection primitive (is a metric
    creeping up?) and the regression member of the aggregate family.

    Portability: the regression is computed from EXACT decimal moments —
    x is the integer day index (kept decimal(10,0)-narrow so the x·y
    product obeys DuckDB's p1+p2 ≤ 38 multiply rule), y goes through the
    exact-decimal cast, so Σx, Σx², Σy, Σxy are order-independent exact
    decimals; slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) then runs as ONE
    double expression of identical shape in both engines (no per-row
    float accumulation anywhere). Shape: one map-side-combined agg to 5
    moments per type, map-only arithmetic, sort; constant-x groups are
    excluded by the exact min(x) = max(x) guard, never the cancellable
    double denominator."""
    e = load_table(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).cast("long")
    # y through the exact-decimal cast; x kept NARROW (decimal(10,0)) so
    # the x·y cross-product stays inside DuckDB's p1+p2 <= 38 multiply
    # rule — the sums are exact decimals, and only the final closed-form
    # arithmetic runs in double (identical expression shape both engines)
    y = F.col("value").cast("decimal(18,6)")
    base = e.select(
        "event_type", x.alias("x"), x.cast("decimal(10,0)").alias("xd"), y.alias("y")
    )
    # x-moment sums widen to decimal BEFORE aggregation: a LongType sum
    # wraps silently past 2^63 at extreme row counts while DuckDB's
    # sum(BIGINT) promotes to HUGEINT — the same cross-engine divergence
    # the covariance matrix guards against
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("xd") * F.col("y")).alias("sxy"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
    )
    n_d = F.col("n_events").cast("double")
    sx_d, sxx_d = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy_d, sxy_d = F.col("sy").cast("double"), F.col("sxy").cast("double")
    den = n_d * sxx_d - sx_d * sx_d
    slope = stable_round((n_d * sxy_d - sx_d * sy_d) / den, 8)
    intercept = stable_round((sy_d * sxx_d - sx_d * sxy_d) / den, 8)
    return (
        # degenerate guard on EXACT integers (x variance is zero iff the
        # group's day index is constant), never the cancellable double den
        s.filter(F.col("x_min") != F.col("x_max"))
        .select(
            "event_type",
            "n_events",
            slope.alias("slope_per_day"),
            intercept.alias("intercept"),
        )
        .orderBy("event_type")
    )


EVENT_TREND_SQL = """
WITH b AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DECIMAL(10,0)) AS xd,
         CAST(value AS DECIMAL(18,6)) AS y
  FROM events
),
s AS (
  SELECT event_type, count(*) AS n_events,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         sum(y) AS sy,
         sum(xd * y) AS sxy,
         min(x) AS x_min,
         max(x) AS x_max
  FROM b GROUP BY event_type
)
SELECT event_type, n_events,
       round((CAST(n_events AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 8) AS slope_per_day,
       round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
             / (CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 8) AS intercept
FROM s
WHERE x_min <> x_max
ORDER BY event_type
"""


LATEST_EVENT_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id, ts, event_id, event_type, value, n_events
FROM ranked WHERE rn = 1
ORDER BY user_id
"""


QUERIES = {
    "asof_join_events": asof_join_events,
    "range_join_events": range_join_events,
    "latest_event_per_user": latest_event_per_user,
    "daily_volume_anomalies": daily_volume_anomalies,
    "event_value_trend": event_value_trend,
    "event_transition_matrix": event_transition_matrix,
    "event_interarrival_stats": event_interarrival_stats,
    "user_funnel_conversion": user_funnel_conversion,
    "user_retention_cohorts": user_retention_cohorts,
    "tumbling_hourly": tumbling_hourly,
    "pivot_daily_activity": pivot_daily_activity,
    "sliding_windows": sliding_windows,
    "session_windows": session_windows,
    "event_dedup_first": event_dedup_first,
    "json_props_stats": json_props_stats,
}

ORACLE = {
    "asof_join_events": ASOF_SQL,
    "range_join_events": RANGE_JOIN_SQL,
    "latest_event_per_user": LATEST_EVENT_SQL,
    "daily_volume_anomalies": DAILY_ANOMALY_SQL,
    "event_value_trend": EVENT_TREND_SQL,
    "event_transition_matrix": EVENT_TRANSITION_SQL,
    "event_interarrival_stats": EVENT_INTERARRIVAL_SQL,
    "user_funnel_conversion": FUNNEL_SQL,
    "user_retention_cohorts": RETENTION_SQL,
    "tumbling_hourly": TUMBLING_SQL,
    "pivot_daily_activity": PIVOT_SQL,
    "sliding_windows": SLIDING_SQL,
    "session_windows": SESSION_SQL,
    "event_dedup_first": EVENT_DEDUP_SQL,
    "json_props_stats": JSON_PROPS_SQL,
}
