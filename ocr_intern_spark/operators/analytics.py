"""Relational analytics surface (SURVEY.md §2.7 A8-A11) plus the
TPC-H-style aggregate/join/window queries that prove the engine's
relational coverage.

Design-for-scale notes per query are inline; the shared rules:
* aggregates are expressed so Catalyst plans partial (map-side)
  aggregation before the shuffle;
* small dimension tables are broadcast explicitly;
* top-K is ORDER BY + LIMIT so Spark plans TakeOrderedAndProject
  (no global sort materialization);
* every ORDER BY carries a unique tiebreaker so results are
  deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_intern_spark.sources.tables import cents, cents_sql, table


def _net_revenue() -> Column:
    """TPC-H net revenue of a lineitem: price after discount."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_NET_REV_SQL = "l_extendedprice * (1 - l_discount)"


# --- A8: windowed perf summary (performance_analytics.py:58-89) -----------

_CUTOFF = "2024-01-15 00:00:00"


def q_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.where(F.col("ts") > F.lit(_CUTOFF).cast("timestamp"))
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


_EVENTS_SUMMARY_SQL = f"""
SELECT round(avg(value), 6) AS avg_value,
       round(sum(value), 4) AS sum_value,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events WHERE ts > TIMESTAMP '{_CUTOFF}'
"""


# --- A9: per-group stats (performance_analytics.py:124-150) ---------------


def q_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(
                F.avg(F.when(F.col("value") > 100, 1.0).otherwise(0.0)), 6
            ).alias("high_value_rate"),
        )
        .orderBy("event_type")
    )


_EVENTS_BY_TYPE_SQL = """
SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value,
       round(avg(CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END), 6) AS high_value_rate
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- A10: error analysis w/ HAVING + ORDER BY rate desc -------------------


def q_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
    )
    return (
        agg.where(F.col("n_errors") > 0)
        .select(
            "user_id",
            "n",
            "n_errors",
            F.round(F.col("n_errors") / F.col("n"), 6).alias("error_rate"),
        )
        .orderBy(F.desc("error_rate"), "user_id")
    )


_ERROR_USERS_SQL = """
SELECT user_id, n, n_errors, round(n_errors / CAST(n AS DOUBLE), 6) AS error_rate
FROM (
  -- CAST AS BIGINT: DuckDB's sum(int) widens to HUGEINT, which pandas
  -- renders as float64 and breaks the driver's exact value hash even
  -- when the numbers are identical. Spark's sum(int) is BIGINT.
  SELECT user_id, count(*) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
  FROM events GROUP BY user_id
) WHERE n_errors > 0
ORDER BY error_rate DESC, user_id
"""


# --- A11: top-N recency scan (TakeOrderedAndProject) ----------------------


def q_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # ORDER BY + LIMIT → TakeOrderedAndProject: per-partition top-100
    # then merge on driver; never a global sort. event_id breaks ts ties.
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .select("event_id", "ts", "user_id", "event_type")
        .limit(100)
    )


_RECENT_EVENTS_SQL = """
SELECT event_id, ts, user_id, event_type
FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
"""


# --- TPC-H Q1-style pricing summary (hash aggregate) ----------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(_net_revenue()), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum({_NET_REV_SQL}), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


# --- Join pipeline with explicit broadcast of the small dims --------------


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem ⋈ nation. nation (25 rows) and
    customer (smallest fact side) broadcast-able; lineitem, the big
    fact, is never shuffled by the dimension joins at scale — only
    the final groupBy aggregates, with map-side partials."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    nation = table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(_net_revenue()), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )
    return rev


_REVENUE_BY_NATION_SQL = f"""
SELECT n_name,
       round(sum({_NET_REV_SQL}), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


# --- Window function: top customer per nation -----------------------------


def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("spend"), F.asc("c_custkey"))
    return (
        spend.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("n_name", "c_custkey", "spend", "rk")
        .orderBy("n_name", "rk")
    )


_TOP_CUSTOMER_SQL = """
SELECT n_name, c_custkey, spend, rk FROM (
  SELECT n_name, c_custkey, spend,
         row_number() OVER (PARTITION BY n_name ORDER BY spend DESC, c_custkey) AS rk
  FROM (
    SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
    FROM orders GROUP BY o_custkey
  ) s
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
) WHERE rk <= 3 ORDER BY n_name, rk
"""


# --- TPC-H Q4-style: EXISTS semi-join with a non-equi component -----------


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having ≥1 lineitem shipped after the order date, counted
    per priority. LEFT SEMI join: the probe side (orders) is emitted at
    most once per row regardless of matching lineitem multiplicity, so
    no post-join distinct is needed — at scale this is one shuffle on
    the join key and the big lineitem side never materializes a join
    output wider than the match bit."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    hit = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


_ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- Grouping sets: ROLLUP over (status, priority) -------------------------


def q_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(status, priority): per-(status,priority), per-status and
    grand-total rows in one pass — Catalyst plans a single Expand +
    hash aggregate, i.e. one shuffle for all three granularities
    (vs three separate jobs). NULL group keys mark the rollup levels
    exactly as in ANSI SQL."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            # decimal sum: exact and order-independent — the grand-total
            # row aggregates every order, where a double sum's FP error
            # could flip the rounded cent between engines/partitionings.
            # The SUM itself stays decimal (exact); only the final value
            # is cast to double for display, because Spark widens the sum
            # to decimal(28,2) and DuckDB to decimal(38,2) and the two
            # serialize differently (Decimal object vs float64) through
            # the driver's hash gate. Decimal→double conversion of the
            # same exact value is IEEE round-to-nearest on both engines.
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


_ORDER_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def q_order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority): all four granularities — (s,p), (s),
    (p), () — in ONE Expand + hash aggregate (one shuffle), including
    the per-priority marginal that ROLLUP can't produce. grouping_id
    disambiguates a genuine NULL key from an aggregated-out level
    (none in this data, but the column is part of the contract)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy(
            F.col("gid"),
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
        .select("gid", "o_orderstatus", "o_orderpriority",
                "n_orders", "total_price")
    )


_ORDER_CUBE_SQL = """
SELECT CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
         AS gid,
       o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON `props` column with
    a DECLARED schema (`from_json` — JVM-side Jackson, codegen
    projection, no Python) and aggregate on the extracted field.
    At 100 TB the declared-schema parse beats schema inference (one
    pass, no sampling job) and malformed rows become NULLs instead of
    failures (PERMISSIVE default)."""
    ev = table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_band"))
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "k_band")
    )


_JSON_PROPS_SQL = """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS INT) % 10 AS k_band,
       count(*) AS n
FROM events
GROUP BY event_type, k_band
ORDER BY event_type, k_band
"""


# --- Window lag: inter-order gap per customer -------------------------------


def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average days between consecutive orders per customer — lag()
    window over (customer, order date). One hash shuffle on o_custkey
    feeds BOTH the window sort and the subsequent groupBy (same key:
    Catalyst reuses the partitioning, no second exchange)."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    gap = F.datediff(F.col("o_orderdate"), prev)
    return (
        orders.select("o_custkey", gap.alias("gap"))
        .where(F.col("gap").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.avg("gap"), 6).alias("avg_gap_days"),
        )
        .orderBy("o_custkey")
    )


_ORDER_GAPS_SQL = """
SELECT o_custkey, count(*) AS n_gaps, round(avg(gap), 6) AS avg_gap_days
FROM (
  SELECT o_custkey,
         date_diff('day',
           lag(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey),
           o_orderdate) AS gap
  FROM orders
) WHERE gap IS NOT NULL
GROUP BY o_custkey ORDER BY o_custkey
"""


# --- Set operations: INTERSECT / EXCEPT -------------------------------------


def q_users_click_and_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users present in BOTH the click and error event streams —
    INTERSECT plans as a distinct-aggregate + hash semi-join, one
    shuffle per side on user_id."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    errors = ev.where(F.col("event_type") == "error").select("user_id")
    return clicks.intersect(errors).orderBy("user_id")


_USERS_INTERSECT_SQL = """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'error'
ORDER BY user_id
"""


def q_users_click_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickers with no HIGH-VALUE error events — EXCEPT (anti-join
    plan). The same shape implements checkpoint-resume's 'pending
    work' query. (value > 150 keeps the result non-trivially split:
    every user has some error at small SF, so unqualified EXCEPT
    would be empty.)"""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    errors = ev.where(
        (F.col("event_type") == "error") & (F.col("value") > 150)
    ).select("user_id")
    # subtract == ANSI EXCEPT (distinct set semantics)
    return clicks.subtract(errors).orderBy("user_id")


_USERS_EXCEPT_SQL = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error' AND value > 150
ORDER BY user_id
"""


# --- TPC-H Q17-style: correlated scalar subquery (decorrelated) ------------


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems whose quantity is below 20% of their
    part's average quantity. The correlated scalar subquery
    decorrelates into a per-part aggregate joined back to the fact —
    expressed directly in that shape so the join input is one row per
    part (aggregate-before-join), never a per-row subquery."""
    li = table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        li.join(part_avg, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "revenue"
            ),
        )
    )


_SMALL_QTY_SQL = """
SELECT count(*) AS n_items,
       sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.2 * avg(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
)
"""


# --- TPC-H Q19-style: disjunctive multi-clause predicate --------------------


def q_brand_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part ⋈ lineitem under an OR-of-ANDs predicate (brand × size ×
    quantity bands). part is broadcast; the disjunction references
    both sides so it evaluates as the join's residual condition, while
    the single-sided conjuncts (quantity floor, size floor) split out
    and PUSH DOWN to the scans."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    clause2 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(10, 40))
        & (F.col("l_quantity").between(10, 35))
    )
    return j.where(clause1 | clause2).agg(
        F.count("*").alias("n_items"),
        F.sum(
            _net_revenue().cast("decimal(18,4)")
        ).alias("revenue"),
    )


_BRAND_PROMO_SQL = f"""
SELECT count(*) AS n_items,
       sum(CAST({_NET_REV_SQL} AS DECIMAL(18,4))) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
       AND l_quantity BETWEEN 10 AND 35)
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user event stream split at >30-minute
    inactivity gaps (the canonical web-analytics session rule);
    output one row per session with bounds and rollups.

    Scale shape: ONE hash exchange on user_id feeds both windows and
    the final groupBy (same key — Catalyst reuses the partitioning,
    no second shuffle). The gap test compares timestamps at full
    microsecond precision via an interval literal — no float epoch
    math to diverge between engines. The window ordering carries
    event_id as a unique tiebreaker, so the RANGE-frame running sum
    has no peer rows and is deterministic under any partitioning.
    At 10^12 events the partition key becomes (user_id bucket, day)
    with session stitching at day boundaries — same operator shape."""
    return sessionize(table(spark, sf_dir, "events"))


def sessionize(ev: DataFrame, gap: str = "30 MINUTES") -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (F.col("ts") > prev + F.expr(f"INTERVAL {gap}")),
        1,
    ).otherwise(0)
    sessions = ev.select(
        "user_id", "ts", "event_id", "value",
        F.sum(new_sess).over(w).alias("session_id"),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  -- CAST: DuckDB sum(int) widens to HUGEINT; Spark's window sum is
  -- BIGINT — pin the common type so the driver hash agrees (the
  -- round-1 funnel lesson)
  SELECT user_id, ts, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (hypertable continuous-aggregate
    style): minute-tier aggregates from raw events, hour tier derived
    FROM THE MINUTE PARTIALS, day tier from the hour tier. At 100 TB
    the coarse tiers never touch raw data — each re-aggregates a
    table ~60× smaller, which is the entire point of the cascade.
    The oracle computes every tier directly from raw events, so the
    hash gate proves the cascade is lossless.

    Sums are exact integer cents (`CAST(round(value*100) AS BIGINT)`)
    — double summation is order-sensitive and a cascaded float sum
    could differ from the oracle's direct sum in the last ulp;
    integer sums are associative, so re-aggregation is bit-exact."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    minute = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("bucket"))
        .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
    )
    hour = (
        minute.groupBy(F.date_trunc("hour", "bucket").alias("bucket"))
        .agg(F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))
    )
    day = (
        hour.groupBy(F.date_trunc("day", "bucket").alias("bucket"))
        .agg(F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))
    )
    tiers = (
        minute.select(F.lit("minute").alias("resolution"), "*")
        .unionByName(hour.select(F.lit("hour").alias("resolution"), "*"))
        .unionByName(day.select(F.lit("day").alias("resolution"), "*"))
    )
    return tiers.orderBy("resolution", "bucket")


_ROLLUP_CASCADE_SQL = """
WITH cents AS (
  SELECT ts, CAST(round(value * 100) AS BIGINT) AS c FROM events
)
SELECT 'minute' AS resolution, date_trunc('minute', ts) AS bucket,
       count(*) AS n, CAST(sum(c) AS BIGINT) AS sum_cents
FROM cents GROUP BY 2
UNION ALL
SELECT 'hour', date_trunc('hour', ts), count(*), CAST(sum(c) AS BIGINT)
FROM cents GROUP BY 2
UNION ALL
SELECT 'day', date_trunc('day', ts), count(*), CAST(sum(c) AS BIGINT)
FROM cents GROUP BY 2
ORDER BY resolution, bucket
"""


def q_events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (10-minute windows, 5-minute slide)
    — the overlap-window primitive tumbling windows can't express;
    same operator works under Structured Streaming with a watermark.
    Each event lands in exactly window_size/slide = 2 windows; Spark
    plans the explode inline (Generate) before the partial aggregate,
    so the fan-out never materializes unaggregated. First week only,
    to bound the oracle compare."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.where(F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


_SLIDING_SQL = """
WITH g AS (
  SELECT event_type, value,
         date_trunc('minute', ts)
           - (CAST(minute(ts) AS INT) % 5) * INTERVAL 1 MINUTE AS grid
  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
),
x AS (
  -- size/slide = 2 overlapping windows per event: the one starting
  -- at the event's 5-min grid point and the one 5 min earlier
  SELECT event_type, value,
         grid - o * INTERVAL 1 MINUTE AS window_start
  FROM g CROSS JOIN (SELECT unnest([0, 5]) AS o)
)
SELECT window_start, event_type, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM x GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value quantiles (p50/p90/p99, linear
    interpolation — Spark `percentile` and DuckDB `quantile_cont`
    agree bit-for-bit at round-6). Exact percentile is HOLISTIC
    (sorts each group's values on one reducer); fine for 5 types ×
    anything, but for a high-cardinality group key at 100 TB the
    production swap is `approx_percentile` (t-digest, mergeable
    partials) — same call shape, no oracle-exactness."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


_QUANTILES_SQL = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and NO urgent orders, rolled up per nation. The uncorrelated
    scalar subquery becomes a 1-row broadcast (never a driver
    collect); the NOT EXISTS becomes a left-anti join against the
    distinct urgent-order custkeys (priority filter PUSHED to the
    orders scan); the rollup is a partial/final hash aggregate on the
    surviving (small) customer set."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    buyers = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(buyers, cust.c_custkey == buyers.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            # exact decimal sum, double for display (the order_rollup
            # serialization lesson: Spark/DuckDB widen sums differently)
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


_IDLE_RICH_SQL = """
SELECT c_nationkey,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by FIRST-SIGNUP date
    (cohort), counted on each active day at or after signup — the
    canonical product-analytics triangle (cohort_date × day_offset →
    users). Pre-signup activity is excluded, matching the standard
    definition.

    Scale shape: ONE exchange on user_id computes both the cohort
    date (conditional min over signup events only) and the distinct
    active-day set per user (collect_set with map-side partials,
    bounded by the retention horizon — ≤ days-in-window elements per
    user); the exploded (cohort, offset) pairs then hash-aggregate
    into the triangle, whose size is O(horizon²) — tiny — regardless
    of corpus size. No window function, no self-join, all-integer
    output."""
    ev = table(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.col("event_type"),
        )
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("d"))
            ).alias("cohort_date"),
            F.collect_set("d").alias("days"),
        )
        .where(F.col("cohort_date").isNotNull())
    )
    return (
        per_user.select("cohort_date", F.explode("days").alias("d"))
        .where(F.col("d") >= F.col("cohort_date"))
        .groupBy(
            "cohort_date",
            F.datediff("d", "cohort_date").cast("int").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_date", "day_offset")
    )


_RETENTION_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
  FROM events WHERE event_type = 'signup' GROUP BY user_id
)
SELECT cohort_date,
       CAST(date_diff('day', cohort_date, d) AS INT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM ud JOIN firsts USING (user_id)
WHERE d >= cohort_date
GROUP BY cohort_date, day_offset
ORDER BY cohort_date, day_offset
"""




def q_events_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 state history (the warehouse change-capture shape):
    per user, consecutive duplicate event_types collapse into one
    state episode with a validity interval — (user_id, state,
    effective_from, effective_to NULL-for-current, version). The op
    every incremental 100 TB dimension build runs after CDC ingest.

    Scale shape: ONE exchange on user_id serves both windows — the
    change-detection lag and, after the change filter (which
    preserves partitioning AND sort order, so no re-sort), the lead
    that closes each interval; version numbers are a running count
    on the already-filtered rows. No joins, no second shuffle."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = ev.withColumn(
        "is_change",
        F.coalesce(
            F.col("event_type") != F.lag("event_type").over(w), F.lit(True)
        ),
    ).where("is_change")
    return (
        changed.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("effective_from"),
            F.lead("ts").over(w).alias("effective_to"),
            F.row_number().over(w).alias("version"),
        )
        .orderBy("user_id", "version")
    )


_STATE_HISTORY_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         coalesce(event_type != lag(event_type) OVER w, true) AS is_change
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (SELECT * FROM flagged WHERE is_change)
SELECT user_id, event_type AS state,
       ts AS effective_from,
       lead(ts) OVER w AS effective_to,
       CAST(row_number() OVER w AS INT) AS version
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


# --- ordered conversion funnel ---------------------------------------------

_FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_HORIZON_S = 86400  # stage-k event must land within 24 h of
                          # stage k-1 (without a horizon every heavy
                          # user in the corpus completes all stages —
                          # degenerate at every sf)


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user
    reaches stage k only via an event at or after their stage-(k-1)
    entry time AND within FUNNEL_HORIZON_S of it (the strict-ordering
    + conversion-window semantics of product-analytics funnels, not
    mere set intersection — users_click_and_error covers that).
    Output: one row per stage with the user count and the conversion
    rate from the previous stage.

    Scale shape: ONE hash exchange on user_id; per-user stage entry
    times come from sorted per-type timestamp arrays built by a single
    collect_list aggregate (map-side partial), then pure array
    higher-order functions (`array_min(filter(ts, t >= prev))`) — no
    second scan, no self-join, no window over the raw event stream.
    Per-user state is bounded by that user's event count; for
    pathological fan-in (a bot with 10^8 events) swap to the two-pass
    conditional-min form (agg stage-1 time, join back, agg stage-2)
    at the cost of one extra exchange — stated, not hidden. The final
    3-row funnel is a driver-side-free single-row aggregate unpivoted
    with a literal stack."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        *[
            F.array_sort(
                F.collect_list(
                    F.when(F.col("event_type") == s, F.col("ts"))
                )
            ).alias(f"ts_{s}")
            for s in _FUNNEL_STAGES
        ]
    )
    horizon = F.expr(f"INTERVAL {FUNNEL_HORIZON_S} SECOND")
    t1 = F.try_element_at(F.col("ts_view"), F.lit(1))
    t2 = F.array_min(
        F.filter("ts_click", lambda t: (t >= t1) & (t <= t1 + horizon))
    )
    t3 = F.array_min(
        F.filter("ts_purchase", lambda t: (t >= t2) & (t <= t2 + horizon))
    )
    counts = per_user.agg(
        F.count(t1).alias("n1"),
        F.count(t2).alias("n2"),
        F.count(t3).alias("n3"),
    )
    stacked = counts.select(
        F.expr(
            "stack(3, "
            "'1_view', n1, CAST(NULL AS DOUBLE), "
            "'2_click', n2, CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / n1, 6) END, "
            "'3_purchase', n3, CASE WHEN n2 > 0 THEN round(CAST(n3 AS DOUBLE) / n2, 6) END"
            ") AS (stage, users, conv_from_prev)"
        )
    )
    return stacked.orderBy("stage")


_FUNNEL_EVENTS_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS ts_view,
         list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS ts_click,
         list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS ts_purchase
  FROM events GROUP BY user_id
),
staged AS (
  SELECT t1, t2,
         list_min(list_filter(ts_purchase,
           t -> t >= t2 AND t <= t2 + INTERVAL {FUNNEL_HORIZON_S} SECOND)) AS t3
  FROM (
    SELECT ts_purchase, t1,
           list_min(list_filter(ts_click,
             t -> t >= t1 AND t <= t1 + INTERVAL {FUNNEL_HORIZON_S} SECOND)) AS t2
    FROM (SELECT ts_click, ts_purchase, ts_view[1] AS t1 FROM per_user)
  )
),
counts AS (
  SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM staged
)
SELECT stage, users, conv_from_prev FROM (
  SELECT '1_view' AS stage, n1 AS users, CAST(NULL AS DOUBLE) AS conv_from_prev FROM counts
  UNION ALL
  SELECT '2_click', n2, CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / n1, 6) END FROM counts
  UNION ALL
  SELECT '3_purchase', n3, CASE WHEN n2 > 0 THEN round(CAST(n3 AS DOUBLE) / n2, 6) END FROM counts
) ORDER BY stage
"""


# --- time-weighted average ---------------------------------------------------


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value` (TWAP): each value
    is weighted by how long it was the user's current value — the
    interval to the NEXT event — so a burst of identical readings
    doesn't dominate the mean the way a plain avg lets it (the
    standard financial/metrics TWAP semantics; the last event has no
    interval and is excluded).

    Scale shape: one window over a single user_id hash exchange
    (lead), then the per-user aggregate is satisfied by the SAME
    partitioning — one shuffle total. Interval arithmetic is exact
    integer MICROSECONDS (unix_micros / epoch_us; the corpus
    timestamps are microsecond-grained, so second-truncated math
    would silently zero short gaps)."""
    # the corpus column is TIMESTAMP_NTZ. An earlier version cast it
    # to TIMESTAMP for unix_micros under a session-zone UTC pin — but
    # the pin permanently mutated session state (later queries in the
    # same session would see a different zone than they were verified
    # under). Zone-FREE instead: subtract the NTZ values directly (a
    # day-time INTERVAL, no zone anywhere) and cast the interval to
    # decimal(20,6) — exact seconds with the full microsecond
    # fraction — then scale to integer microseconds.
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = (
        (F.lead("ts").over(w) - F.col("ts"))
        .cast("decimal(20,6)") * 1_000_000
    ).cast("long")
    rows = e.select("user_id", "value", dt.alias("dt_us")).where(
        F.col("dt_us").isNotNull()
    )
    return (
        rows.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.round(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 6
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


_TWAP_SQL = """
SELECT user_id, count(*) AS n_intervals,
       round(sum(value * dt_us) / sum(dt_us), 6) AS twap
FROM (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dt_us
  FROM events
)
WHERE dt_us IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


# --- robust rate-anomaly detection --------------------------------------------

ANOM_Z = 3.0  # |cnt − median| > Z·MAD flags the hour — the robust
              # (outlier-immune) analogue of the 3-sigma rule


def q_events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate anomaly flags per event type via median +
    MAD (median absolute deviation) — the robust z-score an ingest
    monitor uses to catch crawler stalls, bot bursts and pipeline
    replays: unlike mean/stddev, the median/MAD baseline is not
    dragged by the very anomalies it is meant to flag.

    Scale shape: the raw stream collapses to (event_type, hour)
    counts with ONE map-side-combinable aggregate — everything after
    operates on the tiny rate table: two exact per-type medians
    (hour-count cardinality per type is bounded: 24·365·types rows/
    year, so exact median is cheap; approx_percentile is the stated
    swap if types explode) and two broadcast joins of a types-sized
    frame back onto the rate table. MAD==0 (a perfectly constant
    rate) falls back to flagging any deviation at all.

    Portability: counts and medians are exact (median of integers is
    k or k.5 in both engines); the single float division robust_z is
    rounded to 1e-6."""
    e = table(spark, sf_dir, "events")
    # cache the collapsed rate table: med, dev and mad each branch off
    # it, and without materialization every branch re-scans the RAW
    # event stream (4 full scans at 100 TB instead of one)
    rate = (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        ).agg(F.count("*").alias("cnt"))
    ).cache()
    med = rate.groupBy("event_type").agg(F.median("cnt").alias("med"))
    dev = rate.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    z = F.when(
        F.col("mad") > 0,
        F.round((F.col("cnt") - F.col("med")) / F.col("mad"), 6),
    )
    flag = F.when(
        F.col("mad") > 0, F.abs(F.col("cnt") - F.col("med")) > ANOM_Z * F.col("mad")
    ).otherwise(F.col("cnt") != F.col("med"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "hour",
            "cnt",
            "med",
            "mad",
            z.alias("robust_z"),
            flag.alias("is_anomaly"),
        )
        .orderBy("event_type", "hour")
    )


_RATE_ANOMALY_SQL = f"""
WITH rate AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
med AS (SELECT event_type, median(cnt) AS med FROM rate GROUP BY 1),
dev AS (
  SELECT r.*, m.med, abs(r.cnt - m.med) AS adev
  FROM rate r JOIN med m USING (event_type)
),
mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
SELECT d.event_type, d.hour, d.cnt, d.med, a.mad,
       CASE WHEN a.mad > 0 THEN round((d.cnt - d.med) / a.mad, 6) END
         AS robust_z,
       CASE WHEN a.mad > 0 THEN abs(d.cnt - d.med) > {ANOM_Z} * a.mad
            ELSE d.cnt != d.med END AS is_anomaly
FROM dev d JOIN mad a USING (event_type)
ORDER BY event_type, hour
"""


# --- event-type Markov transition matrix ---------------------------------------


def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type), with counts —
    the user-journey fingerprint behind funnel design and bot
    detection (a scripted client's transition rows are near-
    deterministic; organic traffic is diffuse).

    Scale shape: ONE user_id exchange feeds the lead() window
    (consecutive-pair formation, no self-join over raw events); pairs
    collapse to the types²-row count table via a map-side-combinable
    aggregate; the per-source normalizer is a window over that tiny
    frame — nothing types-sized ever shuffles the corpus again.

    Portability: counts exact; the single probability division is
    rounded to 1e-6. Each user's last event has no successor and
    contributes no pair (lead is NULL — dropped identically in both
    engines)."""
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    cnt = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("src")
    return (
        cnt.select(
            "src",
            "dst",
            "n",
            F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
        )
        .orderBy("src", "dst")
    )


_TRANSITION_SQL = """
WITH pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events
),
cnt AS (
  SELECT src, dst, count(*) AS n FROM pairs WHERE dst IS NOT NULL
  GROUP BY src, dst
)
SELECT src, dst, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS p
FROM cnt ORDER BY src, dst
"""


# --- TPC-H Q8-style: national market share (join-reordering stress) -------


_MKT_NATION = "NATION_3"  # a supplier nation verified to ship PROMO
                          # parts to EUROPEAN customers at every sf,
                          # so the share branch is never vacuous


def q_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One nation's share of PROMO-part revenue supplied to EUROPEAN
    customers, per order year — the classic 7-table join-reordering
    stress (lineitem ⋈ part ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈
    supplier ⋈ nation again).

    Scale shape: every dimension side is broadcast — the PROMO part
    filter shrinks part ~6× BEFORE its join (predicate pushdown makes
    this a semi-filter on the lineitem scan under AQE), supplier and
    both nation role-aliases are tiny, and region collapses to a
    1-row filter applied through the customer-nation chain. The big
    fact (lineitem) is therefore never shuffled by any join; the only
    exchange is the final per-year partial aggregate over a handful
    of rows. The share division happens on the years-sized frame.

    Portability: the share is one double division rounded 1e-6;
    volumes are double sums under the repo's reassociation contract."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")

    promo = part.where(F.col("p_type") == "PROMO").select("p_partkey")
    eur = region.where(F.col("r_name") == "EUROPE").select("r_regionkey")
    cust_nat = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_rkey"),
    )
    supp_nat = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = _net_revenue()
    base = (
        li.join(F.broadcast(promo), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nat), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(eur), F.col("cn_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nat), supp.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("vol"),
            "supp_nation",
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == _MKT_NATION, F.col("vol")
                    ).otherwise(0.0)
                )
                / F.sum("vol"),
                6,
            ).alias("mkt_share"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_year")
    )


_MARKET_SHARE_SQL = f"""
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN sn.n_name = '{_MKT_NATION}'
                      THEN {_NET_REV_SQL}
                      ELSE 0.0 END)
             / sum({_NET_REV_SQL}), 6) AS mkt_share,
       count(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY o_year ORDER BY o_year
"""


# --- TPC-H Q15-style: top supplier via broadcast 1-row max ----------------

_Q15_START = "1996-01-01 00:00:00"
_Q15_END = "1996-04-01 00:00:00"


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum revenue in 1996Q1 — the Q15
    argmax-over-an-aggregate, WITHOUT the textbook correlated
    subquery and without any window: the per-supplier revenue frame
    (suppliers-sized, small) takes a 1-row max aggregate that is
    broadcast back as a cross join, so the plan is scan → partial
    agg → tiny frame → broadcast filter. No global sort, no
    single-reducer window, and ties (several suppliers at the max)
    all survive, exactly as Q15 specifies.

    Portability: the max-equality filter compares the 2-decimal
    ROUNDED revenues, which both engines pin identically — never the
    raw double sums."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    vol = _net_revenue()
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q15_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q15_END).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(vol), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"), "s_name", "total_revenue"
        )
        .orderBy("s_suppkey")
    )


_TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey AS s_suppkey,
         round(sum({_NET_REV_SQL}), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_START}'
    AND l_shipdate <  TIMESTAMP '{_Q15_END}'
  GROUP BY l_suppkey
)
SELECT r.s_suppkey, s_name, total_revenue
FROM rev r
JOIN supplier ON r.s_suppkey = supplier.s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY r.s_suppkey
"""


# --- Interval/range join: error follows click within a window -------------

_FOLLOW_WINDOW = "INTERVAL 2 HOURS"


def q_error_follows_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: how many clicks were followed by an error event from
    the SAME user within 2 hours — a true interval/range join (equi
    key + range predicate), the pattern behind ad-attribution and
    alert-correlation joins.

    Scale shape: the range condition rides an EQUI join on user_id,
    so Spark plans a hash join partitioned by user and evaluates the
    time-range predicate inside each key group — never a
    BroadcastNestedLoopJoin over the cross product. LEFT SEMI keeps
    each click at most once regardless of how many errors follow it
    (no post-join distinct), and the two per-user aggregates reuse
    the same user_id partitioning. Skewed users bound the per-key
    work quadratically only in their own error count, and AQE's skew
    split handles the hot key.

    Portability: pure timestamp comparison and integer counts; one
    1e-6-rounded rate on the users-sized frame."""
    e = table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    errors = e.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    followed = clicks.join(
        errors,
        (clicks.user_id == F.col("e_user"))
        & (F.col("e_ts") > clicks.ts)
        & (F.col("e_ts") <= clicks.ts + F.expr(_FOLLOW_WINDOW)),
        "left_semi",
    )
    n_followed = followed.groupBy("user_id").agg(
        F.count("*").alias("n_followed")
    )
    n_clicks = clicks.groupBy("user_id").agg(F.count("*").alias("n_clicks"))
    return (
        n_clicks.join(n_followed, "user_id", "left")
        .select(
            "user_id",
            "n_clicks",
            F.coalesce(F.col("n_followed"), F.lit(0)).alias("n_followed"),
            F.round(
                F.coalesce(F.col("n_followed"), F.lit(0))
                / F.col("n_clicks"),
                6,
            ).alias("follow_rate"),
        )
        .orderBy("user_id")
    )


_ERROR_FOLLOWS_CLICK_SQL = """
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
followed AS (
  SELECT c.user_id, count(*) AS n_followed
  FROM clicks c
  WHERE EXISTS (
    SELECT 1 FROM events e
    WHERE e.user_id = c.user_id AND e.event_type = 'error'
      AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 2 HOUR)
  GROUP BY c.user_id
)
SELECT n.user_id, n.n_clicks,
       CAST(coalesce(f.n_followed, 0) AS BIGINT) AS n_followed,
       round(CAST(coalesce(f.n_followed, 0) AS DOUBLE) / n.n_clicks, 6)
         AS follow_rate
FROM (SELECT user_id, count(*) AS n_clicks FROM clicks GROUP BY user_id) n
LEFT JOIN followed f ON n.user_id = f.user_id
ORDER BY n.user_id
"""


# --- Customer spend deciles via the distributed global rank ---------------


def q_customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile table of per-customer lifetime spend (customer LTV
    segmentation): rank every ordering customer by spend and bucket
    ranks into 10 equal-width deciles.

    Scale shape: the rank comes from skew.global_rank — the same
    two-pass range-partitioned rank that fixed text_zipf_fit — so NO
    single-reducer window touches the customers-sized frame (at
    100 TB that frame is every customer on record). The total count
    arrives as a broadcast 1-row aggregate, and the decile arithmetic
    plus final aggregate run on already-partitioned data. This is the
    second consumer of global_rank, pinning its generality (hash-
    equality here proves the distributed rank against DuckDB's
    row_number under a different order and data shape than zipf's).

    Portability: ranks and counts exact; decile = floor((rank-1)*10/N)
    in double math (exact below 2^53); min/max/sum over 2-decimal
    rounded spends under the reassociation contract."""
    from ocr_intern_spark.operators.skew import global_rank

    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    tot = spend.agg(F.count("*").alias("_n"))
    ranked = global_rank(spend, F.desc("spend"), F.asc("o_custkey"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            (
                F.floor(
                    (F.col("rank") - 1) * 10 / F.col("_n")
                ).cast("int")
                + 1
            ).alias("decile"),
            "spend",
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("spend").alias("min_spend"),
            F.max("spend").alias("max_spend"),
            F.round(F.sum("spend"), 2).alias("sum_spend"),
        )
        .orderBy("decile")
    )


_SPEND_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT spend,
         row_number() OVER (ORDER BY spend DESC, o_custkey) AS rank,
         (SELECT count(*) FROM spend) AS _n
  FROM spend
)
SELECT CAST(floor((rank - 1) * 10 / CAST(_n AS DOUBLE)) AS INT) + 1
         AS decile,
       count(*) AS n_customers,
       min(spend) AS min_spend,
       max(spend) AS max_spend,
       round(sum(spend), 2) AS sum_spend
FROM ranked GROUP BY decile ORDER BY decile
"""


# --- Q13 shape: customer order-count distribution --------------------------


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — how many customers placed k orders, INCLUDING
    the zero-order customers (the part a plain inner join drops).
    Spark-first plan: pre-aggregate orders by o_custkey FIRST (map-side
    combinable count, shuffles one row per customer instead of one per
    order), then a left join from customer fills the zeros with
    coalesce. The second aggregation groups a customers-sized frame by
    c_count — tiny. At 100 TB the orders pre-agg is the only wide
    shuffle and it's the minimal one; joining raw orders to customer
    before counting would shuffle the full fact table."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    counts = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(F.coalesce("n_orders", F.lit(0)).alias("c_count"))
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_CUSTOMER_ORDER_DIST_SQL = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- Q11 shape: parts holding an outsized revenue share ---------------------


def q_major_revenue_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose revenue exceeds 1.2× the mean
    per-part revenue, i.e. a HAVING against a GLOBAL scalar. The
    global total + part count is a 1-row aggregate broadcast back via
    cross join, so the plan is one keyed shuffle (per-part partial
    sums) + a broadcast filter — no second pass over lineitem and no
    correlated subquery re-evaluation.

    Exactness: revenue is integerized per row (floor(x*100) — same
    IEEE double math in both engines) and summed as BIGINT, and the
    threshold test is the cross-multiplied INTEGER comparison
    cents·n_parts·10 > total·12 — no float division anywhere, so the
    boundary rows are bit-identical across engines. The
    cross-multiplication runs in decimal(38,0) on the Spark side
    (DuckDB's is HUGEINT already): at 100 TB the product
    (~1e9 cents · ~1e9 parts · 10) overflows int64, where ANSI mode
    would error out. The sum is emitted as a digit string (BIGINT vs
    HUGEINT rendering)."""
    li = table(spark, sf_dir, "lineitem")
    # persist the per-part frame: Spark shares no subplans, so without
    # it the global-totals branch re-scans and re-shuffles the full
    # fact table (verified in the executedPlan) — the cached frame is
    # |parts| rows, millions at 100 TB, trivially memory-resident
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(cents(_net_revenue())).alias("rev_cents"))
        .persist()
    )
    totals = per_part.agg(
        F.sum("rev_cents").alias("_total"), F.count(F.lit(1)).alias("_np")
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .where(
            F.col("rev_cents").cast("decimal(38,0)") * F.col("_np") * 10
            > F.col("_total").cast("decimal(38,0)") * 12
        )
        .select(
            "l_partkey", F.col("rev_cents").cast("string").alias("rev_cents")
        )
        .orderBy("l_partkey")
    )


_MAJOR_PARTS_SQL = f"""
WITH p AS (
  SELECT l_partkey,
         sum({cents_sql(_NET_REV_SQL)})
           AS rev_cents
  FROM lineitem GROUP BY l_partkey
), t AS (SELECT sum(rev_cents) AS total, count(*) AS np FROM p)
SELECT l_partkey, CAST(rev_cents AS VARCHAR) AS rev_cents
FROM p, t
WHERE rev_cents * np * 10 > total * 12
ORDER BY l_partkey
"""


# --- Q18 shape: large-volume orders and their customers ---------------------

_LARGE_ORDER_MIN_QTY = 250  # ~99th percentile of per-order quantity


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — orders whose total line quantity exceeds a
    threshold, joined back to orders + customer. Spark-first: the
    HAVING aggregate runs on lineitem alone first (map-side partials,
    one row per orderkey survives), the >threshold filter shrinks it
    to ~1% of orders, and only THEN do the joins run — the orders join
    keys on the filtered frame, and AQE converts it to broadcast at
    test scale while staying a shuffle join at 100 TB. Quantities are
    integral doubles (exact under summation well below 2^53), so the
    sum is cast to BIGINT for a canonical cross-engine rendering."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .where(F.col("_qty") > _LARGE_ORDER_MIN_QTY)
        .select("l_orderkey", F.col("_qty").cast("long").alias("sum_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "orderkey")
        .limit(100)
    )


_LARGE_ORDERS_SQL = f"""
WITH big AS (
  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(l_quantity) > {_LARGE_ORDER_MIN_QTY}
)
SELECT c_custkey, c_name, o_orderkey AS orderkey,
       round(o_totalprice, 2) AS totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, orderkey
LIMIT 100
"""


# --- TPC-H Q3-style: top unshipped orders ---------------------------------

_Q3_CUT = "1998-06-01 00:00:00"


def q_unshipped_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 highest-revenue orders placed before the cutoff whose
    items had not yet shipped by it, for one market segment — the Q3
    shipping-backlog scan.

    Scale shape: both date filters and the segment filter push to the
    scans (segment prunes customer BEFORE its join, so the filtered
    customer key set broadcasts); lineitem⋈orders is the one keyed
    exchange, already partitioned by the groupBy key (l_orderkey), so
    the aggregation reuses the join's partitioning — one shuffle
    total. Top-10 is TakeOrderedAndProject (per-partition heaps →
    1-row-per-partition merge), never a global sort.

    Portability: revenue rounded to 2dp under the repo's double
    reassociation contract; (revenue DESC, l_orderkey) is a total
    order, so the LIMIT boundary is deterministic on both engines."""
    cut = F.lit(_Q3_CUT).cast("timestamp")
    cust = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cut)
    li = table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cut)
    rev = _net_revenue()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_UNSHIPPED_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum({_NET_REV_SQL}), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_Q3_CUT}'
  AND l_shipdate > TIMESTAMP '{_Q3_CUT}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- TPC-H Q7-style: bilateral nation trade volume -------------------------

_Q7_NATION_A = "NATION_3"
_Q7_NATION_B = "NATION_7"


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between two nations by year, both directions
    (supplier in A shipping to customers in B, and vice versa) — the
    Q7 bilateral-trade shape that forces a role-playing nation
    dimension on both ends of the fact.

    Scale shape: the two-nation filter is applied INSIDE each
    broadcast dimension (supplier keys of A∪B, customer keys of A∪B),
    so the fact scan is semi-filtered by two tiny broadcasts before
    the orders join; the direction predicate (sn != cn) is a residual
    on the joined row. One keyed exchange (lineitem⋈orders), final
    agg over a years×2 frame."""
    pair = [_Q7_NATION_A, _Q7_NATION_B]
    nation = table(spark, sf_dir, "nation").where(F.col("n_name").isin(pair))
    supp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    vol = _net_revenue()
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(F.sum(vol), 2).alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_NATION_TRADE_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum({_NET_REV_SQL}), 2) AS volume,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = '{_Q7_NATION_A}' AND cn.n_name = '{_Q7_NATION_B}')
    OR (sn.n_name = '{_Q7_NATION_B}' AND cn.n_name = '{_Q7_NATION_A}'))
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# --- TPC-H Q10-style: returned-item customers -------------------------------

_Q10_START = "1997-01-01 00:00:00"
_Q10_END = "1997-04-01 00:00:00"


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returned items in one
    quarter — the Q10 returns-triage report.

    Scale shape: the returnflag filter pushes to the lineitem scan and
    the quarter filter to orders (both in PushedFilters); the
    lineitem⋈orders exchange carries only returned lines; the final
    per-customer frame joins the customer dimension BROADCAST, after
    aggregation, so customer attributes never ride through the fact
    shuffle. Top-20 is TakeOrderedAndProject on the total order
    (revenue DESC, c_custkey)."""
    start = F.lit(_Q10_START).cast("timestamp")
    end = F.lit(_Q10_END).cast("timestamp")
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end)
    )
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    rev = _net_revenue()
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )
    return (
        per_cust.join(
            F.broadcast(cust), per_cust.o_custkey == cust.c_custkey
        )
        .join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_RETURNED_CUST_SQL = f"""
SELECT c_custkey, c_name, n_name AS nation,
       round(c_acctbal, 2) AS acctbal,
       round(sum({_NET_REV_SQL}), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{_Q10_START}'
  AND o_orderdate < TIMESTAMP '{_Q10_END}'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- TPC-H Q21-style: sole late supplier -----------------------------------

_Q21_LATE_DAYS = 60


def q_late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY late shipper on multi-supplier
    orders (late = shipped more than _Q21_LATE_DAYS days after the
    order date), with how many such lines each has — the Q21
    EXISTS / NOT-EXISTS double-correlation, decorrelated.

    Scale shape: instead of the textbook two correlated self-joins of
    lineitem (three fact passes), the fact is scanned ONCE and folded
    through two chained aggregates — per (order, supplier) the late
    line count, then per order (n_supp, n_late_supp) — and a supplier
    qualifies iff its order has n_supp > 1 and n_late_supp = 1 and it
    is the late one (the late set is exactly {{this supplier}}, so
    EXISTS-other-supplier ∧ NOT-EXISTS-other-late-supplier both fold
    into the aggregate; no distinct-expand, plain counts). The join
    back carries the (order, supplier)-grained frame — already
    aggregate-collapsed, orders-sized, never the raw fact. The oracle
    deliberately keeps the textbook EXISTS/NOT EXISTS formulation:
    hash equality proves the decorrelation, not just the
    arithmetic."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS")
    )
    # no broadcast hint: orders is a fact — at scale this is an SMJ
    # on l_orderkey, whose partitioning then satisfies BOTH chained
    # aggregates (clustering on a subset of the grouping keys)
    # persisted: both consumers (the late filter and the per-order
    # rollup) read the aggregate-collapsed (order, supplier) frame —
    # without it each branch re-scans the fact (measured 6 scans)
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(late.cast("bigint")).alias("n_late"))
        .persist()
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum((F.col("n_late") > 0).cast("bigint")).alias("n_late_supp"),
    )
    return (
        per_os.where(F.col("n_late") > 0)
        .join(per_order, "l_orderkey")
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.sum("n_late").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
    )


_LATE_SOLE_SQL = f"""
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l1.l_suppkey AS s_suppkey, count(*) AS numwait
FROM l l1
WHERE l1.late
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY l1.l_suppkey
ORDER BY numwait DESC, s_suppkey
"""


# --- sketch-accuracy contract ------------------------------------------------

_SKETCH_RSD = 0.02       # HLL++ target relative standard deviation
_SKETCH_TOL = 0.05       # contract: |approx − exact| ≤ 5% · exact
_P50_ACC = 10000         # percentile_approx accuracy parameter
_P50_TOL = 0.05          # contract: |approx − exact| ≤ 5% · |exact| + 1e-9


def q_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy CONTRACT for the sketches that replace exact
    aggregation at 100 TB: per event type, HLL++ distinct-user
    estimates (approx_count_distinct, the one-pass mergeable path)
    and KLL-style approximate medians (percentile_approx) must land
    within 5% of their exact counterparts. The query emits the EXACT
    values plus contract booleans; the oracle computes the exact
    values and literal TRUEs — so the driver's hash check FAILS if
    either sketch ever drifts out of tolerance. Sketches are
    deterministic functions of the data (no RNG), so the contract is
    stable, not flaky.

    Scale framing: at 10¹² rows you run ONLY the sketch side (one
    pass, mergeable, no count_distinct expand shuffle, no global
    sort); the exact side here is the audit harness — at production
    scale the same audit runs over a sampled partition."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", _SKETCH_RSD).alias("_hll"),
        F.expr("percentile(value, 0.5)").alias("_p50_exact"),
        F.expr(f"percentile_approx(value, 0.5, {_P50_ACC})").alias("_p50_a"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per.select(
        "event_type",
        "n_users_exact",
        "n_events",
        (
            F.abs(F.col("_hll") - F.col("n_users_exact"))
            <= _SKETCH_TOL * F.col("n_users_exact")
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("_p50_a") - F.col("_p50_exact"))
            <= _P50_TOL * F.abs(F.col("_p50_exact")) + 1e-9
        ).alias("p50_within_5pct"),
    ).orderBy("event_type")


_SKETCH_ACCURACY_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users_exact,
       count(*) AS n_events,
       TRUE AS hll_within_5pct,
       TRUE AS p50_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- TPC-H Q4 shape: EXISTS folded into a per-key MAX ----------------------

_Q4_START = "1996-01-01"
_Q4_END = "1996-04-01"
_Q4_LATE_DAYS = 1800  # splits every sf: 21/62 late at sf0.001, 216/570 at sf0.01


def q_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in one quarter that had AT LEAST one very late lineitem
    (shipped more than _Q4_LATE_DAYS days after the order date),
    counted per order priority — the TPC-H Q4 EXISTS shape.

    Scale shape: the correlated EXISTS never runs as a subquery —
    `EXISTS(l late) ⟺ max(l_shipdate) > o_orderdate + K` folds the
    whole predicate into ONE map-side-combinable MAX per order over
    the raw fact (no orders columns needed on the aggregate side, so
    the fact is scanned once with a 2-column ReadSchema). The quarter
    filter is pushed to the orders scan; the join carries one row per
    order on each side; the final aggregate is a 5-row priority
    frame. The oracle deliberately keeps the textbook correlated
    EXISTS — hash equality proves the MAX-fold decorrelation."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship")
    )
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit(_Q4_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_Q4_END).cast("timestamp"))
        )
        .join(per_order, orders.o_orderkey == per_order.l_orderkey)
        .where(
            F.col("max_ship")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q4_LATE_DAYS} DAYS")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


_LATE_PRIORITY_SQL = f"""
SELECT o_orderpriority, count(*) AS n_late_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '{_Q4_START}'
  AND o_orderdate < TIMESTAMP '{_Q4_END}'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
                                   + INTERVAL {_Q4_LATE_DAYS} DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- TPC-H Q2 shape: per-group argmin join-back, ties kept ------------------

_Q2_TYPE = "STANDARD"
_Q2_MAX_SIZE = 15
_Q2_REGION = "EUROPE"
_Q2_TOPK = 100  # binds at sf0.1 (980 qualifying rows), not below


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest European supplier per in-scope part (the TPC-H Q2
    correlated-MIN shape): for small STANDARD parts, the supplier(s)
    whose cheapest discounted shipped line for that part matches the
    part's minimum across all European suppliers — ties kept, top
    _Q2_TOPK by account balance.

    Scale shape: the correlated `= (SELECT min ...)` decorrelates
    into two chained aggregates on the SAME key — per (part,
    supplier) min cents, then per part min — so the second aggregate
    and the equality join-back all reuse the first exchange's
    hashpartitioning(l_partkey...) clustering. The fact is cut
    EARLY by two broadcast semi-filters (in-scope parts, European
    suppliers) before any aggregation; cost is integer cents
    (floor(x·100), identical IEEE math both engines) so the
    min-equality join-back never compares floats. TakeOrderedAndProject
    top-K, no global sort. The oracle keeps the textbook correlated
    scalar subquery."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    part = table(spark, sf_dir, "part")

    eur = region.where(F.col("r_name") == _Q2_REGION).select("r_regionkey")
    euro_supp = (
        supp.join(
            F.broadcast(
                nation.join(
                    F.broadcast(eur),
                    nation.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    scoped = part.where(
        (F.col("p_type") == _Q2_TYPE) & (F.col("p_size") <= _Q2_MAX_SIZE)
    ).select("p_partkey")
    per_ps = (
        li.join(F.broadcast(scoped), li.l_partkey == F.col("p_partkey"))
        .join(
            F.broadcast(euro_supp.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(cents(_net_revenue())).alias("min_cents"))
    )
    best = per_ps.groupBy("l_partkey").agg(
        F.min("min_cents").alias("best_cents")
    )
    return (
        per_ps.join(best, "l_partkey")
        .where(F.col("min_cents") == F.col("best_cents"))
        .join(
            F.broadcast(euro_supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select(
            F.col("s_acctbal"),
            F.col("s_name"),
            F.col("n_name"),
            F.col("l_partkey").alias("p_partkey"),
            F.col("best_cents").alias("cost_cents"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(_Q2_TOPK)
    )


_MIN_COST_SQL = f"""
WITH euro AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{_Q2_REGION}'
),
sc AS (
  SELECT l_partkey, l_suppkey,
         min({cents_sql(_NET_REV_SQL)})
           AS min_cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN euro ON l_suppkey = s_suppkey
  WHERE p_type = '{_Q2_TYPE}' AND p_size <= {_Q2_MAX_SIZE}
  GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, sc.l_partkey AS p_partkey,
       sc.min_cents AS cost_cents
FROM sc JOIN euro ON sc.l_suppkey = euro.s_suppkey
WHERE sc.min_cents = (SELECT min(s2.min_cents) FROM sc s2
                      WHERE s2.l_partkey = sc.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT {_Q2_TOPK}
"""


# --- TPC-H Q16 shape: count-distinct + NOT-IN anti-join ---------------------

_Q16_EXCL_BRAND = "Brand#3"
_Q16_EXCL_TYPE = "PROMO"


def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many DISTINCT suppliers can ship each (brand, type, size)
    part family — excluding one brand, one type, and every supplier
    on the complaints blocklist (negative account balance): the
    TPC-H Q16 NOT-IN + count-distinct shape.

    Scale shape: the NOT IN becomes a broadcast LEFT ANTI join
    against the tiny blocklist (never a per-row subquery, and the
    blocklist has no NULL keys so anti-join ≡ NOT IN); the
    (part, supplier) pairs are distinct-collapsed on the fact BEFORE
    the part-attribute join, so the dimension join carries one row
    per pair, not one per lineitem; count_distinct then re-keys the
    collapsed frame by the 3 grouping attributes. Two keyed shuffles
    total — pairs-distinct and the group-by — both over
    aggregate-collapsed frames."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")

    blocklist = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    ok = pairs.join(
        F.broadcast(blocklist),
        pairs.l_suppkey == F.col("s_suppkey"),
        "left_anti",
    )
    scoped = part.where(
        (F.col("p_brand") != _Q16_EXCL_BRAND)
        & (F.col("p_type") != _Q16_EXCL_TYPE)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        ok.join(F.broadcast(scoped), ok.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_SUPPLIER_VARIETY_SQL = f"""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{_Q16_EXCL_BRAND}'
  AND p_type <> '{_Q16_EXCL_TYPE}'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --- TPC-H Q20 shape: nested IN over two-grain aggregates -------------------

_Q20_TYPE = "PROMO"
_Q20_START = "1997-01-01"
_Q20_END = "1998-01-01"
# dominance: supplier shipped > 30% of the part's total quantity that
# year — q·10 > total·3 as integer cross-multiplication


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who DOMINATED at least one PROMO part's supply in
    one year (shipped >30% of that part's total quantity) — the
    TPC-H Q20 nested-IN shape (supplier IN (... pairs HAVING sum >
    fraction · (correlated per-part total))).

    Scale shape: both IN levels decorrelate into aggregates at two
    grains of the SAME keyed frame — per (part, supplier) quantity,
    then per part total — so the rollup and the dominance join-back
    reuse the first exchange's clustering (the Q21/Q2 chained-
    aggregate pattern). The per-pair frame is persisted because both
    consumers read it; without the persist each branch re-scans the
    fact. Quantities are integerized (floor(q·10), exact for the
    corpus's integral quantities) and the 30% test is the
    cross-multiplied integer comparison q·10 > total·3 in
    decimal(38,0) — no float division, no int64 overflow at 100 TB.
    The type + year filters are pushed to the scans, cutting the
    fact BEFORE any aggregation. The oracle keeps the textbook
    correlated-scalar form."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")

    promo = part.where(F.col("p_type") == _Q20_TYPE).select("p_partkey")
    q10 = F.floor(F.col("l_quantity") * 10).cast("long")
    per_ps = (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q20_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q20_END).cast("timestamp"))
        )
        .join(F.broadcast(promo), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(q10).alias("q"))
        .persist()
    )
    per_part = per_ps.groupBy("l_partkey").agg(F.sum("q").alias("tq"))
    dom = (
        per_ps.join(per_part, "l_partkey")
        .where(
            F.col("q").cast("decimal(38,0)") * 10
            > F.col("tq").cast("decimal(38,0)") * 3
        )
    )
    return (
        dom.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_dominant_parts"),
            F.sum("q").cast("string").alias("dom_q10"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "n_dominant_parts", "dom_q10")
        .orderBy("s_name")
    )


_DOMINANT_SUPPLIER_SQL = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(floor(l_quantity * 10) AS BIGINT)) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = '{_Q20_TYPE}'
    AND l_shipdate >= TIMESTAMP '{_Q20_START}'
    AND l_shipdate < TIMESTAMP '{_Q20_END}'
  GROUP BY l_partkey, l_suppkey
)
SELECT s_suppkey, s_name,
       count(*) AS n_dominant_parts,
       CAST(sum(q) AS VARCHAR) AS dom_q10
FROM ps JOIN supplier ON l_suppkey = s_suppkey
WHERE ps.q * 10 > 3 * (SELECT sum(t.q) FROM ps t
                       WHERE t.l_partkey = ps.l_partkey)
GROUP BY s_suppkey, s_name
ORDER BY s_name
"""


# --- TPC-H Q19 shape: disjunctive OR-of-ANDs pushdown -----------------------

_Q19_BRANCHES = (
    ("Brand#12", 1, 5, 1, 11),
    ("Brand#23", 1, 10, 10, 20),
    ("Brand#4", 1, 15, 20, 30),
)


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three disjoint (brand, size-range, quantity-range)
    brackets — the TPC-H Q19 disjunctive-predicate shape, reported
    per matched bracket.

    Scale shape: the OR-of-ANDs is split per side and the IMPLIED
    coarse predicates are applied where they prune: the brand/size
    disjunction filters the part scan before its broadcast, and the
    quantity envelope (the union of the three ranges) is pushed to
    the lineitem scan — so the fact is pre-filtered even though no
    single branch predicate spans it. The residual OR evaluates as a
    when-cascade on the joined rows inside codegen. One broadcast
    join, one 3-row aggregate; revenue in integer cents emitted as a
    digit string."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")

    qty_lo = min(b[3] for b in _Q19_BRANCHES)
    qty_hi = max(b[4] for b in _Q19_BRANCHES)
    part_disj = None
    for brand, slo, shi, _, _ in _Q19_BRANCHES:
        c = (F.col("p_brand") == brand) & F.col("p_size").between(slo, shi)
        part_disj = c if part_disj is None else (part_disj | c)
    scoped = part.where(part_disj).select("p_partkey", "p_brand", "p_size")

    branch = None
    for i, (brand, slo, shi, qlo, qhi) in enumerate(_Q19_BRANCHES, start=1):
        cond = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        branch = (
            F.when(cond, i) if branch is None else branch.when(cond, i)
        )
    return (
        li.where(F.col("l_quantity").between(qty_lo, qty_hi))
        .join(F.broadcast(scoped), li.l_partkey == F.col("p_partkey"))
        .select(branch.alias("bracket"), cents(_net_revenue()).alias("cents"))
        .where(F.col("bracket").isNotNull())
        .groupBy("bracket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").cast("string").alias("revenue_cents"),
        )
        .orderBy("bracket")
    )


def _bracket_sql() -> str:
    conds = [
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
        f" AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in _Q19_BRANCHES
    ]
    case = " ".join(
        f"WHEN {c} THEN {i}" for i, c in enumerate(conds, start=1)
    )
    return f"""
SELECT CASE {case} END AS bracket,
       count(*) AS n_items,
       CAST(sum({cents_sql(_NET_REV_SQL)}) AS VARCHAR) AS revenue_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {" OR ".join(conds)}
GROUP BY 1 ORDER BY bracket
"""


_BRACKET_SQL = _bracket_sql()


# --- TPC-H Q12 shape: two-way CASE mix over a late-shipment join ----------

_Q12_YEAR_START = "1997-01-01"
_Q12_YEAR_END = "1998-01-01"
_Q12_LATE_DAYS = 365
_Q12_HIGH = ("1-URGENT", "2-HIGH")


def q_ship_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late shipments in one calendar year, split per (returnflag,
    linestatus) into high- vs low-priority order-line counts — the
    TPC-H Q12 conditional two-way aggregation shape (this corpus has
    no l_shipmode/l_commitdate, so the mode axis is the returnflag/
    linestatus pair and "late" = shipped more than _Q12_LATE_DAYS
    after the order date; reference Q12: priority mix per shipmode
    among late receipts).

    Scale shape: the year envelope is pushed to the lineitem scan
    (PushedFilters on l_shipdate) and the fact side projects to
    THREE columns before the join; the orders side carries exactly
    (o_orderkey, o_orderdate, is_high) — the priority predicate is
    folded to one boolean BEFORE the fact-fact shuffle so the wide
    exchange moves a bit, not a string. The CASE mix is two
    map-side-combinable conditional SUMs onto a 6-row group frame:
    one keyed exchange per side, one tiny final aggregate, no
    window, no second fact pass for the two counts."""
    # cross-engine-exact (r6, VERDICT r5 #1b): the envelope literals
    # are cast to the COLUMN'S OWN timestamp type (TIMESTAMP_NTZ as
    # loaded here), so no NTZ↔LTZ coercion is injected around the
    # column — the predicate stays directly on l_shipdate for parquet
    # pushdown and is representation-proof if a different harness
    # loads the column as LTZ; the late predicate compares exact
    # integer microseconds via timestampdiff instead of
    # `timestamp + INTERVAL n DAYS` (wall-clock day-add, the one form
    # that is DST-sensitive under an LTZ reading). Values identical
    # locally (hash-exact ×3 sfs).
    raw_li = table(spark, sf_dir, "lineitem")
    ship_t = raw_li.schema["l_shipdate"].dataType
    li = (
        raw_li
        .where(
            (F.col("l_shipdate") >= F.lit(_Q12_YEAR_START).cast(ship_t))
            & (F.col("l_shipdate") < F.lit(_Q12_YEAR_END).cast(ship_t))
        )
        .select("l_orderkey", "l_shipdate", "l_returnflag", "l_linestatus")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_orderpriority").isin(*_Q12_HIGH).alias("is_high"),
    )
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).where(
        F.expr("timestampdiff(MICROSECOND, o_orderdate, l_shipdate)")
        > F.lit(_Q12_LATE_DAYS * 86_400 * 1_000_000)
    )
    return (
        late.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("is_high").cast("bigint")).alias("high_count"),
            F.sum((~F.col("is_high")).cast("bigint")).alias("low_count"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SHIP_PRIORITY_MIX_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l_shipdate >= TIMESTAMP '{_Q12_YEAR_START}'
  AND l_shipdate < TIMESTAMP '{_Q12_YEAR_END}'
  AND l_shipdate > o_orderdate + INTERVAL {_Q12_LATE_DAYS} DAY
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- relational PIVOT: daily event-type matrix ------------------------------

_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_events_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts transposed to one column per event type —
    the relational PIVOT capability, with an EXPLICIT pivot-value
    list so no driver-side distinct-discovery job ever runs (pivot
    without values collects the key set to the driver first — the
    anti-pattern this query exists to show the safe form of).

    Scale shape: Spark compiles the explicit-values pivot to the
    long-form (day, type) count — map-side-combinable, the only
    aggregate the fact ever feeds — followed by a pivotfirst
    re-aggregation whose input is the ALREADY-REDUCED frame (rows =
    days × |types|, bytes-scale regardless of corpus size). So the
    wide dashboard shape costs the long-form groupBy plus a
    negligible second exchange over the tiny frame. n_total is a
    column sum over the pivoted cells, not a second fact pass."""
    ev = table(spark, sf_dir, "events")
    piv = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    counts = [
        F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
        for t in _PIVOT_TYPES
    ]
    out = piv.select("day", *counts)
    total = None
    for t in _PIVOT_TYPES:
        c = F.col(f"n_{t}")
        total = c if total is None else total + c
    return out.withColumn("n_total", total).orderBy("day")


_DAILY_PIVOT_SQL = f"""
SELECT CAST(ts AS DATE) AS day,
       {", ".join(
           f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
           for t in _PIVOT_TYPES
       )},
       {" + ".join(
           f"count(*) FILTER (WHERE event_type = '{t}')"
           for t in _PIVOT_TYPES
       )} AS n_total
FROM events GROUP BY 1 ORDER BY day
"""


def q_events_daily_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): transpose the wide daily event-type matrix back
    to long (day, event_type, n) form and drop the zero cells — the
    wide-to-long reshape every feature-store export needs, and the
    inverse of q_events_daily_type_pivot. The oracle is the PLAIN
    long-form `GROUP BY day, event_type` count, so driver hash
    equality proves `unpivot ∘ pivot == identity` on the sparse long
    frame — the reshape pair is exact, not just shape-compatible.

    Scale shape: the fact feeds only the long-form map-side-combinable
    (day, type) count (same single reduction as the pivot query); the
    pivot and the Expand-based unpivot both run on the already-reduced
    days×|types| frame, bytes-scale at any corpus size."""
    ev = table(spark, sf_dir, "events")
    wide = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # name wide cells exactly by type so unpivot's variable column is
    # the event_type string itself — no post-hoc prefix stripping
    wide = wide.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
            for t in _PIVOT_TYPES
        ],
    )
    return (
        wide.unpivot(
            ids=["day"],
            values=list(_PIVOT_TYPES),
            variableColumnName="event_type",
            valueColumnName="n",
        )
        .where(F.col("n") > 0)
        .orderBy("day", "event_type")
    )


_DAILY_UNPIVOT_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


# --- TPC-H Q6 shape: forecast revenue change ---------------------------------

_Q6_YEAR = 1997
_Q6_DISC_LO = 0.05
_Q6_DISC_HI = 0.07
_Q6_MAX_QTY = 24


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change (the TPC-H Q6 shape): revenue given up
    if discounts in a band were eliminated for small-quantity lines in
    one year — a single-table filter-aggregate whose entire value is
    the SCAN contract: all three predicates (year envelope, discount
    band, quantity cap) must reach the parquet reader as pushed
    filters and only 3 columns may be read; the aggregate is one
    map-side-combinable partial sum, zero keyed exchanges.

    Revenue rides floor(l_extendedprice · l_discount · 100) integer
    cents summed as decimal(38,0) → digit string (overflow-proof at
    10^12 rows, render-identical both engines)."""
    li = table(spark, sf_dir, "lineitem")
    rev = cents(F.col("l_extendedprice") * F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(f"{_Q6_YEAR}-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(f"{_Q6_YEAR + 1}-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= _Q6_DISC_LO)
            & (F.col("l_discount") <= _Q6_DISC_HI)
            & (F.col("l_quantity") < _Q6_MAX_QTY)
        )
        .agg(
            F.sum(rev.cast("decimal(38,0)")).cast("string").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_FORECAST_REVENUE_SQL = f"""
SELECT CAST(sum({cents_sql("l_extendedprice * l_discount")})
            AS VARCHAR) AS revenue_cents,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_Q6_YEAR}-01-01'
  AND l_shipdate < TIMESTAMP '{_Q6_YEAR + 1}-01-01'
  AND l_discount >= CAST({_Q6_DISC_LO} AS DOUBLE)
  AND l_discount <= CAST({_Q6_DISC_HI} AS DOUBLE)
  AND l_quantity < {_Q6_MAX_QTY}
"""


# --- TPC-H Q9 shape: product-line profit by nation and year -----------------
# Reference parity: the reference has no relational engine; this is the
# beyond-§2 analytics surface (SURVEY.md §2 A-class) exercising the one
# join shape no other registered query has — a composite-key
# (part, supplier) per-group floor joined back to the fact, decorrelated
# into a partitionBy analytic so the fact is clustered ONCE on the
# composite key and never self-joined.

_Q9_PART_LIKE = "widget"  # ~13% of parts at every sf; non-vacuous


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit per (supplier nation, order year) for one product line
    (the TPC-H Q9 shape): per line, revenue minus the supplier's best
    unit cost for that part, where unit cost is derived from the fact
    itself (min unit price this supplier ever shipped the part at —
    the corpus has no partsupp table, so the cost floor is the
    supplier's own observed best price).

    Scale shape: the correlated "supplier's min unit cost for this
    part" decorrelates into ONE analytic min over a
    partitionBy(l_partkey, l_suppkey) window — the fact is clustered
    once on the composite key and never self-joined (frames are
    bounded: lines for one part from one supplier). Profit is then
    partially aggregated to (orderkey, nation) grain BEFORE the
    orders join — the Q13 lesson — so the wide o_orderkey shuffle
    carries order×nation rows, not line rows. All money is integer
    cents (floor(x·100), unit cost via pure integer `div`, identical
    both engines); the final sum rides decimal(38,0) → digit string
    so a 10^12-row corpus cannot overflow or hit the HUGEINT-vs-
    decimal rendering trap (the dsir lesson)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    part = table(spark, sf_dir, "part")

    scoped = part.where(
        F.col("p_name").contains(_Q9_PART_LIKE)
    ).select("p_partkey")
    supp_nation = F.broadcast(
        supp.join(
            F.broadcast(nation),
            supp.s_nationkey == nation.n_nationkey,
        ).select("s_suppkey", "n_name")
    )
    rev_cents = cents(_net_revenue())
    ext_cents = cents(F.col("l_extendedprice"))
    qty = F.col("l_quantity").cast("long")
    # bounded-window: frame = lines for ONE (part, supplier) pair
    w_ps = Window.partitionBy("l_partkey", "l_suppkey")
    fact = (
        li.join(F.broadcast(scoped), li.l_partkey == F.col("p_partkey"))
        .select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            rev_cents.alias("rev_cents"),
            ext_cents.alias("ext_cents"),
            qty.alias("qty"),
        )
        .withColumn("unit_cents", F.expr("ext_cents div qty"))
        .withColumn("ps_cents", F.min("unit_cents").over(w_ps))
        .withColumn(
            "profit_cents", F.col("rev_cents") - F.col("ps_cents") * F.col("qty")
        )
    )
    per_order = (
        fact.join(supp_nation, fact.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_orderkey", "n_name")
        .agg(F.sum("profit_cents").alias("order_profit"))
    )
    return (
        per_order.join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            per_order.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.sum(F.col("order_profit").cast("decimal(38,0)"))
            .cast("string")
            .alias("profit_cents")
        )
        .orderBy("nation", "o_year")
    )


_PRODUCT_PROFIT_SQL = f"""
WITH fact AS (
  SELECT l_orderkey, l_partkey, l_suppkey,
         {cents_sql(_NET_REV_SQL)}
           AS rev_cents,
         {cents_sql("l_extendedprice")} AS ext_cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%{_Q9_PART_LIKE}%'
),
w AS (
  SELECT l_orderkey, l_suppkey, rev_cents, qty,
         min(ext_cents // qty)
           OVER (PARTITION BY l_partkey, l_suppkey) AS ps_cents,
         ext_cents // qty AS unit_cents
  FROM fact
),
per_order AS (
  SELECT l_orderkey, n_name,
         sum(rev_cents - ps_cents * qty) AS order_profit
  FROM w
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(order_profit) AS VARCHAR) AS profit_cents
FROM per_order JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
ORDER BY nation, o_year
"""


# --- CDC MERGE INTO: snapshot maintenance as one conditional aggregate ----

_MERGE_CUT = "2024-01-20 00:00:00"


def q_events_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (the north rule's idempotent-resume primitive,
    here as the CDC snapshot-maintenance query): a per-(user, k) state
    snapshot built from events BEFORE the cutoff is merged with a
    delta batch of events AT-OR-AFTER the cutoff under full MERGE
    semantics —

      WHEN MATCHED AND src.is_delete THEN DELETE
      WHEN MATCHED                   THEN UPDATE (combine aggregates)
      WHEN NOT MATCHED BY SOURCE     THEN keep target row
      WHEN NOT MATCHED [BY TARGET] AND NOT is_delete THEN INSERT
      (an is_delete row with no target match is a no-op)

    where is_delete means the key's LAST delta event (total order
    (ts, event_id)) is an 'error' — an account-tombstone marker.
    State grain is (user_id, k = props.k) so all five branches fire
    at every sf (per user, before/after key sets overlap partially).

    Scale shape — the decorrelated MERGE: instead of materializing
    target and source and joining them (two keyed shuffles + a
    full-outer join), the fact is scanned ONCE and both sides'
    aggregates are computed as conditional aggregations in a single
    map-side-combinable hash aggregate — ONE exchange on the state
    key, zero joins; the merge branches become a projection + filter.
    The 'last delta event' lookup is a max over struct(ts, event_id,
    event_type) (lexicographic; (ts, event_id) is a total order so
    event_type never decides) — combinable, no window. The oracle
    keeps the textbook form (separate target/source CTEs +
    FULL OUTER JOIN + row_number for the last event), so driver hash
    equality proves the decorrelation. Money is floor-cents BIGINT
    (the cross-engine-exact convention); timestamps never appear in
    the output (last_event_id carries recency)."""
    ev = table(spark, sf_dir, "events")
    cut = F.lit(_MERGE_CUT).cast("timestamp")
    rows = ev.select(
        "user_id",
        F.from_json(F.col("props"), "k INT")["k"].alias("k"),
        "ts",
        "event_id",
        "event_type",
        cents(F.col("value")).alias("cents"),
        (F.col("ts") < cut).alias("b"),
    )
    a = ~F.col("b")
    agg = rows.groupBy("user_id", "k").agg(
        F.count(F.when(F.col("b"), 1)).alias("n_t"),
        F.sum(F.when(F.col("b"), F.col("cents"))).alias("c_t"),
        F.max(F.when(F.col("b"), F.col("event_id"))).alias("id_t"),
        F.count(F.when(a, 1)).alias("n_s"),
        F.sum(F.when(a, F.col("cents"))).alias("c_s"),
        F.max(F.when(a, F.col("event_id"))).alias("id_s"),
        F.max(
            F.when(a, F.struct("ts", "event_id", "event_type"))
        )["event_type"].alias("last_type"),
    )
    in_tgt = F.col("id_t").isNotNull()
    in_src = F.col("id_s").isNotNull()
    op = (
        F.when(~in_tgt, F.lit("insert"))
        .when(~in_src, F.lit("keep"))
        .otherwise(F.lit("update"))
    )
    return (
        agg.where(~in_src | (F.col("last_type") != F.lit("error")))
        .select(
            "user_id",
            "k",
            op.alias("op"),
            (F.col("n_t") + F.col("n_s")).alias("n_events"),
            (
                F.coalesce("c_t", F.lit(0)) + F.coalesce("c_s", F.lit(0))
            ).alias("total_cents"),
            F.greatest(
                F.coalesce("id_t", F.lit(-1)), F.coalesce("id_s", F.lit(-1))
            ).alias("last_event_id"),
        )
        .orderBy("user_id", "k")
    )


_MERGE_UPSERT_SQL = f"""
WITH tgt AS (
  SELECT user_id, CAST(json_extract(props, '$.k') AS INT) AS k,
         count(*) AS n_t,
         sum({cents_sql("value")}) AS c_t,
         max(event_id) AS id_t
  FROM events
  WHERE ts < TIMESTAMP '{_MERGE_CUT}'
  GROUP BY 1, 2
),
src0 AS (
  SELECT user_id, CAST(json_extract(props, '$.k') AS INT) AS k,
         event_id, event_type, ts,
         {cents_sql("value")} AS cents
  FROM events
  WHERE ts >= TIMESTAMP '{_MERGE_CUT}'
),
src AS (
  SELECT user_id, k, count(*) AS n_s, sum(cents) AS c_s,
         max(event_id) AS id_s
  FROM src0
  GROUP BY 1, 2
),
last AS (
  SELECT user_id, k, event_type AS last_type
  FROM (
    SELECT user_id, k, event_type,
           row_number() OVER (
             PARTITION BY user_id, k ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM src0
  )
  WHERE rn = 1
),
merged AS (
  SELECT coalesce(t.user_id, s.user_id) AS user_id,
         coalesce(t.k, s.k) AS k,
         CASE WHEN t.id_t IS NULL THEN 'insert'
              WHEN s.id_s IS NULL THEN 'keep'
              ELSE 'update' END AS op,
         l.last_type,
         CAST(coalesce(t.n_t, 0) + coalesce(s.n_s, 0) AS BIGINT)
           AS n_events,
         CAST(coalesce(t.c_t, 0) + coalesce(s.c_s, 0) AS BIGINT)
           AS total_cents,
         greatest(coalesce(t.id_t, -1), coalesce(s.id_s, -1))
           AS last_event_id
  FROM tgt t
  FULL OUTER JOIN src s ON t.user_id = s.user_id AND t.k = s.k
  LEFT JOIN last l ON coalesce(t.user_id, s.user_id) = l.user_id
                  AND coalesce(t.k, s.k) = l.k
)
SELECT user_id, k, op, n_events, total_cents, last_event_id
FROM merged
WHERE last_type IS NULL OR last_type <> 'error'
ORDER BY user_id, k
"""


# --- per-user activity bitmap ---------------------------------------------------


def q_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user day-of-month ACTIVITY BITMAP — the engagement-vector
    encoding (roaring-bitmap class) feature stores keep per entity:
    bit d-1 set iff the user acted on day d, packed into ONE BIGINT
    (the corpus spans one month; a production table keys the bitmap
    by month). Emits the mask plus the three features models actually
    consume: active-day count (popcount), longest daily streak, and
    days since last activity within the month.

    The streak comes from gaps-and-islands on the distinct day frame
    (run key = d − row_number within user) — every window frame is
    ≤ 31 rows per user by construction.

    Scale shape: the (user, day) distinct is a map-side-combinable
    aggregate (the mask partial — sum of distinct powers of two — is
    a bitwise OR in disguise); streak windows partition by user over
    month-bounded frames; features are pure projections."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", (F.dayofmonth("ts") - 1).alias("d")
    ).distinct()
    run = F.col("d") - F.row_number().over(
        Window.partitionBy("user_id").orderBy("d")
    )
    streaks = (
        days.select("user_id", "d", run.alias("run"))
        .groupBy("user_id", "run")
        .agg(F.count("*").alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").cast("int").alias("longest_streak"))
    )
    mask = days.groupBy("user_id").agg(
        F.sum(F.pow(F.lit(2.0), F.col("d")).cast("long")).alias("mask"),
        F.max("d").alias("last_d"),
    )
    return (
        mask.join(streaks, "user_id")
        .select(
            "user_id",
            "mask",
            F.bit_count("mask").cast("int").alias("active_days"),
            "longest_streak",
            (F.lit(30) - F.col("last_d")).cast("int").alias(
                "days_since_last"
            ),
        )
        .orderBy("user_id")
    )


def _activity_bitmap_sql() -> str:
    return """
WITH days AS (
  SELECT DISTINCT user_id, day(ts) - 1 AS d FROM events
),
streaks AS (
  SELECT user_id, CAST(max(len) AS INT) AS longest_streak FROM (
    SELECT user_id, run, count(*) AS len FROM (
      SELECT user_id, d,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS run
      FROM days
    ) GROUP BY user_id, run
  ) GROUP BY user_id
),
masks AS (
  SELECT user_id,
         CAST(sum(CAST(round(pow(2.0, d)) AS BIGINT)) AS BIGINT) AS mask,
         max(d) AS last_d
  FROM days GROUP BY user_id
)
SELECT user_id, mask,
       CAST(bit_count(mask) AS INT) AS active_days,
       longest_streak,
       CAST(30 - last_d AS INT) AS days_since_last
FROM masks JOIN streaks USING (user_id)
ORDER BY user_id
"""


# --- data-quality expectation suite --------------------------------------------

DQ_VALUE_MAX = 1_000_000  # cents ceiling for the range check


def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style DATA-QUALITY expectation suite over the events
    table — the ingest gate a production pipeline runs before a
    partition is published: completeness (no NULL user/type/ts),
    uniqueness (event_id is a key), range (value cents within
    bounds), referential sanity (every type in the known set), and
    freshness (max ts within the corpus window). One row per check
    with the measured metric (canonical digit string) and the pass
    boolean — the driver hash therefore FAILS if data quality drifts,
    the same trick as the sketch-accuracy contract.

    Scale shape: every metric is a map-side-combinable aggregate over
    ONE scan (conditional counts, min/max, one exact distinct on the
    key column); no joins, no windows."""
    ev = table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "null_user"
        ),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0)).alias(
            "null_type"
        ),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("null_ts"),
        F.countDistinct("event_id").alias("n_ids"),
        F.min(cents(F.col("value"))).alias("min_cents"),
        F.max(cents(F.col("value"))).alias("max_cents"),
        F.sum(
            F.when(
                ~F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
                1,
            ).otherwise(0)
        ).alias("unknown_types"),
        F.datediff(F.max("ts"), F.min("ts")).alias("span_days"),
    )
    checks = [
        ("complete_user_id", F.col("null_user"), F.col("null_user") == 0),
        ("complete_event_type", F.col("null_type"), F.col("null_type") == 0),
        ("complete_ts", F.col("null_ts"), F.col("null_ts") == 0),
        (
            "unique_event_id",
            F.col("n_rows") - F.col("n_ids"),
            F.col("n_ids") == F.col("n_rows"),
        ),
        (
            "value_cents_nonnegative",
            F.col("min_cents"),
            F.col("min_cents") >= 0,
        ),
        (
            "value_cents_below_max",
            F.col("max_cents"),
            F.col("max_cents") <= DQ_VALUE_MAX,
        ),
        (
            "event_type_in_domain",
            F.col("unknown_types"),
            F.col("unknown_types") == 0,
        ),
        (
            "freshness_span_days",
            F.col("span_days"),
            F.col("span_days") <= 366,
        ),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check"),
                metric.cast("string").alias("metric"),
                passed.alias("passed"),
            )
            for name, metric, passed in checks
        ]
    )
    return (
        agg.select(F.explode(rows).alias("c"))
        .select("c.check", "c.metric", "c.passed")
        .orderBy("check")
    )


_DQ_SQL = f"""
WITH agg AS (
  SELECT count(*) AS n_rows,
         sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user,
         sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS null_type,
         sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS null_ts,
         count(DISTINCT event_id) AS n_ids,
         min({cents_sql("value")}) AS min_cents,
         max({cents_sql("value")}) AS max_cents,
         sum(CASE WHEN event_type NOT IN
               ('click', 'view', 'purchase', 'signup', 'error')
             THEN 1 ELSE 0 END) AS unknown_types,
         date_diff('day', min(ts), max(ts)) AS span_days
  FROM events
)
SELECT "check", metric, passed FROM (
  SELECT 'complete_user_id' AS "check", CAST(null_user AS VARCHAR) AS metric,
         null_user = 0 AS passed FROM agg
  UNION ALL
  SELECT 'complete_event_type', CAST(null_type AS VARCHAR),
         null_type = 0 FROM agg
  UNION ALL
  SELECT 'complete_ts', CAST(null_ts AS VARCHAR), null_ts = 0 FROM agg
  UNION ALL
  SELECT 'unique_event_id', CAST(n_rows - n_ids AS VARCHAR),
         n_ids = n_rows FROM agg
  UNION ALL
  SELECT 'value_cents_nonnegative', CAST(min_cents AS VARCHAR),
         min_cents >= 0 FROM agg
  UNION ALL
  SELECT 'value_cents_below_max', CAST(max_cents AS VARCHAR),
         max_cents <= {DQ_VALUE_MAX} FROM agg
  UNION ALL
  SELECT 'event_type_in_domain', CAST(unknown_types AS VARCHAR),
         unknown_types = 0 FROM agg
  UNION ALL
  SELECT 'freshness_span_days', CAST(span_days AS VARCHAR),
         span_days <= 366 FROM agg
)
ORDER BY "check"
"""


# --- semi-structured schema-drift report -----------------------------------------


def q_props_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-DRIFT report over the semi-structured props column —
    the governance view that catches producers adding or retiring
    JSON fields without coordination: per key, the first/last day it
    appeared, days present, and event count. The corpus's props carry
    one stable key, so drift is INJECTED deterministically (the
    repo's homogeneous-corpus convention): an 'src' key on even days
    and a deprecated 'exp' key during the first 10 days — so the
    report provably shows one stable, one periodic, and one retired
    key at every sf.

    Scale shape: augment → json_object_keys → narrow explode → ONE
    (key) hash aggregate with min/max/distinct-day partials; the
    declared-parse lesson of q_events_json_props applies (no
    inference pass)."""
    ev = table(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    aug = F.concat(
        F.lit('{"k": '),
        F.from_json(F.col("props"), "k INT")["k"].cast("string"),
        F.when(day % 2 == 0, F.lit(', "src": 1')).otherwise(F.lit("")),
        F.when(day <= 10, F.lit(', "exp": 1')).otherwise(F.lit("")),
        F.lit("}"),
    )
    keys = ev.select(
        F.to_date("ts").alias("d"),
        F.explode(F.json_object_keys(aug)).alias("key"),
    )
    return (
        keys.groupBy("key")
        .agg(
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("last_day"),
            F.countDistinct("d").alias("n_days"),
            F.count("*").alias("n_events"),
        )
        .orderBy("key")
    )


_SCHEMA_DRIFT_SQL = """
WITH aug AS (
  SELECT CAST(ts AS DATE) AS d,
         '{"k": ' || CAST(json_extract(props, '$.k') AS INT)
         || CASE WHEN day(ts) % 2 = 0 THEN ', "src": 1' ELSE '' END
         || CASE WHEN day(ts) <= 10 THEN ', "exp": 1' ELSE '' END
         || '}' AS props_aug
  FROM events
),
keys AS (
  SELECT d, unnest(json_keys(props_aug)) AS key FROM aug
)
SELECT key,
       strftime(min(d), '%Y-%m-%d') AS first_day,
       strftime(max(d), '%Y-%m-%d') AS last_day,
       count(DISTINCT d) AS n_days,
       count(*) AS n_events
FROM keys
GROUP BY key
ORDER BY key
"""


# --- salted hot-key aggregation, driver-hashed --------------------------------

SALT_N = 32


def q_salted_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-PROOF aggregation shape, driver-hashed: per-event-type
    totals where the grouping key has only ~5 distinct values — at
    10^12 events a plain groupBy(event_type) funnels 20% of the
    corpus through each of 5 reducers; the two-phase salted rewrite
    (phase 1 groups by (key, salt) so SALT_N reducers share each hot
    key, phase 2 merges the decomposable partials) is the standard
    fix, and this query PROVES it exact: the oracle is the plain
    one-phase GROUP BY, so the driver hash certifies salted ≡ plain.

    The salt is content-derived (xxhash64 over the full row — the
    skew.salted_agg discipline): a re-executed map task under partial
    stage retry routes every row to the SAME (key, salt) group, so
    partials are bit-stable (the SPARK-23207 failure class that
    rand()/monotonic-id salts are exposed to). Money stays in
    floor-cents BIGINT through both phases and is emitted as a digit
    string (the dsir lesson); count/sum/min/max are all decomposable
    so the two-phase merge is exact, not approximate."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    salted = ev.withColumn(
        "_salt", F.pmod(F.xxhash64(*ev.columns), F.lit(SALT_N))
    )
    part = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(cents(F.col("value"))).alias("pc"),
        F.min("event_id").alias("pmin"),
        F.max("event_id").alias("pmax"),
    )
    return (
        part.groupBy("event_type")
        .agg(
            F.sum("pn").cast("long").alias("n_events"),
            F.sum("pc").cast("string").alias("value_cents"),
            F.min("pmin").alias("first_event"),
            F.max("pmax").alias("last_event"),
        )
        .orderBy("event_type")
    )


_SALTED_TOTALS_SQL = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum({cents_sql("value")}) AS VARCHAR) AS value_cents,
       min(event_id) AS first_event,
       max(event_id) AS last_event
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_salted_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-PROOF join shape, driver-hashed — the join-side
    counterpart of q_salted_type_totals: fact (events, ~5 hot
    event_type values — at 10^12 rows a plain shuffle join funnels
    20% of the corpus through each of 5 reducers) ⋈ dim (per-type
    cost table) via the replicate-salt rewrite: the dim side is
    EXPLODED ×SALT_N with a salt column, the fact side salts each row
    content-derivedly (xxhash64 over the full row — bit-stable under
    partial stage retry, the SPARK-23207 discipline), and the join
    runs on (event_type, _salt) so every hot key spreads over SALT_N
    reducers. The oracle is the textbook UNSALTED join + aggregate,
    so the driver hash CERTIFIES salted ≡ plain (the LSH-swap proof
    pattern applied to join skew).

    The merge hint pins the shape under test: a shuffle join, not a
    broadcast (at this dim size Catalyst would broadcast and no salt
    would be needed — the cert must exercise the plan you'd run when
    the dim side is too big to broadcast or AQE skew-split is
    unavailable, e.g. a bucketed fact table). Money stays in
    floor-cents BIGINT × milli-cost integers; the weighted sum is
    emitted as a digit string (the dsir lesson)."""
    from ocr_intern_spark.functions.hashing import fnv1a64_spark

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "cost_milli",
            F.expr(f"pmod({fnv1a64_spark('event_type')}, 1000)"),
        )
    )
    dim_salted = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_N - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    fact = ev.withColumn(
        "_salt", F.pmod(F.xxhash64(*ev.columns), F.lit(SALT_N))
    )
    joined = fact.hint("merge").join(
        dim_salted, ["event_type", "_salt"]
    )
    return (
        joined.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents(F.col("value")) * F.col("cost_milli"))
            .cast("string")
            .alias("weighted_cents_milli"),
        )
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n_events",
            "weighted_cents_milli",
        )
        .orderBy("event_type", "day")
    )


def _salted_dim_join_sql() -> str:
    from ocr_intern_spark.functions.hashing import fnv1a64_duckdb

    h = fnv1a64_duckdb("event_type")
    return f"""
WITH dim AS (
  SELECT DISTINCT event_type,
         (({h}) % 1000 + 1000) % 1000 AS cost_milli
  FROM events
)
SELECT e.event_type, CAST(CAST(e.ts AS DATE) AS VARCHAR) AS day,
       count(*) AS n_events,
       CAST(sum({cents_sql("e.value")} * d.cost_milli)
            AS VARCHAR) AS weighted_cents_milli
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type, CAST(e.ts AS DATE)
ORDER BY event_type, day
"""


def q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: customers on the 2-D pareto front of (total
    spend, account balance) — nobody both spends ≥ and holds ≥ with
    one strict. The engine path is skew.pareto_front (per-x group max
    → range-partitioned two-pass strict running max → semi-join), so
    NO unbounded window and no all-pairs compare ever runs; the
    oracle is the textbook quadratic NOT EXISTS dominance predicate —
    hash equality certifies the decomposition, the same proof shape
    as the salted-agg and LSH-swap certificates.

    Money is floor-cents BIGINT on both engines (IEEE double ×100 →
    floor is bit-identical cross-engine; never round()). Scale: at
    10^12 orders pass 1 is a map-side-combinable agg; the skyline
    pass runs on the distinct-spend frame, range-partitioned, with
    only a P-row summary crossing the driver-broadcast boundary."""
    from ocr_intern_spark.operators.skew import pareto_front

    spend = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("spend_cents")
        )
    )
    pts = (
        table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            cents(F.col("c_acctbal")).alias("bal_cents"),
        )
        .join(spend, "c_custkey")
        .select("c_custkey", "spend_cents", "bal_cents")
    )
    return pareto_front(pts, "spend_cents", "bal_cents").orderBy("c_custkey")


_PARETO_SQL = f"""
WITH spend AS (
  SELECT o_custkey AS c_custkey,
         CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
           AS spend_cents
  FROM orders GROUP BY o_custkey
),
pts AS (
  SELECT c.c_custkey, s.spend_cents,
         {cents_sql("c.c_acctbal")} AS bal_cents
  FROM customer c JOIN spend s USING (c_custkey)
)
SELECT c_custkey, spend_cents, bal_cents
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.spend_cents >= p.spend_cents AND q.bal_cents >= p.bal_cents
    AND (q.spend_cents > p.spend_cents OR q.bal_cents > p.bal_cents)
)
ORDER BY c_custkey
"""


_OVERLAP_GAP = "6 HOURS"  # error-burst session gap for the overlap join


def q_events_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP self-join at scale: which user pairs had
    error bursts (6-hour-gap sessions over error events) active at
    the same time — the incident-correlation query every ops pipeline
    runs, and the canonical join Spark has no native operator for.

    Engine path (the bin-join): explode each session to the days it
    covers, equi-join on the day bin (+ user< to orient pairs), apply
    the exact strict-overlap predicate, then DEDUPE pairs that shared
    several day bins — never a cross join. The oracle is the
    textbook all-pairs inequality join (DuckDB plans it as an
    IEJoin); hash equality certifies bin-join ≡ all-pairs, the
    LSH-swap proof shape applied to interval joins. Correctness of
    the binning: a (possibly point) overlap lies inside some calendar
    day present in BOTH sessions' expansions, so no pair can be
    missed; midnight-boundary touches land in the shared day.

    Output is per user (n_pairs, n_partners, total overlap); the
    overlap sum is exact integer MICROSECONDS emitted as a digit
    string (it exceeds 9 significant digits — the dsir lesson). A
    zero-length value is a strict containment touch of a point
    session: counted as a pair, contributes 0 — same predicate both
    engines. Scale: day bins bound the join fan-in to concurrent
    sessions per day; at 10^12 events the bin narrows to the hour and
    sessions pre-aggregate per (user, bin) — same shape."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "error")
    # materialize the session-bounds frame: BOTH sides of the self-join
    # consume it, and without the persist each alias re-runs the whole
    # sessionize (two raw scans + two window passes instead of one)
    s = (
        sessionize(ev, _OVERLAP_GAP)
        .select(
            "user_id",
            "session_id",
            "session_start",
            "session_end",
        )
        .persist()
    )
    binned = s.select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        F.explode(
            F.sequence(
                F.to_date("session_start"), F.to_date("session_end")
            )
        ).alias("day"),
    )
    a = binned.alias("a")
    b = binned.alias("b")
    raw_pairs = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.session_start") < F.col("b.session_end"))
        & (F.col("b.session_start") < F.col("a.session_end")),
    ).select(
        F.col("a.user_id").alias("ua"),
        F.col("a.session_id").alias("sa"),
        F.col("b.user_id").alias("ub"),
        F.col("b.session_id").alias("sb"),
        F.least(F.col("a.session_end"), F.col("b.session_end")).alias("oe"),
        F.greatest(
            F.col("a.session_start"), F.col("b.session_start")
        ).alias("os"),
    )
    ov_us = (
        (F.col("oe") - F.col("os")).cast("decimal(20,6)") * 1_000_000
    ).cast("long")
    pairs = raw_pairs.distinct().select("ua", "ub", ov_us.alias("ov_us"))
    both = pairs.select(
        F.col("ua").alias("user_id"), F.col("ub").alias("partner"), "ov_us"
    ).unionByName(
        pairs.select(
            F.col("ub").alias("user_id"), F.col("ua").alias("partner"), "ov_us"
        )
    )
    return (
        both.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("partner").alias("n_partners"),
            F.sum("ov_us").cast("string").alias("overlap_us_total"),
        )
        .orderBy("user_id")
    )


_SESSION_OVERLAP_SQL = """
WITH err AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 6 HOUR
              THEN 1 ELSE 0 END AS new_sess
  FROM err
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id,
         ts
  FROM flagged
),
bounds AS (
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM sess GROUP BY user_id, session_id
),
pairs AS (
  SELECT a.user_id AS ua, b.user_id AS ub,
         epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)) AS ov_us
  FROM bounds a JOIN bounds b
    ON a.user_id < b.user_id
   AND a.s < b.e AND b.s < a.e
),
sym AS (
  SELECT ua AS user_id, ub AS partner, ov_us FROM pairs
  UNION ALL
  SELECT ub AS user_id, ua AS partner, ov_us FROM pairs
)
SELECT user_id, count(*) AS n_pairs,
       count(DISTINCT partner) AS n_partners,
       CAST(sum(ov_us) AS VARCHAR) AS overlap_us_total
FROM sym
GROUP BY user_id ORDER BY user_id
"""


_IVM_SPLIT_PCT = 80  # first 80% of the (ts, event_id) order is the base load
_IVM_RETRACT_MOD = 41  # base rows with event_id % MOD == 0 get retracted


def q_events_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance WITH RETRACTIONS, certified
    against full recomputation: the (day, event_type) aggregate is
    first materialized over the base load (the first 80% of the
    stream), then a delta batch arrives carrying both inserts (the
    remaining 20%) and retractions (corrections withdrawing every
    base row with ``event_id % 41 == 0`` — the Flink/Materialize
    changelog model, op = ±1). The maintenance path NEVER rescans the
    base: it aggregates the signed delta alone and outer-merges it
    with the materialized aggregate, dropping keys whose count
    reaches zero. The oracle recomputes the final multiset from
    scratch; hash equality proves maintenance ≡ recompute, including
    sum corrections on every touched key.

    Scale: the whole point — at 10^12 base rows the delta-side cost
    is O(|delta|) + a key-aligned merge join against the materialized
    view, the same MERGE INTO shape events_merge_upsert pins. Sums
    are floor-cents BIGINT; retraction subtracts the identical
    integer it inserted, so no float residue can survive a
    retraction (emitted as digit strings past 9 significant
    digits)."""
    from ocr_intern_spark.operators.skew import global_rank

    ev = table(spark, sf_dir, "events").select(
        "ts", "event_id", "event_type", "value"
    )
    # base/delta carve via the DISTRIBUTED two-pass rank (production
    # deltas arrive pre-labelled by the changelog; this rank is the
    # test harness's stand-in and still never runs a global window)
    labelled = global_rank(
        ev, F.col("ts"), F.col("event_id"), rank_name="_r"
    ).select(
        "ts",
        "event_id",
        "event_type",
        "value",
        (F.col("_r") - 1).alias("rn"),
        cents(F.col("value")).alias("cents"),
    )
    # the carve scalar FOLDED INTO THE PLAN as a 1-row broadcast off
    # the persisted rank frame (max(rn)+1 == n), instead of a driver-
    # side ev.count() that ran an extra full scan at plan-build time;
    # the production equivalent at scale is the ingest offset either
    # way. Empty-corpus edge: empty → _cut null → both filters emit
    # 0 rows, same as the old n=0 path.
    cutdf = labelled.agg(
        F.expr(f"(max(rn) + 1) * {_IVM_SPLIT_PCT} DIV 100").alias("_cut")
    )
    labelled = labelled.crossJoin(F.broadcast(cutdf))
    key = [F.to_date("ts").alias("day"), F.col("event_type")]
    base = labelled.where(F.col("rn") < F.col("_cut"))
    base_view = base.groupBy(*key).agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )
    retract = base.where(F.col("event_id") % _IVM_RETRACT_MOD == 0).select(
        *key,
        F.lit(-1).alias("op"),
        F.col("cents"),
    )
    insert = labelled.where(F.col("rn") >= F.col("_cut")).select(
        *key, F.lit(1).alias("op"), F.col("cents")
    )
    delta = retract.unionByName(insert)
    delta_agg = delta.groupBy("day", "event_type").agg(
        F.sum("op").alias("dn"),
        F.sum(F.col("op") * F.col("cents")).alias("dcents"),
    )
    merged = (
        base_view.join(delta_agg, ["day", "event_type"], "full_outer")
        .select(
            "day",
            "event_type",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("cents"), F.lit(0))
                + F.coalesce(F.col("dcents"), F.lit(0))
            ).alias("cents"),
        )
        .where(F.col("n") > 0)
    )
    return merged.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "n",
        F.col("cents").cast("string").alias("cents"),
    ).orderBy("day", "event_type")


_IVM_RETRACT_SQL = f"""
WITH ordered AS (
  SELECT ts, event_id, event_type, value,
         row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
         count(*) OVER () AS n
  FROM events
),
final AS (  -- the surviving multiset: base minus retractions, plus delta
  SELECT ts, event_type, {cents_sql("value")} AS cents
  FROM ordered
  WHERE rn >= n * {_IVM_SPLIT_PCT} // 100
     OR event_id % {_IVM_RETRACT_MOD} != 0
)
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       count(*) AS n, CAST(sum(cents) AS VARCHAR) AS cents
FROM final
GROUP BY CAST(ts AS DATE), event_type
ORDER BY day, event_type
"""


CMS_D = 4      # count-min depth (independent hash rows)
CMS_W = 256    # count-min width (buckets per row)
CMS_TOPK = 20  # heavy hitters reported


def _cms_bucket(row_i: Column, key: Column) -> Column:
    """md5-derived CMS bucket — shared by the batch query and the
    streaming sum-merge variant."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        row_i.cast("string"), F.lit(":"), key.cast("string")
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % CMS_W
    )


def q_events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters, BIT-EXACTLY certified: the
    sketch is built with md5-derived hash rows (portable across
    engines, unlike xxhash-seeded library sketches), so the DuckDB
    oracle reconstructs the identical d×w counter matrix and the
    identical min-over-rows estimates — a sketch whose every counter
    is cross-engine reproducible, not merely within tolerance (the
    complement of events_sketch_accuracy's 5% HLL/KLL contract).

    Emits the CMS_TOPK users by exact count with exact count, CMS
    estimate, and the overestimate — the CMS error is one-sided, and
    the unit test asserts exactly that law on every row.

    Scale shape: the counter build is the mergeable-summary dataflow
    — explode each row into d (row, bucket) cells and hash-aggregate;
    map-side combine collapses each partition to ≤ d·w partial cells
    (1,024 here), so shuffle volume is O(d·w·partitions) regardless
    of corpus size. Estimation joins the distinct-key frame against
    the BROADCAST 1,024-cell sketch. At 10^12 events you keep ONLY
    the sketch side plus a candidate set (the exact side here is the
    audit harness, as with the HLL contract)."""
    ev = table(spark, sf_dir, "events").select("user_id")
    bucket = _cms_bucket
    rows_i = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("i")
    cells = ev.select("user_id", rows_i).select(
        "i", bucket(F.col("i"), F.col("user_id")).alias("b")
    )
    sketch = cells.groupBy("i", "b").agg(F.count(F.lit(1)).alias("cnt"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.select("user_id", rows_i).select(
        "user_id", "i", bucket(F.col("i"), F.col("user_id")).alias("b")
    )
    est = (
        probes.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("n_cms"))
    )
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "n_exact",
            "n_cms",
            (F.col("n_cms") - F.col("n_exact")).alias("overestimate"),
        )
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
        .limit(CMS_TOPK)
    )


_CMS_SQL = f"""
WITH cells AS (
  SELECT i.i,
         CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' ||
                                  CAST(user_id AS VARCHAR)), 1, 6))
              AS BIGINT) % {CMS_W} AS b
  FROM events, unnest(range({CMS_D})) AS i(i)
),
sketch AS (SELECT i, b, count(*) AS cnt FROM cells GROUP BY i, b),
exact AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id),
probes AS (
  SELECT user_id, i.i,
         CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' ||
                                  CAST(user_id AS VARCHAR)), 1, 6))
              AS BIGINT) % {CMS_W} AS b
  FROM exact, unnest(range({CMS_D})) AS i(i)
),
est AS (
  SELECT p.user_id, min(s.cnt) AS n_cms
  FROM probes p JOIN sketch s USING (i, b)
  GROUP BY p.user_id
)
SELECT e.user_id, e.n_exact, m.n_cms, m.n_cms - e.n_exact AS overestimate
FROM exact e JOIN est m USING (user_id)
ORDER BY e.n_exact DESC, e.user_id ASC
LIMIT {CMS_TOPK}
"""


BASKET_CAP = 64   # orders with more distinct parts are dropped (skew cut)
BASKET_MINSUP = 2  # minimum pair support reported
BASKET_TOPK = 50


def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (the A-priori support/lift core):
    frequent part PAIRS across order baskets with integer-exact lift.
    lift_ppm = floor(support·n_orders·10⁶ / (c₁·c₂)) — the
    ratio-of-counts in parts-per-million by integer division, so no
    float ever crosses the ranking (the margin-mining arithmetic).

    Scale shape: the pair generation is a SELF-JOIN ON THE BASKET KEY
    — fan-out bounded by basket size squared, and the BASKET_CAP
    filter drops degenerate mega-baskets BEFORE the join (the same
    inverted-index DF cut the n-gram dedup uses: a 10⁴-item basket
    would alone emit 10⁸ pairs). Pair counts and the two item-count
    join-backs are map-side-combinable hash aggregates; n_orders is a
    1-row broadcast. Top-K via TakeOrderedAndProject."""
    basket = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sizes = basket.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("sz"))
    # persisted: FOUR consumers (both join sides, item counts, the
    # order total) would otherwise each re-run the distinct + anti-join
    kept = basket.join(
        F.broadcast(sizes.where(F.col("sz") > BASKET_CAP)),
        "l_orderkey",
        "left_anti",
    ).persist()
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= BASKET_MINSUP)
    )
    item = kept.groupBy(F.col("l_partkey")).agg(
        F.count(F.lit(1)).alias("c")
    )
    n_orders = kept.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    scored = (
        pairs.join(item.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1")), "p1")
        .join(item.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2")), "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "support",
            F.expr(
                "CAST((support * n_orders * 1000000) DIV (c1 * c2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("support"), F.desc("lift_ppm"), "p1", "p2"
    ).limit(BASKET_TOPK)


_MARKET_BASKET_SQL = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
kept AS (
  SELECT * FROM basket
  WHERE l_orderkey NOT IN (
    SELECT l_orderkey FROM basket
    GROUP BY l_orderkey HAVING count(*) > {BASKET_CAP}
  )
),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
  FROM kept a JOIN kept b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {BASKET_MINSUP}
),
item AS (SELECT l_partkey, count(*) AS c FROM kept GROUP BY l_partkey),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM kept)
SELECT p.p1, p.p2, p.support,
       (p.support * t.n_orders * 1000000) // (i1.c * i2.c) AS lift_ppm
FROM pairs p
JOIN item i1 ON i1.l_partkey = p.p1
JOIN item i2 ON i2.l_partkey = p.p2
CROSS JOIN tot t
ORDER BY p.support DESC, lift_ppm DESC, p.p1, p.p2
LIMIT {BASKET_TOPK}
"""


def q_events_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active / new / returning / cumulative users — the
    growth-accounting staple. Exact sliding-distinct is the expensive
    way; the FIRST-SEEN decomposition makes it three cheap
    aggregates: new(day) = users whose min(day) is day, returning =
    active − new, and cumulative distinct = prefix sum of new over
    the day frame (run-to-date distinct count without any distinct
    state beyond the per-user min).

    Scale shape: one (user) aggregate for first days, one (day)
    aggregate for actives, one (day) aggregate for news, a day-keyed
    merge join, and a prefix window over the ≤31-row day frame —
    nothing user-grain ever crosses a window."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    act = ev.distinct()
    active = act.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    first = act.groupBy("user_id").agg(F.min("day").alias("day"))
    new = first.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    # bounded-window: frame is the calendar-day frame (≤31 rows here;
    # 365·years at any scale), never user-grain
    cum = F.sum("n_new").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        active.join(new, "day", "left")
        .select(
            F.col("day").cast("string").alias("day"),
            "n_active",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
            (F.col("n_active") - F.coalesce(F.col("n_new"), F.lit(0))).alias(
                "n_returning"
            ),
            cum.alias("cum_users"),
        )
        .orderBy("day")
    )


_USER_GROWTH_SQL = """
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
active AS (SELECT day, count(*) AS n_active FROM act GROUP BY day),
firsts AS (SELECT user_id, min(day) AS day FROM act GROUP BY user_id),
news AS (SELECT day, count(*) AS n_new FROM firsts GROUP BY day)
SELECT CAST(a.day AS VARCHAR) AS day, a.n_active,
       COALESCE(n.n_new, 0) AS n_new,
       a.n_active - COALESCE(n.n_new, 0) AS n_returning,
       CAST(sum(COALESCE(n.n_new, 0)) OVER (ORDER BY a.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM active a LEFT JOIN news n USING (day)
ORDER BY day
"""


KANON_K = 5  # minimum safe quasi-identifier group size


def q_customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier — the release-gate check privacy reviews run
    before a table ships: every equivalence class with its size, a
    violation flag (size < k), and the suppression cost (rows that
    must be generalized or withheld to reach k). The final row set is
    the class table itself, so the auditor sees WHICH cells leak, not
    just how many.

    Scale shape: one map-side-combinable aggregate over the
    quasi-identifier — the class table is |nations × segments|
    (bounded by domain, not rows); the audit costs one scan at any
    table size."""
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            (F.col("class_size") < KANON_K).alias("violates_k"),
            F.when(F.col("class_size") < KANON_K, F.col("class_size"))
            .otherwise(F.lit(0))
            .alias("rows_to_suppress"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


_KANON_SQL = f"""
SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
       count(*) < {KANON_K} AS violates_k,
       CASE WHEN count(*) < {KANON_K} THEN count(*) ELSE 0 END
         AS rows_to_suppress
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


def q_events_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE target encoding (leave-one-out at the user
    grain): for each (user, event_type), the mean event value of ALL
    OTHER users' events of that type — the feature a per-user model
    may train on without seeing its own target (the classic
    target-leak that K-fold/LOO encoding exists to prevent).

    enc = (Σcents_type − Σcents_user,type) / (n_type − n_user,type),
    computed as integer milli-cents by DIV — no float division
    crosses the output. A user owning EVERY event of a type (the
    division-by-zero fold) encodes as NULL-safe −1, mirrored in SQL
    (DuckDB // raises on zero where Spark DIV nulls — the guard is
    the portability fix, found at authoring time).

    Scale shape: one (type) aggregate (broadcast — 5 rows) and one
    (user, type) aggregate; the encode is a projection over their
    join. Nothing row-grain survives; at 10^12 events this is two
    map-side-combinable passes."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        cents(F.col("value")).alias("cents"),
    )
    per_type = ev.groupBy("event_type").agg(
        F.sum("cents").alias("t_sum"), F.count(F.lit(1)).alias("t_n")
    )
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.sum("cents").alias("u_sum"), F.count(F.lit(1)).alias("u_n")
    )
    return (
        per_user.join(F.broadcast(per_type), "event_type")
        .select(
            "user_id",
            "event_type",
            F.col("u_n").alias("n_own"),
            F.when(
                F.col("t_n") > F.col("u_n"),
                F.expr(
                    "CAST(((t_sum - u_sum) * 1000) DIV (t_n - u_n) AS BIGINT)"
                ),
            )
            .otherwise(F.lit(-1))
            .alias("enc_milli_cents"),
        )
        .orderBy("user_id", "event_type")
    )


_TARGET_ENCODE_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type,
         {cents_sql("value")} AS cents
  FROM events
),
per_type AS (
  SELECT event_type, sum(cents) AS t_sum, count(*) AS t_n
  FROM ev GROUP BY event_type
),
per_user AS (
  SELECT user_id, event_type, sum(cents) AS u_sum, count(*) AS u_n
  FROM ev GROUP BY user_id, event_type
)
SELECT u.user_id, u.event_type, u.u_n AS n_own,
       CASE WHEN t.t_n > u.u_n
            THEN (CAST(t.t_sum AS BIGINT) - CAST(u.u_sum AS BIGINT)) * 1000
                 // (t.t_n - u.u_n)
            ELSE -1 END AS enc_milli_cents
FROM per_user u JOIN per_type t USING (event_type)
ORDER BY u.user_id, u.event_type
"""


def q_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers grouped by first-order MONTH
    (the acquisition cohort), revenue accumulated by months-since-
    acquisition — the (cohort × age) matrix every growth team reads
    cumulatively along each row. Months are exact calendar arithmetic
    (months_between on truncated dates — integer-valued by
    construction, so no float boundary), money is floor-cents BIGINT
    emitted as digit strings, and the cumulative sum runs over each
    cohort's ≤age-frame (bounded by the calendar, not by customers).

    Scale shape: first-order month = one per-customer min aggregate;
    the triangle = one (cohort, age) aggregate over the join-back;
    the cumulative window partitions by cohort over the month frame.
    Nothing order-grain crosses a window at any scale."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("om"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("om").alias("cohort"))
    aged = o.join(first, "o_custkey").select(
        "cohort",
        F.months_between(F.col("om"), F.col("cohort"))
        .cast("int")
        .alias("age"),
        "cents",
    )
    tri = aged.groupBy("cohort", "age").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("rev_cents"),
    )
    # bounded-window: frame is the months-since-acquisition axis
    # (≤ calendar months spanned by the corpus), never customer-grain
    cum = F.sum("rev_cents").over(
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return tri.select(
        F.date_format("cohort", "yyyy-MM").alias("cohort"),
        "age",
        "n_orders",
        F.col("rev_cents").cast("string").alias("rev_cents"),
        cum.cast("string").alias("cum_rev_cents"),
    ).orderBy("cohort", "age")


_COHORT_LTV_SQL = f"""
WITH o AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS om,
         {cents_sql("o_totalprice")} AS cents
  FROM orders
),
firsts AS (SELECT o_custkey, min(om) AS cohort FROM o GROUP BY o_custkey),
aged AS (
  SELECT f.cohort,
         CAST(datediff('month', f.cohort, o.om) AS INT) AS age,
         o.cents
  FROM o JOIN firsts f USING (o_custkey)
),
tri AS (
  SELECT cohort, age, count(*) AS n_orders, sum(cents) AS rev_cents
  FROM aged GROUP BY cohort, age
)
SELECT strftime(cohort, '%Y-%m') AS cohort, age, n_orders,
       CAST(rev_cents AS VARCHAR) AS rev_cents,
       CAST(CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS VARCHAR) AS cum_rev_cents
FROM tri
ORDER BY cohort, age
"""


CUSUM_SLACK_DIV = 10  # per-day drift allowance = T/10 (scaled units)
CUSUM_H_MULT = 1      # alarm threshold = T (one scaled daily mean)


def q_events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over per-type daily event rates —
    the sequential drift detector (Page's cumulative sum) that flags
    sustained rate shifts a pointwise z-score misses. The recurrence
    S_t = max(0, S_{t-1} + x_t·N − T − k) runs in SCALED INTEGER
    units (multiplied through by the day count N, so the daily mean
    T/N never becomes a float): allowance k = T/10, alarm when
    S_t > T.

    The recurrence is inherently sequential — but only WITHIN a
    key's day series, which is calendar-bounded (≤31 rows here, 365/
    year at any corpus size). So the engine shape is: dense gap-
    filled daily counts (one aggregate + a broadcast day spine),
    collect each type's series into a bounded array, and run the
    fold INSIDE Catalyst via `F.aggregate` (no UDF, no driver loop),
    then re-explode. The oracle is a recursive CTE unrolling the
    same recurrence row by row — the iterative-algorithm proof shape
    q_knn_bfs_hops established, applied to a stateful scan."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    bounds = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("x")
    )
    dense = (
        types.crossJoin(F.broadcast(spine))
        .join(counts, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce(F.col("x"), F.lit(0)).alias("x")
        )
    )
    stats = dense.groupBy("event_type").agg(
        F.sum("x").alias("t_total"), F.count(F.lit(1)).alias("n_days")
    )
    series = (
        dense.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("day", "x"))
            ).alias("arr")
        )
        .join(F.broadcast(stats), "event_type")
    )
    step = (
        "greatest(CAST(0 AS BIGINT), acc.s + e.x * n_days - t_total "
        f"- t_total DIV {CUSUM_SLACK_DIV})"
    )
    folded = series.select(
        "event_type",
        "t_total",
        F.expr(
            f"""aggregate(
              arr,
              struct(CAST(0 AS BIGINT) AS s,
                     CAST(array() AS array<struct<day:date,x:bigint,c:bigint>>) AS out),
              (acc, e) -> struct(
                {step} AS s,
                concat(acc.out,
                       array(struct(e.day AS day, e.x AS x, {step} AS c))) AS out
              ),
              acc -> acc.out
            )"""
        ).alias("out"),
    )
    return (
        folded.select(
            "event_type", "t_total", F.explode("out").alias("o")
        )
        .select(
            "event_type",
            F.col("o.day").cast("string").alias("day"),
            F.col("o.x").alias("x"),
            F.col("o.c").alias("cusum_scaled"),
            (F.col("o.c") > F.col("t_total") * CUSUM_H_MULT).alias("flagged"),
        )
        .orderBy("event_type", "day")
    )


_CUSUM_SQL = f"""
WITH RECURSIVE bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
dense AS (
  SELECT t.event_type, s.day, COALESCE(c.x, 0) AS x,
         row_number() OVER (PARTITION BY t.event_type ORDER BY s.day) AS idx
  FROM types t CROSS JOIN spine s
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = s.day
),
stats AS (
  SELECT event_type, sum(x) AS t_total, count(*) AS n_days
  FROM dense GROUP BY event_type
),
d AS (
  SELECT dense.*, stats.t_total, stats.n_days
  FROM dense JOIN stats USING (event_type)
),
rec AS (
  SELECT event_type, idx, day, x, t_total, n_days,
         GREATEST(CAST(0 AS BIGINT),
                  x * n_days - t_total - t_total // {CUSUM_SLACK_DIV}) AS s
  FROM d WHERE idx = 1
  UNION ALL
  SELECT d.event_type, d.idx, d.day, d.x, d.t_total, d.n_days,
         GREATEST(CAST(0 AS BIGINT),
                  r.s + d.x * d.n_days - d.t_total
                  - d.t_total // {CUSUM_SLACK_DIV})
  FROM d JOIN rec r ON r.event_type = d.event_type AND d.idx = r.idx + 1
)
SELECT event_type, CAST(day AS VARCHAR) AS day, x,
       CAST(s AS BIGINT) AS cusum_scaled,
       s > t_total * {CUSUM_H_MULT} AS flagged
FROM rec
ORDER BY event_type, day
"""


RFM_Q = 5  # quintiles per RFM axis


def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) — the
    marketing-analytics classic: each purchasing customer scored by
    quintile on each axis and mapped to a named segment. Quintiles
    are the integer carve q = (rank−1)·5 DIV n + 1 over TOTAL orders
    (rank ties broken by custkey), so the cut is engine-portable —
    no ntile, whose tie distribution differs.

    The three ranks run on skew.global_rank over the CUSTOMER-grain
    frame (one per axis — at 10^12 orders that frame is ~10^8 rows
    and the two-pass range rank is exactly the deciles query's
    shape); recency anchors to the corpus max date (a 1-row
    broadcast), money in floor-cents BIGINT emitted as digit
    strings."""
    from ocr_intern_spark.operators.skew import global_rank

    per = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("spend_cents"),
        )
    )
    anchor = table(spark, sf_dir, "orders").agg(
        F.max(F.to_date("o_orderdate")).alias("anchor")
    )
    base = per.crossJoin(F.broadcast(anchor)).select(
        "c",
        F.datediff("anchor", "last_day").cast("long").alias("recency_days"),
        "n_orders",
        "spend_cents",
    ).persist()
    # customer count FOLDED INTO THE PLAN as a 1-row broadcast off the
    # persisted base (no driver-side base.count() at plan-build time —
    # building the frame no longer runs a Spark job)
    n1 = base.agg(F.count("*").alias("_n"))

    def quintile(df: DataFrame, *order: Column, name: str) -> DataFrame:
        ranked = global_rank(df, *order, rank_name="_rk")
        return ranked.crossJoin(F.broadcast(n1)).select(
            "c",
            (
                F.expr(f"CAST((_rk - 1) * {RFM_Q} DIV _n AS INT)") + 1
            ).alias(name),
        )

    rq = quintile(base, F.asc("recency_days"), F.asc("c"), name="r_q")
    fq = quintile(base, F.desc("n_orders"), F.asc("c"), name="f_q")
    mq = quintile(base, F.desc("spend_cents"), F.asc("c"), name="m_q")
    seg = (
        F.when((F.col("r_q") <= 2) & (F.col("f_q") <= 2) & (F.col("m_q") <= 2), "champion")
        .when((F.col("f_q") <= 2) & (F.col("m_q") <= 2), "loyal_lapsing")
        .when(F.col("r_q") <= 2, "recent_light")
        .when(F.col("r_q") >= 4, "hibernating")
        .otherwise("mid")
    )
    return (
        base.join(rq, "c").join(fq, "c").join(mq, "c")
        .select(
            F.col("c").alias("c_custkey"),
            "recency_days",
            "n_orders",
            F.col("spend_cents").cast("string").alias("spend_cents"),
            "r_q",
            "f_q",
            "m_q",
            seg.alias("segment"),
        )
        .orderBy("c_custkey")
    )


_RFM_SQL = f"""
WITH per AS (
  SELECT o_custkey AS c,
         max(CAST(o_orderdate AS DATE)) AS last_day,
         count(*) AS n_orders,
         sum({cents_sql("o_totalprice")}) AS spend_cents
  FROM orders GROUP BY o_custkey
),
anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS a FROM orders),
base AS (
  SELECT c, datediff('day', last_day, a) AS recency_days,
         n_orders, spend_cents, count(*) OVER () AS n
  FROM per CROSS JOIN anchor
),
q AS (
  SELECT c, recency_days, n_orders, spend_cents,
         CAST((row_number() OVER (ORDER BY recency_days ASC, c ASC) - 1)
              * {RFM_Q} // n AS INT) + 1 AS r_q,
         CAST((row_number() OVER (ORDER BY n_orders DESC, c ASC) - 1)
              * {RFM_Q} // n AS INT) + 1 AS f_q,
         CAST((row_number() OVER (ORDER BY spend_cents DESC, c ASC) - 1)
              * {RFM_Q} // n AS INT) + 1 AS m_q
  FROM base
)
SELECT c AS c_custkey, CAST(recency_days AS BIGINT) AS recency_days,
       n_orders, CAST(spend_cents AS VARCHAR) AS spend_cents,
       r_q, f_q, m_q,
       CASE WHEN r_q <= 2 AND f_q <= 2 AND m_q <= 2 THEN 'champion'
            WHEN f_q <= 2 AND m_q <= 2 THEN 'loyal_lapsing'
            WHEN r_q <= 2 THEN 'recent_light'
            WHEN r_q >= 4 THEN 'hibernating'
            ELSE 'mid' END AS segment
FROM q
ORDER BY c_custkey
"""


def q_events_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Gini) per event type, computed through
    the GROUPED-AGG pandas UDF surface — the one Arrow boundary class
    the engine had not yet certified (mapInPandas, cogroup and UDTF
    all have parity pins; this closes the set). The UDF receives each
    type's per-user count vector as one Arrow batch and returns the
    scaled-integer Gini ``Σ(2i−n−1)·x₍ᵢ₎ · 10⁶ DIV (n·Σx)`` (sorted
    ascending; coefficient blocks are tie-invariant, so the unordered
    tie layout cannot change the sum and the metric is
    engine-portable).

    The oracle computes the SAME formula with rank windows — native
    SQL all the way — so hash equality certifies the Python/Arrow
    path against the pure-relational path: the swap certificate for
    the boundary itself. Scale note: grouped-agg materializes a
    group per batch (bounded by users-per-type); at 10^12 rows you
    run the oracle's window formulation in Spark instead — this
    query proves the two agree."""
    from pyspark.sql.functions import PandasUDFType

    # explicit functionType: this module's `from __future__ import
    # annotations` stringifies type hints, which breaks hint-based
    # pandas_udf inference (UNSUPPORTED_SIGNATURE)
    @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def gini_ppm(x):
        import numpy as np

        a = np.sort(x.to_numpy(np.int64))
        n = len(a)
        tot = int(a.sum())
        if tot == 0:
            return 0
        num = int(((2 * np.arange(1, n + 1) - n - 1) * a).sum())
        return num * 1_000_000 // (n * tot)

    cnt = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("x"))
        .persist()  # two aggregates consume it (Spark refuses mixing
        # a grouped-agg pandas UDF with native aggregates in one agg)
    )
    native = cnt.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("n_events"),
    )
    gini = cnt.groupBy("event_type").agg(gini_ppm("x").alias("gini_ppm"))
    return (
        native.join(gini, "event_type")
        .select("event_type", "n_users", "n_events", "gini_ppm")
        .orderBy("event_type")
    )


_GINI_SQL = """
WITH cnt AS (
  SELECT event_type, user_id, count(*) AS x
  FROM events GROUP BY event_type, user_id
),
rk AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x, user_id) AS i,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(x) OVER (PARTITION BY event_type) AS tot
  FROM cnt
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(tot) AS BIGINT) AS n_events,
       CAST(sum((2 * i - n - 1) * x) * 1000000
            // (max(n) * max(tot)) AS BIGINT) AS gini_ppm
FROM rk
GROUP BY event_type
ORDER BY event_type
"""


CONC_CUTS_PPM = (500_000, 800_000, 900_000, 990_000)  # 50/80/90/99%


def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (80/20) curve: for each coverage cut —
    50%, 80%, 90%, 99% of total revenue — the minimum number of
    customers (taken biggest-spender-first) whose cumulative spend
    reaches it, plus their corpus share in ppm. The Lorenz-curve
    read-out behind every "whales" analysis.

    Composition of both skew primitives: customers are ordered by
    global_rank(spend desc) and their cumulative spend comes from
    global_prefix_sum over the SAME total order — two TeraSort-shaped
    passes over the customer-grain frame, then a 4-row broadcast of
    the cut thresholds and one aggregate; the corpus total is a 1-row
    broadcast. Threshold compare is the integer cross-multiplication
    (cum+spend)·10⁶ ≥ cut·total — no float division anywhere."""
    from ocr_intern_spark.operators.skew import (
        global_prefix_sum,
        global_rank,
    )

    per = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("spend"))
    )
    ranked = global_rank(per, F.desc("spend"), F.asc("c"), rank_name="rk")
    cum = global_prefix_sum(
        ranked, "spend", F.desc("spend"), F.asc("c"), sum_name="pre"
    )
    tot = per.agg(
        F.sum("spend").alias("total"), F.count(F.lit(1)).alias("n_cust")
    )
    cuts = spark.createDataFrame(
        [(c,) for c in CONC_CUTS_PPM], "cut_ppm long"
    )
    covered = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(cuts))
        .where(
            (F.col("pre") + F.col("spend")) * 1_000_000
            >= F.col("cut_ppm") * F.col("total")
        )
        .groupBy("cut_ppm")
        .agg(
            F.min("rk").alias("n_customers"),
            F.max("n_cust").alias("n_cust"),
        )
    )
    return covered.select(
        "cut_ppm",
        "n_customers",
        F.expr(
            "CAST(n_customers * 1000000 DIV n_cust AS BIGINT)"
        ).alias("customer_share_ppm"),
    ).orderBy("cut_ppm")


def _concentration_sql() -> str:
    cuts = ", ".join(f"({c})" for c in CONC_CUTS_PPM)
    return f"""
WITH per AS (
  SELECT o_custkey AS c,
         sum({cents_sql("o_totalprice")}) AS spend
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT c, spend,
         row_number() OVER (ORDER BY spend DESC, c ASC) AS rk,
         COALESCE(CAST(sum(spend) OVER (ORDER BY spend DESC, c ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS pre,
         CAST(sum(spend) OVER () AS BIGINT) AS total,
         count(*) OVER () AS n_cust
  FROM per
),
cuts(cut_ppm) AS (VALUES {cuts})
SELECT cut_ppm,
       min(rk) AS n_customers,
       min(rk) * 1000000 // max(n_cust) AS customer_share_ppm
FROM ranked CROSS JOIN cuts
WHERE (pre + spend) * 1000000 >= cut_ppm * total
GROUP BY cut_ppm
ORDER BY cut_ppm
"""


WAU_DAYS = 7  # trailing window for weekly actives


def q_events_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness (DAU·10⁶ DIV WAU) per
    day — the engagement ratio product dashboards lead with. Exact
    sliding-distinct WITHOUT sliding-distinct state: each (user, day)
    activity fact is EXPLODED onto the ≤7 report days it covers, and
    WAU is a plain distinct count per report day — the standard
    bounded-expansion rewrite (expansion factor = window length,
    constant), fully map-side parallel; no window function touches
    user grain. Report days clamp to the corpus range so early days
    use the partial trailing window, and stickiness is integer ppm."""
    act = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .persist()
    )
    bounds = act.agg(F.max("day").alias("dmax"))
    dau = act.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    covered = act.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.least(
                    F.date_add(F.col("day"), WAU_DAYS - 1), F.col("dmax")
                ),
            )
        ).alias("rday"),
    )
    wau = covered.distinct().groupBy("rday").agg(
        F.count(F.lit(1)).alias("wau")
    )
    return (
        dau.join(wau, dau.day == wau.rday)
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.expr("CAST(dau * 1000000 DIV wau AS BIGINT)").alias(
                "stickiness_ppm"
            ),
        )
        .orderBy("day")
    )


_WAU_SQL = f"""
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
bounds AS (SELECT max(day) AS dmax FROM act),
dau AS (SELECT day, count(*) AS dau FROM act GROUP BY day),
covered AS (
  SELECT DISTINCT user_id, CAST(u.r AS DATE) AS rday
  FROM act, bounds,
       unnest(generate_series(day,
              LEAST(day + INTERVAL {WAU_DAYS - 1} DAY,
                    CAST(dmax AS TIMESTAMP)), INTERVAL 1 DAY)) AS u(r)
),
wau AS (SELECT rday, count(*) AS wau FROM covered GROUP BY rday)
SELECT CAST(d.day AS VARCHAR) AS day, d.dau, w.wau,
       d.dau * 1000000 // w.wau AS stickiness_ppm
FROM dau d JOIN wau w ON w.rday = d.day
ORDER BY day
"""


# --- A/B test chi-square (exact rational statistic) ------------------------

CHI2_CRIT_MILLI = 3841  # χ²(0.05, df=1) = 3.841, in milli-units


def q_events_abtest_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-variant conversion A/B readout with an EXACT chi-square:
    users split by user_id parity, conversion = at least one
    purchase event, and the 2×2 independence statistic uses the
    closed rational form χ² = n·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) —
    every term an integer, so the milli-scaled statistic is a pure
    integer floor both engines agree on (no normal approximation,
    no sqrt, no float). Significance is the standard 3.841 cut at
    α=0.05. The square rides in decimal(38,0)/HUGEINT (the dsir
    lesson: cross-multiplication passes BIGINT long before the
    counts do).

    Scale shape: one per-user aggregate (map-side combinable
    bool_or), one 4-cell aggregate, all downstream arithmetic on a
    single row. At 10^12 events: scan + one user-keyed exchange."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).alias("variant"), "conv")
    )
    cells = per_user.agg(
        F.sum(
            ((F.col("variant") == 0) & (F.col("conv") == 1)).cast("long")
        ).alias("a"),
        F.sum(
            ((F.col("variant") == 0) & (F.col("conv") == 0)).cast("long")
        ).alias("b"),
        F.sum(
            ((F.col("variant") == 1) & (F.col("conv") == 1)).cast("long")
        ).alias("c"),
        F.sum(
            ((F.col("variant") == 1) & (F.col("conv") == 0)).cast("long")
        ).alias("d"),
    )
    return cells.select(
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n_users"),
        "a",
        "b",
        "c",
        "d",
        F.expr(
            "CAST(IF(a + b = 0, 0, a * 1000000 DIV (a + b)) AS BIGINT)"
        ).alias("conv_a_ppm"),
        F.expr(
            "CAST(IF(c + d = 0, 0, c * 1000000 DIV (c + d)) AS BIGINT)"
        ).alias("conv_b_ppm"),
        F.expr(
            "CAST(IF(c + d = 0, 0, c * 1000000 DIV (c + d)) "
            "- IF(a + b = 0, 0, a * 1000000 DIV (a + b)) AS BIGINT)"
        ).alias("lift_ppm"),
        # a degenerate margin (everyone converts, or one arm empty)
        # makes the statistic undefined — report 0, not-significant,
        # identically in both engines
        F.expr(
            "CAST(IF(a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0, 0, "
            "CAST(a * d - b * c AS DECIMAL(38,0)) * (a * d - b * c) "
            "* (a + b + c + d) * 1000 "
            "DIV (CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d))"
            ") AS BIGINT)"
        ).alias("chi2_milli"),
    ).select(
        "n_users",
        "a",
        "b",
        "c",
        "d",
        "conv_a_ppm",
        "conv_b_ppm",
        "lift_ppm",
        "chi2_milli",
        (F.col("chi2_milli") >= CHI2_CRIT_MILLI).alias("significant"),
    )


_ABTEST_SQL = f"""
WITH per_user AS (
  SELECT user_id % 2 AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
cells AS (
  SELECT
    sum(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END) AS a,
    sum(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END) AS b,
    sum(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END) AS c,
    sum(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END) AS d
  FROM per_user
),
chi AS (
  SELECT *,
         CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(CAST(a * d - b * c AS HUGEINT) * (a * d - b * c)
                        * (a + b + c + d) * 1000
                        // (CAST(a + b AS HUGEINT) * (c + d)
                            * (a + c) * (b + d)) AS BIGINT)
         END AS chi2_milli
  FROM cells
)
SELECT CAST(a + b + c + d AS BIGINT) AS n_users,
       CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       CAST(CASE WHEN a + b = 0 THEN 0
                 ELSE a * 1000000 // (a + b) END AS BIGINT) AS conv_a_ppm,
       CAST(CASE WHEN c + d = 0 THEN 0
                 ELSE c * 1000000 // (c + d) END AS BIGINT) AS conv_b_ppm,
       CAST(CASE WHEN c + d = 0 THEN 0 ELSE c * 1000000 // (c + d) END
            - CASE WHEN a + b = 0 THEN 0 ELSE a * 1000000 // (a + b) END
            AS BIGINT) AS lift_ppm,
       chi2_milli,
       (chi2_milli >= {CHI2_CRIT_MILLI}) AS significant
FROM chi
"""


# --- inter-arrival burstiness (CV²) ------------------------------------------


def q_events_interarrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival burstiness: the squared coefficient of
    variation of event gaps — CV² ≈ 1 is the Poisson (memoryless)
    baseline, CV² > 1 means bursty sessions, CV² < 1 means
    pacemaker-regular traffic (bot signature). Gaps are exact
    integer MICROSECONDS via the zone-free NTZ interval subtraction
    (the TWAP idiom), and CV² = (n·Σd² − (Σd)²)/(Σd)² rides as an
    exact rational — digit strings (Σd² reaches ~10²⁵) plus a
    floor-ppm rendering (numerator non-negative by Cauchy-Schwarz,
    so plain DIV agrees). Users need ≥ 2 gaps.

    Scale shape: ONE user-keyed exchange drives the lead() window
    AND the per-user aggregate (same key — one shuffle), then a
    narrow projection. The decimal(38)/HUGEINT ride is mandatory:
    day-scale gaps square past BIGINT."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = (
        (F.lead("ts").over(w) - F.col("ts")).cast("decimal(20,6)")
        * 1_000_000
    ).cast("long")
    gaps = e.select("user_id", dt.alias("d")).where(F.col("d").isNotNull())
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("d").cast("decimal(38,0)")).alias("sd"),
        F.sum(
            F.expr("CAST(d AS DECIMAL(38,0)) * d")
        ).alias("sdd"),
    )
    return (
        agg.where(F.col("n") >= 2)
        .select(
            "user_id",
            F.col("n").alias("n_gaps"),
            F.expr("CAST(n * sdd - sd * sd AS STRING)").alias(
                "cv2_num_str"
            ),
            F.expr("CAST(sd * sd AS STRING)").alias("cv2_den_str"),
            F.expr(
                "CAST((n * sdd - sd * sd) * 1000000 DIV (sd * sd) "
                "AS BIGINT)"
            ).alias("cv2_ppm"),
        )
        .orderBy("user_id")
    )


_INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT user_id,
         date_diff('microsecond', ts,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)) AS d
  FROM events
),
agg AS (
  SELECT user_id, count(*) AS n,
         sum(CAST(d AS HUGEINT)) AS sd,
         sum(CAST(d AS HUGEINT) * d) AS sdd
  FROM gaps WHERE d IS NOT NULL GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
       CAST(n * sdd - sd * sd AS VARCHAR) AS cv2_num_str,
       CAST(sd * sd AS VARCHAR) AS cv2_den_str,
       CAST((n * sdd - sd * sd) * 1000000 // (sd * sd) AS BIGINT)
         AS cv2_ppm
FROM agg WHERE n >= 2
ORDER BY user_id
"""


# --- A/B power analysis ------------------------------------------------------

# (z_{0.975} + z_{0.80})² in micro-units = (1.9599640 + 0.8416212)²:
# the fixed constant for two-sided α=0.05 at 80% power — precomputed
# so neither engine evaluates a normal quantile
POWER_Z2_MICRO = 7_848_880
POWER_MDE_PCT = (2, 5, 10)  # minimum detectable effects, % of mean


def q_events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-size calculation for the A/B family — "how many users
    per arm to detect an X% lift in events/user at 80% power" — as
    EXACT integer algebra: with per-user metric sums S = Σx and
    V = n·Σx² − S² (n²-scaled variance), the relative-MDE formula
    n_req = 2·z²·σ²/δ² collapses to ceil(2·z²·V·10⁴ / (p²·S²))
    for an MDE of p% of the mean — every factor an integer, the z
    constant precomputed in micro-units, ceil via (a + b − 1) DIV b,
    the cross-products riding decimal(38)/HUGEINT. One row per MDE
    level (2/5/10%), so the readout is the planning table every
    experiment review starts from.

    Scale shape: one per-user aggregate, one 1-row moment
    aggregate, 3-row literal spine, single-row algebra."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    spine = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p) for p in POWER_MDE_PCT])
        ).alias("mde_pct")
    )
    num = (
        f"2 * CAST({POWER_Z2_MICRO} AS DECIMAL(38,0)) "
        "* (CAST(n AS DECIMAL(38,0)) * sxx - CAST(s AS DECIMAL(38,0)) * s) "
        "* 10000"
    )
    den = (
        "CAST(mde_pct AS DECIMAL(38,0)) * mde_pct "
        "* s * s * 1000000"
    )
    return (
        m.crossJoin(spine)
        .select(
            F.col("mde_pct").cast("int").alias("mde_pct"),
            F.col("n").alias("n_users"),
            F.expr("CAST(s * 1000000 DIV n AS BIGINT)").alias("mean_ppm"),
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * sxx "
                "- CAST(s AS DECIMAL(38,0)) * s AS STRING)"
            ).alias("var_num_str"),
            F.expr(
                f"CAST(({num} + {den} - 1) DIV ({den}) AS BIGINT)"
            ).alias("required_n_per_arm"),
        )
        .orderBy("mde_pct")
    )


_POWER_SQL = f"""
WITH per_user AS (
  SELECT user_id, count(*) AS x FROM events GROUP BY user_id
),
m AS (
  SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS sxx FROM per_user
),
spine(mde_pct) AS (VALUES {", ".join(f"({p})" for p in POWER_MDE_PCT)})
SELECT CAST(sp.mde_pct AS INT) AS mde_pct,
       CAST(m.n AS BIGINT) AS n_users,
       CAST(m.s * 1000000 // m.n AS BIGINT) AS mean_ppm,
       CAST(CAST(m.n AS HUGEINT) * m.sxx
            - CAST(m.s AS HUGEINT) * m.s AS VARCHAR) AS var_num_str,
       CAST((2 * CAST({POWER_Z2_MICRO} AS HUGEINT)
             * (CAST(m.n AS HUGEINT) * m.sxx
                - CAST(m.s AS HUGEINT) * m.s) * 10000
             + CAST(sp.mde_pct AS HUGEINT) * sp.mde_pct
               * m.s * m.s * 1000000 - 1)
            // (CAST(sp.mde_pct AS HUGEINT) * sp.mde_pct
                * m.s * m.s * 1000000) AS BIGINT) AS required_n_per_arm
FROM m, spine sp
ORDER BY mde_pct
"""


# --- empirical-Bayes shrinkage of return rates -------------------------------

EB_ALPHA, EB_BETA = 1, 4  # Beta(1,4) prior: corpus-typical ~20% returns
EB_TOPK = 50


def q_orders_returns_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-part return
    rates — the small-sample correction every marketplace quality
    score needs: a part with 1 return in 2 sales must NOT outrank
    one with 30 in 100, so the posterior mean (x+α)/(n+α+β) pulls
    low-volume parts toward the prior. Integer-exact: both the raw
    and shrunk rates are floor-ppm ratios, and the output is the
    top-50 by SHRUNK rate (tie-break by partkey) with the raw rate
    alongside so the shrinkage effect is visible in the hash.

    Scale shape: one (part) aggregate over the scan (map-side
    combinable conditional count), then TakeOrderedAndProject
    top-K — at 10^12 rows this is a scan plus one part-keyed
    exchange."""
    li = table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_partkey").alias("part")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("x"),
    )
    rated = li.select(
        "part",
        "n",
        "x",
        F.expr("CAST(x * 1000000 DIV n AS BIGINT)").alias("raw_ppm"),
        F.expr(
            f"CAST((x + {EB_ALPHA}) * 1000000 "
            f"DIV (n + {EB_ALPHA} + {EB_BETA}) AS BIGINT)"
        ).alias("shrunk_ppm"),
    )
    return (
        rated.orderBy(F.desc("shrunk_ppm"), F.asc("part"))
        .limit(EB_TOPK)
        .orderBy(F.desc("shrunk_ppm"), F.asc("part"))
    )


_EB_SHRINK_SQL = f"""
WITH per AS (
  SELECT l_partkey AS part, count(*) AS n,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
  FROM lineitem GROUP BY l_partkey
)
SELECT part, n, CAST(x AS BIGINT) AS x,
       CAST(x * 1000000 // n AS BIGINT) AS raw_ppm,
       CAST((x + {EB_ALPHA}) * 1000000
            // (n + {EB_ALPHA} + {EB_BETA}) AS BIGINT) AS shrunk_ppm
FROM per
ORDER BY shrunk_ppm DESC, part ASC
LIMIT {EB_TOPK}
"""


# --- difference-in-differences estimator ------------------------------------


def q_events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the causal-inference workhorse
    when assignment isn't random over time: per-user purchases in
    the pre/post halves of the corpus window (the CUPED midpoint
    rule), variants by user parity, and the DiD estimate
    (ΔB − ΔA) kept as an EXACT RATIONAL over the common denominator
    n_A·n_B — numerator and denominator ride as digit strings, and
    the ppm rendering uses the pmod floor identity because the
    estimate is signed. The pre-period gap (the parallel-trends
    diagnostic every DiD readout must show) is emitted as its own
    rational.

    Scale shape: ONE per-user aggregate with conditional sums (four
    cells in one pass, map-side combinable), one 1-row variant
    aggregate, single-row algebra — scan + one user-keyed exchange
    at any size."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    )
    bounds = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        F.expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").alias(
            "mid"
        )
    )
    is_p = F.col("event_type") == "purchase"
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                ((F.col("day") < F.col("mid")) & is_p).cast("long")
            ).alias("pre"),
            F.sum(
                ((F.col("day") >= F.col("mid")) & is_p).cast("long")
            ).alias("post"),
        )
        .select((F.col("user_id") % 2).alias("v"), "pre", "post")
    )
    cells = per_user.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("v") == 0, F.col("pre")).otherwise(0)).alias(
            "sa_pre"
        ),
        F.sum(F.when(F.col("v") == 0, F.col("post")).otherwise(0)).alias(
            "sa_post"
        ),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("v") == 1, F.col("pre")).otherwise(0)).alias(
            "sb_pre"
        ),
        F.sum(F.when(F.col("v") == 1, F.col("post")).otherwise(0)).alias(
            "sb_post"
        ),
    )
    did_num = "(na * (sb_post - sb_pre) - nb * (sa_post - sa_pre))"
    return cells.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "sa_pre",
        "sa_post",
        "sb_pre",
        "sb_post",
        F.expr(f"CAST({did_num} AS STRING)").alias("did_num_str"),
        F.expr("CAST(na * nb AS STRING)").alias("did_den_str"),
        F.expr(
            f"CAST(({did_num} * 1000000 "
            f"- pmod({did_num} * 1000000, na * nb)) "
            "DIV (na * nb) AS BIGINT)"
        ).alias("did_ppm"),
        F.expr(
            "CAST(na * sb_pre - nb * sa_pre AS STRING)"
        ).alias("pre_gap_num_str"),
        F.expr("CAST(na * nb AS STRING)").alias("pre_gap_den_str"),
    )


_DID_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events
),
bounds AS (
  SELECT min(day) + CAST(date_diff('day', min(day), max(day)) // 2
                         AS INT) AS mid
  FROM ev
),
per_user AS (
  SELECT user_id % 2 AS v,
         sum(CASE WHEN day < (SELECT mid FROM bounds)
                  AND event_type = 'purchase' THEN 1 ELSE 0 END) AS pre,
         sum(CASE WHEN day >= (SELECT mid FROM bounds)
                  AND event_type = 'purchase' THEN 1 ELSE 0 END) AS post
  FROM ev GROUP BY user_id
),
cells AS (
  SELECT sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN v = 0 THEN pre ELSE 0 END) AS sa_pre,
         sum(CASE WHEN v = 0 THEN post ELSE 0 END) AS sa_post,
         sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN v = 1 THEN pre ELSE 0 END) AS sb_pre,
         sum(CASE WHEN v = 1 THEN post ELSE 0 END) AS sb_post
  FROM per_user
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(sa_pre AS BIGINT) AS sa_pre,
       CAST(sa_post AS BIGINT) AS sa_post,
       CAST(sb_pre AS BIGINT) AS sb_pre,
       CAST(sb_post AS BIGINT) AS sb_post,
       CAST(na * (sb_post - sb_pre) - nb * (sa_post - sa_pre)
            AS VARCHAR) AS did_num_str,
       CAST(na * nb AS VARCHAR) AS did_den_str,
       CAST(((na * (sb_post - sb_pre) - nb * (sa_post - sa_pre))
             * 1000000
             - (((na * (sb_post - sb_pre) - nb * (sa_post - sa_pre))
                 * 1000000 % (na * nb)) + (na * nb)) % (na * nb))
            // (na * nb) AS BIGINT) AS did_ppm,
       CAST(na * sb_pre - nb * sa_pre AS VARCHAR) AS pre_gap_num_str,
       CAST(na * nb AS VARCHAR) AS pre_gap_den_str
FROM cells
"""


# --- Laspeyres / Paasche price index -----------------------------------------

PI_BASE_YEAR = 1995
PI_CURR_YEAR = 1996


def q_orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres and Paasche price indexes between two ship years —
    the econ-stats classic ("how much more do the SAME goods cost"):
    per-part unit prices are floored integer MILLI-CENTS
    (Σ price-cents · 1000 DIV Σ qty — the floor is part of the spec,
    so both engines quantize identically), quantity weights come
    from the base year (Laspeyres) or current year (Paasche), and
    each index is an integer-ppm ratio of the weighted sums. Parts
    must trade in BOTH years (inner join) — the matched-basket rule.

    Scale shape: one (part, year) aggregate (map-side combinable) →
    a part-keyed self-merge of the two year slices → ONE 1-row
    weighted-sum aggregate."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.year("l_shipdate").alias("y"),
        cents(F.col("l_extendedprice")).alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    per = (
        li.where(F.col("y").isin(PI_BASE_YEAR, PI_CURR_YEAR))
        .groupBy("l_partkey", "y")
        .agg(F.sum("cents").alias("s"), F.sum("qty").alias("q"))
        .select(
            "l_partkey",
            "y",
            F.expr("CAST(s * 1000 DIV q AS BIGINT)").alias("p_milli"),
            "q",
        )
    )
    base = per.where(F.col("y") == PI_BASE_YEAR).select(
        "l_partkey",
        F.col("p_milli").alias("p0"),
        F.col("q").alias("q0"),
    )
    curr = per.where(F.col("y") == PI_CURR_YEAR).select(
        "l_partkey",
        F.col("p_milli").alias("p1"),
        F.col("q").alias("q1"),
    )
    return (
        base.join(curr, "l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            # weighted sums ride decimal(38,0): p_milli·qty reaches
            # ~5·10⁹/part and the Σ·10⁶ ppm step passes BIGINT
            F.sum(
                F.expr("CAST(p1 AS DECIMAL(38,0)) * q0")
            ).alias("l_num"),
            F.sum(
                F.expr("CAST(p0 AS DECIMAL(38,0)) * q0")
            ).alias("l_den"),
            F.sum(
                F.expr("CAST(p1 AS DECIMAL(38,0)) * q1")
            ).alias("p_num"),
            F.sum(
                F.expr("CAST(p0 AS DECIMAL(38,0)) * q1")
            ).alias("p_den"),
        )
        .select(
            "n_parts",
            F.expr("CAST(l_num * 1000000 DIV l_den AS BIGINT)").alias(
                "laspeyres_ppm"
            ),
            F.expr("CAST(p_num * 1000000 DIV p_den AS BIGINT)").alias(
                "paasche_ppm"
            ),
            F.col("l_num").cast("string").alias("l_num_str"),
            F.col("l_den").cast("string").alias("l_den_str"),
        )
    )


_PRICE_INDEX_SQL = f"""
WITH li AS (
  SELECT l_partkey, year(l_shipdate) AS y,
         {cents_sql("l_extendedprice")} AS cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
  WHERE year(l_shipdate) IN ({PI_BASE_YEAR}, {PI_CURR_YEAR})
),
per AS (
  SELECT l_partkey, y,
         CAST(sum(cents) * 1000 // sum(qty) AS BIGINT) AS p_milli,
         sum(qty) AS q
  FROM li GROUP BY l_partkey, y
),
m AS (
  SELECT b.l_partkey, b.p_milli AS p0, b.q AS q0,
         c.p_milli AS p1, c.q AS q1
  FROM per b JOIN per c
    ON c.l_partkey = b.l_partkey AND b.y = {PI_BASE_YEAR}
   AND c.y = {PI_CURR_YEAR}
)
SELECT count(*) AS n_parts,
       CAST(sum(p1 * q0) * 1000000 // sum(p0 * q0) AS BIGINT)
         AS laspeyres_ppm,
       CAST(sum(p1 * q1) * 1000000 // sum(p0 * q1) AS BIGINT)
         AS paasche_ppm,
       CAST(sum(p1 * q0) AS VARCHAR) AS l_num_str,
       CAST(sum(p0 * q0) AS VARCHAR) AS l_den_str
FROM m
"""


# --- Markov stationary distribution -----------------------------------------

MARKOV_ITERS = 20  # power-iteration steps (5-state chain mixes fast)


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain —
    "where does a user END UP spending their events" — by power
    iteration over the per-user transition matrix, entirely in
    integer ppm: transition probabilities are floor-ppm
    row-normalized counts, the iterate v·P floors each component,
    and 20 fixed iterations run INSIDE Catalyst as a fold over the
    5-element state vector (both the matrix — ≤25 cells — and the
    vector are alphabet-bounded, so the sequential part never
    touches corpus-grain data). The oracle unrolls the identical
    iteration with a recursive CTE over LIST columns.

    Scale shape: ONE user-keyed exchange for the consecutive-pair
    window (the transition-matrix query's shape), one ≤25-cell
    aggregate, then single-row array algebra. The k = alphabet-size
    scalar is folded into the plan as a 1-row broadcast column
    referenced from the fold's lambdas — building the frame runs no
    driver-side job."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("t1"),
        )
        .withColumn("t2", F.lead("t1").over(w))
        .where(F.col("t2").isNotNull())
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    states = (
        ev.select(F.col("event_type").alias("s"))
        .distinct()
        .orderBy("s")
        .withColumn(
            # bounded-window: the frame is the event-type alphabet
            # (5 rows here, bounded by the domain at any corpus size)
            "i",
            F.row_number().over(Window.orderBy("s")) - 1,
        )
    )
    # alphabet size FOLDED INTO THE PLAN as a 1-row broadcast column
    # (kk) referenced from inside the fold's higher-order lambdas —
    # building the frame no longer runs a driver-side states.count()
    kdf = states.agg(F.count("*").cast("int").alias("kk"))
    cells = (
        states.select(F.col("s").alias("t1"), F.col("i").alias("i1"))
        .crossJoin(
            F.broadcast(
                states.select(
                    F.col("s").alias("t2"), F.col("i").alias("i2")
                )
            )
        )
        .join(pairs, ["t1", "t2"], "left")
        .select(
            "i1", "i2", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    rows_tot = cells.groupBy("i1").agg(F.sum("c").alias("rt"))
    pmat = cells.join(rows_tot, "i1").select(
        "i1",
        "i2",
        F.expr("CAST(IF(rt = 0, 0, c * 1000000 DIV rt) AS BIGINT)").alias(
            "p"
        ),
    )
    one = pmat.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i1, i2, p))), "
            "e -> e.p)"
        ).alias("pm")
    ).crossJoin(F.broadcast(kdf))
    sum_j = (
        f"aggregate(sequence(0, {0} + kk - 1), CAST(0 AS BIGINT), "
        "(s, i) -> s + element_at(v, i + 1) "
        "* element_at(pm, i * kk + j + 1)) DIV 1000000"
    )
    # kk resolves as the broadcast column (outer attribute references
    # are legal inside higher-order-function lambdas), replacing the
    # old `.replace("kk", str(k))` literal interpolation
    folded = one.select(
        F.expr(
            f"""aggregate(
              sequence(1, {MARKOV_ITERS}),
              transform(sequence(1, {0} + kk), x ->
                        CAST(1000000 DIV kk AS BIGINT)),
              (v, it) -> transform(sequence(0, kk - 1), j ->
                         CAST({sum_j} AS BIGINT)),
              v -> v
            )"""
        ).alias("v")
    )
    return (
        states.crossJoin(F.broadcast(folded))
        .select(
            "s",
            F.col("i").cast("int").alias("i"),
            F.expr("element_at(v, i + 1)").alias("stationary_ppm"),
        )
        .orderBy("i")
    )


def _markov_sql() -> str:
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, ts, event_id, event_type FROM events
),
pairs AS (
  SELECT t1, t2, count(*) AS c FROM (
    SELECT event_type AS t1,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS t2
    FROM ev
  ) WHERE t2 IS NOT NULL GROUP BY t1, t2
),
states AS (
  SELECT s, row_number() OVER (ORDER BY s) - 1 AS i
  FROM (SELECT DISTINCT event_type AS s FROM ev)
),
kk AS (SELECT count(*) AS k FROM states),
cells AS (
  SELECT a.i AS i1, b.i AS i2, COALESCE(p.c, 0) AS c
  FROM states a CROSS JOIN states b
  LEFT JOIN pairs p ON p.t1 = a.s AND p.t2 = b.s
),
rt AS (SELECT i1, sum(c) AS rt FROM cells GROUP BY i1),
pmat AS (
  SELECT list(CAST(CASE WHEN r.rt = 0 THEN 0
                        ELSE c.c * 1000000 // r.rt END AS BIGINT)
              ORDER BY c.i1, c.i2) AS pm
  FROM cells c JOIN rt r ON r.i1 = c.i1
),
it AS (
  SELECT 0 AS n, kk.k AS k, pmat.pm AS pm,
         list_transform(range(kk.k),
                        x -> CAST(1000000 // kk.k AS BIGINT)) AS v
  FROM kk, pmat
  UNION ALL
  SELECT n + 1, k, pm,
         list_transform(range(k), j ->
           CAST(list_sum(list_transform(range(k), i ->
                  v[i + 1] * pm[i * k + j + 1]))
                // 1000000 AS BIGINT))
  FROM it WHERE n < {MARKOV_ITERS}
)
SELECT s.s, CAST(s.i AS INT) AS i,
       CAST((SELECT v FROM it WHERE n = {MARKOV_ITERS})[s.i + 1]
            AS BIGINT) AS stationary_ppm
FROM states s
ORDER BY s.i
"""


# --- Poisson bootstrap confidence interval ----------------------------------

BOOT_B = 200  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds on a 12-bit hash (4096 grain):
# P(0)=P(1)=e⁻¹≈.3679→1507 each, P(2)≈.1839→753, P(3)≈.0613→251,
# tail mass → w=4. Fixed integer constants so both engines draw the
# identical weight for the identical (replicate, user) hash.
BOOT_T0, BOOT_T1, BOOT_T2, BOOT_T3 = 1507, 3014, 3767, 4018


def q_events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean events/user —
    THE distributed resampling method (each replicate re-weights
    every unit by an independent Poisson(1) draw, so no replicate
    ever needs a shuffled global sample), made fully DETERMINISTIC:
    the weight for (replicate b, user u) is the Poisson(1)
    inverse-CDF bucket of md5(b:u) mod 4096 under fixed integer
    thresholds. Replicate means are exact rationals Σwx/Σw compared
    by their floor-ppm value (tie-broken by replicate id), and the
    interval is the 2.5%/97.5% order statistics of the B=200
    replicate distribution — no variance formula, no normality
    assumption, no float.

    Scale shape: the corpus is touched ONCE (per-user counts); the
    bootstrap explodes the USER-GRAIN frame ×B (users × 200 — unit
    grain, not event grain), one (replicate) aggregate, and the
    order statistics run on the B-row frame (bounded by config).
    At 10^12 events this is exactly how production bootstraps run:
    resampling happens at the aggregate grain, weighted, in one
    pass."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    weighted = per_user.select(
        "user_id",
        "x",
        F.explode(F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"),
    ).select(
        "b",
        "x",
        F.expr(
            f"""CASE
              WHEN conv(substring(md5(concat(CAST(b AS STRING), ':',
                        CAST(user_id AS STRING))), 1, 8), 16, 10)
                   % 4096 < {BOOT_T0} THEN 0
              WHEN conv(substring(md5(concat(CAST(b AS STRING), ':',
                        CAST(user_id AS STRING))), 1, 8), 16, 10)
                   % 4096 < {BOOT_T1} THEN 1
              WHEN conv(substring(md5(concat(CAST(b AS STRING), ':',
                        CAST(user_id AS STRING))), 1, 8), 16, 10)
                   % 4096 < {BOOT_T2} THEN 2
              WHEN conv(substring(md5(concat(CAST(b AS STRING), ':',
                        CAST(user_id AS STRING))), 1, 8), 16, 10)
                   % 4096 < {BOOT_T3} THEN 3
              ELSE 4 END"""
        ).alias("w"),
    )
    reps = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .select(
            "b",
            F.expr(
                "CAST(IF(sw = 0, 0, swx * 1000000 DIV sw) AS BIGINT)"
            ).alias("mean_ppm"),
        )
    )
    # bounded-window: rank runs on the B-row replicate frame
    # (config-sized, 200 rows at any corpus size)
    ranked = reps.withColumn(
        "r",
        F.row_number().over(Window.orderBy("mean_ppm", "b")),
    )
    point = per_user.agg(
        F.expr("CAST(sum(x) * 1000000 DIV count(*) AS BIGINT)").alias(
            "point_ppm"
        )
    )
    lo_r = max(1, int(BOOT_B * 25 // 1000))
    hi_r = int(BOOT_B * 975 // 1000)
    return (
        ranked.agg(
            F.count(F.lit(1)).alias("n_replicates"),
            F.min(F.when(F.col("r") == lo_r, F.col("mean_ppm"))).alias(
                "ci_lo_ppm"
            ),
            F.min(F.when(F.col("r") == hi_r, F.col("mean_ppm"))).alias(
                "ci_hi_ppm"
            ),
        )
        .crossJoin(F.broadcast(point))
        .select("n_replicates", "point_ppm", "ci_lo_ppm", "ci_hi_ppm")
    )


def _bootstrap_sql() -> str:
    h = (
        "CAST(('0x' || substr(md5(CAST(b.b AS VARCHAR) || ':' || "
        "CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4096"
    )
    lo_r = max(1, BOOT_B * 25 // 1000)
    hi_r = BOOT_B * 975 // 1000
    return f"""
WITH per_user AS (
  SELECT user_id, count(*) AS x FROM events GROUP BY user_id
),
weighted AS (
  SELECT b.b, x,
         CASE WHEN {h} < {BOOT_T0} THEN 0
              WHEN {h} < {BOOT_T1} THEN 1
              WHEN {h} < {BOOT_T2} THEN 2
              WHEN {h} < {BOOT_T3} THEN 3
              ELSE 4 END AS w
  FROM per_user, (SELECT unnest(range(1, {BOOT_B} + 1)) AS b) AS b
),
reps AS (
  SELECT b,
         CAST(CASE WHEN sum(w) = 0 THEN 0
                   ELSE sum(w * x) * 1000000 // sum(w)
              END AS BIGINT) AS mean_ppm
  FROM weighted GROUP BY b
),
ranked AS (
  SELECT mean_ppm,
         row_number() OVER (ORDER BY mean_ppm, b) AS r
  FROM reps
),
point AS (
  SELECT CAST(sum(x) * 1000000 // count(*) AS BIGINT) AS point_ppm
  FROM per_user
)
SELECT (SELECT count(*) FROM reps) AS n_replicates,
       p.point_ppm,
       (SELECT mean_ppm FROM ranked WHERE r = {lo_r}) AS ci_lo_ppm,
       (SELECT mean_ppm FROM ranked WHERE r = {hi_r}) AS ci_hi_ppm
FROM point p
"""


# --- simple exponential smoothing forecast ----------------------------------

SES_ALPHA_DEN = 4   # α = 1/4
SES_SCALE = 1000    # level carried in milli-units


def q_events_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing over the daily event series —
    the workhorse short-horizon forecaster (the h-step forecast IS
    the final level). The level recurrence S_t = S_{t-1} +
    α·(x_t − S_{t-1}) runs in SCALED INTEGERS (milli-units, α=1/4)
    with an explicit FLOOR at each step via the pmod identity, so
    the two engines walk the identical sequence even when the
    innovation is negative (truncating DIV would diverge there).
    Emits per day the observation, the updated level, and the
    one-step-ahead innovation x_t·K − S_{t-1} — the residual series
    a monitoring rule (CUSUM over innovations) consumes.

    Scale shape: one day-grain aggregate, then everything is the
    calendar-bounded fold-inside-Catalyst class (CUSUM's shape):
    collect the ≤date-span series into one array, F.aggregate,
    re-explode; recursive-CTE oracle."""
    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    bounds = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    counts = ev.groupBy("day").agg(F.count(F.lit(1)).alias("x"))
    dense = spine.join(counts, "day", "left").select(
        "day", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    series = dense.agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("arr")
    )
    innov = f"(e.x * {SES_SCALE} - acc.s)"
    step = (
        f"acc.s + ({innov} - pmod({innov}, {SES_ALPHA_DEN})) "
        f"DIV {SES_ALPHA_DEN}"
    )
    folded = series.select(
        F.expr(
            f"""aggregate(
              slice(arr, 2, size(arr) - 1),
              struct(CAST(arr[0].x * {SES_SCALE} AS BIGINT) AS s,
                     CAST(array(struct(arr[0].day AS day,
                                       arr[0].x AS x,
                                       CAST(arr[0].x * {SES_SCALE} AS BIGINT) AS s,
                                       CAST(0 AS BIGINT) AS e))
                          AS array<struct<day:date,x:bigint,
                                          s:bigint,e:bigint>>) AS out),
              (acc, e) -> struct(
                {step} AS s,
                concat(acc.out, array(struct(
                  e.day AS day, e.x AS x, {step} AS s,
                  {innov} AS e))) AS out
              ),
              acc -> acc.out
            )"""
        ).alias("out")
    )
    return (
        folded.select(F.explode("out").alias("o"))
        .select(
            F.col("o.day").cast("string").alias("day"),
            F.col("o.x").alias("x"),
            F.col("o.s").alias("level_scaled"),
            F.col("o.e").alias("innovation_scaled"),
        )
        .orderBy("day")
    )


_SES_SQL = f"""
WITH RECURSIVE ev AS (SELECT CAST(ts AS DATE) AS day FROM events),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
counts AS (SELECT day, count(*) AS x FROM ev GROUP BY day),
dense AS (
  SELECT s.day, COALESCE(c.x, 0) AS x,
         row_number() OVER (ORDER BY s.day) AS i
  FROM spine s LEFT JOIN counts c ON c.day = s.day
),
rec AS (
  SELECT i, day, x, CAST(x * {SES_SCALE} AS BIGINT) AS s,
         CAST(0 AS BIGINT) AS e
  FROM dense WHERE i = 1
  UNION ALL
  SELECT d.i, d.day, d.x,
         r.s + ((d.x * {SES_SCALE} - r.s)
                - (((d.x * {SES_SCALE} - r.s) % {SES_ALPHA_DEN}
                    + {SES_ALPHA_DEN}) % {SES_ALPHA_DEN}))
               // {SES_ALPHA_DEN},
         d.x * {SES_SCALE} - r.s
  FROM dense d JOIN rec r ON d.i = r.i + 1
)
SELECT CAST(day AS VARCHAR) AS day, x,
       CAST(s AS BIGINT) AS level_scaled,
       CAST(e AS BIGINT) AS innovation_scaled
FROM rec ORDER BY day
"""


# --- CUPED variance-reduced experiment readout ------------------------------


def q_events_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment-using-pre-experiment-data): the
    variance-reduction adjustment every mature experimentation
    platform applies before reading a lift. The corpus date range is
    split at its midpoint; X_u = a user's PRE-period event count
    (the covariate), Y_u = POST-period purchases (the metric),
    variants by user_id parity. θ = cov(X,Y)/var(X) and the adjusted
    lift mean_B(Y−θ(X−X̄)) − mean_A(…) are kept as EXACT RATIONALS:
    every statistic is a cross-multiplied integer (C = n·ΣXY−ΣXΣY,
    W = n·ΣX²−(ΣX)², adjusted-lift numerator/denominator over the
    common denominator W·n·n_A·n_B), carried in decimal(38,0)/
    HUGEINT and emitted as digit strings — no float ever enters, so
    the hash certifies the adjustment algebra itself. ρ² (the
    variance-reduction fraction) is the one emitted ratio, in ppm
    (non-negative, so floor division agrees). Degenerate var(X)=0
    falls back to θ=0 (adjusted ≡ unadjusted) identically.

    Scale shape: one per-user aggregate (map-side combinable
    conditional counts), one global 1-row moment aggregate + one
    2-row variant aggregate, then single-row algebra. At 10^12
    events: scan + one user-keyed exchange."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    )
    bounds = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        F.expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").alias(
            "mid"
        )
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum((F.col("day") < F.col("mid")).cast("long")).alias("x"),
            F.sum(
                (
                    (F.col("day") >= F.col("mid"))
                    & (F.col("event_type") == "purchase")
                ).cast("long")
            ).alias("y"),
        )
        .select((F.col("user_id") % 2).alias("v"), "x", "y")
    )
    moments = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("v") == 0, F.col("x")).otherwise(0)).alias("sxa"),
        F.sum(F.when(F.col("v") == 0, F.col("y")).otherwise(0)).alias("sya"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("v") == 1, F.col("x")).otherwise(0)).alias("sxb"),
        F.sum(F.when(F.col("v") == 1, F.col("y")).otherwise(0)).alias("syb"),
    )
    d = "CAST({} AS DECIMAL(38,0))"
    c_expr = f"({d.format('n')} * sxy - {d.format('sx')} * sy)"
    w_expr = f"({d.format('n')} * sxx - {d.format('sx')} * sx)"
    vy_expr = f"({d.format('n')} * syy - {d.format('sy')} * sy)"
    cg = f"(IF({w_expr} = 0, CAST(0 AS DECIMAL(38,0)), {c_expr}))"
    wg = f"(IF({w_expr} = 0, CAST(1 AS DECIMAL(38,0)), {w_expr}))"
    num_a = (
        f"({wg} * n * sya - {cg} * ({d.format('n')} * sxa - na * sx))"
    )
    num_b = (
        f"({wg} * n * syb - {cg} * ({d.format('n')} * sxb - nb * sx))"
    )
    return moments.select(
        F.col("n").alias("n_users"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr("CAST(IF(na = 0, 0, sya * 1000000 DIV na) AS BIGINT)").alias(
            "mean_y_a_ppm"
        ),
        F.expr("CAST(IF(nb = 0, 0, syb * 1000000 DIV nb) AS BIGINT)").alias(
            "mean_y_b_ppm"
        ),
        F.expr(
            f"CAST(IF({w_expr} = 0 OR {vy_expr} = 0, 0, "
            f"{c_expr} * {c_expr} * 1000000 DIV ({w_expr} * {vy_expr})) "
            "AS BIGINT)"
        ).alias("rho2_ppm"),
        F.expr(
            f"CAST(CAST(na AS DECIMAL(38,0)) * syb - "
            f"CAST(nb AS DECIMAL(38,0)) * sya AS STRING)"
        ).alias("lift_num_str"),
        F.expr(
            "CAST(CAST(na AS DECIMAL(38,0)) * nb AS STRING)"
        ).alias("lift_den_str"),
        F.expr(
            f"CAST(CAST(na AS DECIMAL(38,0)) * {num_b} - "
            f"CAST(nb AS DECIMAL(38,0)) * {num_a} AS STRING)"
        ).alias("lift_adj_num_str"),
        F.expr(
            f"CAST({wg} * n * na * nb AS STRING)"
        ).alias("lift_adj_den_str"),
    )


def _cuped_sql() -> str:
    c = "(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)"
    w = "(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)"
    vy = "(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)"
    cg = f"(CASE WHEN {w} = 0 THEN CAST(0 AS HUGEINT) ELSE {c} END)"
    wg = f"(CASE WHEN {w} = 0 THEN CAST(1 AS HUGEINT) ELSE {w} END)"
    num_a = f"({wg} * n * sya - {cg} * (CAST(n AS HUGEINT) * sxa - na * sx))"
    num_b = f"({wg} * n * syb - {cg} * (CAST(n AS HUGEINT) * sxb - nb * sx))"
    return f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events
),
bounds AS (
  SELECT min(day) + CAST(date_diff('day', min(day), max(day)) // 2
                         AS INT) AS mid
  FROM ev
),
per_user AS (
  SELECT user_id % 2 AS v,
         sum(CASE WHEN day < (SELECT mid FROM bounds)
                  THEN 1 ELSE 0 END) AS x,
         sum(CASE WHEN day >= (SELECT mid FROM bounds)
                  AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM ev GROUP BY user_id
),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy,
         sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN v = 0 THEN x ELSE 0 END) AS sxa,
         sum(CASE WHEN v = 0 THEN y ELSE 0 END) AS sya,
         sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN v = 1 THEN x ELSE 0 END) AS sxb,
         sum(CASE WHEN v = 1 THEN y ELSE 0 END) AS syb
  FROM per_user
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(CASE WHEN na = 0 THEN 0
                 ELSE sya * 1000000 // na END AS BIGINT) AS mean_y_a_ppm,
       CAST(CASE WHEN nb = 0 THEN 0
                 ELSE syb * 1000000 // nb END AS BIGINT) AS mean_y_b_ppm,
       CAST(CASE WHEN {w} = 0 OR {vy} = 0 THEN 0
                 ELSE {c} * {c} * 1000000 // ({w} * {vy})
            END AS BIGINT) AS rho2_ppm,
       CAST(CAST(na AS HUGEINT) * syb
            - CAST(nb AS HUGEINT) * sya AS VARCHAR) AS lift_num_str,
       CAST(CAST(na AS HUGEINT) * nb AS VARCHAR) AS lift_den_str,
       CAST(CAST(na AS HUGEINT) * {num_b}
            - CAST(nb AS HUGEINT) * {num_a} AS VARCHAR) AS lift_adj_num_str,
       CAST({wg} * n * na * nb AS VARCHAR) AS lift_adj_den_str
FROM m
"""


# --- session path mining (trigrams) ----------------------------------------

PATH_TOPK = 20


def q_events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey path trigrams: events sessionized by the
    canonical 30-minute gap rule, consecutive event-type triples
    WITHIN a session counted corpus-wide, top-20 with integer ppm
    share of all trigrams — the Sankey/path-analysis feed. Shares
    divide by the total via a window over the path-count frame,
    which is bounded by the type-alphabet cubed (≤125 rows), not
    the corpus.

    Scale shape: one user_id hash exchange drives the session
    window and both leads (same ordering — one sort); the trigram
    count is a map-side-combinable aggregate; top-K is
    TakeOrderedAndProject."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(new_sess).over(w).alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    tri = sess.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(ws).alias("t2"),
        F.lead("event_type", 2).over(ws).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    counts = tri.groupBy(
        F.concat_ws(">", "t1", "t2", "t3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    # bounded-window: the OVER () total runs on the distinct-path
    # frame, ≤ |event type alphabet|³ = 125 rows at any corpus size
    # — never corpus-grain
    return (
        counts.select(
            "path",
            "n",
            F.expr(
                "CAST(n * 1000000 DIV (sum(n) OVER ()) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(PATH_TOPK)
    )


_PATH_TRIGRAM_SQL = f"""
WITH sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(CASE WHEN prev_ts IS NULL
                  OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1
                  ELSE 0 END)
           OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS session_id
  FROM (
    SELECT user_id, ts, event_id, event_type,
           lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_ts
    FROM events
  )
),
tri AS (
  SELECT event_type AS t1,
         lead(event_type, 1) OVER (
           PARTITION BY user_id, session_id ORDER BY ts, event_id
         ) AS t2,
         lead(event_type, 2) OVER (
           PARTITION BY user_id, session_id ORDER BY ts, event_id
         ) AS t3
  FROM sess
),
counts AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*) AS n
  FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
  GROUP BY 1
)
SELECT path, n,
       CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm
FROM counts
ORDER BY n DESC, path ASC
LIMIT {PATH_TOPK}
"""


# --- open-order aging report ------------------------------------------------

AGING_BUCKETS = ((30, "000-030"), (90, "031-090"), (365, "091-365"))


def q_orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable-style backlog aging: OPEN orders bucketed
    by age against the corpus anchor date (0-30 / 31-90 / 91-365 /
    365+ days), with order counts and digit-string cents totals (the
    buckets pass 9 significant digits at sf0.1). Bucket labels are
    zero-padded so lexicographic ORDER BY is age order.

    Scale shape: scan + ONE map-side-combinable aggregate over ≤4
    groups; the anchor is the allowlisted 1-row broadcast. The
    status filter reaches the parquet reader as a pushed filter."""
    o = table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("anchor"))
    aged = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .select(
            F.datediff("anchor", F.to_date("o_orderdate")).alias("age"),
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    bucket = F.when(F.col("age") <= AGING_BUCKETS[0][0], AGING_BUCKETS[0][1])
    for cut, label in AGING_BUCKETS[1:]:
        bucket = bucket.when(F.col("age") <= cut, label)
    bucket = bucket.otherwise("365+")
    return (
        aged.groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("cents").cast("decimal(38,0)"))
            .cast("string")
            .alias("value_cents_str"),
        )
        .orderBy("age_bucket")
    )


_BACKLOG_SQL = f"""
WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS a FROM orders),
aged AS (
  SELECT date_diff('day', CAST(o_orderdate AS DATE),
                   (SELECT a FROM anchor)) AS age,
         {cents_sql("o_totalprice")} AS cents
  FROM orders WHERE o_orderstatus = 'O'
)
SELECT CASE WHEN age <= 30 THEN '000-030'
            WHEN age <= 90 THEN '031-090'
            WHEN age <= 365 THEN '091-365'
            ELSE '365+' END AS age_bucket,
       count(*) AS n_orders,
       CAST(sum(cents) AS VARCHAR) AS value_cents_str
FROM aged
GROUP BY 1
ORDER BY age_bucket
"""


# --- bit-exact portable HyperLogLog ----------------------------------------

HLL_M = 64  # registers (b = 6)
# alpha_64 = 0.7213 / (1 + 1.079/64), fixed to ppm so neither engine
# computes it; raw-estimate constant A = alpha_ppm · m² · 2²⁴
HLL_ALPHA_PPM = 709336
HLL_A = HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << 24)
HLL_W = 1 << 32  # 32-bit rank domain


def q_events_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch, BIT-EXACTLY portable: the
    md5-derived (bucket, rank) decomposition, the register vector
    (max rank per bucket), the integer-scaled harmonic sum, and the
    raw estimate are all reproduced identically by the oracle — the
    register digest rides in the output hash, so both engines
    provably built the same sketch (the CMS certificate pattern
    applied to the OTHER workhorse sketch). Flajolet's small-range
    linear-counting correction needs ln() so it is deliberately out
    of spec — this emits the RAW estimator (documented bias at low
    cardinality; accuracy-vs-exact stays the 5%-tolerance contract
    of events_sketch_accuracy, portability is certified HERE).

    Integer spec: h = 48-bit md5 slice; bucket = h mod 64; w =
    (h DIV 64) mod 2³²; rank = 33 − bitlength(w) (bitlength via the
    binary string both engines render unpadded — no log2); harmonic
    sum scaled by 2²⁴: S = Σ_buckets 2^(24 − min(rank, 24)) with
    absent buckets contributing 2²⁴; estimate = A DIV S DIV 10⁶.

    Scale shape: one hash aggregate to ≤64 registers (map-side
    combinable max — THE mergeable-sketch dataflow: partitions build
    partial registers, the merge is elementwise max), one 64-row
    register aggregate, one exact-distinct audit aggregate (the
    harness side, as with CMS), two 1-row broadcasts."""
    ev = table(spark, sf_dir, "events").select("user_id")
    regs = hll_decompose(ev).groupBy("j").agg(F.max("r").alias("m"))
    return hll_finalize(regs, ev)


def hll_decompose(ev: DataFrame) -> DataFrame:
    """(bucket, rank) rows for the portable HLL spec — shared by the
    batch query and the streaming max-merge variant."""
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    rows = ev.select(h.alias("h")).select(
        F.expr(f"h % {HLL_M}").alias("j"),
        F.expr(f"h DIV {HLL_M} % {HLL_W}").alias("w"),
    )
    rank = 33 - F.length(F.expr("trim(LEADING '0' FROM bin(w))"))
    return rows.select("j", rank.alias("r"))


def hll_finalize(regs: DataFrame, ev: DataFrame) -> DataFrame:
    """Fold final (j, m) registers into the one-row sketch readout
    (digest, scaled harmonic sum, raw estimate) plus the exact-
    distinct audit column computed from `ev`."""
    sketch = regs.agg(
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 24 - least(m, 24)) AS BIGINT)")
        ).alias("s_present"),
        F.md5(
            F.concat_ws(
                ",",
                F.expr(
                    "transform(array_sort(collect_list(struct(j, m))), "
                    "e -> concat(e.j, ':', e.m))"
                ),
            )
        ).alias("registers_md5"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    return (
        sketch.crossJoin(F.broadcast(exact))
        .select(
            F.lit(HLL_M).cast("int").alias("m"),
            "n_exact",
            "n_buckets_used",
            (
                F.col("s_present")
                + (F.lit(HLL_M) - F.col("n_buckets_used"))
                * F.lit(1 << 24).cast("long")
            ).alias("s_scaled"),
            "registers_md5",
        )
        .select(
            "m",
            "n_exact",
            "n_buckets_used",
            "s_scaled",
            F.expr(f"CAST({HLL_A} DIV s_scaled DIV 1000000 AS BIGINT)").alias(
                "est_raw"
            ),
            (
                F.expr(f"CAST({HLL_A} DIV s_scaled DIV 1000000 AS BIGINT)")
                - F.col("n_exact")
            ).alias("diff"),
            "registers_md5",
        )
    )


_HLL_SQL = f"""
WITH rows AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS h
  FROM events
),
decomp AS (
  SELECT h % {HLL_M} AS j,
         33 - length(ltrim(bin((h // {HLL_M}) % {HLL_W}), '0')) AS r
  FROM rows
),
regs AS (SELECT j, max(r) AS m FROM decomp GROUP BY j),
sketch AS (
  SELECT count(*) AS n_buckets_used,
         sum(CAST(1 AS BIGINT) << (24 - least(m, 24))) AS s_present,
         md5(string_agg(CAST(j AS VARCHAR) || ':' || CAST(m AS VARCHAR),
                        ',' ORDER BY j)) AS registers_md5
  FROM regs
),
exact AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
SELECT CAST({HLL_M} AS INT) AS m,
       e.n_exact,
       s.n_buckets_used,
       CAST(s.s_present + ({HLL_M} - s.n_buckets_used)
            * CAST({1 << 24} AS BIGINT) AS BIGINT) AS s_scaled,
       CAST({HLL_A} // (s.s_present + ({HLL_M} - s.n_buckets_used)
                        * CAST({1 << 24} AS BIGINT)) // 1000000
            AS BIGINT) AS est_raw,
       CAST({HLL_A} // (s.s_present + ({HLL_M} - s.n_buckets_used)
                        * CAST({1 << 24} AS BIGINT)) // 1000000
            - e.n_exact AS BIGINT) AS diff,
       s.registers_md5
FROM sketch s, exact e
"""


# --- additive seasonal decomposition ---------------------------------------

SD_HALF = 3  # centered moving-average half-width (7-day window)


def q_orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily order
    revenue, weekly period: trend = centered 7-day moving average,
    seasonal index per day-of-week = the mean detrended deviation.
    All arithmetic stays exact integers by scaling through the
    window width — trend is the 7-day SUM (never divided), the
    deviation is d_t = 7·r_t − trend_sum, and the per-dow index is
    emitted as (Σd, n) plus the mean deviation in MICRO-CENTS
    (Σd·10⁶ DIV (n·7)) via the pmod floor identity, so negative
    deviations divide identically cross-engine. Σd passes
    9 significant digits at sf0.1, so it rides as a digit STRING.
    Day-of-week is epoch_days mod 7 (0 = Thursday) — pure
    arithmetic, no locale-dependent dayofweek().

    Scale shape: ONE day-grain aggregate over the scan (map-side
    partial); the spine, the centered window, and the 7-row dow
    aggregate are all calendar-bounded. Edge days without a full
    7-day window are excluded (count-guarded), the standard
    decomposition boundary rule."""
    o = table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    daily = o.groupBy("day").agg(F.sum("cents").alias("r"))
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    dense = spine.join(daily, "day", "left").select(
        "day", F.coalesce(F.col("r"), F.lit(0)).alias("r")
    )
    # bounded-window: frame is the gap-filled calendar-day spine
    # (~2,400 rows for the 1995-2001 corpus; 365/year at any size)
    w = Window.orderBy("day").rowsBetween(-SD_HALF, SD_HALF)
    trended = dense.select(
        "day",
        "r",
        F.sum("r").over(w).alias("trend_sum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    ).where(F.col("wn") == 2 * SD_HALF + 1)
    dev = trended.select(
        F.expr(
            "datediff(day, DATE '1970-01-01') % 7"
        ).alias("dow"),
        ((2 * SD_HALF + 1) * F.col("r") - F.col("trend_sum")).alias("d"),
    )
    return (
        dev.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("d").alias("dsum"),
        )
        .select(
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            F.col("dsum").cast("string").alias("d_sum_str"),
            F.expr(
                f"CAST((dsum * 1000000 - pmod(dsum * 1000000, "
                f"n_days * {2 * SD_HALF + 1})) "
                f"DIV (n_days * {2 * SD_HALF + 1}) AS BIGINT)"
            ).alias("seasonal_ucents"),
        )
        .orderBy("dow")
    )


_SEASONAL_SQL = f"""
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {cents_sql("o_totalprice")} AS cents
  FROM orders
),
daily AS (SELECT day, sum(cents) AS r FROM o GROUP BY day),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
dense AS (
  SELECT s.day, COALESCE(d.r, 0) AS r
  FROM spine s LEFT JOIN daily d ON d.day = s.day
),
trended AS (
  SELECT day, r,
         sum(r) OVER (ORDER BY day
                      ROWS BETWEEN {SD_HALF} PRECEDING
                      AND {SD_HALF} FOLLOWING) AS trend_sum,
         count(*) OVER (ORDER BY day
                        ROWS BETWEEN {SD_HALF} PRECEDING
                        AND {SD_HALF} FOLLOWING) AS wn
  FROM dense
),
dev AS (
  SELECT date_diff('day', DATE '1970-01-01', day) % 7 AS dow,
         {2 * SD_HALF + 1} * r - trend_sum AS d
  FROM trended WHERE wn = {2 * SD_HALF + 1}
)
SELECT CAST(dow AS INT) AS dow,
       count(*) AS n_days,
       CAST(sum(d) AS VARCHAR) AS d_sum_str,
       CAST((sum(d) * 1000000
             - ((sum(d) * 1000000 % (count(*) * {2 * SD_HALF + 1}))
                + (count(*) * {2 * SD_HALF + 1}))
               % (count(*) * {2 * SD_HALF + 1}))
            // (count(*) * {2 * SD_HALF + 1}) AS BIGINT) AS seasonal_ucents
FROM dev
GROUP BY dow
ORDER BY dow
"""


# --- Benford first-digit audit ---------------------------------------------

# log10(1 + 1/d) in ppm, d = 1..9 — precomputed integer constants so
# neither engine ever calls a log (the values famously sum to 10⁶)
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)
assert sum(BENFORD_PPM) == 1_000_000


def q_orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    forensic/data-quality screen (fabricated or unit-mangled money
    columns drift from the log distribution). The first significant
    digit comes from the DIGIT STRING of floor-cents (substring of a
    BIGINT's decimal rendering — portable by construction, no float
    log10 anywhere), observed shares are integer ppm, and the
    expected shares are the precomputed log10(1+1/d) ppm constants,
    so deviation = obs − exp is an exact integer both engines agree
    on sign for. The 9-digit spine LEFT-joins the counts so a digit
    that never occurs still reports (the degenerate-distribution
    case the audit exists to catch).

    Scale shape: ONE map-side-combinable aggregate over the scan +
    a 9-row literal spine and a 1-row total broadcast — the audit
    costs a scan at any table size."""
    digit = F.substring(
        cents(F.col("o_totalprice")).cast("string"), 1, 1
    ).cast("int")
    counts = (
        table(spark, sf_dir, "orders")
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = counts.agg(F.sum("n_obs").alias("total"))
    spine = spark.range(1).select(
        F.posexplode(F.array(*[F.lit(p) for p in BENFORD_PPM])).alias(
            "pos", "exp_ppm"
        )
    ).select((F.col("pos") + 1).cast("int").alias("digit"), "exp_ppm")
    return (
        spine.join(counts, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            F.expr(
                "CAST(coalesce(n_obs, 0) * 1000000 DIV total AS BIGINT)"
            ).alias("obs_ppm"),
            F.col("exp_ppm").cast("long").alias("exp_ppm"),
            (
                F.expr("CAST(coalesce(n_obs, 0) * 1000000 DIV total AS BIGINT)")
                - F.col("exp_ppm")
            ).alias("dev_ppm"),
        )
        .orderBy("digit")
    )


def _benford_sql() -> str:
    spine = ", ".join(
        f"({d + 1}, {p})" for d, p in enumerate(BENFORD_PPM)
    )
    return f"""
WITH counts AS (
  SELECT CAST(substr(CAST({cents_sql("o_totalprice")}
                          AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n_obs
  FROM orders GROUP BY 1
),
total AS (SELECT sum(n_obs) AS total FROM counts),
spine(digit, exp_ppm) AS (VALUES {spine})
SELECT CAST(s.digit AS INT) AS digit,
       CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs,
       CAST(COALESCE(c.n_obs, 0) * 1000000 // t.total AS BIGINT) AS obs_ppm,
       CAST(s.exp_ppm AS BIGINT) AS exp_ppm,
       CAST(COALESCE(c.n_obs, 0) * 1000000 // t.total - s.exp_ppm
            AS BIGINT) AS dev_ppm
FROM spine s LEFT JOIN counts c ON c.digit = s.digit, total t
ORDER BY s.digit
"""


# --- multi-touch marketing attribution -------------------------------------

ATTR_DAYS = 7  # lookback window: clicks within 7 days before a purchase
ATTR_US = ATTR_DAYS * 86_400 * 1_000_000


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: every purchase is credited to the
    user's click touches in the trailing 7-day window under the
    three standard models at once — first-touch, last-touch, and
    linear — aggregated by touch DAY (the "which day's engagement
    drove conversions" readout). Linear credit is integer ppm:
    each touch gets 10⁶ DIV n and the division remainder goes to
    the LAST touch, so per-conversion credit sums to exactly 10⁶
    and Σ linear_ppm ≡ 10⁶ × attributed conversions (the
    conservation law the unit pin asserts).

    Scale shape: the touch pairing is NOT a time-range BNLJ — both
    sides are binned to 7-day epoch buckets, each purchase probes
    its 2 covering buckets (constant expansion), and the join is an
    equi-join on (user, bucket) with the exact window as a residual
    filter — the interval-overlap bin-join shape. Interval
    arithmetic subtracts the NTZ timestamps directly (zone-free
    day-time interval → decimal → integer microseconds, the TWAP
    idiom). Per-conversion ranking windows partition on the
    purchase event id — frames bounded by clicks/user/week."""
    # `ts` loads as TIMESTAMP_NTZ, so to_date()/datediff() here are
    # already session-TZ-free — left as-is (r6 audit).
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.to_date("ts").alias("day"),
        F.expr("datediff(to_date(ts), DATE '1970-01-01') DIV 7").alias(
            "bin"
        ),
        "event_type",
    )
    clicks = base.where("event_type = 'click'").select(
        F.col("event_id").alias("c_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("day").alias("c_day"),
        F.col("bin").alias("bin"),
    )
    purchases = base.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.explode(
            F.array(F.col("bin") - 1, F.col("bin"))
        ).alias("bin"),
    )
    # cross-engine-exact (r6, VERDICT r5 #1c): exact integer µs via
    # timestampdiff instead of the interval→decimal(20,6)→long cast
    # chain (decimal rounding is the one engine-build-sensitive step)
    dt_us = F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)")
    touches = (
        purchases.join(clicks, ["user_id", "bin"])
        .withColumn("dt_us", dt_us)
        .where((F.col("dt_us") > 0) & (F.col("dt_us") <= ATTR_US))
        .select("p_id", "c_id", "c_ts", "c_day")
    )
    wf = Window.partitionBy("p_id").orderBy("c_ts", "c_id")
    wl = Window.partitionBy("p_id").orderBy(
        F.desc("c_ts"), F.desc("c_id")
    )
    wn = Window.partitionBy("p_id")
    credited = touches.select(
        "p_id",
        "c_day",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count(F.lit(1)).over(wn).alias("n_touch"),
    )
    return (
        credited.groupBy("c_day")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum((F.col("rn_first") == 1).cast("long")).alias(
                "first_convs"
            ),
            F.sum((F.col("rn_last") == 1).cast("long")).alias("last_convs"),
            F.sum(
                F.expr(
                    "1000000 DIV n_touch "
                    "+ IF(rn_last = 1, 1000000 % n_touch, 0)"
                )
            ).alias("linear_ppm"),
        )
        .select(
            F.col("c_day").cast("string").alias("day"),
            "n_touches",
            "first_convs",
            "last_convs",
            "linear_ppm",
        )
        .orderBy("day")
    )


_ATTRIBUTION_SQL = f"""
WITH base AS (
  SELECT event_id, user_id, ts, CAST(ts AS DATE) AS day,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS bin,
         event_type
  FROM events
),
clicks AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts, day AS c_day, bin
  FROM base WHERE event_type = 'click'
),
purchases AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts, bin + d.d AS bin
  FROM base, (SELECT unnest([-1, 0]) AS d) AS d
  WHERE event_type = 'purchase'
),
touches AS (
  SELECT p.p_id, c.c_id, c.c_ts, c.c_day,
         date_diff('microsecond', c.c_ts, p.p_ts) AS dt_us
  FROM purchases p JOIN clicks c USING (user_id, bin)
  WHERE date_diff('microsecond', c.c_ts, p.p_ts) > 0
    AND date_diff('microsecond', c.c_ts, p.p_ts) <= {ATTR_US}
),
credited AS (
  SELECT p_id, c_day,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY c_ts, c_id) AS rn_first,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY c_ts DESC, c_id DESC) AS rn_last,
         count(*) OVER (PARTITION BY p_id) AS n_touch
  FROM touches
)
SELECT CAST(c_day AS VARCHAR) AS day,
       count(*) AS n_touches,
       CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS first_convs,
       CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS last_convs,
       CAST(sum(1000000 // n_touch
                + CASE WHEN rn_last = 1 THEN 1000000 % n_touch ELSE 0 END)
            AS BIGINT) AS linear_ppm
FROM credited
GROUP BY c_day
ORDER BY day
"""


# --- Kaplan-Meier repeat-purchase survival ---------------------------------


def q_customer_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer inter-order gaps —
    the churn-analysis estimator: "what fraction of customers have
    NOT yet reordered t days after an order", with proper right-
    censoring (a customer's last order is censored at the corpus
    anchor date instead of being dropped, which is what makes KM
    different from a naive gap histogram).

    Subjects: every consecutive-order gap is an observed event with
    duration datediff(next, this); every last order is a censored
    subject with duration datediff(anchor, this). The product-limit
    estimate runs in integer ppm with a per-step floor —
    S_t = S_{t-1}·(n_t − d_t) DIV n_t — so both engines walk the
    identical integer recurrence (no float product drift).

    Scale shape: the per-customer lead() window is bounded by orders
    per customer (dozens); the risk table is calendar-bounded
    (distinct gap days ≤ corpus date span), so the collect-into-array
    fold is the same bounded-frame class as the CUSUM query, run
    INSIDE Catalyst via F.aggregate — no UDF, no driver loop. The
    anchor is a 1-row broadcast (scalar-broadcast BNLJ class). The
    single fold also carries the at-risk countdown, so n_risk needs
    no second pass."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
    ).select(
        "d", F.lead(F.to_date("o_orderdate")).over(w).alias("nxt")
    )
    anchor = orders.agg(F.max(F.to_date("o_orderdate")).alias("a"))
    dur = seq.crossJoin(F.broadcast(anchor)).select(
        F.when(F.col("nxt").isNull(), F.datediff("a", "d"))
        .otherwise(F.datediff("nxt", "d"))
        .cast("int")
        .alias("t"),
        F.when(F.col("nxt").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("ev"),
    )
    risk = dur.groupBy("t").agg(
        F.sum("ev").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).alias("c"),
    )
    one = risk.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("arr"),
        F.sum(F.col("d") + F.col("c")).alias("tot"),
    )
    s_step = "IF(e.d > 0, (acc.s * (acc.rem - e.d)) DIV acc.rem, acc.s)"
    folded = one.select(
        F.expr(
            f"""aggregate(
              arr,
              struct(CAST(tot AS BIGINT) AS rem,
                     CAST(1000000 AS BIGINT) AS s,
                     CAST(array() AS
                       array<struct<t:int,n:bigint,d:bigint,
                                    c:bigint,s:bigint>>) AS out),
              (acc, e) -> struct(
                acc.rem - e.d - e.c AS rem,
                {s_step} AS s,
                concat(acc.out, array(struct(
                  e.t AS t, acc.rem AS n, e.d AS d, e.c AS c,
                  {s_step} AS s))) AS out
              ),
              acc -> acc.out
            )"""
        ).alias("out")
    )
    return (
        folded.select(F.explode("out").alias("o"))
        .select(
            F.col("o.t").alias("t_days"),
            F.col("o.n").alias("n_risk"),
            F.col("o.d").alias("d_events"),
            F.col("o.c").alias("c_censored"),
            F.col("o.s").alias("s_ppm"),
        )
        .orderBy("t_days")
    )


_KM_SQL = """
WITH RECURSIVE anchor AS (
  SELECT max(CAST(o_orderdate AS DATE)) AS a FROM orders
),
seq AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         lead(CAST(o_orderdate AS DATE)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS nxt
  FROM orders
),
dur AS (
  SELECT CASE WHEN nxt IS NULL
              THEN date_diff('day', d, (SELECT a FROM anchor))
              ELSE date_diff('day', d, nxt) END AS t,
         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev
  FROM seq
),
risk AS (
  SELECT t, sum(ev) AS d, sum(1 - ev) AS c FROM dur GROUP BY t
),
idx AS (
  SELECT t, d, c, row_number() OVER (ORDER BY t) AS i FROM risk
),
tot AS (SELECT sum(d + c) AS n FROM idx),
rec AS (
  SELECT i, t, d, c,
         (SELECT n FROM tot) AS n_at,
         CASE WHEN d > 0
              THEN (1000000 * ((SELECT n FROM tot) - d))
                   // (SELECT n FROM tot)
              ELSE 1000000 END AS s,
         (SELECT n FROM tot) - d - c AS rem
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.i, x.t, x.d, x.c,
         r.rem,
         CASE WHEN x.d > 0
              THEN (r.s * (r.rem - x.d)) // r.rem
              ELSE r.s END,
         r.rem - x.d - x.c
  FROM idx x JOIN rec r ON x.i = r.i + 1
)
SELECT CAST(t AS INT) AS t_days, CAST(n_at AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS d_events, CAST(c AS BIGINT) AS c_censored,
       CAST(s AS BIGINT) AS s_ppm
FROM rec ORDER BY t_days
"""


# --- exact integer autocorrelation of the daily event series --------------

ACF_MAX_LAG = 7  # report lags 1..7 (weekly seasonality window)


def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at
    lags 1..7 — the seasonality probe behind every traffic forecast
    ("is there a weekly cycle?"). All arithmetic is EXACT integers:
    deviations are scaled through by the day count (d_t = n·c_t − S,
    so the mean S/n never becomes a float), the lag-k numerator is
    Σ d_t·d_{t+k} over the overlapping prefix, and the denominator is
    the full Σ d_t². Both are emitted as digit STRINGS (they pass 9
    significant digits at sf0.1), plus a floor-ppm ratio computed via
    the pmod identity (a − pmod(a, den)) / den so Spark's truncating
    DIV and DuckDB's flooring // agree on NEGATIVE numerators too.

    Scale shape: one day-grain aggregate (map-side partial), then
    every subsequent frame is calendar-bounded (≤ date-span rows) —
    the gap-filled spine, the unpartitioned idx window, and the
    lag join (explode lags 1..K, equi-join on shifted idx — no
    BNLJ, no crossJoin). Magnitude bound: |num·10⁶| ≤ n³·max(c)²·10⁶
    ≈ 3·10¹⁷ at sf0.1 — inside BIGINT with 30× headroom; a
    year-scale corpus would move num/den to decimal(38) with the
    same digit-string emission."""
    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    bounds = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    counts = ev.groupBy("day").agg(F.count(F.lit(1)).alias("x"))
    dense = (
        spine.join(counts, "day", "left")
        .select("day", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .withColumn(
            # bounded-window: frame is the gap-filled calendar-day
            # spine (≤ corpus date span, 30 rows here; 365/year at
            # any corpus size) — never corpus-grain
            "idx",
            F.row_number().over(Window.orderBy("day")),
        )
    )
    stats = dense.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = dense.crossJoin(F.broadcast(stats)).select(
        "idx", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    )
    den = dev.agg(F.sum(F.col("d") * F.col("d")).alias("den"))
    shifted = dev.select(
        "d",
        F.explode(
            F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))
        ).alias("lag"),
        F.col("idx").alias("i1"),
    ).withColumn("i2", F.col("i1") + F.col("lag"))
    pairs = shifted.join(
        dev.select(F.col("idx").alias("i2"), F.col("d").alias("d2")), "i2"
    )
    num = pairs.groupBy("lag").agg(
        F.sum(F.col("d") * F.col("d2")).alias("num")
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("num").cast("string").alias("num_str"),
            F.col("den").cast("string").alias("den_str"),
            F.expr(
                "CAST((num * 1000000 - pmod(num * 1000000, den)) "
                "DIV den AS BIGINT)"
            ).alias("acf_ppm"),
        )
        .orderBy("lag")
    )


_ACF_SQL = f"""
WITH ev AS (SELECT CAST(ts AS DATE) AS day FROM events),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
counts AS (SELECT day, count(*) AS x FROM ev GROUP BY day),
dense AS (
  SELECT s.day, COALESCE(c.x, 0) AS x,
         row_number() OVER (ORDER BY s.day) AS idx
  FROM spine s LEFT JOIN counts c ON c.day = s.day
),
stats AS (SELECT count(*) AS n, sum(x) AS s FROM dense),
dev AS (
  SELECT idx, (SELECT n FROM stats) * x - (SELECT s FROM stats) AS d
  FROM dense
),
den AS (SELECT sum(d * d) AS den FROM dev),
lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
num AS (
  SELECT l.lag, sum(a.d * b.d) AS num
  FROM lags l
  JOIN dev a ON true
  JOIN dev b ON b.idx = a.idx + l.lag
  GROUP BY l.lag
)
SELECT CAST(lag AS INT) AS lag,
       CAST(num AS VARCHAR) AS num_str,
       CAST((SELECT den FROM den) AS VARCHAR) AS den_str,
       CAST((num * 1000000
             - ((num * 1000000 % (SELECT den FROM den))
                + (SELECT den FROM den)) % (SELECT den FROM den))
            // (SELECT den FROM den) AS BIGINT) AS acf_ppm
FROM num ORDER BY lag
"""


QUERIES = {
    "events_summary": (q_events_summary, _EVENTS_SUMMARY_SQL),
    "events_transition_matrix": (q_events_transition_matrix, _TRANSITION_SQL),
    "events_rate_anomaly": (q_events_rate_anomaly, _RATE_ANOMALY_SQL),
    "events_funnel": (q_events_funnel, _FUNNEL_EVENTS_SQL),
    "events_twap": (q_events_twap, _TWAP_SQL),
    "events_state_history": (q_events_state_history, _STATE_HISTORY_SQL),
    "events_retention_cohorts": (q_retention_cohorts, _RETENTION_SQL),
    "events_by_type": (q_events_by_type, _EVENTS_BY_TYPE_SQL),
    "error_users": (q_error_users, _ERROR_USERS_SQL),
    "recent_events_top100": (q_recent_events, _RECENT_EVENTS_SQL),
    "pricing_summary": (q_pricing_summary, _PRICING_SUMMARY_SQL),
    "revenue_by_nation": (q_revenue_by_nation, _REVENUE_BY_NATION_SQL),
    "top_customer_per_nation": (q_top_customer_per_nation, _TOP_CUSTOMER_SQL),
    "order_priority_counts": (q_order_priority_counts, _ORDER_PRIORITY_SQL),
    "order_rollup": (q_order_rollup, _ORDER_ROLLUP_SQL),
    "customer_order_gaps": (q_customer_order_gaps, _ORDER_GAPS_SQL),
    "users_click_and_error": (q_users_click_and_error, _USERS_INTERSECT_SQL),
    "users_click_no_error": (q_users_click_no_error, _USERS_EXCEPT_SQL),
    "small_quantity_revenue": (q_small_quantity_revenue, _SMALL_QTY_SQL),
    "brand_promo_revenue": (q_brand_promo_revenue, _BRAND_PROMO_SQL),
    "events_sessionize": (q_sessionize, _SESSIONIZE_SQL),
    "events_rollup_cascade": (q_events_rollup_cascade, _ROLLUP_CASCADE_SQL),
    "idle_rich_customers": (q_idle_rich_customers, _IDLE_RICH_SQL),
    "events_sliding_counts": (q_events_sliding_counts, _SLIDING_SQL),
    "events_value_quantiles": (q_events_value_quantiles, _QUANTILES_SQL),
    "order_cube": (q_order_cube, _ORDER_CUBE_SQL),
    "events_json_props": (q_events_json_props, _JSON_PROPS_SQL),
    "market_share_by_year": (q_market_share_by_year, _MARKET_SHARE_SQL),
    "top_supplier_revenue": (q_top_supplier_revenue, _TOP_SUPPLIER_SQL),
    "customer_order_distribution": (
        q_customer_order_distribution,
        _CUSTOMER_ORDER_DIST_SQL,
    ),
    "major_revenue_parts": (q_major_revenue_parts, _MAJOR_PARTS_SQL),
    "large_order_customers": (q_large_order_customers, _LARGE_ORDERS_SQL),
    "events_error_follows_click": (
        q_error_follows_click,
        _ERROR_FOLLOWS_CLICK_SQL,
    ),
    "customer_spend_deciles": (
        q_customer_spend_deciles,
        _SPEND_DECILES_SQL,
    ),
    "unshipped_order_revenue": (q_unshipped_order_revenue, _UNSHIPPED_SQL),
    "nation_trade_volume": (q_nation_trade_volume, _NATION_TRADE_SQL),
    "returned_item_customers": (
        q_returned_item_customers,
        _RETURNED_CUST_SQL,
    ),
    "late_sole_supplier": (q_late_sole_supplier, _LATE_SOLE_SQL),
    "late_order_priority": (q_late_order_priority, _LATE_PRIORITY_SQL),
    "min_cost_supplier": (q_min_cost_supplier, _MIN_COST_SQL),
    "part_supplier_variety": (q_part_supplier_variety, _SUPPLIER_VARIETY_SQL),
    "dominant_part_suppliers": (
        q_dominant_part_suppliers,
        _DOMINANT_SUPPLIER_SQL,
    ),
    "bracket_revenue": (q_bracket_revenue, _BRACKET_SQL),
    "events_sketch_accuracy": (q_sketch_accuracy, _SKETCH_ACCURACY_SQL),
    "ship_priority_mix": (q_ship_priority_mix, _SHIP_PRIORITY_MIX_SQL),
    "events_daily_type_pivot": (
        q_events_daily_type_pivot,
        _DAILY_PIVOT_SQL,
    ),
    "product_profit_by_nation": (q_product_profit, _PRODUCT_PROFIT_SQL),
    "forecast_revenue_change": (
        q_forecast_revenue_change,
        _FORECAST_REVENUE_SQL,
    ),
    "events_daily_type_unpivot": (
        q_events_daily_type_unpivot,
        _DAILY_UNPIVOT_SQL,
    ),
    "events_merge_upsert": (q_events_merge_upsert, _MERGE_UPSERT_SQL),
    "events_salted_type_totals": (q_salted_type_totals, _SALTED_TOTALS_SQL),
    "events_salted_dim_join": (q_salted_dim_join, _salted_dim_join_sql()),
    "pareto_customers": (q_pareto_customers, _PARETO_SQL),
    "events_session_overlap": (q_events_session_overlap, _SESSION_OVERLAP_SQL),
    "events_ivm_retract": (q_events_ivm_retract, _IVM_RETRACT_SQL),
    "events_cms_heavy_hitters": (q_events_cms_heavy_hitters, _CMS_SQL),
    "market_basket_pairs": (q_market_basket_pairs, _MARKET_BASKET_SQL),
    "events_user_growth": (q_events_user_growth, _USER_GROWTH_SQL),
    "customer_k_anonymity": (q_customer_k_anonymity, _KANON_SQL),
    "cohort_ltv_triangle": (q_cohort_ltv_triangle, _COHORT_LTV_SQL),
    "events_cusum_changepoints": (q_events_cusum_changepoints, _CUSUM_SQL),
    "customer_rfm_segments": (q_customer_rfm_segments, _RFM_SQL),
    "events_gini_concentration": (q_events_gini_concentration, _GINI_SQL),
    "revenue_concentration": (q_revenue_concentration, _concentration_sql()),
    "events_wau_stickiness": (q_events_wau_stickiness, _WAU_SQL),
    "events_target_encode_loo": (q_events_target_encode_loo, _TARGET_ENCODE_SQL),
    "events_quality_expectations": (q_quality_expectations, _DQ_SQL),
    "events_props_schema_drift": (q_props_schema_drift, _SCHEMA_DRIFT_SQL),
    "events_activity_bitmap": (q_activity_bitmap, _activity_bitmap_sql()),
    "customer_survival_km": (q_customer_survival_km, _KM_SQL),
    "events_acf": (q_events_acf, _ACF_SQL),
    "events_attribution": (q_events_attribution, _ATTRIBUTION_SQL),
    "orders_benford_audit": (q_orders_benford_audit, _benford_sql()),
    "events_hll_sketch": (q_events_hll_sketch, _HLL_SQL),
    "orders_seasonal_decompose": (
        q_orders_seasonal_decompose,
        _SEASONAL_SQL,
    ),
    "events_abtest_chi2": (q_events_abtest_chi2, _ABTEST_SQL),
    "events_cuped_adjust": (q_events_cuped_adjust, _cuped_sql()),
    "events_ses_forecast": (q_events_ses_forecast, _SES_SQL),
    "events_bootstrap_ci": (q_events_bootstrap_ci, _bootstrap_sql()),
    "events_markov_stationary": (
        q_events_markov_stationary,
        _markov_sql(),
    ),
    "events_path_trigrams": (q_events_path_trigrams, _PATH_TRIGRAM_SQL),
    "orders_backlog_aging": (q_orders_backlog_aging, _BACKLOG_SQL),
    "events_did_estimator": (q_events_did_estimator, _DID_SQL),
    "orders_price_index": (q_orders_price_index, _PRICE_INDEX_SQL),
    "orders_returns_shrinkage": (
        q_orders_returns_shrinkage,
        _EB_SHRINK_SQL,
    ),
    "events_power_analysis": (q_events_power_analysis, _POWER_SQL),
    "events_interarrival_cv": (
        q_events_interarrival_cv,
        _INTERARRIVAL_SQL,
    ),
}
