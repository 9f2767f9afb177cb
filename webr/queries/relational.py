"""Generic relational coverage queries (SURVEY §2.1-§2.6 operator families
exercised on the driver's TPC-H-ish tables): scans+filters+projections,
equi-joins with broadcast dims, aggregations, windows/top-k, set ops,
sessionization (the batch analog of the streaming surface).

Each entry: queries()[name] -> Spark DataFrame; oracle_sql()[name] -> the
ANSI SQL DuckDB runs on the same parquet views. Column names/aliases match
exactly on both sides (driver hashes values under sorted column names)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from webr.engine import bounded_pairs
from webr.queries.common import read, with_sides
from webr.queries.er_docs import duck_bounded_pairs


# --- Q1-style aggregation (A-family: partial aggs, P-family pushdown) -------

def q_lineitem_agg(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: filter -> groupBy two cols -> 6 aggregates.
    Filter + column pruning push to the parquet scan (checked in bench)."""
    li = read(spark, sf, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit("2001-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


SQL_LINEITEM_AGG = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                          AS sum_qty,
       round(sum(l_extendedprice), 2)                     AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc,
       round(avg(l_quantity), 4)                          AS avg_qty,
       round(avg(l_discount), 4)                          AS avg_disc,
       count(*)                                           AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- multi-join with broadcast dims (J-family) -------------------------------

def q_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ region: small dims broadcast
    explicitly (SURVEY §4 broadcast rule)."""
    orders = read(spark, sf, "orders")
    cust = read(spark, sf, "customer")
    nation = read(spark, sf, "nation")
    region = read(spark, sf, "region")
    return (orders
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy(F.col("r_name").alias("region_name"),
                     F.col("n_name").alias("nation_name"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders"))
            .orderBy("region_name", "nation_name"))


SQL_REVENUE_BY_NATION = """
SELECT r_name AS region_name, n_name AS nation_name,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY region_name, nation_name
"""


# --- window top-k per group (W1/W3) ------------------------------------------

def q_top_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    orders = read(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("price"), "rk")
            .orderBy("o_custkey", "rk"))


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey)
             AS rk
      FROM orders) t
WHERE rk <= 3
ORDER BY o_custkey, rk
"""


# --- semi/anti join (SO-family analog; ref left_anti removal P3) -------------

def q_parts_never_ordered(spark: SparkSession, sf: str) -> DataFrame:
    """Anti-join: parts with no shipments in an early window (non-empty at
    every sf, unlike the all-time variant)."""
    part = read(spark, sf, "part")
    li = (read(spark, sf, "lineitem")
          .where(F.col("l_shipdate") < F.lit("2000-03-01")))
    return (part.join(li.select("l_partkey").distinct(),
                      part.p_partkey == F.col("l_partkey"), "left_anti")
            .select("p_partkey", "p_name")
            .orderBy("p_partkey"))


SQL_PARTS_NEVER_ORDERED = """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey
                    AND l_shipdate < DATE '2000-03-01')
ORDER BY p_partkey
"""


# --- sessionization (streaming-analog batch op; guide "Common OLAP") ---------

def q_sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Sessions = gaps > 30 min per user: lag + cumulative sum of
    gap-breaks. Batch analog of session_window in streaming (§2.10)."""
    ev = read(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; go through TIMESTAMP (session tz = UTC).
    # Microseconds, not cast(long): whole seconds would truncate a
    # fractional gap that the DuckDB twin's epoch(ts) keeps
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch_us - F.lag(epoch_us).over(w)
    sess = (ev.withColumn("new_sess",
                          F.when(gap.isNull() | (gap > 1800 * 10**6), 1)
                          .otherwise(0))
            .withColumn("session_no",
                        F.sum("new_sess").over(
                            w.rowsBetween(Window.unboundedPreceding, 0))))
    # integer cents, not round(sum(double), 2): double sums are addition-
    # order-sensitive across engines (same rule as orders_rollup)
    return (sess.groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("session_cents"))
            .orderBy("user_id", "session_no"))


SQL_SESSIONIZE_EVENTS = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
s AS (
  SELECT user_id, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       AS session_cents
FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no
"""


# --- tumbling-window aggregation (streaming-analog; §2.10) --------------------

def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    ev = read(spark, sf, "events")
    return (ev.groupBy(
                F.date_format(F.date_trunc("hour", "ts"),
                              "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .orderBy("hour", "event_type"))


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


# --- rollup / grouping sets (scale-path agg the reference lacks; SURVEY
# §2.4 note: useful for corpus-stats jobs at web scale) -----------------------

def q_orders_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP over (priority, status) with exact integer-cents sums
    (float sums are addition-order-sensitive across engines)."""
    o = read(spark, sf, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long"))
    return (o.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count("*").alias("n_orders"),
                 F.sum("cents").alias("total_cents"))
            .select(F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"),
                    F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    "n_orders", "total_cents")
            .orderBy("priority", "status"))


SQL_ORDERS_ROLLUP = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL')   AS status,
       count(*) AS n_orders,
       -- outer CAST: DuckDB sum(BIGINT) returns HUGEINT, which pandas
       -- renders as float64 and the driver hasher then mismatches int64
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       AS total_cents
FROM orders
GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
ORDER BY priority, status
"""


# --- time-era bucket + capped time-diff pair features (F10/F11 analogs:
# ref classifier/feature_vector.py:143-164 buckets publication years into
# eras; feature_vector_bow.py:159-165 caps |year diff|. The web graft's
# time axis is crawl time; these re-express the same two features over
# the driver's dated table so each has an exact DuckDB oracle) ---------------

_ERA_SPARK = ("CASE WHEN year(o_orderdate) <= 1996 THEN 'early' "
              "WHEN year(o_orderdate) <= 1999 THEN 'mid' "
              "ELSE 'late' END")
_ERA_DUCK = _ERA_SPARK  # identical ANSI CASE expression
_DAY_DIFF_CAP = 365


def q_time_era_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """F10 analog: when/otherwise era bucket on the year, counted per
    bucket — exact integer arithmetic only."""
    o = read(spark, sf, "orders").withColumn("era", F.expr(_ERA_SPARK))
    return (o.groupBy("era")
            .agg(F.count("*").alias("n_orders"),
                 F.countDistinct("o_custkey").alias("n_customers"),
                 F.min(F.year("o_orderdate")).alias("min_year"),
                 F.max(F.year("o_orderdate")).alias("max_year"))
            .orderBy("era"))


SQL_TIME_ERA_BUCKET = f"""
SELECT {_ERA_DUCK} AS era,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(min(year(o_orderdate)) AS INT) AS min_year,
       CAST(max(year(o_orderdate)) AS INT) AS max_year
FROM orders GROUP BY era ORDER BY era
"""


def q_time_diff_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """F11 analog on PAIRS: per-customer order pairs (through the shared
    mega-block guard — a hot key must stay O(n*W)) with the capped
    absolute day diff ``least(cap, abs(datediff))`` and the F10-style
    same-era flag, aggregated to exact integer stats per era-match."""
    o = (read(spark, sf, "orders")
         .select("o_orderkey", "o_custkey", "o_orderdate",
                 F.expr(_ERA_SPARK).alias("era")))
    p = with_sides(bounded_pairs(o, "o_custkey", "o_orderkey"), o,
                   ["o_orderdate", "era"], id_col="o_orderkey")
    diff = F.least(F.lit(_DAY_DIFF_CAP),
                   F.abs(F.datediff(F.col("o_orderdate_2"),
                                    F.col("o_orderdate_1"))))
    return (p.select((F.col("era_1") == F.col("era_2")).alias("same_era"),
                     diff.alias("dd"))
            .groupBy("same_era")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum("dd").alias("sum_day_diff"),
                 F.sum((F.col("dd") == _DAY_DIFF_CAP).cast("long"))
                 .alias("n_capped"))
            .orderBy("same_era"))


SQL_TIME_DIFF_PAIRS = f"""
WITH od AS (SELECT o_orderkey, o_custkey, o_orderdate,
                   {_ERA_DUCK} AS era
            FROM orders),
{duck_bounded_pairs("SELECT o_orderkey, o_custkey FROM od",
                    key="o_custkey", id_col="o_orderkey")},
d AS (
  SELECT a.era = b.era AS same_era,
         least({_DAY_DIFF_CAP},
               abs(date_diff('day', a.o_orderdate, b.o_orderdate))) AS dd
  FROM cand c
  JOIN od a ON a.o_orderkey = c.o_orderkey_1
  JOIN od b ON b.o_orderkey = c.o_orderkey_2)
SELECT same_era, count(*) AS n_pairs,
       CAST(sum(dd) AS BIGINT) AS sum_day_diff,
       CAST(sum(CASE WHEN dd = {_DAY_DIFF_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_capped
FROM d GROUP BY same_era ORDER BY same_era
"""


# --- as-of join (time-series op Spark lacks natively; SURVEY §2.3 note) ------

def q_asof_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase picks up the MOST RECENT prior-or-equal
    click by the same user (attribution-style lookup).

    Spark has no native ASOF JOIN; the naive encoding is a range
    self-join (O(clicks x purchases) per user — explodes on hot users at
    100 TB). This uses the scale-right union-and-scan shape instead:
    union both event kinds, ONE shuffle on user_id, and a running
    ``last(click_col, ignorenulls)`` over the ts-sorted partition —
    linear in events per user, streaming-friendly, no range probe.
    Click rows sort BEFORE purchases at equal ts (kind_rank) so the
    prior-OR-EQUAL semantics match DuckDB's native ``ASOF LEFT JOIN ...
    ON p.ts >= c.ts`` oracle exactly. Duplicate (user_id, ts) clicks:
    the window order (ts, kind_rank, event_id) means the running last()
    keeps the MAX-event_id click of an equal-ts group — an implicit
    dedupe, no extra shuffle — while DuckDB's ASOF tie-break among
    equal c.ts rows is unspecified, so the oracle pre-dedupes its click
    side to that same max-event_id row explicitly. click_value is
    carried, not computed — bitwise cross-engine; timestamps compare as
    epoch microseconds."""
    ev = read(spark, sf, "events")
    tagged = (ev.where(F.col("event_type").isin("click", "purchase"))
              .select("event_id", "user_id", "ts", "value",
                      F.when(F.col("event_type") == "click", 0)
                      .otherwise(1).alias("kind_rank")))
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "kind_rank", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    click_ts = F.last(F.when(F.col("kind_rank") == 0, F.col("ts")),
                      ignorenulls=True).over(w)
    click_val = F.last(F.when(F.col("kind_rank") == 0, F.col("value")),
                       ignorenulls=True).over(w)
    return (tagged
            .withColumn("click_ts", click_ts)
            .withColumn("click_value", click_val)
            .where(F.col("kind_rank") == 1)
            .select("event_id", "user_id",
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    .alias("ts_us"),
                    F.unix_micros(F.col("click_ts").cast("timestamp"))
                    .alias("click_ts_us"),
                    "click_value")
            .orderBy("event_id"))


SQL_ASOF_JOIN_EVENTS = """
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       epoch_us(c.ts) AS click_ts_us, c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  -- one click per (user_id, ts): max event_id, matching the Spark
  -- window's implicit equal-ts winner (ASOF's own tie-break among
  -- equal c.ts rows is engine-unspecified)
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click') WHERE rn = 1) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


QUERIES = {
    "lineitem_agg": (q_lineitem_agg, SQL_LINEITEM_AGG),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "top_orders_per_customer": (q_top_orders_per_customer,
                                SQL_TOP_ORDERS_PER_CUSTOMER),
    "parts_never_ordered": (q_parts_never_ordered, SQL_PARTS_NEVER_ORDERED),
    "sessionize_events": (q_sessionize_events, SQL_SESSIONIZE_EVENTS),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "orders_rollup": (q_orders_rollup, SQL_ORDERS_ROLLUP),
    "time_era_bucket": (q_time_era_bucket, SQL_TIME_ERA_BUCKET),
    "time_diff_pairs": (q_time_diff_pairs, SQL_TIME_DIFF_PAIRS),
    "asof_join_events": (q_asof_join_events, SQL_ASOF_JOIN_EVENTS),
}
