"""Relational query surface: scans, projections, filters, joins,
aggregations, windows, sorts, set ops, scalar functions — SURVEY.md
§2.1, §2.3–§2.9 — plus the medallion gold products (§3.1) re-expressed
over the driver fixture tables.

Each query cites the reference usage site it gives parity for.
All plans are declarative DataFrame programs → Catalyst handles
pushdown/pruning/join selection; small dimensions are explicitly
broadcast where the stats make that the right call at 100 TB.
"""

from __future__ import annotations

import atexit
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import (
    dprod_sum,
    dsum,
    dsum_expr,
    load_table,
    query,
    sql_dprod_sum,
    sql_dsum,
)

# charge = price * (1-disc) * (1+tax): triple product kept fully in
# decimal — (12,4)*(8,4)*(8,4) → scale 12, precision ≤ 38 in both
# engines, so NO intermediate rounding (an intermediate re-snap lands
# on exact .5 ties where Spark HALF_UP ≠ DuckDB HALF_EVEN).
_SQL_CHARGE = (
    "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,4))"
    " * CAST(1 + l_tax AS DECIMAL(8,4))), 4) AS DOUBLE)"
)


def _charge_sum(alias: str):
    return (
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
                * (F.lit(1) + F.col("l_tax")).cast("decimal(8,4)")
            ),
            4,
        )
        .cast("double")
        .alias(alias)
    )


# ---------------------------------------------------------------------------
# A1/A2/A3 workhorse grouped aggregates
# ---------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dprod_sum('l_extendedprice', '1 - l_discount')} AS sum_disc_price,
           {_SQL_CHARGE} AS sum_charge,
           ROUND({sql_dsum('l_quantity')} / COUNT(*), 6) AS avg_qty,
           ROUND({sql_dsum('l_extendedprice')} / COUNT(*), 6) AS avg_price,
           ROUND({sql_dsum('l_discount')} / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped multi-aggregate — the reference's workhorse
    pattern (9-agg groupBy at 03_gold_aggregation.py:58-71). Exercises
    S1, P4 (pushed filter), A1, scalar arithmetic. Map-side partial agg
    + 2-key shuffle: scales linearly; no skew (|groups| = 6)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    )
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dprod_sum(
                F.col("l_extendedprice"), F.lit(1) - F.col("l_discount"), "sum_disc_price"
            ),
            _charge_sum("sum_charge"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double") / cnt, 6
            ).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / cnt, 6
            ).alias("avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double") / cnt, 6
            ).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@query(
    "q02_top_orders_by_revenue",
    oracle=f"""
    SELECT o.o_orderkey, o.o_orderpriority,
           {sql_dprod_sum('l.l_extendedprice', '1 - l.l_discount')} AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q02_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (J2) + group + global top-N (O1/O2).

    The aggregation is pushed BELOW the join (partial-agg pushdown
    Catalyst doesn't do on its own): lineitem collapses to one row per
    order key first, so the join input shrinks ~4× and the post-join
    re-aggregation disappears. Exact-decimal sums are associative, so
    the rewrite is value-identical. The sort+limit plans as
    TakeOrderedAndProject — no full sort at scale."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    per_order = l.groupBy("l_orderkey").agg(
        dprod_sum(F.col("l_extendedprice"), F.lit(1) - F.col("l_discount"), "revenue")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .select("o_orderkey", "o_orderpriority", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "q03_segment_daily_revenue",
    oracle=f"""
    SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE) AS order_date,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total_revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, CAST(o.o_orderdate AS DATE)
    """,
)
def q03_segment_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension left-side broadcast enrichment (J1/J5 —
    03_gold_aggregation.py:109-111): customer is the small dim, so we
    broadcast it explicitly; at 100 TB the fact side never shuffles."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_revenue"),
        )
    )


@query(
    "q04_order_priority_late_ship",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) + group-count — the semi-join surface the
    reference lacks but Spark gives for free (SURVEY §2.4 note)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cond = (l.l_orderkey == o.o_orderkey) & (
        l.l_shipdate > F.date_add(o.o_orderdate, 60)
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q05_nation_revenue",
    oracle=f"""
    SELECT n.n_name, r.r_name,
           {sql_dprod_sum('l.l_extendedprice', '1 - l.l_discount')} AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q05_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join. Dimensions (supplier, customer,
    nation, region) are broadcast; only fact↔orders is a shuffle join —
    the plan that survives a 1000-executor 100 TB run."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(c),
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(dprod_sum(F.col("l_extendedprice"), F.lit(1) - F.col("l_discount"), "revenue"))
    )


@query(
    "q06_revenue_forecast",
    oracle=f"""
    SELECT {sql_dprod_sum('l_extendedprice', 'l_discount')} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style global aggregate (A4) over a compound pushed-down
    predicate (P4) — filters reach the parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dprod_sum(F.col("l_extendedprice"), F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q07_conditional_agg",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           {sql_dsum("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END")} AS urgent_revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q07_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates — sum(when(...)) count-if pattern
    (A2, 03_gold_aggregation.py:65-66,119-121)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)).alias("n_large"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias(
            "n_urgent"
        ),
        dsum_expr(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).otherwise(
                F.lit(0.0)
            ),
            "urgent_revenue",
        ),
    )


@query(
    "q08_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q08_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (A3 — 03_gold_aggregation.py:63-64). At
    100 TB swap to approx_count_distinct (HLL) — exposed as
    operators.analytics.approx_distinct — but the oracle gate needs
    exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q09_null_profile",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey_nulls,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus_nulls,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderdate_nulls
    FROM orders
    """,
)
def q09_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-profile aggregate (A7 — 01_bronze_ingestion.py:310): one pass,
    list-comprehension agg; never N passes of df.filter(isNull).count()."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls") for c in cols
    ]
    return o.agg(*aggs)


# ---------------------------------------------------------------------------
# Windows (SURVEY §2.6 — engine decision: deterministic dedup & analytics)
# ---------------------------------------------------------------------------

@query(
    "q10_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q10_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic latest-record-wins dedup via row_number — the
    correctness upgrade over the reference's nondeterministic
    dropDuplicates (P5, 02_silver_transformation.py:156; SURVEY §2.6)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@query(
    "q11_top_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
        FROM part
    ) WHERE rnk <= 3
    """,
)
def q11_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (rank) — top-N per group."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        p.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
    )


@query(
    "q12_daily_revenue_delta",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT order_date, revenue,
           ROUND(revenue - LAG(revenue) OVER (ORDER BY order_date), 4) AS revenue_delta
    FROM daily
    """,
)
def q12_daily_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window (lag) over a pre-aggregated daily series. The
    un-partitioned ORDER BY window is safe here: |days| ≈ few thousand
    regardless of fact size, so the single-partition sort is tiny."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        dsum("o_totalprice", "revenue")
    )
    w = Window.orderBy("order_date")
    return daily.withColumn(
        "revenue_delta", F.round(F.col("revenue") - F.lag("revenue").over(w), 4)
    )


@query(
    "q13_rolling_7day_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT order_date, revenue,
           ROUND(SUM(revenue) OVER (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS revenue_7d
    FROM daily
    """,
)
def q13_rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window (rowsBetween) — rolling 7-row sum over the daily
    series (SURVEY §2.6 frame support)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        dsum("o_totalprice", "revenue")
    )
    w = Window.orderBy("order_date").rowsBetween(-6, 0)
    return daily.withColumn("revenue_7d", F.round(F.sum("revenue").over(w), 4))


@query(
    "q18_sessionization",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def q18_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the batch twin of F.session_window. One shuffle on user_id serves
    both windows and the final groupBy (co-partitioned)."""
    e = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_ts = F.lag("ts").over(order_w)
    # exact microsecond gap, like the oracle's `> INTERVAL 30 MINUTE`:
    # whole-second casts would keep a 1800.31 s gap in one session
    marked = e.withColumn(
        "new_session",
        F.when(
            prev_ts.isNull()
            | (F.unix_micros("ts") - F.unix_micros(prev_ts) > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn("session_seq", F.sum("new_session").over(run_w))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("duration_sec"),
    )


# ---------------------------------------------------------------------------
# Set ops / anti joins / cross join (§2.8, J3, J4)
# ---------------------------------------------------------------------------

@query(
    "q14_nation_set_algebra",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT 'both' AS tag, n_name FROM nation JOIN (SELECT nk FROM cn INTERSECT SELECT nk FROM sn) t ON n_nationkey = t.nk
    UNION ALL
    SELECT 'customer_only' AS tag, n_name FROM nation JOIN (SELECT nk FROM cn EXCEPT SELECT nk FROM sn) t ON n_nationkey = t.nk
    UNION ALL
    SELECT 'all_seen' AS tag, n_name FROM nation JOIN (SELECT nk FROM cn UNION SELECT nk FROM sn) t ON n_nationkey = t.nk
    """,
)
def q14_nation_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: union / intersect / except (U1 + SURVEY §2.8 note)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    ).distinct()
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    ).distinct()
    n = load_table(spark, sf_dir, "nation")

    def tag(df: DataFrame, t: str) -> DataFrame:
        return df.join(F.broadcast(n), df.nk == n.n_nationkey).select(
            F.lit(t).alias("tag"), "n_name"
        )

    return (
        tag(c.intersect(s), "both")
        .unionByName(tag(c.exceptAll(s).distinct(), "customer_only"))
        .unionByName(tag(c.union(s).distinct(), "all_seen"))
    )


@query(
    "q15_customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q15_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the reference's version-diff pattern
    (J3, 05_time_travel_demo.py:120-127)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q16_global_kpis",
    oracle=f"""
    SELECT * FROM
      (SELECT {sql_dsum('o_totalprice')} AS total_revenue, COUNT(*) AS total_orders FROM orders)
    CROSS JOIN
      (SELECT COUNT(*) AS total_customers FROM customer)
    CROSS JOIN
      (SELECT COUNT(*) AS total_events, COUNT(DISTINCT user_id) AS active_users FROM events)
    """,
)
def q16_global_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-KPI cross join (J4 + A4 — daily_kpis at
    03_gold_aggregation.py:298-350): three one-row aggregates combined."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    rev = o.agg(
        dsum("o_totalprice", "total_revenue"), F.count(F.lit(1)).alias("total_orders")
    )
    cust = c.agg(F.count(F.lit(1)).alias("total_customers"))
    eng = e.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.countDistinct("user_id").alias("active_users"),
    )
    return rev.crossJoin(cust).crossJoin(eng)


# ---------------------------------------------------------------------------
# Medallion gold products re-expressed (03_gold_aggregation.py)
# ---------------------------------------------------------------------------

@query(
    "q17_events_hourly_rollup",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date, EXTRACT(hour FROM ts) AS event_hour, event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q17_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup — date/hour scalar family (§2.9) + A1/A3."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.to_date("ts").alias("event_date"),
            F.hour("ts").cast("bigint").alias("event_hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "total_value"),
        )
    )


@query(
    "q19_daily_user_activity",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date, user_id,
           COUNT(*) AS total_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_events,
           {sql_dsum('value')} AS total_value,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS active_sec,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types
    FROM events
    GROUP BY 1, 2
    """,
)
def q19_daily_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daily_user_activity gold product (03_gold_aggregation.py:52-91):
    per-day-per-user multi-agg incl. collect_set → sorted CSV so the
    set's nondeterministic order can't break hashes (A1/A2/A5)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date("ts").alias("event_date"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "purchase_events"
            ),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "error_events"
            ),
            dsum("value", "total_value"),
            (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("active_sec"),
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
                "event_types"
            ),
        )
    )


@query(
    "q20_daily_transaction_analytics",
    oracle=f"""
    SELECT CAST(o_orderdate AS DATE) AS order_date,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           {sql_dsum('o_totalprice')} AS revenue,
           ROUND({sql_dsum('o_totalprice')} / COUNT(*), 6) AS avg_order_value,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS fulfilled_revenue,
           MIN(o_totalprice) AS min_order,
           MAX(o_totalprice) AS max_order
    FROM orders
    GROUP BY 1
    """,
)
def q20_daily_transaction_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daily_transaction_analytics gold product
    (03_gold_aggregation.py:100-149): the 10-agg daily rollup."""
    o = load_table(spark, sf_dir, "orders")
    cnt = F.count(F.lit(1))
    return (
        o.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            cnt.alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum("o_totalprice", "revenue"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double") / cnt, 6
            ).alias("avg_order_value"),
            dsum_expr(
                F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(
                    F.lit(0.0)
                ),
                "fulfilled_revenue",
            ),
            F.min("o_totalprice").alias("min_order"),
            F.max("o_totalprice").alias("max_order"),
        )
    )


@query(
    "q21_customer_ltv",
    oracle=f"""
    SELECT c.c_custkey, c.c_mktsegment,
           COUNT(o.o_orderkey) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS lifetime_value,
           CAST(MIN(o.o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o.o_orderdate) AS DATE) AS last_order,
           (EXTRACT(year FROM MAX(o.o_orderdate)) * 12 + EXTRACT(month FROM MAX(o.o_orderdate)))
         - (EXTRACT(year FROM MIN(o.o_orderdate)) * 12 + EXTRACT(month FROM MIN(o.o_orderdate))) AS tenure_months,
           CASE WHEN {sql_dsum('o.o_totalprice')} > 1000000 THEN 'HIGH'
                WHEN {sql_dsum('o.o_totalprice')} > 400000 THEN 'MEDIUM'
                ELSE 'LOW' END AS ltv_segment
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def q21_customer_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_ltv gold product (03_gold_aggregation.py:158-228): per-customer
    lifetime aggregates + tenure months (portable integer month
    arithmetic instead of months_between — SURVEY §7.4 item 5) +
    CASE segment buckets."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ltv = F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 4).cast("double")
    months = lambda col: F.year(col) * 12 + F.month(col)  # noqa: E731
    return (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            ltv.alias("lifetime_value"),
            F.to_date(F.min("o_orderdate")).alias("first_order"),
            F.to_date(F.max("o_orderdate")).alias("last_order"),
            (months(F.max("o_orderdate")) - months(F.min("o_orderdate")))
            .cast("bigint")
            .alias("tenure_months"),
            F.when(ltv > 1000000, "HIGH")
            .when(ltv > 400000, "MEDIUM")
            .otherwise("LOW")
            .alias("ltv_segment"),
        )
    )


@query(
    "q22_cohort_retention",
    oracle="""
    WITH cohort AS (
        SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort_month
        FROM orders GROUP BY o_custkey
    ), activity AS (
        SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS active_month
        FROM orders
    )
    SELECT CAST(c.cohort_month AS DATE) AS cohort_month,
           (EXTRACT(year FROM a.active_month) * 12 + EXTRACT(month FROM a.active_month))
         - (EXTRACT(year FROM c.cohort_month) * 12 + EXTRACT(month FROM c.cohort_month)) AS months_since,
           COUNT(DISTINCT a.o_custkey) AS n_customers
    FROM cohort c JOIN activity a ON c.o_custkey = a.o_custkey
    GROUP BY 1, 2
    """,
)
def q22_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cohort_retention gold product (03_gold_aggregation.py:237-289):
    first-activity cohort × months-since retention matrix.

    r13 shape: ONE orders scan, ONE per-customer aggregate computing
    the cohort (min month) AND the distinct active-month set together,
    then a row-local explode — replaces the r12 cohort⨝activity
    self-join (2 scans, 3 exchanges). Equivalence: the months are
    wrapped in a 1-field struct so collect_set dedups exactly like the
    old DISTINCT including a NULL month (collect_set drops bare NULLs
    but keeps struct(NULL)); min() ignores NULLs on both sides; the
    old activity-DISTINCT was itself subsumed by the final
    countDistinct, and every downstream step is order-insensitive, so
    the arbitrary set order cannot leak."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate")
    per_cust = o.groupBy("o_custkey").agg(
        F.min(month).alias("cohort_month"),
        F.collect_set(F.struct(month.alias("am"))).alias("active_months"),
    )
    months = lambda col: F.year(col) * 12 + F.month(col)  # noqa: E731
    active = F.col("active.am")
    return (
        per_cust.select(
            "o_custkey",
            "cohort_month",
            F.explode("active_months").alias("active"),
        )
        .groupBy(
            F.to_date("cohort_month").alias("cohort_month"),
            (months(active) - months(F.col("cohort_month")))
            .cast("bigint")
            .alias("months_since"),
        )
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


@query(
    "q23_currency_normalization",
    oracle=f"""
    WITH tagged AS (
        SELECT o_orderkey,
               CASE CAST(o_custkey % 3 AS INTEGER) WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR' ELSE 'GBP' END AS currency,
               o_totalprice
        FROM orders
    )
    SELECT currency, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS amount_native,
           {sql_dprod_sum('o_totalprice', "CASE currency WHEN 'EUR' THEN 1.1 WHEN 'GBP' THEN 1.25 ELSE 1.0 END")} AS amount_usd
    FROM tagged
    GROUP BY currency
    """,
)
def q23_currency_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Currency normalization when-chain
    (02_silver_transformation.py:231-237) — reference semantics (fixed
    FX table), deterministically keyed off custkey so the oracle can
    reproduce it."""
    o = load_table(spark, sf_dir, "orders")
    cur = (
        F.when((F.col("o_custkey") % 3).cast("int") == 0, "USD")
        .when((F.col("o_custkey") % 3).cast("int") == 1, "EUR")
        .otherwise("GBP")
    )
    tagged = o.select(
        "o_orderkey", cur.alias("currency"), "o_totalprice"
    )
    rate = (
        F.when(F.col("currency") == "EUR", 1.1)
        .when(F.col("currency") == "GBP", 1.25)
        .otherwise(1.0)
    )
    return tagged.groupBy("currency").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "amount_native"),
        dprod_sum(F.col("o_totalprice"), rate, "amount_usd"),
    )


@query(
    "q24_row_fingerprint",
    oracle="""
    SELECT o_orderkey,
           sha256(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                            CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                            CAST(CAST(o_orderdate AS DATE) AS VARCHAR))) AS record_hash
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
)
def q24_row_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable row fingerprint — sha2 over a canonical concat_ws
    serialization (01_bronze_ingestion.py:62 uses to_json(struct(...));
    we canonicalize to pipe-joined decimal-snapped strings because JSON
    key order isn't cross-engine stable — SURVEY §7.4 item 2)."""
    from ..functions.hashing import row_fingerprint

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        row_fingerprint(
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            F.col("o_orderdate").cast("date").cast("string"),
        ).alias("record_hash"),
    )


@query(
    "q25_quality_report",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey * 10 + l_linenumber) AS n_distinct_keys,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_out_of_range,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_out_of_range,
           ROUND(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4) AS qty_null_pct
    FROM lineitem
    """,
)
def q25_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality validators in one pass (Q1 completeness, Q2
    uniqueness, Q3 range — src/data_processor.py:346-405) — single
    aggregate, no per-check actions (100 TB discipline, SURVEY §7.4
    item 6)."""
    from ..quality import quality_report

    li = load_table(spark, sf_dir, "lineitem")
    return quality_report(
        li,
        key_expr=(F.col("l_orderkey") * 10 + F.col("l_linenumber")),
        null_checks={"qty_nulls": "l_quantity"},
        range_checks={
            "qty_out_of_range": ("l_quantity", 1, 50),
            "disc_out_of_range": ("l_discount", 0, 0.1),
        },
        null_pct={"qty_null_pct": "l_quantity"},
    )


# ---------------------------------------------------------------------------
# Nested types / JSON, multi-dim aggregates, as-of & range joins
# ---------------------------------------------------------------------------

@query(
    "q26_json_map_access",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q26_json_map_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested/JSON access (§2.9 JSON family + MapType §1.2): parse the
    props JSON into a map column, aggregate a typed field. from_json →
    MapType keeps the parse JVM-side (no UDF)."""
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", T.MapType(T.StringType(), T.LongType()))
    return (
        e.withColumn("props_map", m)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("props_map")["k"]).alias("sum_k"),
            F.max(F.col("props_map")["k"]).alias("max_k"),
        )
    )


@query(
    "q27_rollup_revenue",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {sql_dsum('o_totalprice')} AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q27_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional ROLLUP aggregate (SURVEY §2.5 'not present' tier
    — engine exposes Spark's built-in rollup/cube surface)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        dsum("o_totalprice", "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q28_asof_last_purchase",
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           MAX(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts
    FROM events
    WHERE user_id % 7 = 0
    """,
)
def q28_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup [EXT]: most recent prior 'purchase' per user at each
    event — the as-of-join semantic expressed as a running window (one
    shuffle on user_id, no join explosion; the 100 TB-safe formulation)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w).alias(
            "last_purchase_ts"
        ),
    )


@query(
    "q29_range_join_ship_lag",
    oracle="""
    SELECT o.o_orderkey,
           COUNT(l.l_linenumber) AS n_shipped_30d
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    WHERE o.o_orderkey % 5 = 0
    GROUP BY o.o_orderkey
    """,
)
def q29_range_join_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (equi key + time-interval band): lineitems shipped
    within 30 days of their order. The equi key carries the shuffle;
    the band predicate is post-join — no interval cross product."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    l = load_table(spark, sf_dir, "lineitem")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate < F.timestamp_add("DAY", F.lit(30), o.o_orderdate))
    )
    return (
        o.join(l, cond, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_linenumber").alias("n_shipped_30d"))
    )


@query(
    "q43_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q43_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (A3 [EXT] scale path): HLL++ sketch of
    order keys per return flag — the 100 TB substitute for exact
    distinct counts. The raw sketch estimate is engine-specific, so the
    hard-checked output is the tolerance verdict: |approx−exact|/exact
    within 3×rsd, which the oracle asserts as TRUE per group (plus the
    exact counts themselves)."""
    li = load_table(spark, sf_dir, "lineitem")
    rsd = 0.02
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd).alias("approx_orders"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                / F.col("exact_orders")
                <= 3 * rsd
            ).alias("approx_ok"),
        )
    )


@query(
    "q45_salted_skew_agg",
    oracle=f"""
    SELECT l_returnflag AS flag, {sql_dsum('l_quantity')} AS total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q45_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation [EXT]: spreads hot group keys over
    16 salt buckets before the final merge — value-identical to the
    direct groupBy (exact-decimal partials are associative), shuffle-
    skew-proof when one key dominates. |keys|=3 here IS the skew case:
    a direct groupBy lands 600k rows on 3 reducers."""
    from ..functions.scalars import salted_grouped_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_quantity"
    )
    return salted_grouped_sum(li, ["flag"], "l_quantity", n_salts=16, alias="total")


@query(
    "q80_sql_passthrough",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY o_orderstatus
    """,
)
def q80_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point (SURVEY §3 'thin spark.sql passthrough'):
    fixture tables registered as temp views, the query itself is a raw
    SQL string through Catalyst. AVG over doubles is safe here because
    both engines compute sum/count in IEEE double with identical
    pairwise order... NOT guaranteed — so AVG is computed via exact
    decimal SUM / COUNT in both dialects below."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n,
               ROUND(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) / COUNT(*), 4) AS avg_price
        FROM orders_v WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        GROUP BY o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# Surface beyond strict reference parity: percentiles, pivot, cube,
# full-outer join, distribution windows, predicated NOT EXISTS.
# SURVEY.md §2.4/§2.5 lists these as "Spark built-ins our engine exposes";
# each gets a DuckDB oracle so the exposure is *verified*, not claimed.
# ---------------------------------------------------------------------------

@query(
    "q54_group_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q54_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group. Spark's sort-based exact
    `percentile` and DuckDB's `quantile_cont` share the linear-interpolation
    definition. Scale note: exact percentile buffers each group on one
    reducer — fine for 3 groups; at high-cardinality grouping switch to
    `approx_percentile` (t-digest, mergeable map-side)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 6).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q55_pivot_quantity",
    oracle="""
    SELECT l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_returnflag = 'A'), 4) AS DOUBLE) AS A,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_returnflag = 'N'), 4) AS DOUBLE) AS N,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_returnflag = 'R'), 4) AS DOUBLE) AS R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q55_pivot_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregate). Explicit pivot values keep the
    plan a single pass (no extra distinct-values job) — required at scale:
    `.pivot(col)` without values triggers a driver-side collect of the
    distinct key set first."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum("l_quantity", "qty"))
    )


@query(
    "q56_cube_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           COUNT(*) AS n,
           {sql_dsum('l_extendedprice')} AS revenue
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q56_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id — multi-granularity rollup in one shuffle
    (Spark expands grouping sets map-side; 4 granularities share one
    pass over lineitem rather than 4 separate jobs)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice", "revenue"),
    )


@query(
    "q57_nation_balance_full_outer",
    oracle=f"""
    WITH c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_cust,
             {sql_dsum('c_acctbal')} AS cust_bal
      FROM customer GROUP BY c_nationkey
    ), s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_supp,
             {sql_dsum('s_acctbal')} AS supp_bal
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(cust_bal, 0.0) AS cust_bal,
           COALESCE(n_supp, 0) AS n_supp,
           COALESCE(supp_bal, 0.0) AS supp_bal
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def q57_nation_balance_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two pre-aggregates (SURVEY §2.4 'not present in
    reference; exposed by our engine'). Aggregate-before-join: the outer
    join sees |nations| rows per side instead of |customers|+|suppliers|
    — the shuffle is on the tiny aggregated sets."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"), dsum("c_acctbal", "cust_bal"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"), dsum("s_acctbal", "supp_bal"))
    )
    return cust.join(supp, cust.c_nk == supp.s_nk, "full_outer").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("cust_bal", F.lit(0.0)).alias("cust_bal"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        F.coalesce("supp_bal", F.lit(0.0)).alias("supp_bal"),
    )


@query(
    "q58_balance_distribution",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           ntile(4) OVER w AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cum_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q58_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist).
    Tie-broken ORDER BY (acctbal, custkey) keeps ntile deterministic
    cross-engine. Partitioned by segment: each window sorts locally
    after a segment-keyed shuffle — no global sort."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@query(
    "q59_quiet_customers",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           {sql_dsum('c_acctbal')} AS total_bal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    GROUP BY c_mktsegment
    """,
)
def q59_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicated NOT EXISTS as a left-anti join (J3 pattern with a
    source-side filter). The o_totalprice filter is pushed to the
    orders scan, shrinking the anti-join build side before the shuffle;
    Catalyst plans anti-joins broadcast when the filtered side fits."""
    big_spenders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(big_spenders, cust.c_custkey == big_spenders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal", "total_bal"))
    )


@query(
    "q74_summary_stats",
    oracle="""
    WITH s AS (
        SELECT COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS sx,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS sxx,
               MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        FROM lineitem
    )
    SELECT n, ROUND(sx / n, 6) AS mean_qty,
           ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
           min_qty, max_qty
    FROM s
    """,
)
def q74_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()/summary() semantics (A8) made oracle-exact: count,
    mean, SAMPLE stddev, min, max — stddev via the sum-of-squares
    identity over exact decimal accumulators, so the value is
    order-independent and engine-portable (a naive F.stddev is a
    streaming variance whose fp error differs per partition order).
    One aggregate pass, map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(q.cast("decimal(18,4)")), 4).cast("double").alias("sx"),
        F.round(F.sum(q.cast("decimal(18,4)") * q.cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("sxx"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    return agg.select(
        n,
        F.round(sx / n, 6).alias("mean_qty"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))), 6).alias("stddev_qty"),
        "min_qty",
        "max_qty",
    )


@query(
    "q75_range_frame_revenue",
    oracle="""
    WITH daily AS (
        SELECT epoch(CAST(o_orderdate AS DATE)) AS day_sec,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1, 2
    )
    SELECT order_date, revenue,
           ROUND(SUM(revenue) OVER (
               ORDER BY day_sec
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 4) AS revenue_30d
    FROM daily
    """,
)
def q75_range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (rangeBetween over a numeric time axis):
    value-based 30-DAY rolling revenue — unlike q13's ROWS frame, gaps
    in the date series shrink the window instead of stretching it.
    Single window sort; the frame is evaluated with a sliding
    accumulator, not a per-row rescan."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        dsum("o_totalprice", "revenue")
    )
    daily = daily.withColumn(
        "day_sec", F.unix_timestamp(F.col("order_date").cast("timestamp"))
    )
    w = Window.orderBy("day_sec").rangeBetween(-30 * 86400, 0)
    return daily.select(
        F.col("order_date").cast("string").alias("order_date"),
        "revenue",
        F.round(F.sum("revenue").over(w), 4).alias("revenue_30d"),
    )


@query(
    "q81_price_histogram",
    oracle="""
    SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
           CAST(floor(l_extendedprice / 5000) AS BIGINT) * 5000 AS bucket_lo,
           COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 4) AS lo,
           ROUND(MAX(l_extendedprice), 4) AS hi
    FROM lineitem GROUP BY 1, 2
    """,
)
def q81_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (binning analytics): bucket arithmetic is
    a row-local floor-div — one partial-agg shuffle on the bucket id,
    |buckets| rows out regardless of input size. The distributed
    histogram shape used for profiling 100 TB columns."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 5000).cast("bigint")
    return li.groupBy(
        bucket.alias("bucket"), (bucket * 5000).alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 4).alias("lo"),
        F.round(F.max("l_extendedprice"), 4).alias("hi"),
    )


@query(
    "q82_multi_path_union",
    oracle=f"""
    WITH unioned AS (
        SELECT * FROM orders UNION ALL SELECT * FROM orders
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           {sql_dsum('o_totalprice')} AS total
    FROM unioned GROUP BY o_orderstatus
    """,
)
def q82_multi_path_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-path consolidation (U1 — the reference's loop-of-unions at
    migrate_from_s3.py:286-295, re-expressed as ONE reader call over
    all paths): a single FileIndex → a single scan node in the plan,
    not N unioned subplans. Duplicated path here stands in for N
    source directories."""
    from ..sources import union_paths

    u = union_paths(
        spark, [f"{sf_dir}/orders.parquet", f"{sf_dir}/orders.parquet"]
    )
    return u.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total")
    )


@query(
    "q89_catalog_named_table",
    oracle="""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q89_catalog_named_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-table catalog (S7 3-level namespace — reference
    delta_utils.py:27-77): create ``lake.silver.customers`` as a log
    table, bind it into the session catalog, and run plain
    ``spark.sql`` over the bound name — the result must match the raw
    fixture."""
    import tempfile

    from ..tables import Catalog

    c = load_table(spark, sf_dir, "customer")
    cat = Catalog(spark, tempfile.mkdtemp(prefix="catalog-"))
    t = cat.create_table("lake.silver.customers", c.schema)
    t.append(c)
    cat.bind()
    return spark.sql(
        """
        SELECT c_mktsegment AS segment, COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_bal
        FROM silver.customers GROUP BY c_mktsegment
        """
    )


@query(
    "q99_expectations_gate",
    oracle="""
    WITH m AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
                   THEN 1 ELSE 0 END) AS v_pos,
               SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE)
                   THEN 1 ELSE 0 END) AS v_status,
               SUM(CASE WHEN NOT COALESCE(o_orderdate >= DATE '1993-01-01', FALSE)
                   THEN 1 ELSE 0 END) AS v_recent,
               SUM(CASE WHEN NOT COALESCE(o_orderpriority IS NOT NULL, FALSE)
                   THEN 1 ELSE 0 END) AS v_priority,
               SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE)
                        AND COALESCE(o_orderdate >= DATE '1993-01-01', FALSE)
                   THEN 1 ELSE 0 END) AS kept
        FROM orders
    )
    SELECT rule, action, n_rows, violations,
           ROUND(violations * 100.0 / GREATEST(n_rows, 1), 4) AS violation_pct
    FROM (
        SELECT 'positive_price' AS rule, 'fail' AS action,
               n AS n_rows, CAST(v_pos AS BIGINT) AS violations FROM m
        UNION ALL
        SELECT 'known_status', 'warn', n, CAST(v_status AS BIGINT) FROM m
        UNION ALL
        SELECT 'recent_order', 'drop', n, CAST(v_recent AS BIGINT) FROM m
        UNION ALL
        SELECT 'has_priority', 'warn', n, CAST(v_priority AS BIGINT) FROM m
        UNION ALL
        SELECT '__rows_kept__', 'gate', n, CAST(kept AS BIGINT) FROM m
    )
    """,
)
def q99_expectations_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations gate [EXT extension of Q1–Q3]: DLT-style
    warn/drop/fail rules enforced mid-pipeline. The fail rule
    (positive_price) must observe zero violations — enforce_expectations
    raises otherwise, so a green row proves the enforcement path ran.
    One aggregate pass computes every rule's metrics; the gate predicate
    is row-local (no shuffle, no per-rule scans).

    Output: one metrics row per rule plus a ``__rows_kept__`` row
    carrying the surviving-row count of the gated DataFrame."""
    from ..quality import Expectation, enforce_expectations

    o = load_table(spark, sf_dir, "orders")
    rules = [
        Expectation("positive_price", "o_totalprice > 0", "fail"),
        Expectation("known_status", "o_orderstatus IN ('O','F','P')", "warn"),
        Expectation("recent_order", "o_orderdate >= DATE '1993-01-01'", "drop"),
        Expectation("has_priority", "o_orderpriority IS NOT NULL", "warn"),
    ]
    clean, rows = enforce_expectations(o, rules)
    kept = clean.count()
    n = rows[0]["n_rows"] if rows else 0
    base = spark.createDataFrame(
        [
            (r["rule"], r["action"], r["n_rows"], r["violations"])
            for r in rows
        ]
        + [("__rows_kept__", "gate", n, kept)],
        "rule string, action string, n_rows bigint, violations bigint",
    )
    # percentage re-derived in Spark (HALF_UP) so the kept row rounds
    # identically to the oracle's ROUND (Python round() is half-even)
    return base.withColumn(
        "violation_pct",
        F.round(
            F.col("violations") * 100.0 / F.greatest(F.col("n_rows"), F.lit(1)), 4
        ),
    )


@query(
    "q134_catalog_views",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_big_customers,
           CAST(ROUND(SUM(CAST(spend AS DECIMAL(18,4))), 4) AS DOUBLE) AS big_spend
    FROM per_cust WHERE n_orders >= 3
    """,
)
def q134_catalog_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named SQL views (CREATE VIEW / nested views — metastore-view
    semantics over log tables): a per-customer rollup view, a second
    view filtering it, both created and queried through ``Catalog.sql``.
    Views store SELECT text and re-bind against the tables' CURRENT
    snapshot at each reference — the query also appends a row between
    definition and use so live-view semantics are what the oracle
    actually checks (the appended row pushes one customer over the
    threshold only if views are live, and the oracle sees the same
    final table state)."""
    import tempfile

    from ..tables import Catalog

    o = load_table(spark, sf_dir, "orders")
    cat = Catalog(spark, tempfile.mkdtemp(prefix="catalog-views-"))
    t = cat.create_table("lake.silver.orders_t", o.schema)
    # define views BEFORE the data lands: live views must see it anyway
    cat.sql(
        "CREATE VIEW silver.cust_orders AS "
        "SELECT o_custkey, COUNT(*) AS n_orders, "
        "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS spend "
        "FROM silver.orders_t GROUP BY o_custkey"
    )
    cat.sql(
        "CREATE VIEW silver.big_customers AS "
        "SELECT * FROM silver.cust_orders WHERE n_orders >= 3"
    )
    t.append(o)
    return cat.sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_big_customers, "
        "CAST(ROUND(SUM(CAST(spend AS DECIMAL(18,4))), 4) AS DOUBLE) AS big_spend "
        "FROM silver.big_customers"
    )


@query(
    "q143_binned_range_join",
    oracle="""
    WITH windows AS (
        SELECT o_orderkey AS window_id, o_orderdate AS ws,
               o_orderdate + INTERVAL 7 DAY AS we
        FROM orders WHERE o_orderkey % 97 = 0
    ), points AS (
        SELECT l_orderkey, l_linenumber, l_shipdate
        FROM lineitem WHERE l_orderkey % 7 = 0
    )
    SELECT w.window_id,
           CAST(COUNT(p.l_orderkey) AS BIGINT) AS n_shipments
    FROM windows w
    LEFT JOIN points p
      ON p.l_shipdate >= w.ws AND p.l_shipdate < w.we
    GROUP BY w.window_id
    """,
)
def q143_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join with NO equi key
    (``operators/rangejoin.py:binned_range_join``): how many sampled
    lineitem shipments fall inside each sampled 7-day order window —
    a pure interval-containment predicate, the shape Catalyst can only
    plan as a nested loop / cartesian. The operator quantizes dates
    into 7-day bins, explodes each window across its (≤2) overlapping
    bins, hash-joins points on their single containing bin, and
    re-checks the exact predicate — one ordinary equi shuffle at any
    scale. Zero-match windows are restored by a left join from the
    window list (the operator is inner by construction)."""
    from ..operators.rangejoin import binned_range_join

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("window_id"),
            F.unix_date(F.col("o_orderdate").cast("date")).alias("ws"),
            (F.unix_date(F.col("o_orderdate").cast("date")) + 7).alias("we"),
        )
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 0)
        .select(
            "l_orderkey",
            F.unix_date(F.col("l_shipdate").cast("date")).alias("pd"),
        )
    )
    matched = binned_range_join(
        l, o, point_col="pd", start_col="ws", end_col="we", bin_width=7
    )
    counts = matched.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return o.select("window_id").join(counts, "window_id", "left").select(
        "window_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_shipments"),
    )


@query(
    "q148_quarantine_routing",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN NOT COALESCE(o_orderdate >= DATE '1993-01-01', FALSE)
                  OR NOT COALESCE(o_totalprice < 400000, FALSE)
                THEN TRUE ELSE FALSE END AS quarantined,
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_FILTER([
               CASE WHEN NOT COALESCE(o_orderdate >= DATE '1993-01-01', FALSE)
                    THEN 'recent_order' END,
               CASE WHEN NOT COALESCE(o_totalprice < 400000, FALSE)
                    THEN 'sane_price' END,
               CASE WHEN NOT COALESCE(o_orderpriority LIKE '%-%', FALSE)
                    THEN 'priority_format' END
           ], x -> x IS NOT NULL)), ','), '') AS violated_rules
    FROM orders
    """,
)
def q148_quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation QUARANTINE routing [EXT]
    (``quality.quarantine_expectations`` — the DLT quarantine-table
    pattern): every row is annotated with whether it violates any
    drop/fail rule and the sorted CSV of ALL rules it fails (warn rules
    included), so bad rows land in a quarantine table with their
    reasons instead of silently disappearing (q99 drops them). Single
    scan, row-local expressions, zero shuffles."""
    from ..quality import Expectation, quarantine_expectations

    rules = [
        Expectation("recent_order", "o_orderdate >= DATE '1993-01-01'", "drop"),
        Expectation("sane_price", "o_totalprice < 400000", "fail"),
        Expectation("priority_format", "o_orderpriority LIKE '%-%'", "warn"),
    ]
    o = load_table(spark, sf_dir, "orders")
    return quarantine_expectations(o, rules).select(
        "o_orderkey", "quarantined", "violated_rules"
    )


@query(
    "q151_conversion_funnel",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS view_ts
        FROM events GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS click_ts
        FROM events e JOIN u ON e.user_id = u.user_id
        WHERE e.event_type = 'click' AND e.ts > u.view_ts
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                     WHEN c.click_ts IS NOT NULL THEN 2
                     WHEN u.view_ts IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage,
           u.view_ts, c.click_ts, p.purchase_ts
    FROM u
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def q151_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase, each stage
    strictly after the previous — the sequential-pattern shape funnel
    analytics needs and a bare per-type MIN cannot express): ONE
    user-keyed shuffle collects each user's events, then a row-local
    Catalyst fold walks them in time order carrying (view_ts,
    click_ts, purchase_ts) state — greedy earliest-next-stage
    semantics, identical to the oracle's three chained
    min-after-previous joins but with a single shuffle instead of
    three self-join passes. Per-user state is bounded by that user's
    event count; no window over a global sort anywhere."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per_user = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_type")))
        ).alias("evs")
    )
    fold = F.aggregate(
        F.col("evs"),
        F.expr(
            "struct(cast(null as timestamp) as v, "
            "cast(null as timestamp) as c, cast(null as timestamp) as p)"
        ),
        lambda acc, ev: F.struct(
            F.when(
                acc["v"].isNull() & (ev["event_type"] == "view"), ev["ts"]
            ).otherwise(acc["v"]).alias("v"),
            F.when(
                acc["c"].isNull()
                & acc["v"].isNotNull()
                & (ev["event_type"] == "click")
                & (ev["ts"] > acc["v"]),
                ev["ts"],
            ).otherwise(acc["c"]).alias("c"),
            F.when(
                acc["p"].isNull()
                & acc["c"].isNotNull()
                & (ev["event_type"] == "purchase")
                & (ev["ts"] > acc["c"]),
                ev["ts"],
            ).otherwise(acc["p"]).alias("p"),
        ),
    )
    return per_user.select(
        "user_id", fold.alias("f")
    ).select(
        "user_id",
        F.when(F.col("f.p").isNotNull(), 3)
        .when(F.col("f.c").isNotNull(), 2)
        .when(F.col("f.v").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("stage"),
        F.col("f.v").alias("view_ts"),
        F.col("f.c").alias("click_ts"),
        F.col("f.p").alias("purchase_ts"),
    )


@query(
    "q153_approx_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE)
               AS exact_p50,
           CAST(ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS DOUBLE)
               AS exact_p95,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q153_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile sketch (the 100 TB substitute for exact
    percentiles — q54's sort-based exact path doesn't scale to a global
    sort of the fact table): ``approx_percentile`` (KLL-style sketch,
    mergeable across partials, one shuffle of sketch state only). Raw
    sketch values are engine-specific, so the hard-checked output is
    the tolerance verdict — the sketch p50/p95 must land within 1% of
    the exact quantile per group (q43's HLL pattern)."""
    l = load_table(spark, sf_dir, "lineitem")
    exact = l.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("e50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("e95"),
    )
    approx = l.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)"
        ).alias("ap")
    )
    j = exact.join(approx, "l_returnflag")
    ok = (
        (F.abs(F.col("ap")[0] - F.col("e50")) / F.col("e50") < 0.01)
        & (F.abs(F.col("ap")[1] - F.col("e95")) / F.col("e95") < 0.01)
    )
    return j.select(
        "l_returnflag",
        F.round(F.col("e50").cast("double"), 4).alias("exact_p50"),
        F.round(F.col("e95").cast("double"), 4).alias("exact_p95"),
        ok.alias("approx_ok"),
    )


@query(
    "q154_part_cooccurrence",
    oracle="""
    WITH baskets AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 3 = 0
        GROUP BY l_orderkey, l_partkey
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
    """,
)
def q154_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair co-occurrence (frequent-itemset mining's
    candidate-pair stage): part pairs bought together in ≥2 sampled
    orders. The pair expansion is a row-local combinations fold over
    each order's SORTED distinct part array (bounded by basket size —
    never an unbounded self-join of the fact table; the same in-bucket
    expansion discipline as MinHash-LSH q36), then ONE pair-keyed
    count shuffle with map-side partials."""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
    )
    baskets = l.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("parts"),
                        lambda a, i: F.transform(
                            F.slice(
                                F.col("parts"),
                                i + 2,
                                F.greatest(
                                    F.size(F.col("parts")) - i - 1, F.lit(0)
                                ),
                            ),
                            lambda b: F.struct(
                                a.alias("part_a"), b.alias("part_b")
                            ),
                        ),
                    )
                ),
                lambda p: p["part_a"] < p["part_b"],
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.part_a").alias("part_a"),
                      F.col("p.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "q155_salted_skew_join",
    oracle="""
    WITH fact AS (
        SELECT CASE WHEN l_orderkey % 10 < 7 THEN 1
                    ELSE l_orderkey % 100 END AS skew_key,
               l_quantity
        FROM lineitem
    ), dim AS (
        SELECT DISTINCT CASE WHEN l_orderkey % 10 < 7 THEN 1
                             ELSE l_orderkey % 100 END AS skew_key,
               CASE WHEN (CASE WHEN l_orderkey % 10 < 7 THEN 1
                               ELSE l_orderkey % 100 END) % 2 = 0
                    THEN 'even' ELSE 'odd' END AS bucket
        FROM lineitem
    )
    SELECT d.bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(f.l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS total_qty
    FROM fact f JOIN dim d ON f.skew_key = d.skew_key
    GROUP BY d.bucket
    """,
)
def q155_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join under engineered skew
    (``functions.scalars.salted_join`` — completes the skew family
    with q45's salted aggregation): ~70% of fact rows share ONE join
    key; the dim replicates 8× (row-local explode) and the fact stamps
    a deterministic per-row salt, so the hot key spreads over 8
    reducers on the (key, salt) shuffle. The MERGE join hint keeps the
    dim from broadcasting (at real scale it wouldn't fit), and the
    result must be value-identical to the unsalted join the oracle
    computes."""
    from ..functions.scalars import salted_join

    l = load_table(spark, sf_dir, "lineitem")
    skew_key = F.when(F.col("l_orderkey") % 10 < 7, F.lit(1)).otherwise(
        F.col("l_orderkey") % 100
    )
    fact = l.select(skew_key.alias("skew_key"), "l_quantity")
    dim = (
        fact.select("skew_key")
        .distinct()
        .withColumn(
            "bucket",
            F.when(F.col("skew_key") % 2 == 0, "even").otherwise("odd"),
        )
        .hint("merge")
    )
    joined = salted_join(
        fact, dim, ["skew_key"], n_salts=8,
        fact_salt_cols=["skew_key", "l_quantity"],
    )
    return joined.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_qty"),
    )


@query(
    "q156_resample_gap_fill",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
                   AS revenue
        FROM events WHERE event_type = 'purchase' AND user_id % 7 = 0
        GROUP BY 1
    ), bounds AS (
        SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
    ), calendar AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
            AS day
        FROM bounds
    )
    SELECT c.day, COALESCE(d.revenue, 0.0) AS revenue,
           d.revenue IS NULL AS gap_filled
    FROM calendar c LEFT JOIN daily d ON c.day = d.day
    """,
)
def q156_resample_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: sparse purchase days from
    a sampled user cohort become a dense daily series — missing days
    appear with zero revenue and a ``gap_filled`` marker (the
    calendar-densification step every downstream window/forecast op
    needs; a bare groupBy silently skips empty days and corrupts
    moving averages). The calendar derives from a row-local
    ``sequence`` explode over the 1-row min/max bounds — no calendar
    table, no driver loop — then ONE broadcast-able left join back."""
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 7 == 0)
    )
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("revenue")
    )
    calendar = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    return calendar.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
        F.col("revenue").isNull().alias("gap_filled"),
    )


@query(
    "q157_variant_extraction",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
    GROUP BY event_type
    """,
)
def q157_variant_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing via Spark 4 VARIANT (``parse_json`` →
    binary variant → typed ``variant_get`` paths — the modern
    schema-on-read path that replaces per-query ``from_json`` schema
    declarations and keeps extraction inside Tungsten): the events
    ``props`` JSON parses ONCE into a variant column, a typed path
    extraction filters and aggregates. DuckDB's ``json_extract``
    replays the same paths."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
    )
    return (
        v.filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


@query(
    "q158_hll_sketch_union",
    oracle="""
    WITH fine AS (
        SELECT l_returnflag, l_linestatus,
               COUNT(DISTINCT l_orderkey) AS nd
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    ), coarse AS (
        SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_nd
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT c.l_returnflag, CAST(c.exact_nd AS BIGINT) AS exact_nd,
           TRUE AS approx_ok, TRUE AS union_consistent
    FROM coarse c
    """,
)
def q158_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (``hll_sketch_agg`` / ``hll_union_agg`` —
    the re-aggregation pattern pre-computed rollups need: distinct
    counts CANNOT re-aggregate from counts, but sketches union
    losslessly): per-(flag, status) sketches build once, then UNION up
    to per-flag — exactly how a 100 TB daily rollup serves monthly
    distincts without rescanning facts. Verdicts: the unioned estimate
    lands within 5% of the exact per-flag distinct count, and it
    lands within 1% of a sketch built directly at the coarse level
    (union consistency — not bit-equality: the datasketches union may
    promote sparse→dense representations, perturbing the estimate a
    fraction of a percent)."""
    l = load_table(spark, sf_dir, "lineitem")
    fine = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    unioned = fine.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_nd")
    )
    direct = l.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias(
            "direct_nd"
        ),
        F.countDistinct("l_orderkey").alias("exact_nd"),
    )
    j = unioned.join(direct, "l_returnflag")
    return j.select(
        "l_returnflag",
        F.col("exact_nd").cast("long").alias("exact_nd"),
        (
            F.abs(F.col("approx_nd") - F.col("exact_nd"))
            / F.col("exact_nd")
            < 0.05
        ).alias("approx_ok"),
        (
            F.abs(F.col("approx_nd") - F.col("direct_nd"))
            / F.col("direct_nd")
            < 0.01
        ).alias("union_consistent"),
    )


@query(
    "q162_correlation_matrix",
    oracle="""
    SELECT 'extendedprice~quantity' AS pair,
           CAST(ROUND(corr(l_extendedprice, l_quantity), 4) AS DOUBLE) AS r
    FROM lineitem
    UNION ALL
    SELECT 'extendedprice~discount',
           CAST(ROUND(corr(l_extendedprice, l_discount), 4) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'quantity~tax',
           CAST(ROUND(corr(l_quantity, l_tax), 4) AS DOUBLE)
    FROM lineitem
    """,
)
def q162_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-column correlation profiling (the feature-selection /
    data-drift screen): Pearson r for each column pair in ONE
    aggregate pass over the fact table — ``corr`` is a mergeable
    moment sketch (sum, sumsq, co-moment), so the shuffle carries one
    tiny state per pair regardless of row count, never a sort or a
    per-pair rescan. Rounded to 4dp on both engines (one-pass co-moment
    accumulation differs from DuckDB's in the last ulp)."""
    l = load_table(spark, sf_dir, "lineitem")
    agg = l.agg(
        F.corr("l_extendedprice", "l_quantity").alias("a"),
        F.corr("l_extendedprice", "l_discount").alias("b"),
        F.corr("l_quantity", "l_tax").alias("c"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            ("extendedprice~quantity", round(agg.a, 4)),
            ("extendedprice~discount", round(agg.b, 4)),
            ("quantity~tax", round(agg.c, 4)),
        ],
        "pair string, r double",
    )


def fk_orphans(child, parent_keys, key_col: str):
    """Child rows whose FK has no parent — ONE left-anti join with NO
    broadcast hint (VERDICT r5 #1: the parent side can be fact-sized,
    e.g. lineitem→orders where distinct o_orderkey is as large as
    orders; a forced broadcast is a driver OOM at scale). AQE still
    picks broadcast on its own when the parent key set is genuinely
    dimension-sized. Plan-gated hint-free in tests/test_plans.py."""
    return child.join(parent_keys, key_col, "left_anti")


@query(
    "q163_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS relation,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'orders->customer(sampled_break)',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey
                                     AND c.c_custkey % 50 <> 0))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    """,
)
def q163_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (the FK-orphan screen a lakehouse
    needs because nothing enforces foreign keys at write time): orphan
    counts per relation via LEFT ANTI joins — each audit is one scan
    of the child table, never a row-expanding join. No broadcast hint:
    the parent side can be fact-sized (the distinct ``o_orderkey`` set
    for lineitem→orders is as large as ``orders`` itself), so forcing
    a broadcast would OOM at scale — AQE picks broadcast on its own
    when the parent key set is genuinely dimension-sized. The third
    relation deliberately breaks integrity (parents with
    ``c_custkey % 50 = 0`` are hidden) so the audit provably detects
    orphans, not just reports zero."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def audit(child, parent_keys, cond_col, relation):
        orphans = fk_orphans(child, parent_keys, cond_col).count()
        return (relation, orphans, child.count())

    rows = [
        audit(
            l.select(F.col("l_orderkey").alias("k")),
            o.select(F.col("o_orderkey").alias("k")).distinct(),
            "k",
            "lineitem->orders",
        ),
        audit(
            o.select(F.col("o_custkey").alias("k")),
            c.select(F.col("c_custkey").alias("k")).distinct(),
            "k",
            "orders->customer",
        ),
        audit(
            o.select(F.col("o_custkey").alias("k")),
            c.filter(F.col("c_custkey") % 50 != 0)
            .select(F.col("c_custkey").alias("k"))
            .distinct(),
            "k",
            "orders->customer(sampled_break)",
        ),
    ]
    return spark.createDataFrame(
        rows, "relation string, n_orphans long, n_rows long"
    )


@query(
    "q164_asof_join",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    r AS (
        SELECT user_id, ts, MAX(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT l.event_id, l.user_id, l.ts, r.purchase_value
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q164_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join [EXT]: every click enriched with the
    user's most recent prior-or-simultaneous purchase value — the
    time-series lookup (quotes→trades, feature snapshots→events) Spark
    has no built-in operator for. ``operators.asofjoin.asof_join``:
    tag + unionByName + ONE per-key window carrying
    last(payload-struct, ignorenulls) — one shuffle total, zero row
    expansion at any skew (a naive range join explodes candidate
    pairs). Oracle: DuckDB's native ASOF LEFT JOIN. The purchase side
    is pre-aggregated to unique (user, ts) so tie-breaking is
    deterministic on both engines."""
    from ..operators.asofjoin import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(clicks, purchases, on=["user_id"], left_ts="ts")


@query(
    "q181_rollup_subtotals",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q181_rollup_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (GROUPING SETS family): per-(flag, status)
    quantity totals plus per-flag subtotals plus the grand total in ONE
    pass — ``DataFrame.rollup`` expands to Catalyst's Expand node, so
    every grouping set shares a single scan and a single shuffle
    (never one job per subtotal level). ``grouping_id()`` disambiguates
    subtotal rows from genuine NULL keys — the standard SQL bitmask,
    identical in DuckDB's GROUPING(). Reference surface: the reference
    computes per-level rollups as separate aggregate queries
    (src/data_processor.py aggregate_data)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().alias("gid"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_rows")
    )


@query(
    "q182_pivot_status_matrix",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}
               AS rev_open,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}
               AS rev_filled,
           {sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}
               AS rev_partial
    FROM orders GROUP BY 1
    """,
)
def q182_pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order revenue as a year × status matrix via
    ``groupBy().pivot(values=...)`` — the explicit value list keeps the
    plan a single-pass pivoted hash aggregate (no values-discovery
    pre-job, the 100 TB essential), exactly the conditional aggregation
    the DuckDB oracle spells out. A year with no orders in a status
    yields NULL in both engines."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.withColumn("order_year", F.year("o_orderdate"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(dsum("o_totalprice", "rev"))
    )
    return p.select(
        "order_year",
        F.col("O").alias("rev_open"),
        F.col("F").alias("rev_filled"),
        F.col("P").alias("rev_partial"),
    )


@query(
    "q183_unpivot_metrics",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_retailprice > 990
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice
    FROM part WHERE p_retailprice > 990
    """,
)
def q183_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide part metrics to long (key, metric, value)
    triples via ``DataFrame.unpivot`` — ONE scan emitting both rows per
    input row (Expand node), where the UNION ALL oracle formulation
    would scan twice. The filter stays above a single pushed scan."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_retailprice") > 990
    )
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "q184_set_operations",
    oracle="""
    WITH a95 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE year(o_orderdate) = 1995
    ), a96 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE year(o_orderdate) = 1996
    )
    SELECT 'retained' AS cohort, o_custkey
    FROM (SELECT o_custkey FROM a95 INTERSECT SELECT o_custkey FROM a96)
    UNION ALL
    SELECT 'churned', o_custkey
    FROM (SELECT o_custkey FROM a95 EXCEPT SELECT o_custkey FROM a96)
    """,
)
def q184_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators: customers ordering in both
    1995 and 1996 (retained) vs only 1995 (churned). Catalyst plans
    both as existence joins (left-semi / left-anti) over the SAME two
    filtered scans — no distinct-then-join detour; at scale each set op
    is one hash shuffle on the key."""
    o = load_table(spark, sf_dir, "orders")
    a95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    a96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    retained = a95.intersect(a96).select(
        F.lit("retained").alias("cohort"), "o_custkey"
    )
    churned = a95.subtract(a96).select(
        F.lit("churned").alias("cohort"), "o_custkey"
    )
    return retained.unionByName(churned)


# q199's live (tables, temp dir) from the current run — dropped on the
# NEXT invocation (lazy result: cleanup can't precede consumption) and
# the dir reaped at interpreter exit for the final run.
_Q199_LIVE: list[tuple[str, str, str]] = []


def _q199_cleanup(spark: SparkSession | None) -> None:
    import shutil

    while _Q199_LIVE:
        tbl_o, tbl_c, root = _Q199_LIVE.pop()
        if spark is not None:
            for tbl in (tbl_o, tbl_c):
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(root, ignore_errors=True)


def _q199_atexit() -> None:
    # interpreter teardown: the JVM session may already be gone —
    # only reclaim disk; a dropped-at-next-run catalog entry in a
    # dead session costs nothing
    _q199_cleanup(None)


atexit.register(_q199_atexit)


@query(
    "q199_bucketed_join",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def q199_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (the 100 TB shuffle eliminator): both
    sides are written ``bucketBy(8, custkey)`` + sorted, so the
    sort-merge join consumes the on-disk bucketing and needs ZERO
    exchanges — the pattern that turns a recurring fact⨝dim shuffle
    into a one-time layout cost (plan-gated in
    ``test_q199_bucketed_join_no_exchange``). Results are identical to
    the plain join (bucketing is physical layout only), which is what
    the oracle checks. Tables land as EXTERNAL bucketed tables in a
    per-run temp location — the registered-catalog requirement is
    Spark's, not a warehouse dependency.

    Hygiene: names are per-run unique (two concurrent sessions sharing
    a metastore can't collide), and each invocation drops the PREVIOUS
    run's tables and temp dir — the returned frame is lazy, so
    same-run cleanup must wait until the result has been consumed;
    re-entry (and atexit for the last run's dir) is when that is
    guaranteed. Running twice in one session leaves exactly one live
    pair of catalog entries and temp dirs."""
    import tempfile

    _q199_cleanup(spark)
    root = tempfile.mkdtemp(prefix="bucketed-join-")
    suffix = os.path.basename(root).removeprefix("bucketed-join-")
    tbl_o, tbl_c = f"q199_orders_b_{suffix}", f"q199_customer_b_{suffix}"
    _Q199_LIVE.append((tbl_o, tbl_c, root))
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    (
        o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", f"{root}/orders_b")
        .mode("overwrite").saveAsTable(tbl_o)
    )
    (
        c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", f"{root}/customer_b")
        .mode("overwrite").saveAsTable(tbl_c)
    )
    ob = spark.table(tbl_o)
    cb = spark.table(tbl_c)
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
    )


@query(
    "q202_table_diff",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ), tgt AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 3 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 97 IN (3, 5)
                    THEN o_totalprice + 1 ELSE o_totalprice END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 7
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 97 = 11
    )
    SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
                WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
                ELSE 'changed' END AS status,
           CASE WHEN s.o_orderkey IS NULL OR t.o_orderkey IS NULL THEN ''
                ELSE array_to_string(list_sort(list_filter(
                    [CASE WHEN s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                          THEN 'o_orderstatus' END,
                     CASE WHEN s.o_totalprice IS DISTINCT FROM t.o_totalprice
                          THEN 'o_totalprice' END],
                    x -> x IS NOT NULL)), ',')
           END AS changed_cols
    FROM src s FULL OUTER JOIN tgt t
         ON s.o_orderkey IS NOT DISTINCT FROM t.o_orderkey
    WHERE s.o_orderkey IS NULL OR t.o_orderkey IS NULL
       OR s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
       OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
    """,
)
def q202_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level migration reconciliation [EXT] — ``quality.table_diff``
    over a deterministically perturbed copy of orders (keys dropped,
    values drifted, keys invented — the three failure modes a
    count+schema validation (Q4) cannot see). ONE key-partitioned
    full-outer join (semantically unbroadcastable — both sides'
    unmatched rows must survive); per-column drift is row-local
    null-safe equality. The 100 TB recurring-diff shape buckets both
    tables on the key first (q199's layout)."""
    from ..quality import table_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mod = F.col("o_orderkey") % 97
    target = (
        o.filter(mod != 7)
        .withColumn(
            "o_orderstatus",
            F.when(mod == 3, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_totalprice",
            F.when(
                mod.isin(3, 5), F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(mod == 11).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10000000
            )
        )
    )
    return table_diff(o, target, ["o_orderkey"])


@query(
    "q206_semi_join_exists",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity > 45)
    """,
)
def q206_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semi-join (relational-completeness gap-fill next to J1–J7):
    suppliers with ≥1 high-quantity lineitem via ``left_semi`` — the
    probe side never duplicates or widens (no distinct-after-inner-join
    detour), and the quantity filter pushes to the parquet scan before
    the existence check. Plan-gated LeftSemi in
    ``test_q206_semi_join_plans_left_semi``."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45
    ).select("l_suppkey")
    return s.join(
        li, s.s_suppkey == li.l_suppkey, "left_semi"
    )


@query(
    "q212_ordered_string_agg",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_suppliers,
           string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1
    """,
)
def q212_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG — the A-family
    report formatter): per nation, the sorted CSV of supplier names.
    Spark has no ordered string_agg; ``array_join(array_sort(
    collect_list(...)))`` is the deterministic re-expression — sorting
    INSIDE the row (row-local, engine-portable) instead of trusting
    collect_list's partition-order luck. Broadcast dimension join, one
    grouped shuffle."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_nationkey", "s_name"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.array_join(
                F.array_sort(F.collect_list("s_name")), ","
            ).alias("supplier_csv"),
        )
    )


@query(
    "q218_hll_overlap",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        FROM events GROUP BY 1
    )
    SELECT CAST(SUM(a) AS BIGINT) AS exact_a,
           CAST(SUM(b) AS BIGINT) AS exact_b,
           CAST(COUNT(CASE WHEN a = 1 AND b = 1 THEN 1 END) AS BIGINT)
               AS exact_overlap,
           TRUE AS overlap_ok
    FROM per_user
    """,
)
def q218_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra [EXT]: audience OVERLAP between two event
    types by inclusion-exclusion over HLL sketches —
    ``|A∩B| ≈ est(A) + est(B) − est(A∪B)`` where the union estimate
    comes from ``hll_union_agg`` over the per-type sketches (pure
    re-aggregation: the union never rescans facts — q158's rollup
    pattern extended from union to intersection). Exact counts ride
    the same pass for the verdict; inclusion-exclusion AMPLIFIES
    relative error (the documented trade — theta sketches intersect
    natively; HLL pays ~(|A|+|B|)/|A∩B| × the union's error), so the
    verdict bound is 10%."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    est = sk.select(
        "event_type", F.hll_sketch_estimate("sk").alias("est")
    )
    combined = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est")
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("a"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("b"),
    )
    exact = per_user.agg(
        F.sum("a").cast("long").alias("exact_a"),
        F.sum("b").cast("long").alias("exact_b"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 1), 1))
        .cast("long")
        .alias("exact_overlap"),
    )
    wide = (
        est.groupBy()
        .pivot("event_type", ["view", "purchase"])
        .agg(F.first("est"))
        .crossJoin(combined)
    )
    # guards: a missing pivot value or empty type contributes 0, and
    # the relative error normalizes by max(exact, 1) — a disjoint (or
    # empty) audience yields a real boolean, never a NULL verdict
    overlap_est = (
        F.coalesce(F.col("view"), F.lit(0.0))
        + F.coalesce(F.col("purchase"), F.lit(0.0))
        - F.coalesce(F.col("union_est"), F.lit(0.0))
    )
    return exact.crossJoin(F.broadcast(wide)).select(
        "exact_a",
        "exact_b",
        "exact_overlap",
        (
            F.abs(overlap_est - F.col("exact_overlap"))
            / F.greatest(F.col("exact_overlap"), F.lit(1))
            < 0.1
        ).alias("overlap_ok"),
    )
