"""Analytic query surface beyond the reference's streaming metrics: the
classic OLAP shapes (pricing summary, top-k, window frames, sessionization,
set ops, rollup) that SURVEY §2.2 lists as "not present in the reference" and
§7 Phase 1 adds as first-class, each a stock Catalyst primitive.

These double as the bench headliners: scan-heavy aggregation
(pricing_summary), shuffle join + top-k (top_customers), window functions
(top_orders_per_customer, daily_revenue_ma), and gaps-and-islands
sessionization — together they exercise every physical operator class that
matters at 100 TB.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import (
    cents,
    cents_sum,
    cents_sum_double,
    fround,
)
from pyspark.sql.functions import broadcast

from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

SESSION_GAP_MINUTES = 30


@query(
    "pricing_summary",
    oracle="""
SELECT
    l_returnflag,
    l_linestatus,
    -- fixed-point integer sums: exact + order-independent (double summation
    -- order differs across engines and flips rounding on exact half-cent
    -- sums), and ~6x faster than DECIMAL aggregation in Spark.  The scaled
    -- product is the same IEEE double in both engines, so round() agrees.
    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
    round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
               AS DOUBLE) / 10000.0 * 100) / 100 AS sum_disc_price,
    round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000)
                        AS BIGINT)) AS DOUBLE) / 1000000.0 * 100) / 100 AS sum_charge,
    round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
          / count(*) * 100) / 100 AS avg_qty,
    round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
          / count(*) * 100) / 100 AS avg_price,
    round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0
          / count(*) * 10000) / 10000 AS avg_disc,
    count(*)                                                    AS count_order
FROM lineitem
GROUP BY 1, 2
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem — the scan+hash-agg
    benchmark headliner.  Map-side partial aggregation reduces 600k rows to
    ~6 groups before the shuffle; the parquet scan reads 8 of 11 columns.

    Money/quantity sums use fixed-point longs (scaled by 10^decimals): exact
    and order-independent like DECIMAL but on the fast codegen'd long-sum
    path (headroom: ``functions/rounding.py``)."""
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    qty_sum = cents_sum(F.col("l_quantity")) / 100.0
    price_sum = cents_sum(F.col("l_extendedprice")) / 100.0
    disc_sum = cents_sum(F.col("l_discount")) / 100.0
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        qty_sum.alias("sum_qty"),
        price_sum.alias("sum_base_price"),
        fround(F.sum(cents(disc_price, 10000)) / 10000.0, 2).alias("sum_disc_price"),
        fround(F.sum(cents(disc_price * (1 + F.col("l_tax")), 1000000)) / 1000000.0, 2)
        .alias("sum_charge"),
        fround(qty_sum / F.count("*"), 2).alias("avg_qty"),
        fround(price_sum / F.count("*"), 2).alias("avg_price"),
        fround(disc_sum / F.count("*"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "top_customers",
    oracle="""
SELECT
    c.c_custkey,
    c.c_name,
    count(*)                       AS orders,
    round(sum(o.o_totalprice), 2)  AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
ORDER BY revenue DESC, c_custkey
LIMIT 10
""",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join + global top-k: revenue per customer, top 10.
    Deterministic: ordered by (rounded revenue desc, custkey).  TakeOrdered
    avoids a full sort — only k rows per partition survive."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return (
        orders.join(broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.count("*").alias("orders"), fround(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


@query(
    "top_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) AS rn
    FROM orders
)
WHERE rn <= 3
""",
)
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window function (row_number with deterministic tie-break):
    top-3 orders per customer — grouped top-k without collecting groups."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "daily_revenue_ma",
    oracle="""
WITH daily AS (
    SELECT
        -- duckdb date_trunc('day') yields DATE; Spark yields TIMESTAMP
        CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        round(sum(o_totalprice), 2)    AS revenue,
        count(*)                       AS orders
    FROM orders
    -- a dateless order cannot sit in a calendar frame: the NULL day would
    -- order NULLS FIRST in Spark's frame and NULLS LAST in DuckDB's
    WHERE o_orderdate IS NOT NULL
    GROUP BY 1
)
SELECT
    day,
    revenue,
    orders,
    -- decimal frame aggregation: order-independent (determinism note in
    -- pricing_summary)
    round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER (
        ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        / count(*) OVER (
        ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS revenue_ma7,
    round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER (
        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
        AS revenue_cum
FROM daily
""",
)
def q_daily_revenue_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: 7-day moving average + running total of daily revenue —
    the dashboard smoothing query (Grafana time-series panels)."""
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate").isNotNull()
    )
    daily = (
        orders.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(fround(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("orders"))
    )
    w_ma = Window.orderBy("day").rowsBetween(-6, 0)
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    rev_dec = F.col("revenue").cast("decimal(18,2)")
    return daily.select(
        "day",
        "revenue",
        "orders",
        fround(F.sum(rev_dec).over(w_ma).cast("double") / F.count("*").over(w_ma), 2)
        .alias("revenue_ma7"),
        fround(F.sum(rev_dec).over(w_cum).cast("double"), 2).alias("revenue_cum"),
    )


@query(
    "user_sessions",
    oracle=f"""
WITH ordered AS (
    SELECT
        user_id, ts, event_id, coalesce(value, 0.0) AS value,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL '{SESSION_GAP_MINUTES} minutes'
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
    FROM events
    -- a row with no event time cannot be sessionized (event-time policy)
    WHERE ts IS NOT NULL
), numbered AS (
    SELECT *, CAST(sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM ordered
)
SELECT
    user_id,
    session_seq,
    min(ts)                  AS session_start,
    max(ts)                  AS session_end,
    count(*)                 AS n_events,
    round(sum(value), 2)     AS session_value
FROM numbered
GROUP BY 1, 2
""",
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands, 30-minute inactivity gap) — the
    batch twin of ``session_window``/``applyInPandasWithState`` in the
    streaming layer.  One shuffle on user_id; both window functions reuse the
    same partitioning."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Interval arithmetic works for both TIMESTAMP and TIMESTAMP_NTZ inputs
    # (unix_micros only accepts TIMESTAMP, so it would reject NTZ parquet).
    prev_ts = F.lag(F.col("ts")).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.col("ts") - prev_ts) > F.expr(f"INTERVAL {SESSION_GAP_MINUTES} MINUTES")),
        1,
    ).otherwise(0)
    numbered = (
        events.select("user_id", "ts", "event_id", F.coalesce("value", F.lit(0.0)).alias("value"))
        .withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        fround(F.sum("value"), 2).alias("session_value"),
    )


@query(
    "engaged_users",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'signup'
""",
)
def q_engaged_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation INTERSECT: users who both signed up and purchased."""
    events = load_table(spark, "events", sf_dir)
    purchasers = events.where(F.col("event_type") == "purchase").select("user_id")
    signups = events.where(F.col("event_type") == "signup").select("user_id")
    return purchasers.intersect(signups)


@query(
    "window_shoppers",
    oracle="""
SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events WHERE event_type = 'purchase'
""",
)
def q_window_shoppers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation EXCEPT: (user, day) pairs with a view but no purchase
    that day — the drop-off population by set difference.  Day-grained
    (lifetime grain is empty on any fixture whose users all eventually
    purchase — every-SF-nonempty results keep the oracle hash meaningful)."""
    events = load_table(spark, "events", sf_dir)
    day = F.date_trunc("day", F.col("ts")).alias("day")
    viewers = events.where(F.col("event_type") == "view").select("user_id", day)
    purchasers = events.where(F.col("event_type") == "purchase").select("user_id", day)
    return viewers.subtract(purchasers)  # EXCEPT DISTINCT semantics


@query(
    "status_priority_rollup",
    oracle="""
SELECT
    o_orderstatus,
    o_orderpriority,
    count(*)                      AS n_orders,
    CAST(sum(round(o_totalprice * 100)::BIGINT) AS DOUBLE) / 100 AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def q_status_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS / ROLLUP: status x priority hierarchy with subtotals and
    a grand total — one pass, Catalyst expands the grouping sets.

    The grand-total group sums the WHOLE orders table: money rides as
    scaled-long cents (exact, order-independent), not a raw double sum
    whose engine-specific summation order could flip the 2dp rounding on a
    half-cent knife edge (fixed point: ``functions/rounding.py``)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        (cents_sum(F.col("o_totalprice")).cast("double") / 100).alias("revenue"),
    )


@query(
    "cascaded_rollup",
    oracle="""
WITH minutely AS (
    SELECT
        date_trunc('minute', ts) AS m,
        sum(round(value * 100)::BIGINT) AS cents,
        count(*) AS n
    FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT
    CAST(date_trunc('hour', m) AS TIMESTAMP)   AS window_start,
    CAST(sum(cents) AS DOUBLE) / 100           AS gmv,
    CAST(sum(n) AS BIGINT)                     AS purchases,
    count(*)                                   AS minutes_active
FROM minutely
GROUP BY 1
""",
)
def q_cascaded_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascaded rollup: hourly metrics RE-AGGREGATED from the
    minutely relation rather than from raw events — the continuous-aggregate
    pattern for multi-resolution dashboards (minute -> hour -> day).

    At 100 TB the raw fact is aggregated once into the finest grain; every
    coarser grain reads #minutes rows, not #events, so each extra resolution
    costs ~nothing.  Money sums use scaled-long cents at the fine grain so
    the re-aggregation is exact integer addition — no float drift between
    resolution levels (the property that makes cascading safe; see
    ``functions/rounding.py`` for the fixed-point contract)."""
    events = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    minutely = events.groupBy(F.date_trunc("minute", F.col("ts")).alias("m")).agg(
        cents_sum(F.col("value")).alias("cents"),
        F.count("*").alias("n"),
    )
    return minutely.groupBy(F.date_trunc("hour", F.col("m")).alias("window_start")).agg(
        (F.sum("cents").cast("double") / 100).alias("gmv"),
        F.sum("n").alias("purchases"),
        F.count("*").alias("minutes_active"),
    )


@query(
    "running_revenue",
    oracle="""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           sum(round(value * 100)::BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT
    day,
    CAST(cents AS DOUBLE) / 100 AS revenue,
    CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
        AS cumulative_revenue
FROM daily
""",
)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window FRAME (ROWS UNBOUNDED PRECEDING): cumulative revenue
    over days.  Frame runs over the aggregated relation (#days rows) so the
    single-partition ordered window is bounded; the running sum is exact
    scaled-long arithmetic, converted to currency only at the edge."""
    events = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    daily = events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        cents_sum(F.col("value")).alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        (F.sum("cents").over(w).cast("double") / 100).alias("cumulative_revenue"),
    )


@query(
    "quantity_price_unpivot",
    oracle="""
SELECT l_returnflag, metric,
    CAST(sum(round(val * 100)::BIGINT) AS DOUBLE) / 100 AS total
FROM (
    UNPIVOT (SELECT l_returnflag, l_quantity, l_extendedprice FROM lineitem)
    ON l_quantity AS 'quantity', l_extendedprice AS 'price'
    INTO NAME metric VALUE val
)
GROUP BY 1, 2
""",
)
def q_quantity_price_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long reshape, the inverse of payment_type_pivot):
    measure columns melted into (metric, value) rows then re-aggregated.
    Spark's ``unpivot`` is a zero-shuffle Expand — each input row emits one
    row per measure locally; only the final small-key agg shuffles."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    long = lineitem.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice"],
        variableColumnName="metric",
        valueColumnName="val",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "l_quantity", "quantity").otherwise("price"),
    )
    # table-sized money groups: scaled-long cents, never an order-dependent
    # raw double sum (functions/rounding.py)
    return long.groupBy("l_returnflag", "metric").agg(
        (cents_sum(F.col("val")).cast("double") / 100).alias("total")
    )


@query(
    "gapfilled_minutely_gmv",
    oracle="""
WITH bounds AS (
    SELECT date_trunc('minute', min(ts)) AS t0,
           date_trunc('minute', max(ts)) AS t1
    FROM events
),
spine AS (
    SELECT unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS minute FROM bounds
),
gmv AS (
    SELECT date_trunc('minute', ts) AS minute,
           sum(round(value * 100)::BIGINT) AS cents,
           count(*)                        AS purchases
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
)
SELECT
    s.minute                                         AS minute,
    COALESCE(CAST(g.cents AS DOUBLE) / 100, 0.0)     AS revenue,
    COALESCE(g.purchases, 0)                         AS purchases
FROM spine s LEFT JOIN gmv g USING (minute)
""",
)
def q_gapfilled_minutely_gmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (gap-filled) minutely GMV series: a generated minute spine
    LEFT-joined against the sparse aggregate, empty minutes zero-filled —
    what every downstream charting/alerting consumer (the reference's
    Grafana tier, ecommerce-streaming.json:55-346) needs but `groupBy`
    alone can't produce: windows with no events simply don't exist.

    The spine comes from `sequence()` + `explode` off a 1-row bounds
    aggregate — generated, never materialized as input data.  The sparse
    side aggregates BEFORE the join, so the join is spine-sized (~43k rows
    for a month of minutes) regardless of event volume; at 100 TB the spine
    side is broadcast and the whole gap-fill costs one extra map stage on
    top of the aggregation."""
    events = load_table(spark, "events", sf_dir)
    bounds = events.agg(
        F.date_trunc("minute", F.min("ts")).alias("t0"),
        F.date_trunc("minute", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 MINUTE"))).alias("minute")
    )
    gmv = (
        events.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(
            cents_sum(F.col("value")).alias("cents"),
            F.count("*").alias("purchases"),
        )
    )
    return spine.join(gmv, "minute", "left").select(
        "minute",
        F.coalesce(F.col("cents").cast("double") / 100, F.lit(0.0)).alias("revenue"),
        F.coalesce(F.col("purchases"), F.lit(0)).alias("purchases"),
    )


@query(
    "orders_vs_customer_avg",
    oracle="""
WITH avgs AS (
    SELECT o_custkey,
           CAST(sum(round(o_totalprice * 100)::BIGINT) AS DOUBLE) / 100 / count(*)
               AS cust_avg_raw
    FROM orders GROUP BY 1
)
SELECT
    o.o_orderkey   AS orderkey,
    o.o_custkey    AS custkey,
    o.o_totalprice AS totalprice,
    round(a.cust_avg_raw * 100) / 100 AS cust_avg
FROM orders o JOIN avgs a ON o.o_custkey = a.o_custkey
WHERE o.o_totalprice > 1.5 * a.cust_avg_raw
""",
)
def q_orders_vs_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group correlated scalar subquery (each order vs its own
    customer's average order value, keeping orders 1.5x above it) — the
    decorrelation shape one level beyond `above_avg_orders`' global scalar.

    Spark-first: expressed as a window aggregate over partitionBy(custkey)
    — ONE shuffle of orders, no join, no second scan; the SQL oracle states
    it as the classic aggregate + join-back, which is exactly what Catalyst
    would decorrelate the subquery into.  Same result, and the window form
    is strictly less data movement (the per-key average never leaves the
    partition).  Average in scaled-long cents so the 1.5x threshold cuts
    identically in both engines."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey")
    cust_avg_raw = (
        F.sum(cents(F.col("o_totalprice"))).over(w).cast("double")
        / 100
        / F.count("*").over(w)
    )
    return (
        orders.withColumn("cust_avg_raw", cust_avg_raw)
        .where(F.col("o_totalprice") > 1.5 * F.col("cust_avg_raw"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("totalprice"),
            fround(F.col("cust_avg_raw"), 2).alias("cust_avg"),
        )
    )


@query(
    "session_window_stats",
    oracle=f"""
WITH ordered AS (
    SELECT
        user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  >= INTERVAL '{SESSION_GAP_MINUTES} minutes'
             THEN 1 ELSE 0 END AS is_new
    FROM events
    -- a row with no event time cannot be sessionized (event-time policy)
    WHERE ts IS NOT NULL
), numbered AS (
    SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM ordered
)
SELECT
    user_id,
    min(ts)                                           AS session_start,
    max(ts) + INTERVAL '{SESSION_GAP_MINUTES} minutes' AS session_end,
    count(*)                                          AS n_events
FROM numbered
GROUP BY user_id, session_seq
""",
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `session_window` sessionization (the Spark primitive SURVEY
    §2.5 D2 notes the reference lacks): dynamic-gap windows merged inside
    ONE hash aggregate — no lag/cumsum window-function pass, and the same
    operator streams with state + watermark unchanged (session_stream).

    Boundary semantics pinned by the oracle: a gap of exactly the session
    duration starts a NEW session (session_window merges only while
    gap < duration), and window.end = last_event + gap — both encoded in
    the gaps-and-islands SQL (`>=` new-session test, `max(ts) + gap` end)
    so the cross-engine hash checks Spark's native operator, not a
    re-implementation."""
    events = load_table(spark, "events", sf_dir)
    sw = F.session_window(F.col("ts"), f"{SESSION_GAP_MINUTES} minutes")
    return (
        events.groupBy(F.col("user_id"), sw.alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "order_value_quartiles",
    oracle="""
WITH ranked AS (
    SELECT
        CAST(year(o_orderdate) AS INT) AS order_year,
        o_totalprice,
        ntile(4)       OVER w AS quartile,
        percent_rank() OVER w AS pr,
        cume_dist()    OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY year(o_orderdate) ORDER BY o_totalprice, o_orderkey)
)
SELECT
    order_year,
    CAST(quartile AS INT)             AS quartile,
    count(*)                          AS n_orders,
    round(min(o_totalprice), 2)       AS min_price,
    round(max(o_totalprice), 2)       AS max_price,
    round(max(pr) * 10000) / 10000    AS max_percent_rank,
    round(max(cd) * 10000) / 10000    AS max_cume_dist
FROM ranked
GROUP BY 1, 2
""",
)
def q_order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-analytic window functions (ntile / percent_rank /
    cume_dist — the §2.2 "not present" analytic family beyond rank/lag):
    per-year order-value quartiles with each quartile's price range.

    Ranks are computed WITHIN year partitions, not globally: a global ntile
    needs a total order (single-partition WindowExec — the classic scale
    trap); partitioning by a time grain keeps every rank computation
    parallel and is what a 100 TB percentile report does anyway.  The
    (totalprice, orderkey) compound sort makes every rank deterministic —
    percent_rank/cume_dist over a unique total order are pure row-number
    arithmetic, identical in both engines."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy(F.year("o_orderdate")).orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        F.year("o_orderdate").alias("order_year"),
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return ranked.groupBy("order_year", "quartile").agg(
        F.count("*").alias("n_orders"),
        fround(F.min("o_totalprice"), 2).alias("min_price"),
        fround(F.max("o_totalprice"), 2).alias("max_price"),
        fround(F.max("pr"), 4).alias("max_percent_rank"),
        fround(F.max("cd"), 4).alias("max_cume_dist"),
    )


SCD2_ORACLE = """
WITH ordered AS (
    SELECT
        o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        lag(o_orderpriority) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ) AS prev_priority
    FROM orders
), changes AS (
    -- keep o_orderkey: two same-day orders can both be change points, so
    -- interval closing must use the same (date, orderkey) total order as
    -- change detection or lead() is nondeterministic across engines
    SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
    FROM ordered
    WHERE prev_priority IS NULL OR o_orderpriority <> prev_priority
)
SELECT
    o_custkey                   AS custkey,
    o_orderpriority             AS priority,
    o_orderdate                 AS effective_from,
    lead(o_orderdate) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    )                           AS effective_to,
    lead(o_orderdate) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ) IS NULL                   AS is_current
FROM changes
"""


def scd2_history(rows: DataFrame) -> DataFrame:
    """Collapse ``(o_custkey, o_orderpriority, o_orderdate, o_orderkey)``
    change candidates into effective-dated SCD2 versions.  Shared by the
    one-shot batch build (`scd2_priority_history`) and the per-micro-batch
    recompute inside the incremental stream maintainer (`scd2_stream_merge`)
    so the change-detection/interval-closing semantics cannot drift between
    the two.  Change detection (lag) and interval closing (lead) reuse ONE
    hash partitioning on custkey — a single shuffle for the whole build."""
    by_cust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        rows.select(
            "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey",
            F.lag("o_orderpriority").over(by_cust).alias("prev_priority"),
        )
        .where(
            F.col("prev_priority").isNull()
            | (F.col("o_orderpriority") != F.col("prev_priority"))
        )
    )
    # same (date, orderkey) total order as change detection — two orders on
    # the same day can both be change points (caught by the sf0.1 sweep)
    close = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    effective_to = F.lead("o_orderdate").over(close)
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("effective_from"),
        effective_to.alias("effective_to"),
        effective_to.isNull().alias("is_current"),
    )


@query("scd2_priority_history", oracle=SCD2_ORACLE)
def q_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: collapse a change stream into effective-dated
    dimension versions (effective_from / effective_to / is_current) — the
    standard warehouse versioning pattern, here tracking each customer's
    order-priority transitions.  At 100 TB the change stream is CDC input and
    the plan is unchanged; `scd2_stream_merge` is that incremental twin."""
    return scd2_history(load_table(spark, "orders", sf_dir))


_SESSION_DYNAMIC_ORACLE = """
WITH ordered AS (
    SELECT
        user_id, event_id, ts, event_type,
        epoch_us(ts) AS ts_us,
        CASE WHEN event_type = 'purchase' THEN 1800000000 ELSE 600000000 END
            AS gap_us
    FROM events
    -- a row with no event time cannot join a session window (policy note
    -- in functions/windows.py; session_window drops it silently)
    WHERE ts IS NOT NULL
), flagged AS (
    SELECT *,
        CASE WHEN max(ts_us + gap_us) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) > ts_us
             THEN 0 ELSE 1 END AS is_new
    FROM ordered
), numbered AS (
    SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts_us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM flagged
)
SELECT
    user_id,
    min(ts)                                            AS session_start,
    make_timestamp(max(ts_us + gap_us))                AS session_end,
    count(*)                                           AS n_events,
    count(*) FILTER (event_type = 'purchase')          AS n_purchases
FROM numbered
GROUP BY user_id, session_seq
"""


@query("session_dynamic_gap_stats", oracle=_SESSION_DYNAMIC_ORACLE)
def q_session_dynamic_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap sessionization: `session_window` with a per-event gap
    expression — purchases hold the session open 30 minutes, everything
    else 10 — so high-intent activity extends sessions the way product
    analytics wants.  Single hash aggregate, same operator shape as the
    fixed-gap `session_window_stats`.

    The oracle re-derives Spark's merge rule for heterogeneous gaps from
    first principles: an event joins the session iff its start lies
    strictly inside the RUNNING MAX of previous (ts + own_gap) interval
    ends (a later short-gap event must not close a window a prior
    long-gap event holds open; equality starts a new session), and
    session_end = max(ts + gap) over members — checked in exact integer
    microseconds."""
    events = load_table(spark, "events", sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    sw = F.session_window(F.col("ts"), gap)
    return (
        events.groupBy(F.col("user_id"), sw.alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purchases"
            ),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "n_purchases",
        )
    )


_SCD2_PIT_ORACLE = """
WITH ordered AS (
    SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
           lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS prev_priority
    FROM orders
), versions AS (
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS effective_to
    FROM ordered
    WHERE prev_priority IS NULL OR o_orderpriority <> prev_priority
), looked_up AS (
    SELECT o.o_orderpriority AS priority_now,
           coalesce(v.priority, 'NO_HISTORY') AS priority_90d_ago
    FROM orders o
    LEFT JOIN versions v
      ON v.custkey = o.o_custkey
     AND o.o_orderdate - INTERVAL 90 DAY >= v.effective_from
     AND (v.effective_to IS NULL
          OR o.o_orderdate - INTERVAL 90 DAY < v.effective_to)
)
SELECT priority_now, priority_90d_ago, count(*) AS n_orders
FROM looked_up
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("scd2_pit_lookup", oracle=_SCD2_PIT_ORACLE)
def q_scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) lookup against the SCD2 history
    ``scd2_priority_history`` builds: every order asks "what was this
    customer's priority 90 days before this order?" and the answer is the
    ONE version whose [effective_from, effective_to) interval contains the
    lookup date (orders predating the first version surface as
    'NO_HISTORY').  Output: transition matrix (priority_now x
    priority_90d_ago) with order counts — the standard feature-store /
    training-data temporal-correctness join, where joining the *current*
    dimension row instead leaks future information into features.

    Plan shape: the interval predicate rides as a residual filter on a plain
    custkey equi-join — NOT a range join — so it shuffles both sides once on
    the key and scales like any fact-dim join.  Version intervals per key
    are non-overlapping by construction, so the join multiplicity is <= 1
    and no post-join dedup is needed.  (The union+running-last as-of rewrite
    `asof_last_purchase` uses is the alternative when the dimension has no
    closed intervals.)"""
    orders = load_table(spark, "orders", sf_dir)
    by_cust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    versions = (
        orders.select(
            "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey",
            F.lag("o_orderpriority").over(by_cust).alias("prev_priority"),
        )
        .where(
            F.col("prev_priority").isNull()
            | (F.col("o_orderpriority") != F.col("prev_priority"))
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("effective_from"),
            F.lead("o_orderdate").over(by_cust).alias("effective_to"),
        )
    )
    lookup_date = F.col("o_orderdate") - F.expr("INTERVAL 90 DAY")
    looked_up = orders.join(
        versions,
        (F.col("custkey") == F.col("o_custkey"))
        & (lookup_date >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (lookup_date < F.col("effective_to"))),
        "left",
    ).select(
        F.col("o_orderpriority").alias("priority_now"),
        F.coalesce(F.col("priority"), F.lit("NO_HISTORY")).alias("priority_90d_ago"),
    )
    return (
        looked_up.groupBy("priority_now", "priority_90d_ago")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("priority_now", "priority_90d_ago")
    )


@query(
    "cdc_apply_latest",
    oracle="""
WITH log AS (
    SELECT
        user_id,
        CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
             ELSE 'U' END AS op,
        ts, event_id,
        round(coalesce(value, 0), 2) AS val
    FROM events
), ranked AS (
    SELECT *,
        row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn,
        count(*) OVER (PARTITION BY user_id) AS n_changes
    FROM log
)
SELECT user_id, op AS last_op, ts AS last_ts, val AS last_value, n_changes
FROM ranked
WHERE rn = 1 AND op <> 'D'
ORDER BY user_id
""",
)
def q_cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: apply an insert/update/delete change stream to
    produce the current snapshot — keep each key's LATEST change by the
    (ts, event_id) total order, and drop the key entirely when that latest
    change is a delete (the tombstone rule).  The change log is derived
    from events (signup→I, error→D, else U); this is the batch-compaction
    half of the CDC story whose incremental half is `metrics_merge_upsert`
    (idempotent MERGE per micro-batch).

    Scale: ONE hash partitioning on the key drives both the latest-row
    election (row_number) and the change count; Spark plans the rn<=1
    filter as WindowGroupLimit, so each map task forwards only its
    top-1-per-key candidates into the shuffle — compaction cost scales
    with keys, not log length (same bounded-top-k discipline as
    `dropoff_hourly`'s samples)."""
    events = load_table(spark, "events", sf_dir)
    log = events.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "ts",
        "event_id",
        fround(F.coalesce(F.col("value"), F.lit(0.0)), 2).alias("val"),
    )
    # n_changes as a separate aggregate joined back (not count(*) OVER the
    # same partition): a full-partition count in the ranked select would
    # legally block the WindowGroupLimit pushdown — the rn filter must
    # stand alone for map tasks to pre-prune to top-1-per-key
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = (
        log.select("*", F.row_number().over(w).alias("rn"))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    counts = log.groupBy(F.col("user_id").alias("c_user_id")).agg(
        F.count("*").alias("n_changes")
    )
    return (
        # null-safe equi-join: the NULL-user partition is a legal CDC key
        # group in both engines' windows — a plain inner equi-join would
        # silently drop it here while the oracle keeps it
        latest.join(counts, latest["user_id"].eqNullSafe(counts["c_user_id"]))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("ts").alias("last_ts"),
            F.col("val").alias("last_value"),
            "n_changes",
        )
        .orderBy("user_id")
    )


@query(
    "locf_value_15min",
    oracle="""
WITH bounds AS (
    SELECT time_bucket(INTERVAL 15 MINUTE, min(ts)) AS t0,
           time_bucket(INTERVAL 15 MINUTE, max(ts)) AS t1
    FROM events
), spine AS (
    SELECT unnest(generate_series(t0, t1, INTERVAL 15 MINUTE)) AS bucket_start
    FROM bounds
), types AS (
    SELECT DISTINCT event_type FROM events
), obs AS (
    SELECT event_type,
           time_bucket(INTERVAL 15 MINUTE, ts) AS bucket_start,
           sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS cents,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
), grid AS (
    SELECT t.event_type, s.bucket_start,
           round(o.cents / 100.0 / o.cnt * 10000) / 10000 AS avg_val,
           o.bucket_start AS obs_bucket
    FROM spine s CROSS JOIN types t
    LEFT JOIN obs o ON o.event_type = t.event_type
                   AND o.bucket_start = s.bucket_start
), filled AS (
    SELECT event_type, bucket_start,
           obs_bucket IS NOT NULL AS is_observed,
           last_value(avg_val IGNORE NULLS) OVER w AS value_locf,
           last_value(obs_bucket IGNORE NULLS) OVER w AS last_obs
    FROM grid
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, bucket_start, is_observed, value_locf,
       -- DOUBLE, not BIGINT: NULL before the first observation makes this
       -- column nullable-integral, which pandas widens to float64 on ONE
       -- side only when the other side happens to be NULL-free — double on
       -- both engines is representation-stable (r7 dtype-kind gate)
       CAST(date_diff('minute', last_obs, bucket_start) AS DOUBLE)
           AS staleness_min
FROM filled
ORDER BY event_type, bucket_start
""",
)
def q_locf_value_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap-fill: the dense 15-minute
    grid per event type where empty buckets inherit the most recent
    observed average value plus a staleness age — the time-series repair
    `gapfilled_minutely_gmv`'s zero-fill is wrong for (a sensor reading, a
    price, a rate: absence means "unchanged", not "zero").

    Scale: identical spine discipline to the zero-fill twin — aggregate
    FIRST, so the LOCF window runs over the spine-sized grid (#buckets x
    #types), never over raw events; the carry is `last(ignorenulls)` with
    a per-type partition, so no global window exists anywhere."""
    events = load_table(spark, "events", sf_dir)
    # epoch-aligned 15-min bucket via integer arithmetic: identical to
    # DuckDB's time_bucket (whose origin 2000-01-01 is 900-divisible in
    # epoch seconds), and — unlike F.window — usable twice in one select
    bucket15 = lambda c: F.timestamp_seconds(  # noqa: E731
        F.expr(f"unix_timestamp({c}) div 900") * 900
    )
    bounds = events.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).select(bucket15("mn").alias("t0"), bucket15("mx").alias("t1"))
    spine = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 15 MINUTE"))).alias(
            "bucket_start"
        )
    )
    types = events.select("event_type").distinct()
    obs = events.groupBy(
        "event_type", bucket15("ts").alias("bucket_start")
    ).agg(
        cents_sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("cents"),
        F.count("*").alias("cnt"),
    )
    grid = (
        spine.crossJoin(F.broadcast(types))
        .join(obs, ["event_type", "bucket_start"], "left")
        .select(
            "event_type",
            "bucket_start",
            fround(F.col("cents") / 100.0 / F.col("cnt"), 4).alias("avg_val"),
            F.when(F.col("cnt").isNotNull(), F.col("bucket_start")).alias(
                "obs_bucket"
            ),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "event_type",
        "bucket_start",
        F.col("obs_bucket").isNotNull().alias("is_observed"),
        F.last("avg_val", ignorenulls=True).over(w).alias("value_locf"),
        (
            (
                F.unix_timestamp("bucket_start")
                - F.unix_timestamp(F.last("obs_bucket", ignorenulls=True).over(w))
            )
            / 60
        )
        # double, not long: nullable-integral outputs are representation-
        # unstable through the driver's pandas canonicalizer (see oracle)
        .cast("long")
        .cast("double")
        .alias("staleness_min"),
        # no output orderBy: rows already leave the LOCF window sorted within
        # each type partition and the compare is order-insensitive — a global
        # range exchange here is cosmetic
    )


# One SQL text, two engines: runs UNMODIFIED on Spark SQL and DuckDB.
# Restricted to the shared ANSI dialect (explicit CASTs, single-arg round,
# fixed-point cents) so the bytes of the query ARE the portability proof.
_SHARED_ANSI_SQL = """
WITH rev AS (
    SELECT
        n.n_name AS nation,
        CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
            AS cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
)
SELECT
    nation,
    CAST(sum(cents) AS DOUBLE) / 100 AS revenue,
    count(*) AS n_items
FROM rev
GROUP BY nation
ORDER BY nation
"""


@query("ansi_shared_sql_revenue", oracle=_SHARED_ANSI_SQL)
def q_ansi_shared_sql_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity, taken literally: the SAME SQL text is submitted
    to Spark (`spark.sql` over temp views) and to DuckDB as the oracle —
    zero translation, byte-identical query string (see `_SHARED_ANSI_SQL`
    being passed as BOTH the builder's statement and the oracle).  This is
    the migration story for a user arriving with ANSI SQL reports: the
    engine's SQL entry point runs them unchanged, and Catalyst still gets
    full optimization freedom (broadcast dims, partial aggs) because the
    text declares only the logical plan.

    Determinism in shared dialect: money sums as fixed-point cents
    (`pricing_summary` pattern) expressed with nothing but CAST/round —
    both parsers accept it, both engines bit-match it.

    Note the temp views are session-global and fixture-named; the builder
    re-registers them for ITS sf_dir every call (via the shared
    ``register_views`` helper), so a session mixing scale factors must not
    rely on these names between builds."""
    from e_commerce_streaming_datapipeline_spark.sources.batch import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SHARED_ANSI_SQL)


# --------------------------------------------------------------------------
# Frequent event-path n-grams (sequence mining)
# --------------------------------------------------------------------------

_PATH_N = 3
_PATH_TOP_K = 15


@query(
    "event_path_ngrams",
    oracle=f"""
WITH paths AS (
    SELECT string_agg(substr(event_type, 1, 1), ''
               ORDER BY epoch_us(ts), coalesce(event_id, 4611686018427387904))
               AS shape
    FROM events WHERE ts IS NOT NULL GROUP BY user_id
), grams AS (
    SELECT substr(shape, i, {_PATH_N}) AS gram
    FROM paths, LATERAL unnest(generate_series(1, len(shape) - {_PATH_N - 1})) AS t(i)
    WHERE len(shape) >= {_PATH_N}
)
SELECT gram, count(*) AS n_paths
FROM grams GROUP BY 1
ORDER BY n_paths DESC, gram
LIMIT {_PATH_TOP_K}
""",
)
def q_event_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral path mining (PrefixSpan's contiguous little
    sibling): every user's event sequence collapses to an ordered
    initial-string and the corpus-wide top-{_PATH_TOP_K} {_PATH_N}-grams of
    those paths are counted — the "what do users actually do around a
    purchase" signal behind funnel redesign and bot fingerprinting.

    Plan: ONE hash aggregation builds each user's path (sort_array over
    collected (ts, id, initial) structs — the journey_shape_pairs idiom, no
    per-event window), n-gram expansion is a row-local generator expression
    over the path string, and the top-k is TakeOrdered (per-partition
    heaps) after a gram-keyed partial-aggregated count.  The gram alphabet
    is event-type initials, so cardinality is bounded (|types|^{_PATH_N})
    and the count shuffle is tiny regardless of corpus size.

    Sequencing policy (r8 edge pin): a NULL-ts event cannot be ordered
    into a path and drops on BOTH engines; a NULL event_id tie-breaks
    NULLS LAST on both — sort_array cannot express per-field null order,
    so the struct carries coalesce(event_id, 2^62) and the oracle the same
    sentinel."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    paths = (
        events.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("ts_us"),
                        F.coalesce(
                            F.col("event_id"), F.lit(4611686018427387904)
                        ).alias("event_id"),
                        F.substring("event_type", 1, 1).alias("ini"),
                    )
                )
            ).alias("evs")
        )
        .select(
            F.concat_ws("", F.transform(F.col("evs"), lambda e: e["ini"])).alias("shape")
        )
    )
    grams = paths.where(F.length("shape") >= _PATH_N).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("shape") - (_PATH_N - 1)),
                lambda i: F.col("shape").substr(i, F.lit(_PATH_N)),
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "gram")
        .limit(_PATH_TOP_K)
    )


@query(
    "gmv_local_tz_daily",
    oracle="""
SELECT
    CAST(ts - INTERVAL 3 HOUR AS DATE)                    AS local_date,
    count(*)                                              AS n_purchases,
    CAST(sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)) AS DOUBLE)
        / 100                                             AS gmv
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def q_gmv_local_tz_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-time reporting: daily purchase GMV on the MERCHANT's calendar
    (America/Sao_Paulo — the reference pipeline is Brazilian e-commerce,
    Olist), not UTC's.  A UTC-midnight rollup splits every Brazilian
    business day across two rows; this is the rollup a local analyst
    actually reads, and days differ from the UTC twin whenever a purchase
    lands in the 00:00-03:00 UTC window.

    The Spark side exercises the REAL timezone machinery
    (``from_utc_timestamp`` with a named zone, tzdb-driven).  The oracle
    encodes the conversion as a fixed -3h offset, which IS the zone's
    correct conversion over the fixture's entire 2024 range — Brazil
    abolished DST in 2019, so the named-zone path and the fixed offset
    must agree; a divergence (e.g. a tzdb regression) breaks the hash.
    DuckDB's own ``timezone()`` is deliberately avoided in the oracle: its
    naive-timestamp interpretation depends on the session TimeZone, which
    the driver does not pin.

    Scale shape: identical to the UTC daily rollup — the conversion is a
    per-row map-side expression; one hash agg on the local-date key."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.where(F.col("event_type") == "purchase")
        .groupBy(
            F.to_date(
                F.from_utc_timestamp(F.col("ts"), "America/Sao_Paulo")
            ).alias("local_date")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            cents_sum_double(F.col("value")).alias("gmv"),
        )
    )


_PARAM_START, _PARAM_END = "1996-01-01", "1996-12-31"
_PARAM_MIN_TOTAL = 50_000.0


@query(
    "parameterized_revenue_window",
    oracle=f"""
SELECT
    o_orderpriority,
    count(*) AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
        AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_PARAM_START} 00:00:00'
  AND o_orderdate <= TIMESTAMP '{_PARAM_END} 00:00:00'
  AND o_totalprice >= {_PARAM_MIN_TOTAL}
GROUP BY 1
ORDER BY 1
""",
)
def q_parameterized_revenue_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (named parameter markers, `spark.sql(..., args=)`):
    the injection-safe way to ship user-supplied report bounds — parameters
    bind as typed literals in the parser, never by string concatenation, so
    a hostile `start` can't rewrite the query.  Markers bind plan-time
    literals, which also keeps predicate pushdown intact (the date bound
    reaches the parquet scan exactly like a hand-inlined constant).

    The reference's SQL tier has no parametrization story at all
    (`infrastructure/postgres/init_metrics.sql` ships fixed views); this is
    the production replacement for the string-formatted dashboards built on
    it."""
    from e_commerce_streaming_datapipeline_spark.sources.batch import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT
            o_orderpriority,
            count(*) AS n_orders,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
                AS revenue
        FROM orders
        WHERE o_orderdate >= :start AND o_orderdate <= :end
          AND o_totalprice >= :min_total
        GROUP BY 1
        ORDER BY 1
        """,
        args={
            # typed binds: datetime values arrive as TIMESTAMP literals, so
            # the raw o_orderdate comparison pushes down to the parquet scan
            "start": datetime.datetime.fromisoformat(_PARAM_START),
            "end": datetime.datetime.fromisoformat(_PARAM_END),
            "min_total": _PARAM_MIN_TOTAL,
        },
    )


# ONE SQL text, two engines (the ansi_shared_sql_revenue discipline): the
# bytes of the query are the portability proof.
_LATERAL_TOPK_SQL = """
SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
FROM orders o, LATERAL (
    SELECT l_linenumber, l_extendedprice FROM lineitem
    WHERE l_orderkey = o.o_orderkey
    ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
) l
WHERE o.o_orderpriority = '1-URGENT'
"""


@query("lateral_top_lineitems", oracle=_LATERAL_TOPK_SQL)
def q_lateral_top_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (per-order top-2 lineitems by price) —
    the SQL shape analysts write naturally for per-entity top-k, submitted
    as ONE byte-identical string to both engines.

    The scale story is what Catalyst does with it: the correlated LIMIT
    subquery is DECORRELATED into a row_number window (partial
    WindowGroupLimit — each map task forwards at most 2 rows per order into
    the shuffle) plus one hash join; no per-row re-execution of the inner
    query survives planning, so the naive O(orders x lineitem-scan) reading
    of the syntax never runs.  Pinned by test: no nested-loop/cartesian in
    the physical plan."""
    from e_commerce_streaming_datapipeline_spark.sources.batch import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPK_SQL)


# --------------------------------------------------------------------------
# Watermark advisor: out-of-orderness (lateness) profile of the ingest feed
# --------------------------------------------------------------------------

_LATE_BUCKET_W = 512  # ingest-ids per prefix-max bucket (two-phase scan)


@query(
    "lateness_watermark_profile",
    oracle="""
WITH arrivals AS (
    SELECT event_id, ts,
           max(ts) OVER (ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING) AS high_water
    FROM events
    WHERE ts IS NOT NULL AND event_id IS NOT NULL
), late AS (
    -- floor each side to whole seconds BEFORE subtracting: Spark's
    -- unix_timestamp truncates per row, and fractional-second micros
    -- would otherwise skew the difference by one
    SELECT CAST(floor(epoch(high_water)) - floor(epoch(ts)) AS BIGINT)
               AS late_s
    FROM arrivals
)
SELECT
    count(*)                                               AS n_events,
    CAST(sum(CASE WHEN late_s = 0 THEN 1 ELSE 0 END) AS BIGINT)     AS on_time,
    CAST(sum(CASE WHEN late_s > 0 AND late_s <= 60 THEN 1 ELSE 0 END)
         AS BIGINT)                                        AS late_1m,
    CAST(sum(CASE WHEN late_s > 60 AND late_s <= 300 THEN 1 ELSE 0 END)
         AS BIGINT)                                        AS late_5m,
    CAST(sum(CASE WHEN late_s > 300 AND late_s <= 3600 THEN 1 ELSE 0 END)
         AS BIGINT)                                        AS late_1h,
    CAST(sum(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS late_over_1h,
    max(late_s)                                            AS max_late_s
FROM late
""",
)
def q_lateness_watermark_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK ADVISOR: measure the feed's actual out-of-orderness before
    choosing `withWatermark` delays — the input every streaming deployment
    needs and almost none measures.  Per event, lateness = (running max of
    event-time over ingest order) − own event-time; the histogram of that
    lateness IS the watermark decision: the delay you pick drops exactly
    the rows in the buckets beyond it.  Ingest order here is `event_id`
    (the fixture's producer assigns ids monotonically — corr(id, ts) ≈
    0.99998 with genuine local jitter, exactly a Kafka-offset shape).

    Scale shape: the running high-water over a unique ingest key is a
    TWO-PHASE prefix max (the rank decomposition applied to max): bucket
    ids by fixed width, per-bucket max (hash agg), exclusive prefix max
    over the bucket-summary relation (bounded: #buckets = id-range /
    width, metadata-sized like `compaction_plan`'s manifest), then
    within-bucket running max partitioned BY bucket — no single-partition
    pass ever touches the event relation.  The final histogram is one
    aggregate."""
    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    keyed = events.select(
        "event_id",
        F.unix_timestamp("ts").alias("es"),
        F.expr(f"event_id div {_LATE_BUCKET_W}").alias("bkt"),
    )
    per_bucket = keyed.groupBy("bkt").agg(F.max("es").alias("bkt_max"))
    # exclusive prefix max over the bucket-summary relation (bounded)
    prev_w = (
        Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_prefix = per_bucket.select(
        "bkt", F.max("bkt_max").over(prev_w).alias("prev_max")
    )
    in_bucket_w = (
        Window.partitionBy("bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = (
        keyed.join(broadcast(bucket_prefix), "bkt")
        .withColumn("run_max", F.max("es").over(in_bucket_w))
        .select(
            (
                F.greatest(F.coalesce(F.col("prev_max"), F.lit(0)), F.col("run_max"))
                - F.col("es")
            ).alias("late_s")
        )
    )
    b = lambda lo, hi: (  # noqa: E731
        (F.col("late_s") > lo) & (F.col("late_s") <= hi)
    ).cast("long")
    return late.agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("late_s") == 0).cast("long")).alias("on_time"),
        F.sum(b(0, 60)).alias("late_1m"),
        F.sum(b(60, 300)).alias("late_5m"),
        F.sum(b(300, 3600)).alias("late_1h"),
        F.sum((F.col("late_s") > 3600).cast("long")).alias("late_over_1h"),
        F.max("late_s").alias("max_late_s"),
    )


# One SQL text, two engines — the GROUP BY ALL / ORDER BY ALL dialect
# extension both Spark 4 and DuckDB adopted (DuckDB originated it): every
# non-aggregate select item becomes a grouping key implicitly.
_SHARED_GROUP_BY_ALL_SQL = """
SELECT
    o_orderstatus  AS status,
    o_orderpriority AS priority,
    count(*)       AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
                   AS revenue
FROM orders
WHERE o_totalprice IS NOT NULL
GROUP BY ALL
ORDER BY ALL
"""


@query("group_by_all_revenue", oracle=_SHARED_GROUP_BY_ALL_SQL)
def q_group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` / `ORDER BY ALL` — the analyst-ergonomics dialect
    extension (DuckDB-originated, adopted by Spark 4) proven under the
    shared-SQL discipline: the SAME query text runs unmodified on both
    engines (`ansi_shared_sql_revenue`'s byte-identical pattern), so the
    implicit grouping-key inference itself is what is being parity-checked
    — both engines must infer {status, priority} as the keys and the full
    column list as the sort.  Exact-cents money discipline as everywhere.

    Scale: identical plan to the explicit GROUP BY (Catalyst resolves ALL
    during analysis — map-side partial aggregation, #groups-row shuffle);
    the feature is purely front-end."""
    from e_commerce_streaming_datapipeline_spark.sources.batch import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SHARED_GROUP_BY_ALL_SQL)


# --------------------------------------------------------------------------
# In-session ordered funnel conversion
# --------------------------------------------------------------------------


@query(
    "session_funnel_conversion",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id NULLS LAST)
                  > INTERVAL '{SESSION_GAP_MINUTES} minutes'
             OR lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id NULLS LAST) IS NULL
             THEN 1 ELSE 0 END AS is_new
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
), numbered AS (
    SELECT *, CAST(sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS session_seq
    FROM ordered
), l1 AS (
    SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        OVER (PARTITION BY user_id, session_seq) AS fv
    FROM numbered
), l2 AS (
    SELECT *, min(CASE WHEN event_type = 'click' AND ts >= fv THEN ts END)
        OVER (PARTITION BY user_id, session_seq) AS fc
    FROM l1
), l3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= fc THEN ts END)
        OVER (PARTITION BY user_id, session_seq) AS fp
    FROM l2
), sessions AS (
    SELECT user_id, session_seq,
           max(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS has_v,
           max(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS has_vc,
           max(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS has_vcp
    FROM l3 GROUP BY 1, 2
)
SELECT
    CAST(count(*) AS BIGINT)     AS n_sessions,
    CAST(sum(has_v) AS BIGINT)   AS n_with_view,
    CAST(sum(has_vc) AS BIGINT)  AS n_view_click,
    CAST(sum(has_vcp) AS BIGINT) AS n_view_click_purchase,
    CAST(sum(has_vc) * 1000000 // sum(has_v) AS BIGINT)   AS click_rate_x1e6,
    CAST(sum(has_vcp) * 1000000 // sum(has_vc) AS BIGINT) AS purchase_rate_x1e6
FROM sessions
""",
)
def q_session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel measured INSIDE session boundaries — the product
    metric `funnel_hourly` (wall-clock buckets) and `ordered_funnel`
    (whole-history ordering) both approximate: a conversion only counts if
    view → click → purchase happen in order within ONE session
    ({SESSION_GAP_MINUTES}-minute inactivity gap), which is how funnel
    numbers are actually quoted (cross-session purchases are re-engagement,
    not funnel completion).  Same-instant progression counts (>= bounds,
    identical on both engines).

    Plan: ONE shuffle on user_id serves the sessionization lag/cumsum AND,
    after the (user, session) key extends it, the three chained
    first-milestone windows (each layer's min() reuses the same partition;
    Catalyst collapses them into one sort) — then a session-grain hash agg
    and a 1-row rollup.  No joins, no per-stage re-scans; at 100 TB this is
    the canonical "derive milestones along the entity timeline in one
    pass" shape, the same discipline as `pit_feature_assembly`."""
    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts"), F.col("event_id").asc_nulls_last()
    )
    prev_ts = F.lag(F.col("ts")).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (
            (F.col("ts") - prev_ts)
            > F.expr(f"INTERVAL {SESSION_GAP_MINUTES} MINUTES")
        ),
        1,
    ).otherwise(0)
    numbered = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    sw = Window.partitionBy("user_id", "session_seq")
    l1 = numbered.withColumn(
        "fv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(sw),
    )
    l2 = l1.withColumn(
        "fc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("fv")),
                F.col("ts"),
            )
        ).over(sw),
    )
    l3 = l2.withColumn(
        "fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("fc")),
                F.col("ts"),
            )
        ).over(sw),
    )
    sessions = l3.groupBy("user_id", "session_seq").agg(
        F.max(F.when(F.col("fv").isNotNull(), 1).otherwise(0)).alias("has_v"),
        F.max(F.when(F.col("fc").isNotNull(), 1).otherwise(0)).alias("has_vc"),
        F.max(F.when(F.col("fp").isNotNull(), 1).otherwise(0)).alias("has_vcp"),
    )
    return sessions.groupBy().agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("has_v").cast("long").alias("n_with_view"),
        F.sum("has_vc").cast("long").alias("n_view_click"),
        F.sum("has_vcp").cast("long").alias("n_view_click_purchase"),
        F.expr("(sum(has_vc) * 1000000) div sum(has_v)").alias(
            "click_rate_x1e6"
        ),
        F.expr("(sum(has_vcp) * 1000000) div sum(has_vc)").alias(
            "purchase_rate_x1e6"
        ),
    )


# --------------------------------------------------------------------------
# 2-D binned heatmap rollup (hour-of-day x value bracket)
# --------------------------------------------------------------------------


@query(
    "hour_value_heatmap",
    oracle="""
WITH binned AS (
    -- -1 is EXCLUSIVELY the unpriced (NULL) sentinel; negative values
    -- (refunds) get their own -2 bracket rather than floor-colliding
    -- with it (r8 ADVICE #3)
    SELECT hour(ts) AS hour_of_day,
           CASE WHEN value IS NULL THEN -1
                WHEN value < 0 THEN -2
                ELSE least(CAST(floor(value / 10) AS BIGINT), 10) END AS value_decade
    FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
), cells AS (
    SELECT hour_of_day, value_decade, count(*) AS n
    FROM binned GROUP BY 1, 2
), rows_tot AS (
    SELECT hour_of_day, sum(n) AS hour_total FROM cells GROUP BY 1
)
SELECT
    CAST(c.hour_of_day AS INT)     AS hour_of_day,
    CAST(c.value_decade AS INT)    AS value_decade,
    CAST(c.n AS BIGINT)            AS n_purchases,
    CAST(c.n * 1000000 // r.hour_total AS BIGINT) AS hour_share_x1e6
FROM cells c JOIN rows_tot r USING (hour_of_day)
ORDER BY 1, 2
""",
)
def q_hour_value_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D BINNED HEATMAP rollup — purchase density over (hour of day ×
    price bracket), each cell carrying its count and its share of the
    hour's row total: the exact relation behind a dashboard heatmap panel
    (the Grafana tier the reference serves with per-metric SQL,
    QUERIES.md) and the visual where basket-size shifts by daypart show
    up before any single-dimension rollup moves.  Value brackets are
    $10 decades capped at 10 ('$100+'); unpriced purchases get their own
    -1 bracket rather than vanishing, and NEGATIVE values (refunds) get a
    distinct -2 bracket so they can never floor-collide with the NULL
    sentinel (r8 ADVICE #3: a value in (-10, 0) floors to -1).

    Exactness: binning is integer floor-division, shares are exact scaled
    integer division against the hour-marginal rollup — no floats
    anywhere.  NULL-ts rows are unbinnable and drop on both engines.

    Scale shape: ONE fact scan into a hash aggregate on the bounded
    24×12 cell grid (map-side combine collapses everything early); the
    hour marginal re-aggregates the CELL relation, not the corpus, and
    the share join is grid-sized.  The same plan shape serves any
    bounded 2-D binning (weekday×lang, source×length-bucket...)."""
    binned = (
        load_table(spark, "events", sf_dir)
        .where((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .select(
            F.hour("ts").alias("hour_of_day"),
            F.when(F.col("value").isNull(), F.lit(-1))
            .when(F.col("value") < 0, F.lit(-2))
            .otherwise(
                F.least(F.floor(F.col("value") / 10).cast("long"), F.lit(10))
            )
            .cast("long")
            .alias("value_decade"),
        )
    )
    cells = binned.groupBy("hour_of_day", "value_decade").agg(
        F.count("*").cast("long").alias("n_purchases")
    )
    hour_tot = cells.groupBy("hour_of_day").agg(
        F.sum("n_purchases").alias("hour_total")
    )
    return (
        cells.join(hour_tot, "hour_of_day")
        .select(
            F.col("hour_of_day").cast("int").alias("hour_of_day"),
            F.col("value_decade").cast("int").alias("value_decade"),
            "n_purchases",
            F.expr("(n_purchases * 1000000) div hour_total").alias(
                "hour_share_x1e6"
            ),
        )
        .orderBy("hour_of_day", "value_decade")
    )


# --------------------------------------------------------------------------
# Session-gap sensitivity sweep: the sessionization-policy tuning curve
# --------------------------------------------------------------------------

_SESSION_GAP_SWEEP_MIN = (10, 30, 60)


@query(
    "session_gap_sensitivity",
    oracle=f"""
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts), coalesce(event_id, 4611686018427387904)
           ) AS gap_us
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), folded AS (
    SELECT count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           {", ".join(f"count_if(gap_us > CAST({m} AS BIGINT) * 60000000) AS brk_{m}"
                      for m in _SESSION_GAP_SWEEP_MIN)}
    FROM gaps
)
SELECT
    CAST(t.gap_minutes AS INT) AS gap_minutes,
    CAST(CASE t.gap_minutes {" ".join(f"WHEN {m} THEN n_users + brk_{m}"
                                      for m in _SESSION_GAP_SWEEP_MIN)} END
         AS BIGINT) AS n_sessions,
    CAST(f.n_events AS BIGINT) AS n_events,
    CAST(f.n_events * 100 // (CASE t.gap_minutes
         {" ".join(f"WHEN {m} THEN n_users + brk_{m}"
                   for m in _SESSION_GAP_SWEEP_MIN)} END)
         AS BIGINT) AS events_per_session_x100
FROM folded f,
     (SELECT unnest([{", ".join(str(m) for m in _SESSION_GAP_SWEEP_MIN)}])
          AS gap_minutes) t
ORDER BY 1
""",
)
def q_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization-POLICY tuning curve — how many sessions the corpus
    splits into at inactivity gaps of 10/30/60 minutes, with the mean
    session length at each: the table that decides `user_sessions`' gap
    parameter (too small fragments journeys, too large fuses visits), the
    sessionization sibling of the r7 policy sweeps
    (`conversion_window_sweep`, `jaccard_threshold_sweep`).

    The whole grid costs ONE window pass: per-event inactivity gaps are
    computed once (user-partitioned lag, the `user_sessions` shuffle), and
    each threshold's session count is the exact identity
    n_sessions(T) = n_users + #(gap > T) — a conditional count, so adding
    grid points costs one counter each, never a re-scan.  Ordering pins
    the NULL-id tie via the 2^62 sentinel on both engines; NULL user/ts
    rows are unsessionizable and drop (the `user_sessions` policy)."""
    us = F.unix_micros("ts")
    lw = Window.partitionBy("user_id").orderBy(
        us, F.coalesce(F.col("event_id"), F.lit(4611686018427387904))
    )
    gaps = (
        load_table(spark, "events", sf_dir)
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", (us - F.lag(us).over(lw)).alias("gap_us"))
    )
    folded = gaps.agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        *[
            F.sum(
                F.when(F.col("gap_us") > m * 60_000_000, 1).otherwise(0)
            ).alias(f"brk_{m}")
            for m in _SESSION_GAP_SWEEP_MIN
        ],
    )
    stacked = folded.select(
        "n_events",
        F.expr(
            "stack({n}, {args}) AS (gap_minutes, n_sessions)".format(
                n=len(_SESSION_GAP_SWEEP_MIN),
                args=", ".join(
                    f"{m}, n_users + brk_{m}" for m in _SESSION_GAP_SWEEP_MIN
                ),
            )
        ),
    )
    return stacked.select(
        F.col("gap_minutes").cast("int").alias("gap_minutes"),
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.col("n_events").cast("long").alias("n_events"),
        F.expr("(n_events * 100) div n_sessions").alias("events_per_session_x100"),
    ).orderBy("gap_minutes")


# --------------------------------------------------------------------------
# Peak concurrent sessions (sweep-line over session intervals)
# --------------------------------------------------------------------------

_DAY_US = 86_400_000_000


@query(
    "peak_concurrent_sessions",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL '{SESSION_GAP_MINUTES} minutes'
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), numbered AS (
    SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM ordered
), sessions AS (
    SELECT user_id, session_seq,
           epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
    FROM numbered GROUP BY 1, 2
), seg AS (
    SELECT s.*, d.day,
           greatest(s.s_us, d.day * {_DAY_US})           AS seg_start,
           least(s.e_us, (d.day + 1) * {_DAY_US} - 1)    AS seg_end
    FROM sessions s,
         unnest(generate_series(s.s_us // {_DAY_US}, s.e_us // {_DAY_US}))
             AS d(day)
), points AS (
    SELECT day, seg_start AS us, 1 AS delta FROM seg
    UNION ALL
    SELECT day, seg_end + 1 AS us, -1 AS delta FROM seg
), swept AS (
    SELECT day, sum(delta) OVER (
        PARTITION BY day ORDER BY us, delta
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
    FROM points
), segs_per_day AS (
    SELECT day, count(*) AS n_segments FROM seg GROUP BY 1
)
SELECT
    CAST(sw.day AS BIGINT)         AS day_num,
    CAST(sp.n_segments AS BIGINT)  AS n_segments,
    CAST(max(sw.load) AS BIGINT)   AS peak_concurrent
FROM swept sw JOIN segs_per_day sp USING (day)
GROUP BY 1, 2
ORDER BY 1
""",
)
def q_peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the SWEEP-LINE algorithm over
    session intervals (the capacity metric connection pools, state
    stores, and licensing are sized on; `user_sessions` builds the
    intervals, this measures their OVERLAP, which no per-session
    aggregate can see).  Sessions use the identical 30-minute
    gaps-and-islands rule as the twin; intervals crossing midnight split
    into per-day segments; each segment contributes +1 at its (inclusive)
    start and -1 just after its end, and the peak is the max prefix sum —
    end-exclusive tie order (-1 before +1 at the same microsecond), so
    back-to-back sessions never double-count.

    Plan shape: one user-keyed shuffle for sessionization (shared shape
    with the twin), a bounded per-session day explode (sessions are
    minutes long — almost always 1 segment), and a DAY-PARTITIONED
    prefix-sum window over the 2×segments point relation — parallel
    across days, never a global window.  All exact integer microseconds;
    NULL users are excluded (an unidentified row is nobody's session)."""
    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts")).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (
            (F.col("ts") - prev_ts)
            > F.expr(f"INTERVAL {SESSION_GAP_MINUTES} MINUTES")
        ),
        1,
    ).otherwise(0)
    sessions = (
        events.select("user_id", "ts", "event_id")
        .withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            F.unix_micros(F.max("ts")).alias("e_us"),
        )
    )
    seg = sessions.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {_DAY_US}"), F.expr(f"e_us div {_DAY_US}")
            )
        ),
    ).select(
        "day",
        F.greatest(F.col("s_us"), F.col("day") * _DAY_US).alias("seg_start"),
        F.least(F.col("e_us"), (F.col("day") + 1) * _DAY_US - 1).alias(
            "seg_end"
        ),
    )
    points = seg.select(
        "day", F.col("seg_start").alias("us"), F.lit(1).alias("delta")
    ).unionAll(
        seg.select(
            "day", (F.col("seg_end") + 1).alias("us"), F.lit(-1).alias("delta")
        )
    )
    sweep_w = (
        Window.partitionBy("day")
        .orderBy("us", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = points.select("day", F.sum("delta").over(sweep_w).alias("load"))
    segs_per_day = seg.groupBy("day").agg(F.count("*").alias("n_segments"))
    return (
        swept.join(segs_per_day, "day")
        .groupBy("day", "n_segments")
        .agg(F.max("load").cast("long").alias("peak_concurrent"))
        .select(
            F.col("day").cast("long").alias("day_num"),
            F.col("n_segments").cast("long").alias("n_segments"),
            "peak_concurrent",
        )
        .orderBy("day_num")
    )
