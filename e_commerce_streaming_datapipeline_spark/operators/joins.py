"""Join family — reference operators J1-J3 (SURVEY §2.4) plus the true
multi-stream funnel join the reference advertises but never implements
(README.md:79 vs funnel_processor.py:23).

* ``complete_funnel`` replicates the Postgres view ``v_complete_funnel``
  (init_metrics.sql:175-209): aggregate-then-join LEFT OUTER on window
  bounds with COALESCE defaults (J1 + J2).
* ``order_details`` is the real orders ⋈ lineitem correlation (J3 upgraded
  from the producer's pandas point lookup, event_generator.py:109,131).
* semi/anti variants answer the reference's proxied funnel stages honestly:
  "orders with items" / "orders without items".
* ``region_revenue`` is the dimension-enrichment join the reference loads
  CSVs for but never performs (event_generator.py:51-69 dead weight).

Scale notes: metric-table joins are tiny-on-tiny (post-aggregation
cardinality = #windows) — broadcast.  orders ⋈ lineitem is the big
fact-fact equi-join: co-partitioned shuffle on the order key; at 100 TB both
sides would be bucketed by orderkey so the shuffle disappears.  Dimension
joins (customer/nation/region) are explicit ``broadcast()`` so the 600k-row
fact side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, cents_sum, fround
from pyspark.sql.functions import broadcast

from e_commerce_streaming_datapipeline_spark.operators.dropoff import dropoff_analysis
from e_commerce_streaming_datapipeline_spark.operators.funnel import funnel_metrics
from e_commerce_streaming_datapipeline_spark.operators.gmv import gmv_tumbling
from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


# -- J1/J2: v_complete_funnel replica ---------------------------------------

@query(
    "complete_funnel",
    oracle="""
WITH funnel AS (
    SELECT
        date_trunc('hour', ts)                      AS window_start,
        date_trunc('hour', ts) + INTERVAL '1 hour'  AS window_end,
        count(*)                                    AS total_events,
        CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchases
    FROM events
    -- Spark's window() silently drops NULL-ts rows; date_trunc(NULL) would
    -- keep a NULL window group — drop unwindowable rows explicitly
    -- (functions/windows.py policy)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
), gmv AS (
    SELECT
        date_trunc('hour', ts) AS window_start,
        round(sum(value), 2)   AS gmv,
        count(*)               AS item_count
    FROM events WHERE ts IS NOT NULL AND event_type = 'purchase' GROUP BY 1
), pay AS (
    SELECT
        date_trunc('hour', ts) AS window_start,
        round(sum(coalesce(value, 0.0)), 2) AS total_payment_value,
        count(DISTINCT user_id)             AS paying_users
    FROM events
    WHERE ts IS NOT NULL AND event_type IN ('purchase', 'signup') GROUP BY 1
)
SELECT
    f.window_start,
    f.window_end,
    f.total_events,
    f.purchases,
    coalesce(g.gmv, 0.0)                  AS gmv,
    coalesce(g.item_count, 0)             AS item_count,
    coalesce(p.total_payment_value, 0.0)  AS total_payment_value,
    coalesce(p.paying_users, 0)           AS paying_users
FROM funnel f
LEFT JOIN gmv g USING (window_start)
LEFT JOIN pay p USING (window_start)
""",
)
def q_complete_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2: aggregate-then-join replica of v_complete_funnel
    (init_metrics.sql:175-209) — funnel ⟕ gmv ⟕ pre-aggregated payments on
    window bounds with COALESCE defaults."""
    events = load_table(spark, "events", sf_dir)
    hour = F.window(F.col("ts"), "1 hour")

    funnel = (
        events.groupBy(hour.alias("w"))
        .agg(
            F.count("*").alias("total_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
        )
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"),
                "total_events", "purchases")
    )
    gmv = (
        events.where(F.col("event_type") == "purchase")
        .groupBy(hour.alias("w"))
        .agg(fround(F.sum("value"), 2).alias("gmv"), F.count("*").alias("item_count"))
        .select(F.col("w.start").alias("window_start"), "gmv", "item_count")
    )
    pay = (
        events.where(F.col("event_type").isin("purchase", "signup"))
        .groupBy(hour.alias("w"))
        .agg(
            fround(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("total_payment_value"),
            F.count_distinct(F.col("user_id")).alias("paying_users"),
        )
        .select(F.col("w.start").alias("window_start"), "total_payment_value", "paying_users")
    )
    # post-aggregation relations are #windows rows — broadcast both right sides
    return (
        funnel.join(broadcast(gmv), "window_start", "left")
        .join(broadcast(pay), "window_start", "left")
        .select(
            "window_start",
            "window_end",
            "total_events",
            "purchases",
            F.coalesce(F.col("gmv"), F.lit(0.0)).alias("gmv"),
            F.coalesce(F.col("item_count"), F.lit(0)).alias("item_count"),
            F.coalesce(F.col("total_payment_value"), F.lit(0.0)).alias("total_payment_value"),
            F.coalesce(F.col("paying_users"), F.lit(0)).alias("paying_users"),
        )
    )


# -- J3 upgraded: the true funnel join (orders ⋈ lineitem) -------------------

@query(
    "order_details",
    oracle="""
SELECT
    o.o_orderkey,
    o.o_orderstatus,
    o.o_totalprice,
    count(*)                                            AS item_count,
    CAST(count(DISTINCT l.l_partkey) AS BIGINT)         AS distinct_parts,
    -- fixed-point integer sum: the summands have 4 decimal places, so a
    -- double sum can land on an exact half-cent where cross-engine addition
    -- order flips the rounding; scaled-long arithmetic is exact and
    -- order-independent like DECIMAL but stays on the fast long-sum path
    round(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))
               AS DOUBLE) / 10000.0 * 100) / 100 AS order_revenue
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2, 3
""",
)
def q_order_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True orders ⋈ lineitem correlation per order — the fact-fact equi-join
    the reference proxies via status buckets.

    Plan shape: lineitem is pre-aggregated to (orderkey, partkey) grain
    BEFORE the join — this (a) turns COUNT(DISTINCT partkey) into a plain
    count over the pre-deduplicated rows, avoiding the Expand-based distinct
    aggregation, and (b) shrinks the join probe side to distinct keys
    (aggregate-then-join, ~40% faster here).  Both aggregations get map-side
    partial combine.  At 100 TB both facts are bucketed by orderkey so
    neither the pre-agg shuffle nor the join shuffle moves data."""
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    # scaled-long revenue: order-independent exact arithmetic (oracle note);
    # exact partial sums stay exact through the two-level aggregation
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
    per_part = lineitem.groupBy("l_orderkey", "l_partkey").agg(
        F.count("*").alias("__cnt"), F.sum(rev).alias("__rev")
    )
    return (
        orders.join(per_part, orders.o_orderkey == per_part.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(
            F.sum("__cnt").alias("item_count"),
            # COUNT(DISTINCT x) skips NULLs; the pre-deduplicated groups
            # include a (orderkey, NULL) group when a lineitem has no part,
            # so a plain count(*) here would overcount by one — condition on
            # the group key instead (pinned by the lineitem-edge fixture)
            F.sum(F.when(F.col("l_partkey").isNotNull(), 1).otherwise(0)).alias(
                "distinct_parts"
            ),
            fround(F.sum("__rev") / 10000.0, 2).alias("order_revenue"),
        )
    )


@query(
    "orders_with_items",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
""",
)
def q_orders_with_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: orders that have at least one lineitem (honest version
    of the reference's 'orders_with_items' funnel stage,
    funnel_processor.py:32-35)."""
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir).select("l_orderkey")
    return orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "orders_without_items",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
""",
)
def q_orders_without_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: orders with no lineitems — the 'dropped_after_order'
    population (funnel_processor.py:56-58) computed by correlation instead of
    status proxy."""
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir).select("l_orderkey")
    return orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


# -- dimension enrichment (multi-hop broadcast joins) ------------------------

@query(
    "region_revenue",
    oracle="""
SELECT
    r.r_name                    AS region,
    n.n_name                    AS nation,
    count(DISTINCT o.o_orderkey) AS orders,
    count(DISTINCT c.c_custkey)  AS customers,
    round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""",
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop dimension enrichment: orders ⋈ customer ⋈ nation ⋈ region,
    revenue per region/nation.  All three dims are broadcast — the fact table
    never shuffles for the joins, only for the final small-key aggregation.

    The two distinct counts fold through a per-customer pre-aggregate: an
    order has exactly one customer, so the region/nation order count is the
    sum of the per-customer distinct counts, and the customer count is the
    number of per-customer groups (the join key is never NULL).  One
    distinct aggregate, so no Expand, whose group order would follow the
    JVM's expression-id counter and change the plan between builds."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return (
        orders
        .join(broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "c_custkey")
        .agg(
            F.count_distinct("o_orderkey").alias("n_orders"),
            F.sum("o_totalprice").alias("cust_revenue"),
        )
        .groupBy("region", "nation")
        .agg(
            F.sum("n_orders").alias("orders"),
            F.count("*").alias("customers"),
            fround(F.sum("cust_revenue"), 2).alias("revenue"),
        )
    )


@query(
    "shipping_priority",
    oracle="""
SELECT
    l.l_orderkey                                       AS orderkey,
    -- scaled-long fixed point: the 4dp summands land on exact half-cents
    -- where a double sum's addition order flips the rounding (see
    -- order_details)
    round(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))
               AS DOUBLE) / 10000.0 * 100) / 100 AS revenue,
    o.o_orderdate                                      AS orderdate,
    o.o_orderpriority                                  AS priority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-01'
  AND l.l_shipdate  > TIMESTAMP '1997-06-01'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, orderkey
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on all three relations, two joins,
    grouped revenue, global top-10.

    The scale anatomy Catalyst produces from this declarative plan: both
    date predicates push into the parquet scans (pruned before the joins);
    the filtered customer list broadcasts (semi-join role: only c_custkey
    survives pruning); lineitem — the only big relation left — shuffles once
    on orderkey; the top-10 is a TakeOrderedAndProject (per-partition heap,
    no global sort).  ORDER BY carries `orderkey` as tiebreak so the row set
    is deterministic across engines."""
    customer = load_table(spark, "customer", sf_dir).where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate") < "1997-06-01"
    )
    lineitem = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_shipdate") > "1997-06-01"
    )
    return (
        lineitem.join(
            orders.join(broadcast(customer), orders.o_custkey == customer.c_custkey)
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            # scaled-long fixed point (order_details discipline): at sf0.1,
            # 132 groups under these filters sum to an exact half-cent and
            # ~1/6 of them round differently under permuted addition order —
            # a live cross-engine hash flake on a plain double sum
            fround(
                F.sum(
                    cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
                )
                / 10000.0,
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


@query(
    "above_avg_orders",
    oracle="""
SELECT o_orderstatus, count(*) AS n_orders, round(min(o_totalprice), 2) AS min_price
FROM orders
-- exact-cents average: identical integer sum and identical division
-- sequence on both engines, so no ulp gap a boundary order can fall into
WHERE o_totalprice > (
    SELECT CAST(sum(round(o_totalprice * 100)::BIGINT) AS DOUBLE) / 100 / count(*)
    FROM orders)
GROUP BY 1
""",
)
def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (orders above the global average price): Catalyst
    plans the uncorrelated subquery as an independent one-row aggregate
    evaluated once and injected as a literal — the fact is scanned twice but
    filtered in one pass, never nested-loop re-evaluated per row."""
    orders = load_table(spark, "orders", sf_dir)
    # exact threshold: cents sum (exact long) divided identically to the
    # oracle — a float F.avg's engine-specific summation order could put the
    # cut inside an ulp gap a real order price falls into
    spark_avg = orders.select(
        (
            cents_sum(F.col("o_totalprice")).cast("double") / 100 / F.count("*")
        ).alias("a")
    )
    return (
        scalar_join(orders, spark_avg)
        .where(F.col("o_totalprice") > F.col("a"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            fround(F.min("o_totalprice"), 2).alias("min_price"),
        )
    )


@query(
    "big_spender_nations",
    oracle="""
SELECT n.n_name AS nation, count(*) AS big_spenders
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
GROUP BY 1
""",
)
def q_big_spender_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS, decorrelated to a left-semi join: customers with at
    least one 300k+ order, counted per nation.  The filter on orders applies
    BEFORE the semi join (build side is only qualifying custkeys), and the
    nation dim broadcasts — the standard decorrelation Catalyst performs on
    the equivalent SQL."""
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    big = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("big_spenders"))
    )


@query(
    "promo_revenue",
    oracle="""
SELECT
    CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
    round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                           THEN round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT
                           ELSE 0 END)
          / sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT) * 100) / 100
        AS promo_share_pct,
    CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT) AS DOUBLE) / 100
        AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
""",
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per ship month — lineitem ⋈ part
    with a conditional numerator over the joined relation.

    The part dim broadcasts (the fact never shuffles for the join); both
    sides of the share ratio aggregate scaled-long cents so the division
    operates on exact integers — the conditional-sum-over-join pattern with
    no float drift (fixed point: ``functions/rounding.py``)."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = lineitem.join(broadcast(part), lineitem.l_partkey == part.p_partkey)
    return (
        joined.groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).alias("_p"),
            F.sum(rev).alias("_t"),
        )
        .select(
            "ship_month",
            fround(100.0 * F.col("_p") / F.col("_t"), 2).alias("promo_share_pct"),
            (F.col("_t").cast("double") / 100).alias("total_revenue"),
        )
    )


@query(
    "local_supplier_volume",
    oracle="""
SELECT
    n.n_name AS nation,
    count(*) AS local_lineitems,
    CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT) AS DOUBLE) / 100
        AS local_revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE c.c_nationkey = s.s_nationkey
GROUP BY 1
""",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue where customer and supplier share a nation
    (the "local supply chain" join) — a 5-relation join whose selective
    predicate (`c_nationkey = s_nationkey`) correlates two different
    branches of the join tree.

    supplier/nation broadcast; orders⋈customer prunes to (orderkey,
    nationkey) before touching lineitem, so the big fact shuffles once on
    orderkey and everything else rides broadcasts."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    supplier = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    nation = load_table(spark, "nation", sf_dir)
    revenue = cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    order_nation = orders.join(
        broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "c_nationkey")
    return (
        lineitem.join(order_nation, lineitem.l_orderkey == F.col("o_orderkey"))
        .join(broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("local_lineitems"),
            (revenue.cast("double") / 100).alias("local_revenue"),
        )
    )


@query(
    "promo_window_attribution",
    oracle="""
WITH minute_rev AS (
    SELECT date_trunc('minute', ts) AS window_peak,
           sum(CAST(round(value * 100) AS BIGINT)) AS rev_cents
    FROM events
    WHERE event_type = 'purchase' AND ts IS NOT NULL
    GROUP BY 1
), top10 AS (
    SELECT window_peak FROM minute_rev
    ORDER BY rev_cents DESC, window_peak
    LIMIT 10
), w AS (
    SELECT window_peak,
           window_peak - INTERVAL 45 MINUTE AS w_start,
           window_peak + INTERVAL 45 MINUTE AS w_end
    FROM top10
)
SELECT
    w.window_peak,
    count(*)                  AS n_events,
    count(DISTINCT e.user_id) AS n_users,
    CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                           THEN CAST(round(e.value * 100) AS BIGINT) END), 0)
         AS DOUBLE) / 100     AS promo_revenue
FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY 1
""",
)
def q_promo_window_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS interval join, bucketized: attribute all site activity to the
    top-10 purchase-revenue "promo windows" (peak minute ± 45 min) — each
    event matches a window purely by timestamp containment, with NO shared
    equi-key to join on.

    Scale technique (the one this query exists to demonstrate): a naive
    ``e.ts BETWEEN w.start AND w.end`` join plans as a nested loop — O(N·M)
    and fatal when the interval relation is a real campaign catalog, not 10
    rows.  Instead each interval EXPLODES into the hour bins it covers
    (``sequence`` + ``explode``; ≤3 bins per 90-min window), each event maps
    to its one hour bin, and the join becomes an EQUI-join on the bin with
    the BETWEEN as a residual filter.  Because the probe side keeps exactly
    one bin per event, a window spanning several bins still matches each
    event at most once — no post-join dedup.  At 10⁶ campaigns × 10¹⁰
    events this is a plain shuffle hash join on bin (skew-salting the hot
    bins if campaigns cluster); here the interval side is small enough that
    Catalyst broadcasts it, same shape either way.

    Window derivation is deterministic: peak minutes ranked by exact
    cents revenue (TakeOrdered), minute ascending on ties.
    """
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    purchases = events.where(F.col("event_type") == "purchase")
    top10 = (
        purchases.groupBy(F.date_trunc("minute", "ts").alias("window_peak"))
        .agg(cents_sum(F.col("value")).alias("rev_cents"))
        .orderBy(F.col("rev_cents").desc(), "window_peak")
        .limit(10)
    )
    windows = top10.select(
        "window_peak",
        (F.col("window_peak") - F.expr("INTERVAL 45 MINUTE")).alias("w_start"),
        (F.col("window_peak") + F.expr("INTERVAL 45 MINUTE")).alias("w_end"),
    )
    # bin expansion on the INTERVAL side only: sequence() emits the hour bins
    # [hour(start) .. hour(end)] — a superset at the exclusive end, trimmed
    # by the residual predicate
    binned_windows = windows.select(
        "window_peak",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "w_start"),
                F.date_trunc("hour", "w_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("w_bin"),
    )
    binned_events = events.withColumn("bin", F.date_trunc("hour", "ts"))
    joined = binned_events.join(
        F.broadcast(binned_windows),
        (F.col("bin") == F.col("w_bin"))
        & (F.col("ts") >= F.col("w_start"))
        & (F.col("ts") < F.col("w_end")),
    )
    return joined.groupBy("window_peak").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        cents(F.col("value")),
                    )
                ),
                F.lit(0),
            ).cast("double")
            / 100
        ).alias("promo_revenue"),
    )
