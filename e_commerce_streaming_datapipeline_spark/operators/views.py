"""Downstream query surface — reference operators V1-V7 (SURVEY §2.7).

These queries run in Postgres in the reference (init_metrics.sql:157-239,
Grafana dashboards); here the whole tier is Spark SQL over the metric
DataFrames — no second database.

Also carries the approx_count_distinct surface (§2.3): HLL sketches don't
hash-match across engines, so the approx variant is registered without an
oracle (driver does a rows-only check) while every exact variant elsewhere is
fully hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import decimal_avg, fround

from e_commerce_streaming_datapipeline_spark.operators.dropoff import dropoff_analysis
from e_commerce_streaming_datapipeline_spark.operators.gmv import _GMV_ORACLE_AGGS, gmv_tumbling
from e_commerce_streaming_datapipeline_spark.operators.payment import PAYMENT_TYPE_SQL, payment_metrics
from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


@query(
    "latest_gmv_windows",
    oracle=f"""
SELECT * FROM (
    SELECT
        date_trunc('hour', ts)                     AS window_start,
        date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
        {_GMV_ORACLE_AGGS}
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
) ORDER BY window_start DESC LIMIT 24
""",
)
def q_latest_gmv_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1: latest-N metric windows (v_latest_funnel shape,
    init_metrics.sql:157-170) — ORDER BY window_start DESC LIMIT 24.
    window_start is unique per row so the top-N is deterministic."""
    events = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    return gmv_tumbling(events, "1 hour").orderBy(F.col("window_start").desc()).limit(24)


@query(
    "payment_rollup",
    oracle=f"""
WITH typed AS (
    SELECT *, {PAYMENT_TYPE_SQL} AS payment_type
    FROM events
)
SELECT
    payment_type,
    count(*)                                 AS transactions,
    round(sum(coalesce(value, 0.0)), 2)      AS total_value,
    round(CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(18,2))) AS DOUBLE)
          / count(*), 2)                     AS avg_value,
    count(DISTINCT user_id)                  AS unique_users
FROM typed
GROUP BY 1
""",
)
def q_payment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3: re-rollup over payment_type (v_payment_performance,
    init_metrics.sql:213-223) — global, not windowed."""
    from e_commerce_streaming_datapipeline_spark.operators.payment import with_payment_type

    events = with_payment_type(load_table(spark, "events", sf_dir))
    return events.groupBy("payment_type").agg(
        F.count("*").alias("transactions"),
        fround(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("total_value"),
        fround(
            decimal_avg(F.coalesce(F.col("value"), F.lit(0.0)), F.count("*")), 2
        ).alias("avg_value"),
        F.count_distinct(F.col("user_id")).alias("unique_users"),
    )


@query(
    "active_alerts",
    oracle="""
WITH per_status AS (
    SELECT
        date_trunc('hour', ts)                     AS window_start,
        date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
        event_type,
        count(*)                                   AS dropped_events,
        count(DISTINCT user_id)                    AS unique_users_affected,
        list_sort(list(CAST(event_id AS VARCHAR)))[1:3] AS sample_event_ids
    FROM events GROUP BY 1, 2, 3
), with_total AS (
    SELECT *, CAST(sum(dropped_events) OVER (PARTITION BY window_start) AS BIGINT) AS window_total
    FROM per_status
), dropoffs AS (
    SELECT * FROM with_total WHERE event_type IN ('click', 'error')
), thresh AS (
    SELECT 1.3 * (CAST(sum(dropped_events) AS DOUBLE) / count(*)) AS thr FROM dropoffs
)
SELECT
    window_start, window_end,
    event_type AS drop_status,
    dropped_events,
    unique_users_affected,
    round(dropped_events / window_total * 100, 2) AS drop_rate
FROM dropoffs, thresh
WHERE dropped_events > thr
""",
)
def q_active_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4: boolean-filtered alert feed (v_active_alerts,
    init_metrics.sql:227-239) with a self-normalizing threshold: a
    window/status cell alerts when its drop count exceeds 1.3x the mean
    cell count — unlike the reference's static `> 10` (meaningless at any
    other data volume), this fires at every scale factor and at 100 TB
    without retuning.  The mean is exact integer arithmetic (sum/count)
    broadcast as a 1-row relation, so the cut is bit-identical in DuckDB."""
    events = load_table(spark, "events", sf_dir)
    # metrics-only: skipping the sample branch saves a WindowGroupLimit pass
    # over all events, a collect_list, and a join whose output this view
    # immediately discards
    per = dropoff_analysis(events, "1 hour", include_samples=False).select(
        "window_start", "window_end", "drop_status",
        "dropped_events", "unique_users_affected", "drop_rate",
    )
    thresh = per.agg(
        (1.3 * (F.sum("dropped_events").cast("double") / F.count("*"))).alias("thr")
    )
    return (
        scalar_join(per, thresh)
        .where(F.col("dropped_events") > F.col("thr"))
        .drop("thr")
    )


@query(
    "stats_rollup",
    oracle="""
SELECT
    count(*)                                          AS total_events,
    count(DISTINCT user_id)                           AS unique_users,
    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS total_gmv,
    CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchases,
    CAST(min(ts) AS TIMESTAMP)                        AS first_event,
    CAST(max(ts) AS TIMESTAMP)                        AS last_event
FROM events
""",
)
def q_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5: scalar stat rollup (Grafana stat panels,
    ecommerce-streaming.json:55,102) — single-row global aggregate."""
    events = load_table(spark, "events", sf_dir)
    return events.agg(
        F.count("*").alias("total_events"),
        F.count_distinct(F.col("user_id")).alias("unique_users"),
        fround(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2
        ).alias("total_gmv"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
        F.min("ts").alias("first_event"),
        F.max("ts").alias("last_event"),
    )


@query(
    "status_flags",
    oracle="""
SELECT
    o_orderstatus,
    count(*)                               AS orders,
    bool_or(o_totalprice > 400000)         AS any_jumbo_order,
    bool_and(o_totalprice > 0)             AS all_positive,
    round(max(o_totalprice), 2)            AS max_price
FROM orders
GROUP BY 1
""",
)
def q_status_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6: BOOL_OR/BOOL_AND per status group (Grafana panel,
    ecommerce-streaming.json:346)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("orders"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo_order"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        fround(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "approx_unique_users_hourly",
    oracle="""
SELECT
    CAST(date_trunc('hour', ts) AS TIMESTAMP)                   AS window_start,
    CAST(date_trunc('hour', ts) + INTERVAL '1 hour' AS TIMESTAMP) AS window_end,
    CAST(count(DISTINCT user_id) AS BIGINT)                     AS n_users_exact,
    TRUE                                                        AS hll_within_envelope
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
def q_approx_unique_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 approx_count_distinct surface (HyperLogLog++, the reference's
    choice in every processor) — as a BOUNDS-ORACLE audit: the raw HLL
    estimate is engine-private (DuckDB's sketch would never hash-match
    Spark's), so instead of a rows-only row the query hashes the exact
    per-hour distinct count plus a boolean asserting the HLL estimate
    landed within 5x its configured rsd (0.05 → ±25%) of it.  The sketch
    still genuinely runs (the boolean derives from it) and the driver now
    verifies its accuracy CONTRACT cross-engine — stronger than the
    permanent `err: no_oracle` row it replaces (r8 verdict task #7;
    decision recorded in QUERIES.md).  The 5σ envelope makes the boolean
    deterministic-in-practice: HLL++ is exact in sparse mode and a >5σ
    deviation on the dense path is astronomically unlikely.

    NULL-ts rows are unwindowable and drop on both engines; an all-NULL
    user hour yields exact 0 = approx 0, inside any envelope."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    w = F.window(F.col("ts"), "1 hour")
    return (
        events.groupBy(w.alias("w"))
        .agg(
            F.approx_count_distinct("user_id", 0.05).alias("__approx"),
            F.count_distinct("user_id").alias("n_users_exact"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_users_exact",
            (
                F.abs(F.col("__approx") - F.col("n_users_exact")) * 100
                <= F.col("n_users_exact") * 25
            ).alias("hll_within_envelope"),
        )
    )


@query(
    "retention_filter",
    oracle="""
SELECT
    count(*)                 AS retained_events,
    CAST(min(ts) AS TIMESTAMP) AS oldest_retained
FROM events
WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL '7 days'
""",
)
def q_retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7: retention TTL (init_metrics.sql:247-287 delete) expressed as its
    read-side complement — events within the 7-day retention horizon.  At
    scale this is a partition-drop on an ingest-date layout, not a row scan."""
    events = load_table(spark, "events", sf_dir)
    horizon = events.agg(F.max("ts").alias("m"))
    kept = scalar_join(events, horizon).where(
        F.col("ts") >= F.col("m") - F.expr("INTERVAL 7 DAYS")
    )
    return kept.agg(
        F.count("*").alias("retained_events"),
        F.min("ts").alias("oldest_retained"),
    )


@query(
    "hll_users_daily_to_monthly",
    oracle="""
SELECT
    CAST(date_trunc('month', ts) AS TIMESTAMP)  AS month,
    CAST(count(*) AS BIGINT)                    AS events,
    CAST(count(DISTINCT user_id) AS BIGINT)     AS n_users_exact,
    TRUE                                        AS merged_within_envelope
FROM events WHERE ts IS NOT NULL
GROUP BY 1
""",
)
def q_hll_users_daily_to_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-day HLL sketches of user_id, unioned up
    to a monthly distinct estimate WITHOUT re-touching the raw events — the
    pattern that makes distinct counting tractable at 100 TB (store tiny
    per-partition sketches, re-aggregate to any coarser grain).

    `approx_count_distinct` (the reference's per-window choice) can't do
    this: its estimate is final, not mergeable.  `hll_sketch_agg` emits the
    sketch itself as a binary column; `hll_union_agg` + `hll_sketch_estimate`
    do the lossless union at rollup time.

    Checked as a BOUNDS-ORACLE audit (r8 verdict task #7, same design as
    `approx_unique_users_hourly`): the hashed output carries the exact
    monthly distinct count plus a boolean asserting the MERGED-sketch
    estimate landed within ±25% of it, so the driver verifies the
    merge path's accuracy contract instead of recording a permanent
    rows-only row.  The exact leg re-scans events — that is the audit's
    cost, not the rollup's (at 100 TB the audit runs sampled; the rollup
    itself stays sketch-only).  NULL-ts rows are date-truncatable on
    neither engine's month grain consistently with the hourly family, so
    both sides drop them."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("events"),
    )
    merged = daily.groupBy(F.date_trunc("month", F.col("day")).alias("month")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__approx"),
        F.sum("events").alias("events"),
    )
    exact = events.groupBy(F.date_trunc("month", F.col("ts")).alias("month")).agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    return merged.join(exact, "month").select(
        "month",
        "events",
        "n_users_exact",
        (
            F.abs(F.col("__approx") - F.col("n_users_exact")) * 100
            <= F.col("n_users_exact") * 25
        ).alias("merged_within_envelope"),
    )


# --------------------------------------------------------------------------
# Data-quality expectation report
# --------------------------------------------------------------------------

@query(
    "integrity_report",
    oracle="""
SELECT 'orders_fk_customer' AS check_name,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS violations,
       (SELECT count(*) FROM orders) AS checked
UNION ALL
SELECT 'lineitem_fk_orders',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'event_id_unique',
       (SELECT count(*) FROM (
            SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1)),
       (SELECT count(*) FROM events)
UNION ALL
SELECT 'events_ts_not_null',
       (SELECT count(*) FROM events WHERE ts IS NULL),
       (SELECT count(*) FROM events)
UNION ALL
SELECT 'purchase_value_positive',
       (SELECT count(*) FROM events
        WHERE event_type = 'purchase' AND coalesce(value, 0.0) <= 0),
       (SELECT count(*) FROM events WHERE event_type = 'purchase')
""",
)
def q_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation report — the dbt-test/Great-Expectations
    gate a pipeline runs before publishing a snapshot: referential
    integrity (orders→customer, lineitem→orders as LEFT ANTI probes),
    key uniqueness (event_id), not-null and domain checks, each reported
    as (check, violations, population).

    Every check is a scalable primitive: anti-joins broadcast the checked
    side's keys when bounded or shuffle as plain equi-joins when not;
    uniqueness is a hash-agg HAVING; null/domain checks are scan-local
    conditional counts.  The UNION ALL of 1-row aggregates keeps one job,
    and Spark runs the independent branches' stages concurrently."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    events = load_table(spark, "events", sf_dir)

    def one(name: str, violations, checked) -> DataFrame:
        return scalar_join(violations, checked).select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
            F.col("checked").cast("long").alias("checked"),
        )

    orders_fk = one(
        "orders_fk_customer",
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        ).agg(F.count("*").alias("violations")),
        orders.agg(F.count("*").alias("checked")),
    )
    lineitem_fk = one(
        "lineitem_fk_orders",
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
        ).agg(F.count("*").alias("violations")),
        lineitem.agg(F.count("*").alias("checked")),
    )
    ev_unique = one(
        "event_id_unique",
        events.groupBy("event_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .agg(F.count("*").alias("violations")),
        events.agg(F.count("*").alias("checked")),
    )
    ts_null = one(
        "events_ts_not_null",
        events.where(F.col("ts").isNull()).agg(F.count("*").alias("violations")),
        events.agg(F.count("*").alias("checked")),
    )
    purchases = events.where(F.col("event_type") == "purchase")
    val_pos = one(
        "purchase_value_positive",
        purchases.where(F.coalesce("value", F.lit(0.0)) <= 0).agg(
            F.count("*").alias("violations")
        ),
        purchases.agg(F.count("*").alias("checked")),
    )
    return (
        orders_fk.unionAll(lineitem_fk)
        .unionAll(ev_unique)
        .unionAll(ts_null)
        .unionAll(val_pos)
    )


@query(
    "bitmap_users_daily_to_monthly",
    oracle="""
WITH daily AS (
    SELECT date_trunc('day', ts) AS day,
           count(DISTINCT user_id) AS day_users,
           count(*) AS events
    FROM events GROUP BY 1
), monthly AS (
    SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
           count(DISTINCT user_id) AS exact_monthly_users
    FROM events GROUP BY 1
)
SELECT m.month,
       m.exact_monthly_users,
       CAST(sum(d.day_users) AS BIGINT) AS sum_daily_users,
       CAST(sum(d.events) AS BIGINT)    AS events
FROM monthly m
JOIN daily d ON CAST(date_trunc('month', d.day) AS TIMESTAMP) = m.month
GROUP BY 1, 2
ORDER BY 1
""",
)
def q_bitmap_users_daily_to_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap aggregation — the
    lossless sibling of `hll_users_daily_to_monthly`: per-(day, bucket)
    bitmaps of user ids (`bitmap_bucket_number` splits the id domain so no
    single bitmap exceeds 4 MB; `bitmap_construct_agg` sets the in-bucket
    bit), OR-merged up to the month and counted — distinct users per month
    with NO approximation and NO re-scan of raw events, so it IS
    oracle-checkable against count(DISTINCT), unlike the HLL twin.

    The sum of daily distincts rides along as the (overcounting) naive
    re-aggregation a correct rollup must NOT equal — the v_metrics trap in
    the reference's re-aggregated views (SURVEY §2.6 V3): distinct counts
    don't add; bitmaps (or sketches) do.

    Scale: state per (grain, bucket) is a fixed-size bitmap; partial
    aggregation ORs map-side, the shuffle carries bitmaps not ids, and any
    coarser grain (month -> quarter -> year) reuses the same stored
    bitmaps.  The id domain only adds buckets linearly."""
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"),
        F.count("*").alias("events"),
        F.bitmap_count(
            F.bitmap_construct_agg(F.bitmap_bit_position("user_id"))
        ).alias("day_bucket_users"),
    )
    monthly_buckets = daily.groupBy(
        F.date_trunc("month", "day").alias("month"), F.col("bucket")
    ).agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("bucket_users"),
        F.sum("events").alias("events"),
        F.sum("day_bucket_users").alias("sum_daily_users"),
    )
    return (
        monthly_buckets.groupBy("month")
        .agg(
            F.sum("bucket_users").alias("exact_monthly_users"),
            F.sum("sum_daily_users").alias("sum_daily_users"),
            F.sum("events").alias("events"),
        )
        .orderBy("month")
    )
