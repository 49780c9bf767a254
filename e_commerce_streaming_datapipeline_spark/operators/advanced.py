"""Advanced relational operators beyond the reference surface: as-of join,
range join, pivot, exact percentiles, JSON-map explode, and CUBE.

The reference has none of these (SURVEY §2.2 "not present" inventory); they
are the operator classes a user of a general analytics engine reaches for
next, and the first two are the classic "Spark lacks the operator, compose it
from primitives" cases (as-of join, range join) named in the build mandate.

Scale design:
* **As-of join** is implemented as union + partitioned running ``last`` —
  ONE shuffle on the join key, zero row explosion, no per-row lookups.  This
  is the standard large-scale as-of plan (a sort-merge within user
  partitions); a naive inequality join would be O(left x right) per user.
* **Range join** is implemented by time-bucketing the build side into the
  two buckets it can affect and equi-joining on (key, bucket) — turning an
  inequality join Catalyst would nested-loop into a hash join whose blow-up
  factor is exactly 2.  The exact range predicate is re-applied inside the
  join condition.
* Pivot uses an explicit value list so no extra distinct-scan job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import (
    cents,
    cents_sum,
    cents_sum_double,
    fround,
)
from e_commerce_streaming_datapipeline_spark.operators.payment import PAYMENT_TYPE_SQL, with_payment_type
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.schemas import PAYMENT_TYPES
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


# -- as-of join --------------------------------------------------------------

@query(
    "asof_last_purchase",
    oracle="""
WITH purchases AS (
    SELECT user_id, ts, max(value) AS pvalue
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1, 2
), clicks AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT
    c.event_id,
    c.user_id,
    c.ts,
    p.pvalue AS last_purchase_value,
    p.ts     AS last_purchase_ts
FROM clicks c
ASOF LEFT JOIN purchases p
    ON c.user_id = p.user_id AND c.ts >= p.ts
""",
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each click annotated with the same user's most recent
    prior (or simultaneous) purchase.

    Spark has no ASOF JOIN operator; the scalable composition is
    union-both-sides + per-key running ``last(..., ignorenulls)`` ordered by
    (ts, side) — one shuffle on user_id, linear work, no candidate-pair
    explosion.  Right-side ts ties are pre-collapsed with ``max(value)`` so
    both engines pick the same winner; at equal left/right ts the purchase
    sorts first, matching DuckDB ASOF's ``>=`` bound.
    """
    events = load_table(spark, "events", sf_dir)
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    clicks = events.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")

    unioned = clicks.select(
        "event_id",
        "user_id",
        "ts",
        F.lit(0).alias("is_purchase"),
        F.lit(None).cast("double").alias("pvalue"),
    ).unionByName(
        purchases.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(1).alias("is_purchase"),
            "pvalue",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_purchase").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ONE last() over a (ts, value) struct, not two independent last()s:
    # a purchase whose value is NULL must still be "the last purchase" —
    # ignorenulls over a bare pvalue column would skip it and pair an older
    # purchase's value with the newer purchase's ts, while the struct (never
    # NULL on a purchase row) keeps the pair from one row, matching the
    # oracle's ASOF JOIN emitting (NULL value, newest ts)
    purchase_rec = F.when(
        F.col("is_purchase") == 1,
        F.struct(F.col("ts").alias("p_ts"), F.col("pvalue").alias("p_val")),
    )
    last_rec = F.last(purchase_rec, ignorenulls=True).over(w)
    return (
        unioned.withColumn("__last_p", last_rec)
        .where(F.col("is_purchase") == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("__last_p.p_val").alias("last_purchase_value"),
            F.col("__last_p.p_ts").alias("last_purchase_ts"),
        )
    )


# -- range join (bucketed) ---------------------------------------------------

_RANGE_SECONDS = 3600


@query(
    "user_activity_1h",
    oracle="""
WITH p AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT
    p.event_id,
    p.user_id,
    p.ts,
    count(e.ts) AS events_prev_1h
FROM p
LEFT JOIN events e
    ON e.user_id = p.user_id
   AND e.ts >= p.ts - INTERVAL '1 hour'
   AND e.ts <  p.ts
GROUP BY 1, 2, 3
""",
)
def q_user_activity_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: per purchase, how many events the same user
    produced in the preceding hour.

    Catalyst would execute the raw inequality join as a broadcast
    nested-loop; instead the probe side is bucketed by hour and the build
    side is exploded into the only two buckets a row can affect, so the plan
    is a plain hash equi-join on (user_id, bucket) with the exact range
    predicate re-applied — the standard O(n·k) range-join rewrite that
    survives 100 TB (bucket count scales with time span, blow-up factor is
    exactly 2)."""
    events = load_table(spark, "events", sf_dir)
    bucket = lambda ts: F.floor(F.unix_timestamp(ts) / _RANGE_SECONDS)  # noqa: E731

    left = (
        events.where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withColumn("bucket", bucket(F.col("ts")))
        .alias("l")
    )
    right = (
        events.select(F.col("user_id").alias("r_user_id"), F.col("ts").alias("r_ts"))
        .withColumn(
            "bucket",
            F.explode(F.array(bucket(F.col("r_ts")), bucket(F.col("r_ts")) + 1)),
        )
        .alias("r")
    )
    joined = left.join(
        right,
        (F.col("l.user_id") == F.col("r.r_user_id"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("r.r_ts") >= F.col("l.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("r.r_ts") < F.col("l.ts")),
        "left",
    )
    return joined.groupBy("event_id", "l.user_id", "l.ts").agg(
        F.count(F.col("r.r_ts")).alias("events_prev_1h")
    ).select("event_id", "user_id", "ts", "events_prev_1h")


# -- pivot -------------------------------------------------------------------

@query(
    "payment_type_pivot",
    oracle=f"""
WITH typed AS (
    SELECT
        date_trunc('hour', ts) AS window_start,
        {PAYMENT_TYPE_SQL} AS payment_type,
        coalesce(value, 0.0) AS value
    FROM events
)
SELECT
    window_start,
    round(coalesce(sum(value) FILTER (payment_type = 'credit_card'), 0.0) * 100) / 100
        AS credit_card,
    round(coalesce(sum(value) FILTER (payment_type = 'boleto'), 0.0) * 100) / 100
        AS boleto,
    round(coalesce(sum(value) FILTER (payment_type = 'voucher'), 0.0) * 100) / 100
        AS voucher,
    round(coalesce(sum(value) FILTER (payment_type = 'debit_card'), 0.0) * 100) / 100
        AS debit_card
FROM typed
GROUP BY 1
""",
)
def q_payment_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: hourly payment value per payment_type as columns.  The value
    list is explicit, so Spark skips the extra distinct-discovery job and the
    plan is a single groupBy with 4 conditional aggregates — identical cost
    to the FILTER form, friendlier API."""
    events = load_table(spark, "events", sf_dir)
    typed = with_payment_type(events).select(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "payment_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
    )
    pivoted = (
        typed.groupBy("window_start")
        .pivot("payment_type", PAYMENT_TYPES)
        .agg(F.sum("value"))
    )
    return pivoted.select(
        "window_start",
        *[fround(F.coalesce(F.col(t), F.lit(0.0)), 2).alias(t) for t in PAYMENT_TYPES],
    )


# -- exact percentiles -------------------------------------------------------

@query(
    "value_percentiles",
    oracle="""
SELECT
    event_type,
    round(quantile_cont(value, 0.5) * 10000) / 10000  AS p50,
    round(quantile_cont(value, 0.9) * 10000) / 10000  AS p90,
    round(quantile_cont(value, 0.99) * 10000) / 10000 AS p99,
    count(value)                                      AS n_values
FROM events
GROUP BY 1
""",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``: both use the (n-1)·p linear-interpolation
    definition over the sorted values, so results hash-match bit-for-bit).
    The approx twin for 100 TB is ``approx_percentile`` (t-digest, no global
    sort) — same call shape, rows-only checkable like approx_count_distinct."""
    events = load_table(spark, "events", sf_dir)
    return events.groupBy("event_type").agg(
        fround(F.percentile(F.col("value"), 0.5), 4).alias("p50"),
        fround(F.percentile(F.col("value"), 0.9), 4).alias("p90"),
        fround(F.percentile(F.col("value"), 0.99), 4).alias("p99"),
        F.count("value").alias("n_values"),
    )


# -- JSON map explode --------------------------------------------------------

@query(
    "props_key_counts",
    oracle="""
SELECT k.prop_key, count(*) AS n_events
FROM events, unnest(json_keys(props)) AS k(prop_key)
GROUP BY 1
""",
)
def q_props_key_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: parse the props JSON payload into a MAP column,
    explode its keys, count per key (the generic form of the reference's
    fixed-schema ``from_json`` decode, S3 — here the schema is open).  All
    JVM-side: from_json + map_keys + generator, no UDF."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.select(
            F.explode(
                F.map_keys(F.from_json(F.col("props"), "map<string,string>"))
            ).alias("prop_key")
        )
        .groupBy("prop_key")
        .agg(F.count("*").alias("n_events"))
    )


# -- CUBE --------------------------------------------------------------------

@query(
    "status_priority_cube",
    oracle="""
SELECT
    o_orderstatus,
    o_orderpriority,
    CAST(grouping(o_orderstatus) AS INTEGER)    AS g_status,
    CAST(grouping(o_orderpriority) AS INTEGER)  AS g_priority,
    count(*)                                    AS n_orders,
    round(sum(o_totalprice) * 100) / 100        AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with GROUPING flags — all four rollup
    combinations in one pass (Spark expands to a single Expand + hash-agg;
    at scale this beats four separate groupBys by reading the fact once)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n_orders"),
        fround(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# -- fixed-width histogram ----------------------------------------------------

_HIST_WIDTH = 50.0


@query(
    "value_histogram",
    oracle=f"""
SELECT
    event_type,
    CAST(floor(value / {_HIST_WIDTH}) AS INT)          AS bucket,
    floor(value / {_HIST_WIDTH}) * {_HIST_WIDTH}       AS bucket_lo,
    CAST(count(*) AS INT)                              AS n,
    round(sum(CAST(round(value * 100) AS BIGINT))) / 100.0 AS bucket_value
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2, 3
""",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values per event type — the
    distribution profile a pipeline publishes for drift monitoring and the
    optimizer-statistics shape (equi-width buckets) engines keep per column.

    Bucketing is a row-local floor division — the histogram is ONE hash agg
    whose key domain is (#types x #buckets), independent of row count, so
    map-side partial combine absorbs virtually all input before the
    shuffle.  This is the scalable answer to "what does the distribution
    look like" — the exact-percentile twin (value_percentiles) needs a
    per-group sort; the histogram never sorts."""
    events = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    bucket = F.floor(F.col("value") / _HIST_WIDTH)
    return events.groupBy(
        "event_type",
        bucket.cast("int").alias("bucket"),
        (bucket * _HIST_WIDTH).alias("bucket_lo"),
    ).agg(
        F.count("*").cast("int").alias("n"),
        (F.round(cents_sum(F.col("value")), 0) / 100.0).alias("bucket_value"),
    )


# -- approximate percentiles (100 TB twin of value_percentiles) ---------------

@query(
    "approx_value_percentiles",
    oracle="""
SELECT
    event_type,
    CAST(count(value) AS BIGINT) AS n_values,
    TRUE AS p50_in_bracket,
    TRUE AS p90_in_bracket,
    TRUE AS p99_in_bracket
FROM events
GROUP BY 1
""",
)
def q_approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile`` twin of value_percentiles: the Greenwald-Khanna
    sketch aggregates in one pass with bounded memory and NO per-group sort,
    which is the only viable percentile plan at 100 TB.

    Checked as a BOUNDS-ORACLE audit (r8 verdict task #7): GK estimates
    are engine-specific, so the hashed output carries the exact value
    count plus one boolean per quantile asserting the GK estimate lies
    inside the EXACT percentile bracket [q-0.05, min(q+0.05, 1.0)] — a
    500x-looser envelope than GK's documented 1/accuracy=1e-4 rank bound,
    so the booleans are deterministic-in-practice while the driver now
    verifies the sketch's accuracy contract cross-engine (previously a
    permanent rows-only row; decision recorded in QUERIES.md).  The exact
    brackets cost a per-group sort — the AUDIT's price, not the sketch's;
    the tighter local floor stays pinned by
    test_approx_percentiles_bracket_exact.  A group with zero non-NULL
    values yields NULL estimates and NULL brackets: defined TRUE (nothing
    to be wrong about) via coalesce on both engines."""
    events = load_table(spark, "events", sf_dir)

    def ok(q: float, lo: float, hi: float):
        approx = F.approx_percentile(F.col("value"), q, 10000)
        lo_v = F.percentile(F.col("value"), lo)
        hi_v = F.percentile(F.col("value"), hi)
        return F.coalesce(
            (approx >= lo_v) & (approx <= hi_v), F.lit(True)
        )

    return events.groupBy("event_type").agg(
        F.count("value").alias("n_values"),
        ok(0.5, 0.45, 0.55).alias("p50_in_bracket"),
        ok(0.9, 0.85, 0.95).alias("p90_in_bracket"),
        ok(0.99, 0.94, 1.0).alias("p99_in_bracket"),
    )


@query(
    "variant_props_stats",
    oracle="""
SELECT
    event_type,
    count(*)                                              AS n_events,
    CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT)      AS k_sum,
    CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT)      AS k_min,
    CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT)      AS k_max
FROM events
WHERE props IS NOT NULL
GROUP BY 1
""",
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through VariantType (Spark 4): ``props`` is
    parsed ONCE into a Variant (binary, shredded access — no per-field
    re-parse like repeated get_json_object), then typed paths are extracted
    with ``variant_get``.  At 100 TB the parse cost is paid at ingest and
    the Variant column is stored; every downstream query pays only the
    binary path lookup.  The map-based twin is ``props_key_counts``."""
    events = load_table(spark, "events", sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        events.where(F.col("props").isNotNull())
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@query(
    "median_price_udaf",
    oracle="""
SELECT
    o_orderpriority,
    count(*)                            AS n_orders,
    quantile_disc(o_totalprice, 0.5)    AS median_price
FROM orders
GROUP BY 1
""",
)
def q_median_price_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE function via an Arrow grouped-agg pandas_udf —
    the UDAF extension point (SURVEY §2.8: the reference has none).  Exact
    discrete median per order priority: the lower-middle element, i.e. the
    value at index (n-1)//2 of the sorted group — deterministic and
    identical to DuckDB's quantile_disc(0.5), so the custom aggregate is
    hash-checked like a built-in.

    Scale note: grouped-agg pandas UDFs receive each group as one Arrow
    batch — fine for bounded groups (priorities, categories); an unbounded
    group would use the built-in percentile_approx/median instead."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's postponed annotations keep the
    # hint-based signature inference from seeing pd.Series.  Spark forbids
    # mixing grouped-agg pandas UDFs with built-in aggregates in one agg,
    # so the row count is a pandas UDAF too.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def disc_median(v):
        s = v.sort_values().reset_index(drop=True)
        return float(s.iloc[(len(s) - 1) // 2])

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderpriority").agg(
        n_rows("o_orderkey").alias("n_orders"),
        disc_median("o_totalprice").alias("median_price"),
    )


@query(
    "observed_quality_metrics",
    oracle="""
SELECT
    CAST(count(*) AS BIGINT)                                   AS n_rows,
    CAST(count(*) FILTER (value IS NULL) AS BIGINT)            AS null_values,
    CAST(count(*) FILTER (props IS NULL) AS BIGINT)            AS null_props,
    CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)  AS n_purchases,
    CAST(count(*) FILTER (value < 0) AS BIGINT)                AS negative_values,
    CAST(sum(round(coalesce(value, 0.0) * 100)::BIGINT) AS DOUBLE) / 100
                                                               AS total_value
FROM events
""",
)
def q_observed_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality counters via ``DataFrame.observe`` — Spark's
    zero-extra-pass instrumentation API.  The metrics (row count, null
    rates, domain violations, checksum) accumulate as the main job's scan
    executes; no second aggregation job runs over the input.

    Why this matters at 100 TB: the naive quality check is a separate
    ``SELECT count(*) FILTER ...`` — a full second scan of the corpus.
    ``observe`` attaches a CollectMetrics node to the existing plan, so the
    counters ride along with whatever pass the pipeline already makes (here
    a noop write standing in for the real sink).  Constraint worth knowing:
    DISTINCT aggregates are disallowed inside observed metrics (Spark
    INVALID_OBSERVED_METRICS), so cardinality checks ride as
    approx_count_distinct or conditional counts.  This is the engine-native
    analogue of the reference's Prometheus gauges
    (infrastructure/spark/metrics.properties:1-8) for DATA health rather
    than process health — and the driver hash-checks the counters against
    the oracle's direct aggregation, proving the piggy-backed numbers equal
    the ground truth."""
    from pyspark.sql import Observation

    events = load_table(spark, "events", sf_dir)
    obs = Observation()
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("null_values"),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).alias("null_props"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("negative_values"),
        cents_sum_double(F.col("value")).alias("total_value"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "real" pass
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["null_values"],
                m["null_props"],
                m["n_purchases"],
                m["negative_values"],
                float(m["total_value"]),
            )
        ],
        "n_rows long, null_values long, null_props long, n_purchases long, "
        "negative_values long, total_value double",
    )


# --------------------------------------------------------------------------
# SQL pipe syntax (Spark 4 |> operators) — API-surface proof
# --------------------------------------------------------------------------

@query(
    "pipe_syntax_revenue",
    oracle="""
SELECT
    o_orderstatus,
    o_orderpriority,
    count(*) AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
        AS revenue
FROM orders
WHERE o_totalprice IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL PIPE syntax (SPARK-49555, the |> operator chain — the
    GoogleSQL-style linear query form): the revenue rollup expressed as
    ``FROM … |> WHERE … |> AGGREGATE … GROUP BY … |> ORDER BY``, proving
    the engine accepts the full pipe surface end-to-end with the same
    exact-cents discipline as everything else (scaled-long sum, one final
    divide).  The DataFrame is handed to ``spark.sql`` via Spark 4's
    df-templating kwargs, so no temp view registration leaks session
    state.

    Catalyst parses pipes into the SAME logical plan as the classic form —
    pushdown/pruning/AQE all apply unchanged, so the scale story is
    `region_revenue`'s: map-side partial aggregation, #groups-row
    shuffle."""
    orders = load_table(spark, "orders", sf_dir)
    return spark.sql(
        """
FROM {orders}
|> WHERE o_totalprice IS NOT NULL
|> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
|> AGGREGATE count(*) AS n_orders,
             CAST(sum(price_cents) AS DOUBLE) / 100 AS revenue
   GROUP BY o_orderstatus, o_orderpriority
|> ORDER BY o_orderstatus, o_orderpriority
""",
        orders=orders,
    )


# -- SQL-defined UDFs (Spark 4 CREATE FUNCTION ... RETURN) --------------------

@query(
    "sql_udf_revenue",
    oracle="""
WITH bands AS (
    SELECT band, band * 0.03 AS lo, band * 0.03 + 0.03 AS hi
    FROM (SELECT unnest(range(0, 4)) AS band)
)
SELECT
    b.band                                   AS band,
    count(*)                                 AS n_items,
    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         AS DOUBLE) / 100                    AS revenue
FROM lineitem l JOIN bands b
  ON l.l_discount >= b.lo AND l.l_discount < b.hi
WHERE l.l_extendedprice IS NOT NULL AND l.l_discount IS NOT NULL
GROUP BY 1
ORDER BY 1
""",
)
def q_sql_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined UDFs (Spark 4 ``CREATE FUNCTION ... RETURN``, the
    catalog-resident cousin of Python UDFs): a SCALAR SQL UDF computes the
    exact discounted cents per item and a SQL TABLE FUNCTION generates the
    discount-band dimension the facts range-join against — revenue per
    discount band, grouped through both UDF kinds at once.

    Why this matters at scale: a SQL UDF body is INLINED into the plan by
    Catalyst (no serialization boundary, no Python worker, full codegen),
    so unlike Python UDFs it costs nothing over writing the expression by
    hand — it is the right tool for shared business logic (here the
    exact-cents discount formula) reused across queries.  The band table
    function emits 4 rows, so Catalyst broadcast-joins it; the range
    predicate makes it a BroadcastNestedLoopJoin whose inner side is 4
    rows — constant per-row work, zero shuffle of the fact side.

    The reference has no UDF surface at all (SURVEY §2.8); this completes
    the engine's set alongside pandas UDAFs, UDTFs, Variant and the Python
    DataSource."""
    lineitem = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_extendedprice").isNotNull() & F.col("l_discount").isNotNull()
    )
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION disc_cents(price DOUBLE, disc DOUBLE)
RETURNS BIGINT
RETURN CAST(round(price * (1 - disc) * 100) AS BIGINT)
"""
    )
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION discount_bands()
RETURNS TABLE(band INT, lo DOUBLE, hi DOUBLE)
RETURN SELECT band, band * 0.03 AS lo, band * 0.03 + 0.03 AS hi
       FROM (SELECT explode(sequence(0, 3)) AS band)
"""
    )
    return spark.sql(
        """
SELECT
    b.band                                   AS band,
    count(*)                                 AS n_items,
    CAST(sum(disc_cents(l.l_extendedprice, l.l_discount)) AS DOUBLE) / 100
                                             AS revenue
FROM {lineitem} l JOIN discount_bands() b
  ON l.l_discount >= b.lo AND l.l_discount < b.hi
GROUP BY 1
ORDER BY 1
""",
        lineitem=lineitem,
    )


# -- attribution-window tuning curve ------------------------------------------

_CONV_WINDOWS_S = (3600, 21600, 86400)  # 1h / 6h / 24h


@query(
    "conversion_window_sweep",
    oracle=f"""
WITH u AS (
    SELECT event_id, user_id, ts, 0 AS is_p
    FROM events
    WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
    UNION ALL
    SELECT NULL AS event_id, user_id, ts, 1 AS is_p
    FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
), nxt AS (
    SELECT event_id, user_id, ts, is_p,
        min(CASE WHEN is_p = 1 THEN CAST(floor(epoch(ts)) AS BIGINT) END)
            OVER (PARTITION BY user_id ORDER BY ts DESC, is_p DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS next_p_es
    FROM u
), views AS (
    SELECT next_p_es - CAST(floor(epoch(ts)) AS BIGINT) AS delta_s
    FROM nxt WHERE is_p = 0
), th AS (
    SELECT unnest([{", ".join(str(w) for w in _CONV_WINDOWS_S)}]) AS window_s
)
SELECT
    CAST(th.window_s AS INT) AS window_s,
    CAST(count(*) AS BIGINT) AS n_views,
    CAST(sum(CASE WHEN v.delta_s IS NOT NULL AND v.delta_s <= th.window_s
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
    CAST(sum(CASE WHEN v.delta_s IS NOT NULL AND v.delta_s <= th.window_s
                  THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        AS conv_x1e6
FROM th CROSS JOIN views v
GROUP BY th.window_s
ORDER BY th.window_s
""",
)
def q_conversion_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-WINDOW tuning curve — the sweep sibling of
    `asof_last_purchase` pointed forward: every view is annotated with the
    time to the SAME user's next purchase (at-or-after, ties convert), and
    the conversion rate is reported per candidate attribution window
    (1h / 6h / 24h) — the table that decides how long a view may claim
    credit before the claim is noise.  Windows too short undercount slow
    converters; too long attribute unrelated purchases.

    Exactness: deltas are whole epoch seconds (per-row floored, the
    `lateness_watermark_profile` discipline); the window comparison and the
    rate are pure integer arithmetic.  NULL user/ts rows are excluded
    explicitly on BOTH engines (unattributable).

    Scale: the reverse as-of runs as union-both-sides + ONE running
    ``min(purchase ts)`` window per user ordered descending — one shuffle on
    user_id, linear work, no view x purchase candidate-pair explosion (the
    same no-join as-of composition `asof_last_purchase` uses, reversed).
    The sweep is a 3-row broadcast grid over the view-grain relation and a
    3-cell hash aggregate."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import bounded_cross_join

    events = load_table(spark, "events", sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    views = events.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_p")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(1).alias("is_p"),
    )
    unioned = views.unionByName(purchases).withColumn(
        "es", F.unix_timestamp("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_p").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    view_grain = (
        unioned.withColumn(
            "next_p_es",
            F.min(F.when(F.col("is_p") == 1, F.col("es"))).over(w),
        )
        .where(F.col("is_p") == 0)
        .select((F.col("next_p_es") - F.col("es")).alias("delta_s"))
    )
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in _CONV_WINDOWS_S])).alias("window_s")
    )
    converted = F.when(
        F.col("delta_s").isNotNull() & (F.col("delta_s") <= F.col("window_s")), 1
    ).otherwise(0)
    return (
        bounded_cross_join(view_grain, th)
        .groupBy("window_s")
        .agg(
            F.count("*").cast("long").alias("n_views"),
            F.sum(converted).cast("long").alias("n_converted"),
            F.expr(
                f"(sum(CASE WHEN delta_s IS NOT NULL AND delta_s <= window_s "
                f"THEN 1 ELSE 0 END) * 1000000) div count(*)"
            ).alias("conv_x1e6"),
        )
        .select(
            F.col("window_s").cast("int").alias("window_s"),
            "n_views",
            "n_converted",
            "conv_x1e6",
        )
        .orderBy("window_s")
    )


# -- skyline / Pareto-frontier preference query ------------------------------


@query(
    "supplier_pareto_frontier",
    oracle="""
WITH m AS (
    SELECT
        s.s_nationkey AS nationkey,
        s.s_suppkey   AS suppkey,
        CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_cents,
        CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS volume
    FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    WHERE s.s_acctbal IS NOT NULL AND l.l_quantity IS NOT NULL
    GROUP BY 1, 2, 3
), flagged AS (
    SELECT *,
        max(bal_cents) OVER (
            PARTITION BY nationkey ORDER BY volume DESC
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS best_bal_higher_vol,
        max(bal_cents) OVER (PARTITION BY nationkey, volume)
            AS best_bal_same_vol
    FROM m
)
SELECT
    CAST(nationkey AS INT)  AS nationkey,
    CAST(suppkey AS BIGINT) AS suppkey,
    volume,
    CAST(bal_cents AS DOUBLE) / 100 AS acctbal,
    CAST(rank() OVER (PARTITION BY nationkey ORDER BY volume DESC, suppkey)
         AS INT) AS frontier_rank
FROM flagged
WHERE coalesce(best_bal_higher_vol, -9223372036854775808) < bal_cents
  AND best_bal_same_vol <= bal_cents
ORDER BY nationkey, frontier_rank
""",
)
def q_supplier_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) preference query (Börzsönyi et al., ICDE
    2001, public) — a NEW query family: per nation, the suppliers not
    DOMINATED on the (shipped volume, account balance) plane, i.e. no
    same-nation supplier is >= on both metrics and > on one.  This is the
    multi-criteria shortlist a sourcing team actually wants ("most volume
    for the balance sheet"), unanswerable by any single ORDER BY.

    Plan shape: one fact scan → supplier-grain hash aggregate for volume
    (the only data-proportional shuffle), then the classic one-pass
    skyline: within each nation ordered by volume DESC, a supplier is on
    the frontier iff its balance strictly beats the best balance among
    STRICTLY-higher-volume peers (a RANGE frame ending 1 PRECEDING on the
    integer volume — value-based, so volume ties are excluded from their
    own comparison) and is not beaten within its volume tie group.  Both
    windows are PARTITIONED BY nation — parallel, never a global window.
    All metrics are exact integers (cents, rounded quantity units); the
    NULL-balance/quantity rows are excluded explicitly on both engines.
    Dominance uses (>=, >) semantics: exact metric ties are co-frontier."""
    m = (
        load_table(spark, "supplier", sf_dir)
        .where(F.col("s_acctbal").isNotNull())
        .select(
            F.col("s_nationkey").alias("nationkey"),
            F.col("s_suppkey").alias("suppkey"),
            cents(F.col("s_acctbal")).alias("bal_cents"),
        )
        .join(
            load_table(spark, "lineitem", sf_dir)
            .where(F.col("l_quantity").isNotNull())
            .select(
                F.col("l_suppkey").alias("suppkey"),
                F.round("l_quantity").cast("long").alias("qty"),
            ),
            "suppkey",
        )
        .groupBy("nationkey", "suppkey", "bal_cents")
        .agg(F.sum("qty").cast("long").alias("volume"))
    )
    higher_vol = (
        Window.partitionBy("nationkey")
        .orderBy(F.col("volume").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    same_vol = Window.partitionBy("nationkey", "volume")
    frontier_rank = Window.partitionBy("nationkey").orderBy(
        F.col("volume").desc(), F.col("suppkey").asc()
    )
    flagged = m.select(
        "*",
        F.max("bal_cents").over(higher_vol).alias("best_bal_higher_vol"),
        F.max("bal_cents").over(same_vol).alias("best_bal_same_vol"),
    )
    return (
        flagged.where(
            (
                F.coalesce(
                    F.col("best_bal_higher_vol"),
                    F.lit(-(2**63)).cast("long"),
                )
                < F.col("bal_cents")
            )
            & (F.col("best_bal_same_vol") <= F.col("bal_cents"))
        )
        .select(
            F.col("nationkey").cast("int").alias("nationkey"),
            F.col("suppkey").cast("long").alias("suppkey"),
            "volume",
            (F.col("bal_cents").cast("double") / 100).alias("acctbal"),
            F.rank().over(frontier_rank).cast("int").alias("frontier_rank"),
        )
        .orderBy("nationkey", "frontier_rank")
    )
