"""Set operations, skew-salted joins, and idempotent merge-upsert.

Fills the "not present in the reference" inventory gaps called out in
SURVEY §2.2 (no set operations, no analytic lag/lead, no grouping sets) and
makes the Phase-2 sink semantics (SURVEY §2.5 D5 — idempotent MERGE keyed on
window bounds, replacing the reference's append-and-swallow-duplicate-key at
``src/sinks/metrics_sink.py:30-41``) a first-class, oracle-checked batch
operator.

Scale notes per operator live on each docstring; the common thread is that
every pattern here is the 100-TB-safe version of its naive counterpart:
set-ops as semi/anti joins on pre-distinct keys, salting for hot join keys,
merge-upsert as union+row_number (one shuffle) rather than a full-outer join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, cents_sum, fround
from e_commerce_streaming_datapipeline_spark.functions.windows import tumbling_window
from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


@query(
    "cohort_setops",
    oracle="""
WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
     c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
SELECT 'both' AS cohort, count(*) AS users
FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM c)
UNION ALL
SELECT 'purchase_only' AS cohort, count(*) AS users
FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c)
UNION ALL
SELECT 'click_only' AS cohort, count(*) AS users
FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
""",
)
def q_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT / UNION ALL) over user cohorts —
    the inventory gap flagged at SURVEY §2.2 "no set operations".

    Spark compiles ``intersect`` to a left-semi and ``subtract`` to a
    left-anti hash join over pre-aggregated distinct keys, so each branch
    shuffles only the distinct user-id sets (|users|, not |events|).  At
    100 TB the single-pass alternative — ``groupBy(user_id).agg(bool_or ...)``
    then bucket-count — does one events shuffle instead of two; both branches
    here read a pre-distincted projection, which AQE sizes correctly.
    """
    events = load_table(spark, "events", sf_dir)
    p = events.where(F.col("event_type") == "purchase").select("user_id").distinct()
    c = events.where(F.col("event_type") == "click").select("user_id").distinct()

    def bucket(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("users")).select(
            F.lit(name).alias("cohort"), "users"
        )

    return (
        bucket(p.intersect(c), "both")
        .unionByName(bucket(p.subtract(c), "purchase_only"))
        .unionByName(bucket(c.subtract(p), "click_only"))
    )


_SALT_BUCKETS = 8


@query(
    "salted_priority_revenue",
    oracle="""
SELECT
    o.o_orderpriority                              AS priority,
    count(*)                                       AS line_items,
    round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100) / 100 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
)
def q_salted_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-fact equi-join: lineitem ⋈ orders on a deterministic
    8-way salt, producing bit-identical results to the plain join.

    The pattern for a hot join key at 100 TB (one mega-order, one bot user):
    the probe side gets ``salt = pmod(hash(l_orderkey, l_linenumber), 8)``
    (any deterministic expression works, but it must take many distinct
    values WITHIN the hot key — ``hash(l_linenumber)`` alone has only 7
    distinct inputs, which collide into a lumpy 8-bucket split and leave the
    skew half-fixed); the build side is exploded 8× via
    ``sequence(0,7)``; the join key becomes ``(key, salt)`` so a hot key's
    rows spread over 8 reducers instead of one.  AQE's skew-join split
    (``spark.sql.adaptive.skewJoin``) does this adaptively for sort-merge
    joins; explicit salting is the portable fallback and the only option for
    streaming-state joins.  Build-side replication costs 8× |orders| rows
    shuffled — acceptable when the build side is the smaller fact.  Sizing
    rule (verified by tests/test_engine.py's reducer-balance test): the hot
    key spreads over at most ``buckets`` reducers, and because composite
    keys hash into partitions with birthday collisions, ``buckets`` should
    comfortably EXCEED the per-key target parallelism — at 1000 reducers
    salt with hundreds of buckets, not 8.  The
    ``shuffle_hash`` hint pins the shuffle-join path: at test SF the salted
    build side still fits the broadcast threshold, which would silently
    bypass the very distribution the salt exists to fix.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    salted_l = lineitem.withColumn(
        "__salt",
        F.pmod(F.hash(F.col("l_orderkey"), F.col("l_linenumber")), F.lit(_SALT_BUCKETS)),
    )
    salted_o = orders.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_BUCKETS - 1)))
    )
    return (
        salted_l.join(
            salted_o.hint("shuffle_hash"),
            (salted_l.l_orderkey == salted_o.o_orderkey)
            & (salted_l.__salt == salted_o.__salt),
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("line_items"),
            fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


_SJR_SALT = 16
_SJR_SKEW_FACTOR = 3  # a key is "hot" when its row count > factor x mean


def diagnosed_salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    hot: DataFrame,
    *,
    buckets: int,
    probe_salt,
) -> DataFrame:
    """Partial (diagnosed) salting: equi-join ``probe ⋈ build`` on ``key``
    where ONLY the keys in ``hot`` are spread over ``buckets`` salt values.

    ``hot`` is the diagnosed heavy-key relation (bounded: at most
    n/threshold keys) and is broadcast twice — once to mark probe rows,
    once to decide build-side replication.  ``probe_salt`` must be a
    deterministic expression taking many distinct values WITHIN a hot key
    (a row-unique hash; a low-cardinality column leaves the skew
    half-fixed).  Cold keys keep salt 0 and the build side carries them
    once, so build inflation is ``buckets x |hot|`` rows, not
    ``buckets x |build|``.  Result-identical to the plain join: every probe
    row matches exactly one build row.  The shuffle-hash hint keeps the
    join on the shuffle path the salt exists to balance (a broadcast would
    bypass it — and would also have been the right fix instead)."""
    marked = hot.select(F.col(key), F.lit(1).alias("__hot"))
    p = (
        probe.join(F.broadcast(marked), key, "left")
        .withColumn(
            "__salt",
            F.when(F.col("__hot").isNotNull(), probe_salt).otherwise(F.lit(0)),
        )
        .drop("__hot")
    )
    b = (
        build.join(F.broadcast(marked), key, "left")
        .withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("__hot").isNotNull(),
                    F.sequence(F.lit(0), F.lit(buckets - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("__hot")
        .withColumnRenamed(key, "__build_key")
    )
    return (
        p.join(
            b.hint("shuffle_hash"),
            (p[key] == b["__build_key"]) & (p["__salt"] == b["__salt"]),
        )
        .drop(b["__salt"])
        # drop the probe copy too: "result-identical to the plain join"
        # means the salt scaffolding never reaches the caller's schema
        .drop(p["__salt"])
        .drop("__build_key")
    )


@query(
    "salted_join_rewrite",
    oracle="""
WITH profile AS (
    SELECT user_id,
           min(epoch_us(ts)) AS first_us,
           count(*)          AS n_user
    FROM events
    GROUP BY 1
)
SELECT
    e.event_type                                     AS event_type,
    count(*)                                         AS n_events,
    CAST(sum(p.n_user) AS BIGINT)                    AS sum_user_activity,
    CAST(sum(epoch_us(e.ts) - p.first_us) AS BIGINT) AS total_age_us
FROM events e JOIN profile p ON e.user_id = p.user_id
GROUP BY 1
""",
)
def q_salted_join_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIAGNOSED partial-salting rewrite — the production cure for the hot
    keys `skew_key_diagnosis` measures (operators/layout.py), applied to
    the events ⋈ per-user-profile enrichment join and hash-checked equal to
    the plain-join oracle.

    Unlike `salted_priority_revenue` (which salts EVERY key and replicates
    the whole build side x buckets), this is the diagnose-then-salt form
    used on real skew: (1) per-key counts find keys whose row count exceeds
    _SJR_SKEW_FACTOR x the mean — a heavy-hitter relation, bounded by
    definition (at most n/threshold keys) and broadcast; (2) probe rows of
    hot keys get salt = pmod(hash(event_id), 16), cold rows salt 0; (3) the
    build side replicates ONLY hot-key rows 16x (sequence + explode), cold
    rows once — so build-side inflation is 16 x |hot keys|, not
    16 x |build|; (4) the join key becomes (user_id, __salt) on the
    shuffle-hash path (hinted: at test SF the build side is
    broadcast-small, which would silently bypass the salt).  Every probe
    row still matches exactly one build row, so the rewrite is
    result-identical — the oracle has no salt at all.

    AQE's skew-join split solves the same problem adaptively but ONLY for
    sort-merge joins in batch; explicit diagnosed salting is the portable
    form (shuffle-hash joins, streaming state, bucketed layouts).  Balance
    evidence with AQE disabled: tests/test_engine.py::
    test_diagnosed_salting_balances_hot_key and the measured
    rows-per-reducer histograms in SCALE.md (scripts/skew_salting_probe.py).
    At 100 TB: profile is one hash agg (shuffle = |users|); the hot set is
    KBs; the fact shuffles once on the salted key."""
    events = load_table(spark, "events", sf_dir)
    profile = events.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.count("*").alias("n_user"),
    )
    thr = profile.agg(
        (F.avg("n_user") * _SJR_SKEW_FACTOR).alias("__thr")
    )
    hot = (
        scalar_join(profile, thr)
        .where(F.col("n_user") > F.col("__thr"))
        .select("user_id")
    )

    joined = diagnosed_salted_join(
        events,
        profile,
        "user_id",
        hot,
        buckets=_SJR_SALT,
        probe_salt=F.pmod(F.hash("event_id"), F.lit(_SJR_SALT)),
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("n_user").cast("long").alias("sum_user_activity"),
        F.sum(F.unix_micros("ts") - F.col("first_us")).cast("long").alias("total_age_us"),
    )


def merge_upsert(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Idempotent MERGE: rows from ``updates`` replace same-key rows in
    ``existing``; unmatched rows of both survive (SURVEY §2.5 D5 — the
    exactly-once sink the reference approximates with Postgres UNIQUE
    constraints + swallow-duplicate-key, ``metrics_sink.py:30-41``).

    Expressed as union + row_number over the merge key (one shuffle on the
    key, no full-outer join).  At scale this is the relational core of a
    Delta/Iceberg MERGE INTO; in a ``foreachBatch`` sink it makes re-emitted
    update-mode windows idempotent.
    """
    tagged = updates.withColumn("__pri", F.lit(0)).unionByName(
        existing.withColumn("__pri", F.lit(1))
    )
    # full-row tiebreak after __pri: two update rows sharing a merge key
    # (e.g. a micro-batch that re-emits a window before dedup) must resolve
    # to ONE deterministic survivor, not whichever row_number saw first —
    # Delta/Iceberg MERGE INTO raises on multiple matches; this picks the
    # struct-order minimum instead, deterministically on any engine
    value_cols = [c for c in updates.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy("__pri", *[F.col(c) for c in value_cols])
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__pri", "__rn")
    )


@query(
    "metrics_merge_upsert",
    oracle="""
SELECT
    date_trunc('hour', ts)                     AS window_start,
    round(sum(value), 2)                       AS gmv,
    count(*)                                   AS purchases
FROM events WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def q_metrics_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MERGE check: a stale metrics table (windows strictly before
    a day-aligned cutoff) merged with a recomputation of the tail (windows on
    or after the cutoff) must equal the single-shot computation over all data
    — which is exactly what the oracle computes.

    The cutoff is derived from ``max(ts)`` via a broadcast scalar join (no
    driver collect); day-aligned so no 1-hour window straddles it.
    """
    events = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    cutoff = events.agg(
        F.date_trunc("day", F.max("ts") - F.expr("INTERVAL 3 DAYS")).alias("__cut")
    ).hint("broadcast")
    ev = scalar_join(events, cutoff)

    def hourly(df: DataFrame) -> DataFrame:
        return (
            tumbling_window(df, "ts", "1 hour")
            .groupBy("window_start")
            .agg(
                fround(F.sum("value"), 2).alias("gmv"),
                F.count("*").alias("purchases"),
            )
        )

    existing = hourly(ev.where(F.col("ts") < F.col("__cut")))
    updates = hourly(ev.where(F.col("ts") >= F.col("__cut")))
    return merge_upsert(existing, updates, ["window_start"])


@query(
    "revenue_dod",
    oracle="""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           round(sum(value), 2) AS revenue
    FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT
    day,
    revenue,
    lag(revenue) OVER (ORDER BY day)                          AS prev_revenue,
    round((revenue - lag(revenue) OVER (ORDER BY day)) * 100) / 100 AS change
FROM daily
""",
)
def q_revenue_dod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag(): day-over-day revenue delta — the lag/lead gap from
    SURVEY §2.2 "no analytic window functions".

    The unpartitioned ORDER BY window runs over the *aggregated* relation
    (#days rows, not #events), so the single-task window is bounded and fine
    at any fact-table scale; never apply such a window pre-aggregation.
    """
    events = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    daily = events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        fround(F.sum("value"), 2).alias("revenue")
    )
    w = Window.orderBy("day")
    prev = F.lag("revenue").over(w)
    return daily.select(
        "day",
        "revenue",
        prev.alias("prev_revenue"),
        fround(F.col("revenue") - prev, 2).alias("change"),
    )


@query(
    "grouping_sets_revenue",
    oracle="""
SELECT
    l_returnflag,
    l_linestatus,
    CAST(grouping(l_returnflag) AS INTEGER)  AS g_flag,
    CAST(grouping(l_linestatus) AS INTEGER)  AS g_status,
    count(*)                                 AS line_items,
    round(sum(l_extendedprice) * 100) / 100  AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (rollup/cube's general form) — three grouping
    combinations in one Expand + single hash-agg pass over the fact (reads
    the 100-TB table once, vs. three separate groupBys reading it thrice)."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    grouped = lineitem.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    )
    return grouped.agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count("*").alias("line_items"),
        fround(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


# -- incremental view maintenance (self-maintainable aggregate merge) ---------

# mid-month on purpose: the June-1998 groups exist on BOTH sides of the
# split, so the group-wise + merge is actually exercised (a day-grain view
# would make the union trivially disjoint)
_IVM_CUTOFF = "1998-06-15"


@query(
    "ivm_delta_merge",
    oracle="""
SELECT
    CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
    o_orderstatus             AS status,
    count(*)                  AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
                              AS month_revenue
FROM orders
GROUP BY 1, 2
""",
)
def q_ivm_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the daily-revenue view is NOT
    recomputed from scratch when new orders land — the already-materialized
    aggregate over the historical partition merges with the aggregate of
    the DELTA alone, exploiting that count/sum are self-maintainable under
    inserts (merge = group-wise +).  Hash-checked against the full
    recompute oracle: maintenance and recompute must be indistinguishable.

    This is the pattern behind every streaming-materialized dashboard
    table and Delta/Iceberg MERGE-based rollup refresh: at 100 TB the
    historical side is read as the SMALL materialized view relation
    (#groups rows, not #orders), so daily refresh cost is proportional to
    the delta — the whole point of IVM.  AVG-style views store (sum,
    count) and divide at read; MIN/MAX are NOT insert-self-maintainable
    under deletes, which is why production IVM keeps them append-only or
    falls back to recompute (docstring contract, test-pinned).

    The month x status grain is deliberately COARSER than the daily split
    key, so cutoff-straddling groups (June 1998) exist on both sides and
    the merge genuinely adds partial aggregates rather than concatenating
    disjoint ones.
    """
    orders = load_table(spark, "orders", sf_dir)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias(
                "order_month"
            ),
            F.col("o_orderstatus").alias("status"),
        ).agg(
            F.count("*").alias("n_orders"),
            cents_sum(F.col("o_totalprice")).alias("__cents"),
        )

    cutoff = F.lit(_IVM_CUTOFF).cast("date")
    # the materialized historical view (in production: read back from the
    # stored view table, #groups rows) and the newly-arrived delta
    hist_view = rollup(orders.where(F.col("o_orderdate").cast("date") < cutoff))
    delta_view = rollup(
        orders.where(
            F.col("o_orderdate").cast("date").isNull()
            | (F.col("o_orderdate").cast("date") >= cutoff)
        )
    )
    merged = (
        hist_view.unionByName(delta_view)
        .groupBy("order_month", "status")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("__cents").alias("__cents"),
        )
    )
    return merged.select(
        "order_month",
        "status",
        "n_orders",
        (F.col("__cents").cast("double") / 100).alias("month_revenue"),
    )


# -- incremental view maintenance under DELETES/UPDATES (signed retraction) ---


@query(
    "ivm_retract_merge",
    oracle="""
WITH changed AS (
    SELECT o_orderdate, o_orderstatus,
           CASE WHEN coalesce(o_orderkey % 89, 1) = 0 THEN o_totalprice + 10.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE NOT coalesce(o_orderkey % 97, 1) = 0
)
SELECT
    CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
    o_orderstatus             AS status,
    count(*)                  AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
                              AS month_revenue
FROM changed
GROUP BY 1, 2
""",
)
def q_ivm_retract_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under DELETES and UPDATES — the
    retraction half `ivm_delta_merge` (insert-only) deliberately excludes:
    a CDC batch deletes every 97th order and re-prices every 89th
    (update = retract old + insert new), and the materialized month x
    status view is maintained by merging the stored aggregate with one
    SIGNED delta aggregate (weight −1 for deletions and old versions, +1
    for new versions).  Count and sum are self-maintainable under
    retraction (merge = group-wise signed +); groups whose maintained
    count reaches zero are REMOVED from the view, not left as zero rows.
    Hash-checked against the full post-change recompute: maintenance and
    recompute must be indistinguishable.

    At 100 TB the stored side is the #groups-row view relation and the
    signed delta is CDC-batch-sized, so refresh cost is proportional to
    the CHANGE volume — while MIN/MAX stay recompute-only under deletes
    (the `ivm_delta_merge` docstring contract).  NULL-key orders match no
    CDC predicate and ride through unchanged on both engines (the
    coalesce(..., 1) pins the NULL-modulo case)."""
    orders = load_table(spark, "orders", sf_dir)
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date").alias(
        "order_month"
    )
    price_cents = cents(F.col("o_totalprice"))

    def rollup(df: DataFrame, weight) -> DataFrame:
        return df.groupBy(month, F.col("o_orderstatus").alias("status")).agg(
            F.sum(F.lit(weight)).alias("n_orders"),
            F.sum(F.lit(weight) * price_cents).alias("__cents"),
        )

    is_del = F.coalesce(F.col("o_orderkey") % 97, F.lit(1)) == 0
    is_upd = F.coalesce(F.col("o_orderkey") % 89, F.lit(1)) == 0
    # the stored view (in production: read back, #groups rows)
    base_view = rollup(orders, 1)
    retract = rollup(orders.where(is_del | is_upd), -1)
    reinsert = rollup(
        orders.where(is_upd & ~is_del).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
        ),
        1,
    )
    merged = (
        base_view.unionByName(retract)
        .unionByName(reinsert)
        .groupBy("order_month", "status")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("__cents").alias("__cents"),
        )
        .where(F.col("n_orders") > 0)
    )
    return merged.select(
        "order_month",
        "status",
        "n_orders",
        (F.col("__cents").cast("double") / 100).alias("month_revenue"),
    )
