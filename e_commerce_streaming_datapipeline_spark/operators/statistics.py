"""Statistical aggregates and attribution analytics over the event stream.

Round-2 surface widening beyond the reference's four processors: the
reference's metric relations stop at count/sum/avg (e.g.
src/processors/gmv_processor.py:36-44); a production analytics engine also
needs second-moment statistics, regression aggregates, time-weighted
averages, marketing attribution, and sketch-based heavy-hitter detection.
All five queries are DuckDB-hash-checked; every formula is chosen so both
engines execute bit-comparable arithmetic (integer hashing, lpad string
keys, `fround` decimal mechanics — SURVEY §7 hard-part 2).

Scale notes per query live in the docstrings; the common theme: everything
here is a single hash-aggregation pass (map-side partial combine) or a
broadcast join against a bounded sketch/params relation — no shuffle whose
volume scales with anything but the group-key cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.checkpoints import round_checkpoint
from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, cents_sum, fround
from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
from e_commerce_streaming_datapipeline_spark.functions.hashing import (
    PRIME,
    hash_bucket,
    hash_bucket_sql,
    hash_half,
    hash_half_sql,
    universal_hash,
    universal_hash_sql,
)
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


# --------------------------------------------------------------------------
# Second-moment statistics
# --------------------------------------------------------------------------

def _purchase_cents_rollup(events: DataFrame, key, key_name: str) -> DataFrame:
    """Exact fixed-point purchase-revenue rollup per time key: cents
    accumulate as longs (order-independent sum), divided back to currency
    only at the edge.  The shared first stage of the Theil-Sen trend,
    weekday seasonality, anomaly-day and motif queries — one definition so
    the fixed-point discipline (null default, half-away scale-0 round,
    long cast) cannot drift between their oracles."""
    return (
        events.where(F.col("event_type") == "purchase")
        .groupBy(key.alias(key_name))
        .agg(
            cents_sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("cents")
        )
    )


def _daily_purchase_cents(events: DataFrame) -> DataFrame:
    """``_purchase_cents_rollup`` by epoch day (``day_num``, days since
    1970-01-01 UTC).  SQL twin: ``_daily_purchase_cents_sql``."""
    return _purchase_cents_rollup(
        events, F.floor(F.unix_timestamp("ts") / 86400).cast("long"), "day_num"
    )


def _daily_purchase_cents_sql(non_null_ts: bool = True) -> str:
    """``_daily_purchase_cents`` as the body of a DuckDB CTE; callers whose
    builder keeps NULL-ts purchases (a NULL ``day_num`` group) pass
    ``non_null_ts=False``."""
    ts_filter = " AND ts IS NOT NULL" if non_null_ts else ""
    return f"""SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_num,
           sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS cents
    FROM events WHERE event_type = 'purchase'{ts_filter}
    GROUP BY 1"""


@query(
    "event_value_moments",
    oracle="""
SELECT
    event_type,
    count(*)                                            AS n,
    round(avg(value) * 10000) / 10000                   AS mean_value,
    round(stddev_samp(value) * 10000) / 10000           AS sd_value,
    round(var_samp(value) * 10000) / 10000              AS var_value,
    round(corr(value, CAST(user_id % 97 AS DOUBLE)) * 10000) / 10000
                                                        AS corr_value_userbucket,
    round(covar_samp(value, CAST(user_id % 97 AS DOUBLE)) * 10000) / 10000
                                                        AS covar_value_userbucket
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
""",
)
def q_event_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per event type: sample stddev/variance of
    the monetary value plus its correlation/covariance with a bounded user
    bucket (user_id % 97 — small magnitudes keep the single-pass co-moment
    update numerically comparable across engines).

    One hash aggregation with map-side partial combine: Spark's stddev/corr
    aggregates keep constant-size state (n, mean, M2, co-moments) per group,
    so the shuffle carries #event_types rows regardless of corpus size —
    the canonical scalable-statistics plan at 100 TB."""
    events = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    bucket = (F.col("user_id") % 97).cast("double")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        fround(F.avg("value"), 4).alias("mean_value"),
        fround(F.stddev_samp("value"), 4).alias("sd_value"),
        fround(F.var_samp("value"), 4).alias("var_value"),
        fround(F.corr(F.col("value"), bucket), 4).alias("corr_value_userbucket"),
        fround(F.covar_samp(F.col("value"), bucket), 4).alias("covar_value_userbucket"),
    )


# --------------------------------------------------------------------------
# Regression aggregates: Zipf slope of the corpus term distribution
# --------------------------------------------------------------------------

@query(
    "ngram_zipf_slope",
    oracle="""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
), counts AS (
    SELECT w, count(*) AS c FROM toks WHERE w <> '' GROUP BY w
), ranked AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM counts
)
SELECT
    count(*)                                               AS n_terms,
    round(regr_slope(ln(c), ln(r)) * 10000) / 10000        AS zipf_slope,
    round(regr_intercept(ln(c), ln(r)) * 10000) / 10000    AS zipf_intercept,
    round(regr_r2(ln(c), ln(r)) * 10000) / 10000           AS zipf_r2
FROM ranked
""",
)
def q_ngram_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS slope /
    intercept / R² of ln(count) against ln(rank) via the linear-regression
    aggregate family (`regr_slope` &co) — the standard corpus-health
    diagnostic (natural text ≈ -1; synthetic or boilerplate-heavy corpora
    deviate).

    Plan: tokenize → hash-agg term counts (shuffle = distinct vocabulary,
    not corpus size) → **two-phase distributed rank**
    (`functions/ranks.py::global_row_number`: range-repartition on
    (c desc, w), per-partition local row_number, broadcast cumulative
    offsets) — a web-scale vocabulary is 10^8-10^9 terms, so no
    single-partition Sort/Window anywhere over it — → one regr_*
    aggregation with constant state."""
    from e_commerce_streaming_datapipeline_spark.functions.ranks import global_row_number

    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    toks = docs.select(F.explode(F.split("text", " ")).alias("w")).where(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count("*").alias("c"))
    ranked = global_row_number(
        counts, [F.col("c").desc(), F.col("w")], rank_col="r"
    ).select("c", "r")
    y, x = F.log(F.col("c")), F.log(F.col("r"))
    return ranked.agg(
        F.count("*").alias("n_terms"),
        fround(F.regr_slope(y, x), 4).alias("zipf_slope"),
        fround(F.regr_intercept(y, x), 4).alias("zipf_intercept"),
        fround(F.regr_r2(y, x), 4).alias("zipf_r2"),
    )


# --------------------------------------------------------------------------
# Time-weighted average (time-series analytics)
# --------------------------------------------------------------------------

@query(
    "event_value_twa",
    oracle="""
WITH seq AS (
    SELECT
        user_id,
        epoch_us(ts) AS ts_us,
        coalesce(value, 0.0) AS v,
        lead(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        ) AS next_us
    FROM events WHERE event_type = 'purchase'
), segs AS (
    SELECT user_id, v, next_us - ts_us AS dt_us
    FROM seq WHERE next_us IS NOT NULL
)
SELECT
    user_id,
    count(*)                                        AS n_segments,
    CAST(sum(dt_us) AS BIGINT)                      AS span_us,
    round(sum(v * dt_us) / sum(dt_us) * 10000) / 10000 AS twa_value
FROM segs
GROUP BY user_id
HAVING sum(dt_us) > 0
""",
)
def q_event_value_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average purchase value per user: each purchase's value
    is weighted by how long it stayed the *latest* purchase (until the
    user's next one) — the time-series TWA/VWAP shape, built from `lead`
    over exact integer microseconds (`unix_micros` ≡ DuckDB `epoch_us`,
    so segment durations are bit-identical cross-engine).

    Plan: one shuffle on user_id feeds BOTH the lead window and the final
    aggregation (same partitioning reused, no second exchange); window
    state is one row of lookahead.  Skew = per-user event count, bounded
    for behavioral streams."""
    seq = (
        load_table(spark, "events", sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.coalesce("value", F.lit(0.0)).alias("v"),
            "event_id",
        )
        .withColumn(
            "next_us",
            F.lead("ts_us").over(
                Window.partitionBy("user_id").orderBy("ts_us", "event_id")
            ),
        )
    )
    segs = seq.where(F.col("next_us").isNotNull()).select(
        "user_id", "v", (F.col("next_us") - F.col("ts_us")).alias("dt_us")
    )
    return (
        segs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("dt_us").alias("span_us"),
            fround(F.sum(F.col("v") * F.col("dt_us")) / F.sum("dt_us"), 4).alias(
                "twa_value"
            ),
        )
        .where(F.col("span_us") > 0)
    )


# --------------------------------------------------------------------------
# Marketing attribution: first-touch / last-touch
# --------------------------------------------------------------------------

@query(
    "attribution_first_last",
    oracle="""
WITH pairs AS (
    SELECT
        p.event_id AS purchase_id,
        p.user_id,
        c.event_id AS click_id,
        lpad(CAST(epoch_us(c.ts) AS VARCHAR), 20, '0') || ':' ||
        lpad(CAST(c.event_id AS VARCHAR), 20, '0') AS ord_key
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts
    WHERE p.event_type = 'purchase'
)
SELECT
    purchase_id,
    user_id,
    arg_min(click_id, ord_key) AS first_touch_click,
    arg_max(click_id, ord_key) AS last_touch_click,
    count(*)                   AS n_clicks_1h
FROM pairs
GROUP BY purchase_id, user_id
""",
)
def q_attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch click attribution: for every purchase, the
    earliest and latest click by the same user in the preceding hour
    (`min_by`/`max_by` over a zero-padded (timestamp, event_id) string key —
    total order, so ties resolve identically on both engines).

    Plan: the range join shuffles both sides on user_id once; min_by/max_by
    keep one row of state per (purchase, extreme) so the post-join
    aggregation collapses map-side.  At 100 TB the same query runs as the
    watermarked interval stream-stream join (`attribution_stream_join`) —
    this is its batch/backfill twin."""
    events = load_table(spark, "events", sf_dir)
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    ord_key = F.concat(
        F.lpad(F.unix_micros("c_ts").cast("string"), 20, "0"),
        F.lit(":"),
        F.lpad(F.col("click_id").cast("string"), 20, "0"),
    )
    pairs = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "user_id", "click_id", ord_key.alias("ord_key"))
    return pairs.groupBy("purchase_id", "user_id").agg(
        F.min_by("click_id", "ord_key").alias("first_touch_click"),
        F.max_by("click_id", "ord_key").alias("last_touch_click"),
        F.count("*").alias("n_clicks_1h"),
    )


@query(
    "attribution_linear_cents",
    oracle="""
WITH pairs AS (
    SELECT
        p.event_id AS purchase_id,
        p.user_id,
        CAST(round(p.value * 100) AS BIGINT) AS cents,
        c.event_id AS click_id,
        row_number() OVER (
            PARTITION BY p.event_id ORDER BY c.ts, c.event_id NULLS LAST
        ) AS touch_rank,
        count(*) OVER (PARTITION BY p.event_id) AS n_touches
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts
    WHERE p.event_type = 'purchase' AND p.value IS NOT NULL AND p.value > 0
)
SELECT
    purchase_id,
    user_id,
    click_id,
    CAST(touch_rank AS INT) AS touch_rank,
    CAST(n_touches AS INT)  AS n_touches,
    cents // n_touches
      + CASE WHEN touch_rank <= cents % n_touches THEN 1 ELSE 0 END
      AS attributed_cents
FROM pairs
""",
)
def q_attribution_linear_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) click attribution with an EXACT largest-remainder
    cents split: each purchase's value in integer cents divides equally
    across its preceding-hour clicks, and the indivisible remainder goes to
    the EARLIEST touches one cent each — so per purchase the attributed
    cents sum back to the purchase cents EXACTLY (a books-balance invariant
    float division can never give; `tests/test_round3_ops.py` asserts it).
    Purchases with no value (or a non-positive one) are excluded: equal
    credit over negative cents is undefined and floor-vs-truncate integer
    division diverges between engines on negatives.

    Scale shape: one user-keyed range join (the same shuffle as
    `attribution_first_last` — this is its credit-assignment sibling), then
    two window functions over the per-purchase touch list, which is
    interval-bounded (clicks within one hour), so no window partition can
    grow with corpus size.  All arithmetic is integer DIV/MOD — exact at
    any scale, no summation-order sensitivity."""
    events = load_table(spark, "events", sf_dir)
    p = events.where(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") > 0)
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        cents(F.col("value")).alias("cents"),
    )
    c = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    pairs = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    w = Window.partitionBy("purchase_id")
    ordw = w.orderBy(F.col("c_ts").asc(), F.col("click_id").asc_nulls_last())
    ranked = pairs.select(
        "purchase_id",
        "user_id",
        "click_id",
        "cents",
        F.row_number().over(ordw).cast("int").alias("touch_rank"),
        F.count("*").over(w).cast("int").alias("n_touches"),
    )
    return ranked.select(
        "purchase_id",
        "user_id",
        "click_id",
        "touch_rank",
        "n_touches",
        (
            F.expr("cents DIV n_touches")
            + F.when(
                F.col("touch_rank") <= F.col("cents") % F.col("n_touches"), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("attributed_cents"),
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters
# --------------------------------------------------------------------------

_CMS_PARAMS = [(0, 40503, 7), (1, 67867, 911), (2, 104729, 3571), (3, 122949, 27361)]
_CMS_W = 256
_CMS_THRESHOLD = 20


def _cms_bucket_structs(key_col: str) -> F.Column:
    """The (row j, bucket) pairs a key hashes to — shared by every CMS-based
    operator so the hash family/cell layout can only change in one place."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (universal_hash(F.col(key_col), a, b) % _CMS_W).alias("bkt"),
            )
            for j, a, b in _CMS_PARAMS
        ]
    )


# the oracles' twin of _cms_bucket_structs: a ``params`` CTE of the hash
# rows and each key's bucket in row ``p.j``
_CMS_PARAMS_CTE = f"""params AS (
    SELECT * FROM (VALUES {", ".join(f"({j}, {a}, {b})" for j, a, b in _CMS_PARAMS)})
    t(j, a, b)
)"""


def _cms_bucket_sql(key: str) -> str:
    return f"{universal_hash_sql(key, 'p.a', 'p.b')} % {_CMS_W}"


def cms_cells(df: DataFrame, key_col: str) -> DataFrame:
    """Build the 4 x 256 count-min sketch of ``df[key_col]`` as a
    (j, bkt, c) relation — one hash aggregation, mergeable partials."""
    return (
        df.select(F.explode(_cms_bucket_structs(key_col)).alias("s"))
        .select("s.j", "s.bkt")
        .groupBy("j", "bkt")
        .agg(F.count("*").alias("c"))
    )


HEAVY_HITTERS_ORACLE = f"""
WITH {_CMS_PARAMS_CTE}, cells AS (
    SELECT p.j,
           {_cms_bucket_sql("e.user_id")} AS bkt,
           count(*) AS c
    FROM events e, params p
    GROUP BY 1, 2
), exact AS (
    SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
), est AS (
    SELECT x.user_id, min(c.c) AS cms_estimate
    FROM (
        SELECT u.user_id, p.j,
               {_cms_bucket_sql("u.user_id")} AS bkt
        FROM exact u, params p
    ) x
    JOIN cells c ON c.j = x.j AND c.bkt = x.bkt
    GROUP BY 1
)
SELECT
    e.user_id,
    e.exact_n,
    est.cms_estimate,
    est.cms_estimate - e.exact_n AS overcount
FROM exact e JOIN est ON e.user_id = est.user_id
WHERE e.exact_n >= {_CMS_THRESHOLD}
"""


@query("heavy_hitters_cms", oracle=HEAVY_HITTERS_ORACLE)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: a 4×256 CMS over user activity
    (pairwise-independent integer hashes — pure arithmetic, so the DuckDB
    oracle rebuilds the identical sketch) with per-user estimates
    (min over the 4 rows) reported against exact counts, exposing the
    sketch's one-sided overcount.

    Scale story: the sketch IS a groupBy — partial combine builds per-task
    sub-sketches and the shuffle carries ≤ 4×256 cells per task no matter
    the corpus size; the finished sketch broadcasts to estimate any key set
    without re-scanning the corpus.  The exact-count branch here exists to
    verify the estimate and anchor the oracle; in production you keep only
    the sketch."""
    events = load_table(spark, "events", sf_dir).select("user_id")
    cells = cms_cells(events, "user_id")
    exact = events.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    probes = exact.select(
        "user_id", F.explode(_cms_bucket_structs("user_id")).alias("s")
    ).select("user_id", "s.j", "s.bkt")
    est = (
        probes.join(F.broadcast(cells), ["j", "bkt"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return (
        exact.where(F.col("exact_n") >= _CMS_THRESHOLD)
        .join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n")).alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# Iterative graph analytics: PageRank over the nation trade graph
# --------------------------------------------------------------------------

_PR_DAMPING = 0.85
_PR_ITERATIONS = 3


@query(
    "nation_pagerank",
    oracle=f"""
WITH edges AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
), outw AS (
    SELECT src, sum(w) AS total_w FROM edges GROUP BY src
), nn AS (
    SELECT n_nationkey, n_name, (SELECT count(*) FROM nation) AS n_nodes
    FROM nation
), r0 AS (
    SELECT n_nationkey, n_name, n_nodes, 1.0 / n_nodes AS p FROM nn
), r1 AS (
    SELECT nn.n_nationkey, nn.n_name, nn.n_nodes,
           (1 - {_PR_DAMPING}) / nn.n_nodes
           + {_PR_DAMPING} * coalesce(sum(r.p * e.w / o.total_w), 0.0) AS p
    FROM nn
    LEFT JOIN edges e ON e.dst = nn.n_nationkey
    LEFT JOIN r0 r    ON r.n_nationkey = e.src
    LEFT JOIN outw o  ON o.src = e.src
    GROUP BY 1, 2, 3
), r2 AS (
    SELECT nn.n_nationkey, nn.n_name, nn.n_nodes,
           (1 - {_PR_DAMPING}) / nn.n_nodes
           + {_PR_DAMPING} * coalesce(sum(r.p * e.w / o.total_w), 0.0) AS p
    FROM nn
    LEFT JOIN edges e ON e.dst = nn.n_nationkey
    LEFT JOIN r1 r    ON r.n_nationkey = e.src
    LEFT JOIN outw o  ON o.src = e.src
    GROUP BY 1, 2, 3
), r3 AS (
    SELECT nn.n_nationkey, nn.n_name,
           (1 - {_PR_DAMPING}) / nn.n_nodes
           + {_PR_DAMPING} * coalesce(sum(r.p * e.w / o.total_w), 0.0) AS p
    FROM nn
    LEFT JOIN edges e ON e.dst = nn.n_nationkey
    LEFT JOIN r2 r    ON r.n_nationkey = e.src
    LEFT JOIN outw o  ON o.src = e.src
    GROUP BY 1, 2, nn.n_nodes
)
SELECT n_nationkey AS nationkey, n_name AS nation,
       round(p * 1000000) / 1000000 AS pagerank
FROM r3
""",
)
def q_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics: PageRank (damping 0.85, 3 fixed
    iterations) over the customer-nation → supplier-nation trade graph
    derived from lineitem ⋈ orders ⋈ customer ⋈ supplier.  Dangling-node
    mass is dropped (not redistributed) — stated so the oracle's LEFT JOIN
    formulation is the exact same recurrence.

    Scale split: the expensive stage is the EDGE BUILD (two fact-fact joins
    over the full corpus, broadcast dims) which runs once; the iteration
    then walks a #nations² bounded edge list — tiny state, loop unrolled
    into the plan.  For graphs where the edge list itself is huge, the same
    loop holds with edges/outw cached (`persist`) and ranks re-shuffled per
    iteration on dst — contributions aggregate map-side first."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    edges = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("total_w"))
    n_nodes = nation.count()  # #nations: bounded dimension, plan-time scalar
    nodes = nation.select("n_nationkey", "n_name")

    ranks = nodes.select("n_nationkey", F.lit(1.0 / n_nodes).alias("p"))
    # materialize the normalized edge shares once: the relation is
    # nation²-bounded (≤625 rows) but its lineage is the corpus-sized
    # customer⋈orders⋈supplier join — without truncation every power
    # iteration re-embeds that join in the plan, so the final plan carries
    # it ×_PR_ITERATIONS and each rank update re-executes it (the
    # iterative-lineage rule from supplier_components/kcore, guide §3.3)
    contrib_edges = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("total_w")).alias("share")
    ).transform(round_checkpoint)
    for _ in range(_PR_ITERATIONS):
        contribs = (
            contrib_edges.join(
                ranks.select(F.col("n_nationkey").alias("src"), "p"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("share")).alias("mass"))
        )
        ranks = nodes.join(
            contribs, nodes.n_nationkey == contribs.dst, "left"
        ).select(
            "n_nationkey",
            (
                F.lit((1 - _PR_DAMPING) / n_nodes)
                + _PR_DAMPING * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("p"),
        )
    return ranks.join(nodes, "n_nationkey").select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
        fround(F.col("p"), 6).alias("pagerank"),
    )


# --------------------------------------------------------------------------
# Calendar-aware rolling aggregation (RANGE frame)
# --------------------------------------------------------------------------

@query(
    "revenue_rolling_7d",
    oracle="""
WITH daily AS (
    SELECT
        CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        date_diff('day', DATE '1970-01-01', o_orderdate)  AS day_num,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
    FROM orders
    GROUP BY 1, 2
)
SELECT
    day,
    round(rev_c / 100.0, 2) AS daily_revenue,
    round(sum(rev_c) OVER (
        ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
    ) / 100.0, 2)           AS revenue_7d,
    CAST(count(*) OVER (
        ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
    ) AS INT)               AS days_present_7d
FROM daily
""",
)
def q_revenue_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE calendar 7-day rolling revenue via a RANGE frame over day
    numbers — unlike the ROWS frame in `daily_revenue_ma`, missing calendar
    days shrink the window instead of silently pulling in older rows; the
    frame is value-based (day_num between current-6 and current).

    Money sums are scaled-long fixed point (exact, order-independent);
    the window runs over the PRE-AGGREGATED daily relation (#days rows),
    so the single unpartitioned sort is bounded by the calendar, not the
    corpus — at 100 TB the daily rollup shuffles, the frame does not."""
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("day_num"),
    ).agg(cents_sum(F.col("o_totalprice")).alias("rev_c"))
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day",
        fround(F.col("rev_c") / 100.0, 2).alias("daily_revenue"),
        fround(F.sum("rev_c").over(w) / 100.0, 2).alias("revenue_7d"),
        F.count("*").over(w).cast("int").alias("days_present_7d"),
    )


# --------------------------------------------------------------------------
# ML feature engineering: per-user behavioral feature vector
# --------------------------------------------------------------------------

@query(
    "user_behavior_features",
    oracle="""
WITH per_type AS (
    SELECT user_id, event_type, count(*) AS c
    FROM events GROUP BY 1, 2
), with_p AS (
    SELECT user_id, c,
           c * 1.0 / sum(c) OVER (PARTITION BY user_id) AS p
    FROM per_type
), per_user AS (
    SELECT
        user_id,
        sum(c)                                        AS n_events,
        count(*)                                      AS n_types,
        round(-sum(p * ln(p)) * 10000) / 10000 + 0.0  AS type_entropy
    FROM with_p
    GROUP BY user_id
), spans AS (
    SELECT user_id,
           count(*) AS n,
           max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS purchase_cents
    FROM events GROUP BY 1
)
SELECT
    u.user_id,
    CAST(u.n_events AS BIGINT)   AS n_events,
    CAST(u.n_types AS BIGINT)    AS n_types,
    u.type_entropy,
    CASE WHEN s.n >= 2
         THEN CAST(s.span_us // (s.n - 1) AS BIGINT) ELSE CAST(0 AS BIGINT)
    END                          AS mean_gap_us,
    round(s.purchase_cents / 100.0, 2) AS purchase_value
FROM per_user u JOIN spans s USING (user_id)
""",
)
def q_user_behavior_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature vector for downstream ML: event count,
    distinct-type count, Shannon entropy of the event-type mix (the
    diversity signal), exact mean inter-event gap in integer microseconds
    (span // (n-1) — floor division, identical cross-engine), and total
    purchase value in fixed-point cents.

    Plan: two chained hash aggs — (user, type) counts collapse map-side
    first, then the per-user rollup computes entropy from ≤ |event-type|
    rows per user; the span/value branch is an independent single agg
    joined back on user_id.  All shuffles carry group keys only; entropy
    adds no extra pass."""
    events = load_table(spark, "events", sf_dir)
    per_type = events.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    n_u = F.sum("c").over(Window.partitionBy("user_id"))
    p = F.col("c") * 1.0 / n_u
    per_user = (
        per_type.withColumn("plogp", p * F.log(p))
        .groupBy("user_id")
        .agg(
            F.sum("c").alias("n_events"),
            F.count("*").alias("n_types"),
            (fround(-F.sum("plogp"), 4) + 0.0).alias("type_entropy"),
        )
    )
    spans = events.groupBy("user_id").agg(
        F.count("*").alias("n"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("span_us"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                cents(F.coalesce("value", F.lit(0.0))),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("purchase_cents"),
    )
    return per_user.join(spans, "user_id").select(
        "user_id",
        "n_events",
        "n_types",
        "type_entropy",
        # exact integer floor division (`div`), not double-divide-then-cast:
        # fl(a/b) truncated can cross an integer the exact quotient sits
        # below once products approach 2^52 — `div` matches the oracle's //
        # bit-exactly at any magnitude
        F.when(F.col("n") >= 2, F.expr("span_us div (n - 1)"))
        .otherwise(F.lit(0).cast("long"))
        .alias("mean_gap_us"),
        fround(F.col("purchase_cents") / 100.0, 2).alias("purchase_value"),
    )


# --------------------------------------------------------------------------
# Cohort retention (product analytics)
# --------------------------------------------------------------------------

@query(
    "cohort_retention",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT e.user_id,
           f.cohort_day,
           date_diff('day', f.cohort_day,
                     CAST(date_trunc('day', e.ts) AS TIMESTAMP)) AS day_offset
    FROM events e JOIN firsts f USING (user_id)
), sizes AS (
    SELECT cohort_day, count(*) AS cohort_size FROM firsts GROUP BY 1
)
SELECT
    a.cohort_day,
    CAST(a.day_offset AS INT)            AS day_offset,
    count(*)                             AS n_active,
    CAST(s.cohort_size AS BIGINT)        AS cohort_size,
    round(count(*) * 100.0 / s.cohort_size, 2) AS retention_pct
FROM activity a JOIN sizes s USING (cohort_day)
GROUP BY a.cohort_day, a.day_offset, s.cohort_size
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle — the standard product-analytics rollup
    the reference's Grafana boards stop short of: users are cohorted by
    first-seen day, and each later active day counts them at that day
    offset, yielding (cohort, offset) → retention%.

    Plan: first-seen is a per-user hash agg; the offset relation is a
    DISTINCT over (user, day) — both shuffles carry user-grain keys with
    map-side combine; the cohort join re-uses the user_id partitioning
    (no extra exchange), and the final rollup is (#days)² rows.  The
    cohort-size join is a broadcast (#days rows)."""
    events = load_table(spark, "events", sf_dir)
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("cohort_day")
    )
    activity = (
        events.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.col("cohort_day").cast("date"),
            ).alias("day_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    return (
        activity.join(F.broadcast(sizes), "cohort_day")
        .groupBy("cohort_day", "day_offset", "cohort_size")
        .agg(F.count("*").alias("n_active"))
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            fround(F.col("n_active") * 100.0 / F.col("cohort_size"), 2).alias(
                "retention_pct"
            ),
        )
    )


# --------------------------------------------------------------------------
# Markov transition matrix over event sequences
# --------------------------------------------------------------------------

@query(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id NULLS LAST
           ) AS to_type
    FROM events
    -- event-time policy: NULL-ts rows cannot be sequenced
    WHERE ts IS NOT NULL
), pairs AS (
    SELECT from_type, to_type, count(*) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT
    from_type,
    to_type,
    n,
    round(n * 1.0 / sum(n) OVER (PARTITION BY from_type) * 10000) / 10000
        AS p_transition
FROM pairs
""",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current) — the sequence-mining summary behind
    next-action prediction and funnel-leak diagnosis.

    Plan: one shuffle on user_id for the lead() window (exact-microsecond
    ordering with event_id tie-break), then a hash agg on the 5×5 type-pair
    domain — map-side combine collapses everything; the row-normalizing
    window runs over ≤ |types|² rows."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    seq = events.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type")
        .over(
            # NULLS LAST on the id tie-break: Spark ASC defaults NULLS
            # FIRST, DuckDB NULLS LAST — a NULL-event_id row tied on ts
            # flips the sequencing otherwise (same class as
            # pit_feature_assembly / deletion_vector_scan; caught by the
            # tied-NULL-purchase edge row added r7)
            Window.partitionBy("user_id").orderBy(
                F.unix_micros("ts"), F.col("event_id").asc_nulls_last()
            )
        )
        .alias("to_type"),
    )
    pairs = (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        fround(
            F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("from_type")), 4
        ).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# Conversion latency distribution
# --------------------------------------------------------------------------

@query(
    "conversion_latency_stats",
    oracle="""
WITH per_user AS (
    SELECT user_id,
        min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)     AS first_view,
        min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase
    FROM events
    GROUP BY user_id
), latencies AS (
    SELECT user_id, first_purchase - first_view AS latency_us
    FROM per_user
    WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
      AND first_purchase >= first_view
)
SELECT
    count(*)                                             AS n_converted,
    CAST(min(latency_us) AS BIGINT)                      AS min_latency_us,
    CAST(max(latency_us) AS BIGINT)                      AS max_latency_us,
    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_us) AS BIGINT)
                                                         AS p50_latency_us,
    CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_us) AS BIGINT)
                                                         AS p90_latency_us
FROM latencies
""",
)
def q_conversion_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: first view → first purchase latency
    per user, summarized as exact discrete percentiles over integer
    microseconds (percentile_disc picks an actual latency, so the value
    is hash-identical cross-engine — no interpolation arithmetic).

    Plan: conditional-min hash agg per user (one shuffle, constant state).
    The discrete percentile is the rank-ceil(q·n) element (exactly
    percentile_disc's cume_dist ≥ q rule — Spark's `percentile` would
    interpolate).  The rank AND the total count both come from the
    **two-phase distributed rank** (`functions/ranks.py`): the
    converted-users relation is user-proportional (unbounded), so neither
    a global-sort window nor a `count(*) OVER ()` global window may touch
    it — ranks are range-partition-local + broadcast offsets, and `n` is
    the sum of the bounded per-partition counts.  The GK-sketch sibling
    for when exactness is negotiable is `approx_value_percentiles`."""
    from e_commerce_streaming_datapipeline_spark.functions.ranks import global_row_number

    events = load_table(spark, "events", sf_dir)
    us = F.unix_micros("ts")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("first_purchase"),
    )
    lat = per_user.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select((F.col("first_purchase") - F.col("first_view")).alias("latency_us"))
    ranked = global_row_number(
        lat, [F.col("latency_us")], rank_col="rn", total_col="n"
    )
    disc = lambda q: F.min(  # noqa: E731 — rank-ceil(q*n) = percentile_disc
        F.when(F.col("rn") >= F.ceil(F.lit(q) * F.col("n")), F.col("latency_us"))
    )
    return ranked.agg(
        F.count("*").alias("n_converted"),
        F.min("latency_us").alias("min_latency_us"),
        F.max("latency_us").alias("max_latency_us"),
        disc(0.5).alias("p50_latency_us"),
        disc(0.9).alias("p90_latency_us"),
    )


@query(
    "exact_price_percentiles",
    oracle="""
SELECT
    count(*) AS n_items,
    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE)
        AS p25,
    CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE)
        AS p50,
    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE)
        AS p75,
    CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE)
        AS p90,
    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE)
        AS p99
FROM lineitem WHERE l_extendedprice IS NOT NULL
""",
)
def q_exact_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global percentile_disc over the FACT relation — the two-phase
    distributed rank (`functions/ranks.py`) applied at lineitem grain, where
    a `Window.orderBy` formulation would funnel every fact row through one
    task.  percentile_disc picks actual data values (no interpolation), so
    rank-position selection is hash-identical cross-engine; ties don't
    matter because position p holds the same VALUE under any permutation of
    equal keys.

    This is the exactness ladder's top rung: `approx_value_percentiles` is
    the one-pass GK sketch (bounded error, mergeable), `equi_depth_histogram`
    the bucketed profile, and this query the exact ground truth — now
    scale-viable because the only global ordering is range-partitioned with
    broadcast offsets (one extra shuffle vs the sketch, zero single-task
    sorts).  `conversion_latency_stats` is the same shape on the
    user-conversion relation."""
    from e_commerce_streaming_datapipeline_spark.functions.ranks import global_row_number

    li = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_extendedprice").isNotNull()
    )
    ranked = global_row_number(
        li.select("l_extendedprice", "l_orderkey", "l_linenumber"),
        [
            F.col("l_extendedprice").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        rank_col="rn",
        total_col="n",
    )
    disc = lambda q: F.min(  # noqa: E731 — rank-ceil(q*n) = percentile_disc
        F.when(F.col("rn") >= F.ceil(F.lit(q) * F.col("n")), F.col("l_extendedprice"))
    )
    return ranked.agg(
        F.count("*").alias("n_items"),
        disc(0.25).alias("p25"),
        disc(0.50).alias("p50"),
        disc(0.75).alias("p75"),
        disc(0.90).alias("p90"),
        disc(0.99).alias("p99"),
    )


# --------------------------------------------------------------------------
# Native frequent-items sketch (approx_top_k)
# --------------------------------------------------------------------------

@query(
    "approx_topk_event_types",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(row_number() OVER (ORDER BY count(*) DESC, event_type) AS INT) AS rank
FROM events
GROUP BY event_type
ORDER BY n DESC, event_type
""",
)
def q_approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native frequent-items sketch: Spark 4's `approx_top_k` (DataSketches
    frequent-items under the hood) — the mergeable one-pass alternative to
    groupBy+sort for heavy-hitter dashboards.  On a bounded-cardinality
    column the sketch holds every counter exactly, so the flattened
    (item, count) set is deterministic and hash-checks against the exact
    GROUP BY oracle; ranking is re-derived deterministically after
    exploding (count desc, item) rather than trusting sketch order.

    Scale story: the sketch aggregates map-side into fixed-size state and
    merges associatively — one pass, no full shuffle of distinct keys —
    and the same call emits heavy hitters over any stream/batch split.
    For unbounded-cardinality keys the counts become (bounded-error)
    estimates; `heavy_hitters_cms` shows the same idea built from
    first principles."""
    events = load_table(spark, "events", sf_dir)
    sketch = events.agg(
        F.expr("approx_top_k(event_type, 5, 32)").alias("tk")
    )
    flat = sketch.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("event_type"), F.col("e.count").alias("n")
    )
    return flat.select(
        "event_type",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("event_type")))
        .cast("int")
        .alias("rank"),
    )


# --------------------------------------------------------------------------
# Time-series subsequence similarity search
# --------------------------------------------------------------------------

_TS_WINDOW = 30  # minutes per pattern window
_TS_TOP_K = 5


@query(
    "gmv_pattern_topk",
    oracle=f"""
WITH minutely AS (
    SELECT date_trunc('minute', ts) AS minute,
           CAST(sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
), ordered AS (
    SELECT minute, cents,
           row_number() OVER (ORDER BY minute) AS rn
    FROM minutely
), windows AS (
    SELECT rn, minute AS window_end,
           list(cents) OVER w AS vec,
           sum(cents)  OVER w AS s
    FROM ordered
    WINDOW w AS (ORDER BY rn ROWS BETWEEN {_TS_WINDOW - 1} PRECEDING
                                      AND CURRENT ROW)
), complete_w AS (
    SELECT * FROM windows WHERE rn >= {_TS_WINDOW}
), q AS (
    SELECT vec AS qvec, s AS qs, rn AS qrn
    FROM complete_w
    ORDER BY rn DESC LIMIT 1
), dists AS (
    SELECT
        c.window_end,
        CAST(list_aggregate(
            list_transform(
                list_zip(c.vec, q.qvec),
                p -> (({_TS_WINDOW} * p[1] - c.s) - ({_TS_WINDOW} * p[2] - q.qs))
                     * (({_TS_WINDOW} * p[1] - c.s) - ({_TS_WINDOW} * p[2] - q.qs))
            ), 'sum') AS DOUBLE)
            / ({_TS_WINDOW}.0 * {_TS_WINDOW} * 10000) AS d
    FROM complete_w c, q
    WHERE c.rn <= q.qrn - {_TS_WINDOW}
)
SELECT window_end,
       round(d * 10000) / 10000 AS mc_dist_sq,
       CAST(row_number() OVER (ORDER BY d, window_end) AS INT) AS rank
FROM dists
QUALIFY rank <= {_TS_TOP_K}
""",
)
def q_gmv_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the streaming-systems
    shape of EDBT'19 "Time Series Similarity Search for Streaming Data"):
    which historical 30-minute GMV windows look most like the LATEST one?
    Distance is MEAN-CENTERED Euclidean computed entirely in scaled-integer
    arithmetic — Σ((n·xᵢ−Sₓ)−(n·yᵢ−Sy))²/n² with cents and window sums as
    exact longs (the same rational-centering trick as kmeans_lloyd_step) —
    so the ranking is bit-deterministic cross-engine; candidate windows
    must not overlap the query.

    Plan: the minutely rollup is corpus-sized work (hash agg); windows are
    ONE ordered pass with a 30-row frame (arrays assembled in frame order,
    no self-join row explosion — the naive lag-join costs 30 shuffles);
    the query vector broadcasts as a 1-row relation and the distance scan
    is row-local.  The single global sort is over #minutes rows, not
    events; partition by coarse time ranges for multi-year series."""
    events = load_table(spark, "events", sf_dir)
    minutely = _purchase_cents_rollup(
        events, F.date_trunc("minute", F.col("ts")), "minute"
    )
    ordered = minutely.withColumn("rn", F.row_number().over(Window.orderBy("minute")))
    frame = (
        Window.orderBy("rn").rowsBetween(-(_TS_WINDOW - 1), 0)
    )
    windows = (
        ordered.select(
            "rn",
            F.col("minute").alias("window_end"),
            F.collect_list("cents").over(frame).alias("vec"),
            F.sum("cents").over(frame).alias("s"),
        )
        .where(F.col("rn") >= _TS_WINDOW)
    )
    q = (
        windows.orderBy(F.col("rn").desc())
        .limit(1)
        .select(
            F.col("vec").alias("qvec"), F.col("s").alias("qs"), F.col("rn").alias("qrn")
        )
    )
    n = _TS_WINDOW
    diff = lambda x, y, s, qs: (n * x - s) - (n * y - qs)  # noqa: E731
    dist = F.aggregate(
        F.zip_with(
            F.col("vec"),
            F.col("qvec"),
            lambda x, y: diff(x, y, F.col("s"), F.col("qs"))
            * diff(x, y, F.col("s"), F.col("qs")),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    ).cast("double") / (float(n * n) * 10000)
    dists = (
        scalar_join(windows, q)
        .where(F.col("rn") <= F.col("qrn") - n)
        .select("window_end", dist.alias("d"))
    )
    w = Window.orderBy("d", "window_end")
    return (
        dists.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _TS_TOP_K)
        .select("window_end", fround(F.col("d"), 4).alias("mc_dist_sq"), "rank")
    )


# --------------------------------------------------------------------------
# Journey-shape similarity (behavioral clustering)
# --------------------------------------------------------------------------

@query(
    "journey_shape_pairs",
    oracle="""
WITH journeys AS (
    SELECT user_id,
           substr(string_agg(substr(event_type, 1, 1), '' ORDER BY epoch_us(ts), event_id), 1, 40) AS shape
    FROM events
    GROUP BY user_id
), keyed AS (
    SELECT user_id, shape, len(shape) AS l, substr(shape, 1, 2) AS pfx
    FROM journeys WHERE len(shape) >= 2
)
SELECT
    a.user_id AS user_a,
    b.user_id AS user_b,
    CAST(levenshtein(a.shape, b.shape) AS INT) AS shape_distance
FROM keyed a JOIN keyed b
  ON a.pfx = b.pfx
 AND a.user_id < b.user_id
 AND abs(a.l - b.l) <= 3
WHERE levenshtein(a.shape, b.shape) <= 3
""",
)
def q_journey_shape_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral journey clustering: each user's event sequence collapses
    to a shape string (ordered event-type initials, capped at 40), and
    near-identical journeys (edit distance ≤ 3) pair up — the session-path
    similarity signal behind behavioral cohorting and bot detection.

    Blocking makes the quadratic safe: candidates must share a 2-event
    PREFIX (an equi-join key — the pair search shuffles on it, never
    all-pairs) and sit within a ±3 length band (a lower bound on edit
    distance).  The per-user shape build is ONE hash aggregation
    (sort_array over collected (ts, id, initial) structs — the same shape
    as capped_running_value), not a full-partition window per event row;
    the 40-char cap bounds both state and levenshtein cost."""
    events = load_table(spark, "events", sf_dir)
    shapes = (
        events.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("ts_us"),
                        F.col("event_id").alias("event_id"),
                        F.substring("event_type", 1, 1).alias("ini"),
                    )
                )
            ).alias("evs")
        )
        .select(
            "user_id",
            F.substring(
                F.concat_ws("", F.transform(F.col("evs"), lambda e: e["ini"])),
                1,
                40,
            ).alias("shape"),
        )
    )
    keyed = shapes.where(F.length("shape") >= 2).select(
        "user_id",
        "shape",
        F.length("shape").alias("l"),
        F.substring("shape", 1, 2).alias("pfx"),
    )
    a = keyed.select(
        F.col("user_id").alias("user_a"),
        F.col("shape").alias("shape_a"),
        F.col("l").alias("la"),
        "pfx",
    )
    b = keyed.select(
        F.col("user_id").alias("user_b"),
        F.col("shape").alias("shape_b"),
        F.col("l").alias("lb"),
        "pfx",
    )
    return (
        a.join(
            b,
            (a.pfx == b.pfx)
            & (F.col("user_a") < F.col("user_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= 3),
        )
        .where(F.levenshtein("shape_a", "shape_b") <= 3)
        .select(
            "user_a",
            "user_b",
            F.levenshtein("shape_a", "shape_b").cast("int").alias("shape_distance"),
        )
    )


# --------------------------------------------------------------------------
# Capped running balance (non-windowable recurrence as a HOF fold)
# --------------------------------------------------------------------------

@query(
    "capped_running_value",
    oracle="""
WITH deltas AS (
    SELECT user_id,
           list(coalesce(value, 0.0) - 5.0
                ORDER BY epoch_us(ts), event_id) AS ds
    FROM events
    GROUP BY user_id
)
SELECT
    user_id,
    CAST(len(ds) AS BIGINT) AS n_events,
    round(list_reduce(
        list_prepend(0.0, ds),
        (acc, x) -> greatest(acc + x, 0.0)
    ) * 100) / 100 AS final_balance
FROM deltas
""",
)
def q_capped_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-capped running balance per user (every event: +value − 5 fee,
    balance can never go below 0) — the inventory/credit recurrence
    b_i = max(b_{i-1} + δ_i, 0) that NO window frame can express (the cap
    makes each step depend on the capped previous step).  Solved as an
    ordered HOF FOLD: collect the per-user deltas in event order and
    `aggregate` with greatest(acc+δ, 0) — sequential left-to-right IEEE
    arithmetic on both engines, so even this chained float recurrence
    hash-checks exactly.

    Scale: one shuffle groups each user's deltas; fold cost is linear and
    row-local.  Per-user event counts bound the array (the same cap
    discipline as the collect_list samples); users with unbounded histories
    would chunk by epoch with carried-forward balances — the fold's
    associativity-free structure is exactly why this NEEDS per-key ordered
    state, not a window."""
    events = load_table(spark, "events", sf_dir)
    ordered = events.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("o1"),
            F.col("event_id").alias("o2"),
            (F.coalesce("value", F.lit(0.0)) - 5.0).alias("d"),
        ).alias("s"),
    )
    per_user = ordered.groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("ss")
    )
    ds = F.transform(F.col("ss"), lambda s: s["d"])
    fold = F.aggregate(
        ds, F.lit(0.0), lambda acc, x: F.greatest(acc + x, F.lit(0.0))
    )
    return per_user.select(
        "user_id",
        F.size("ss").cast("long").alias("n_events"),
        fround(fold, 2).alias("final_balance"),
    )


# --------------------------------------------------------------------------
# Anomaly detection: z-score outlier days
# --------------------------------------------------------------------------

@query(
    "revenue_anomaly_days",
    oracle="""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
), stats AS (
    SELECT avg(cents) AS mu, stddev_pop(cents) AS sigma, count(*) AS n_days
    FROM daily
)
SELECT
    d.day,
    round(d.cents / 100.0, 2)                        AS revenue,
    round((d.cents - s.mu) / s.sigma * 10000) / 10000 AS z_score,
    CAST(s.n_days AS BIGINT)                          AS n_days
FROM daily d, stats s
WHERE s.sigma > 0 AND abs((d.cents - s.mu) / s.sigma) > 2
""",
)
def q_revenue_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection on the revenue series: days whose total deviates
    more than 2 population standard deviations from the mean — the
    alerting rule behind every revenue-drop dashboard, computed on exact
    fixed-point cents (the z-score division is the only float op, done
    identically from identical integers on both engines).

    Plan: daily rollup (corpus-sized hash agg) → 1-row stats broadcast →
    row-local flag over #days rows.  At scale the mean/std would be a
    trailing window (seasonality) — same shape with a RANGE frame as in
    `revenue_rolling_7d`."""
    events = load_table(spark, "events", sf_dir)
    daily = _purchase_cents_rollup(events, F.date_trunc("day", F.col("ts")), "day")
    stats = daily.agg(
        F.avg("cents").alias("mu"),
        F.stddev_pop("cents").alias("sigma"),
        F.count("*").alias("n_days"),
    )
    z = (F.col("cents") - F.col("mu")) / F.col("sigma")
    return (
        scalar_join(daily, stats)
        .where((F.col("sigma") > 0) & (F.abs(z) > 2))
        .select(
            "day",
            fround(F.col("cents") / 100.0, 2).alias("revenue"),
            fround(z, 4).alias("z_score"),
            F.col("n_days").cast("long").alias("n_days"),
        )
    )


# --------------------------------------------------------------------------
# Robust statistics: winsorized means
# --------------------------------------------------------------------------

@query(
    "winsorized_value_stats",
    oracle="""
WITH vals AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
), ranked AS (
    SELECT event_type, cents,
           row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
           count(*)    OVER (PARTITION BY event_type) AS n
    FROM vals
), bounds AS (
    SELECT event_type,
           min(CASE WHEN rn >= ceil(0.05 * n) THEN cents END) AS lo,
           min(CASE WHEN rn >= ceil(0.95 * n) THEN cents END) AS hi
    FROM ranked GROUP BY event_type
)
SELECT
    v.event_type,
    count(*)                                   AS n,
    round(v2.lo / 100.0, 2)                    AS p05,
    round(v2.hi / 100.0, 2)                    AS p95,
    round(avg(least(greatest(v.cents, v2.lo), v2.hi)) / 100 * 10000) / 10000
                                               AS winsorized_mean,
    round(avg(v.cents) / 100 * 10000) / 10000  AS raw_mean
FROM vals v JOIN bounds v2 USING (event_type)
GROUP BY v.event_type, v2.lo, v2.hi
""",
)
def q_winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics for curation: per event type, the 5%/95% discrete
    percentile bounds (rank-ceil rule, exact integers) and the WINSORIZED
    mean — outliers clipped to the bounds instead of dropped — next to the
    raw mean, quantifying how much tail values distort it.  The standard
    robust-aggregation step before thresholding any heavy-tailed metric.

    Plan: one ranked window pass per type (at corpus scale: swap in
    approx_percentile bounds, keeping the clip-and-average exact), then a
    broadcast of the #types bounds relation into the clipping aggregation
    — integer cents end to end, float only in the final two averages."""
    events = load_table(spark, "events", sf_dir)
    vals = events.where(F.col("value").isNotNull()).select(
        "event_type", cents(F.col("value")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    wn = Window.partitionBy("event_type")
    ranked = vals.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") >= F.ceil(0.05 * F.col("n")), F.col("cents"))
        ).alias("lo"),
        F.min(
            F.when(F.col("rn") >= F.ceil(0.95 * F.col("n")), F.col("cents"))
        ).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return (
        vals.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            fround(F.avg(clipped) / 100, 4).alias("winsorized_mean"),
            fround(F.avg("cents") / 100, 4).alias("raw_mean"),
        )
        .select(
            "event_type",
            "n",
            fround(F.col("lo") / 100.0, 2).alias("p05"),
            fround(F.col("hi") / 100.0, 2).alias("p95"),
            "winsorized_mean",
            "raw_mean",
        )
    )


# --------------------------------------------------------------------------
# Sketch algebra: join-size estimation from CMS inner products
# --------------------------------------------------------------------------


@query(
    "join_size_cms_estimate",
    oracle=f"""
WITH {_CMS_PARAMS_CTE}, cells_o AS (
    SELECT p.j, {_cms_bucket_sql("o.o_orderkey")} AS bkt,
           count(*) AS c
    FROM orders o, params p GROUP BY 1, 2
), cells_l AS (
    SELECT p.j, {_cms_bucket_sql("l.l_orderkey")} AS bkt,
           count(*) AS c
    FROM lineitem l, params p GROUP BY 1, 2
), est AS (
    SELECT min(dot) AS cms_estimate FROM (
        SELECT co.j, CAST(sum(co.c * cl.c) AS BIGINT) AS dot
        FROM cells_o co JOIN cells_l cl ON co.j = cl.j AND co.bkt = cl.bkt
        GROUP BY co.j
    )
), exact AS (
    SELECT count(*) AS exact_join_rows
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT
    exact_join_rows,
    cms_estimate,
    CAST(cms_estimate - exact_join_rows AS BIGINT) AS overestimate,
    round(CAST(cms_estimate - exact_join_rows AS DOUBLE)
          / exact_join_rows * 1000000) / 1000000 AS rel_error
FROM exact, est
""",
)
def q_join_size_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT running the join: |A ⋈ B| =
    Σ_k f_A(k)·f_B(k) is the inner product of the two key-frequency
    vectors, and the count-min inner product Σ_bkt cmsA[j,bkt]·cmsB[j,bkt]
    (min over rows j) is its classic one-sided overestimate (Cormode &
    Muthukrishnan '05).  Output: exact join size, sketch estimate, and
    relative error — the cost-based-optimizer primitive that prices a join
    before paying for it.

    Scale story: each side is ONE hash aggregation into 4x256 cells (same
    mergeable-partial shape as `heavy_hitters_cms`); the inner product
    joins two 1024-cell relations — constant-size work independent of
    corpus size, vs actually shuffling both tables to learn the
    cardinality.  The exact branch exists to measure the estimate and
    anchor the oracle."""
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("key")
    )
    lineitem = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("key")
    )
    co = cms_cells(orders, "key").select("j", "bkt", F.col("c").alias("co"))
    cl = cms_cells(lineitem, "key").select("j", "bkt", F.col("c").alias("cl"))
    est = (
        co.join(cl, ["j", "bkt"])
        .groupBy("j")
        .agg(F.sum(F.col("co") * F.col("cl")).alias("dot"))
        .agg(F.min("dot").alias("cms_estimate"))
    )
    exact = (
        orders.join(lineitem, "key")
        .agg(F.count("*").alias("exact_join_rows"))
    )
    return scalar_join(exact, est).select(
        "exact_join_rows",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_join_rows")).alias("overestimate"),
        fround(
            (F.col("cms_estimate") - F.col("exact_join_rows"))
            / F.col("exact_join_rows"),
            6,
        ).alias("rel_error"),
    )


# --------------------------------------------------------------------------
# Multi-touch time-decay attribution
# --------------------------------------------------------------------------


@query(
    "attribution_time_decay",
    oracle="""
WITH pairs AS (
    SELECT
        c.ts AS click_ts,
        p.value AS purchase_value,
        p.user_id, p.event_id AS purchase_id,
        3600 - (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS w
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND epoch_us(p.ts) - epoch_us(c.ts) < 3600000000
    WHERE p.event_type = 'purchase'
), credited AS (
    SELECT
        click_ts,
        CAST(round(coalesce(purchase_value, 0)
                   * w / sum(w) OVER (PARTITION BY purchase_id)
                   * 1000000) AS BIGINT) AS credit_micro
    FROM pairs
)
SELECT
    date_trunc('hour', click_ts) AS click_hour,
    count(*) AS n_credited_clicks,
    CAST(sum(credit_micro) AS DOUBLE) / 1000000 AS credited_revenue
FROM credited
GROUP BY 1
ORDER BY 1
""",
)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch TIME-DECAY attribution (completing the family next to
    first/last-touch `attribution_first_last`): every click in the hour
    before a purchase earns credit linearly decaying with age —
    weight = 3600 − Δseconds, an exact INTEGER, so the per-purchase
    normalizer Σw is exact and the only float op (value·w/Σw) is a single
    identical-on-both-engines expression.  Credits are fixed-point
    micro-units before the final sum (order-independent long addition —
    the `pricing_summary` determinism pattern).  Output: credited revenue
    per click hour.

    Scale: the pair join is an equi-join on user_id with the 1-hour window
    as a residual predicate; multiplicity is bounded by events-per-user-
    per-hour, the same envelope every sessionization query here relies on.
    The per-purchase normalizer is a window over the PAIRS relation
    partitioned by purchase — no global window, no second shuffle (same
    hash key modulo purchase_id refinement)."""
    events = load_table(spark, "events", sf_dir)
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("purchase_value"),
        )
    )
    c = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id"), F.col("ts").alias("click_ts"))
    )
    delta_us = F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("click_ts"))
    pairs = p.join(c, "user_id").where(
        (F.col("click_ts") <= F.col("p_ts")) & (delta_us < 3_600_000_000)
    ).select(
        "click_ts",
        "purchase_id",
        "purchase_value",
        (F.lit(3600) - F.expr(
            "(unix_micros(p_ts) - unix_micros(click_ts)) div 1000000"
        )).alias("w"),
    )
    norm = Window.partitionBy("purchase_id")
    credited = pairs.select(
        "click_ts",
        cents(
            F.col("purchase_value") * F.col("w") / F.sum("w").over(norm), 1_000_000
        ).alias("credit_micro"),
    )
    return (
        credited.groupBy(F.date_trunc("hour", "click_ts").alias("click_hour"))
        .agg(
            F.count("*").alias("n_credited_clicks"),
            (F.sum("credit_micro").cast("double") / 1_000_000).alias(
                "credited_revenue"
            ),
        )
        .orderBy("click_hour")
    )


# --------------------------------------------------------------------------
# Median imputation (training-data repair)
# --------------------------------------------------------------------------


@query(
    "value_imputation",
    oracle="""
WITH cents AS (
    -- synthetic deterministic dropout: the fixture has no NULLs, so ~1/13
    -- of rows (by event_id hash) are treated as missing to exercise the
    -- imputation arm with real value flow
    SELECT event_type,
           CASE WHEN value IS NULL OR event_id % 13 = 0 THEN NULL
                ELSE CAST(round(value * 100) AS BIGINT) END AS c
    FROM events
), med AS (
    SELECT event_type,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
               AS median_cents
    FROM cents WHERE c IS NOT NULL GROUP BY 1
)
SELECT
    x.event_type,
    count(*)                                   AS n_rows,
    count(*) - count(x.c)                      AS n_imputed,
    CAST(m.median_cents AS DOUBLE) / 100       AS imputed_value,
    round(CAST(sum(coalesce(x.c, m.median_cents)) AS DOUBLE)
          / count(*) / 100 * 10000) / 10000    AS post_impute_mean
FROM cents x JOIN med m USING (event_type)
GROUP BY x.event_type, m.median_cents
ORDER BY x.event_type
""",
)
def q_value_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation — the standard training-data repair for missing
    numerics: per event type, rows whose value is missing (the fixture
    has none, so a deterministic ~1/13 event_id-hash dropout simulates
    sensor loss) are filled with the group's exact discrete median (percentile_disc rank-ceil rule over integer cents, so
    the fill value is an actually-observed value and hash-identical across
    engines) and the post-imputation mean is reported as the audit.

    Scale: the median uses the rank-ceil-of-count trick on the
    per-(type, cents) COUNT relation — a window over distinct values, not
    rows (`conversion_latency_stats` discipline); the imputation itself is
    then one broadcast of the tiny per-type median table into a map-side
    coalesce.  No global sort, no second scan of raw data."""
    events = load_table(spark, "events", sf_dir)
    observed = events.select(
        "event_type",
        F.when(
            F.col("value").isNotNull() & (F.pmod(F.col("event_id"), F.lit(13)) != 0),
            cents(F.col("value")),
        ).alias("c"),
    )
    # discrete median over the distinct-value count relation
    vc = (
        observed.where(F.col("c").isNotNull())
        .groupBy("event_type", "c")
        .agg(F.count("*").alias("k"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    med = (
        vc.select(
            "event_type",
            "c",
            F.sum("k").over(wcum).alias("cum"),
            F.sum("k").over(wtot).alias("n"),
        )
        .where(F.col("cum") >= F.ceil(F.col("n") / 2))
        .groupBy("event_type")
        .agg(F.min("c").alias("median_cents"))
    )
    joined = observed.join(F.broadcast(med), "event_type")
    return (
        joined.groupBy("event_type", "median_cents")
        .agg(
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count("c")).alias("n_imputed"),
            F.sum(F.coalesce(F.col("c"), F.col("median_cents"))).alias("s"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_imputed",
            (F.col("median_cents").cast("double") / 100).alias("imputed_value"),
            fround(F.col("s").cast("double") / F.col("n_rows") / 100, 4).alias(
                "post_impute_mean"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Rate inference: Wilson intervals and an A/B two-proportion z-test
# --------------------------------------------------------------------------

_Z95 = 1.959963985  # two-sided 95% normal quantile, fixed constant
# per-user experiment arm (ab_test_zscore, cuped_did_lift, ab_srm_check):
# the high bit of the Knuth hash — its low bit would be user_id % 2
_ARM_SQL = hash_half_sql("user_id")


@query(
    "conversion_rate_ci",
    oracle=f"""
WITH per_unit AS (
    -- unit of analysis: the user-DAY, so rates stay mid-range at every
    -- scale factor (per-user "ever purchased" saturates to 1.0 on any
    -- month-long fixture and a pooled-variance denominator of 0 divides
    -- by zero)
    SELECT user_id, date_trunc('day', ts) AS day,
           CAST(count_if(event_type = 'view') > 0 AS INT)     AS viewed,
           CAST(count_if(event_type = 'purchase') > 0 AS INT) AS purchased
    FROM events GROUP BY 1, 2
), agg AS (
    SELECT CAST(sum(viewed) AS BIGINT)                        AS n,
           CAST(sum(viewed * purchased) AS BIGINT)            AS k
    FROM per_unit
), wilson AS (
    SELECT n, k,
           CAST(k AS DOUBLE) / n AS p,
           {_Z95} * {_Z95} AS z2
    FROM agg
)
SELECT
    n AS n_viewer_days,
    k AS n_converted_days,
    round(p * 1000000) / 1000000 AS rate,
    round((p + z2 / (2 * n) - {_Z95} * sqrt(p * (1 - p) / n + z2 / (4.0 * n * n)))
          / (1 + z2 / n) * 1000000) / 1000000 AS ci_lo,
    round((p + z2 / (2 * n) + {_Z95} * sqrt(p * (1 - p) / n + z2 / (4.0 * n * n)))
          / (1 + z2 / n) * 1000000) / 1000000 AS ci_hi
FROM wilson
""",
)
def q_conversion_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion rate per USER-DAY with a Wilson-score 95%
    interval — the
    dashboard number the reference's funnel rates (`safe_rate`) report
    without any uncertainty.  Wilson beats the naive normal interval at
    small n and rates near 0/1, which is exactly where product decisions
    get made.

    Cross-engine determinism: the interval is nothing but + * / sqrt on
    doubles — every one an IEEE correctly-rounded operation, so both
    engines produce bit-identical values before the 6dp display round (no
    libm-variance functions like ln/exp involved)."""
    events = load_table(spark, "events", sf_dir)
    per_unit = events.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        (F.sum((F.col("event_type") == "view").cast("int")) > 0)
        .cast("int")
        .alias("viewed"),
        (F.sum((F.col("event_type") == "purchase").cast("int")) > 0)
        .cast("int")
        .alias("purchased"),
    )
    agg = per_unit.agg(
        F.sum("viewed").alias("n"),
        F.sum(F.col("viewed") * F.col("purchased")).alias("k"),
    )
    z2 = _Z95 * _Z95
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    half = F.lit(_Z95) * F.sqrt(p * (1 - p) / n + F.lit(z2) / (4.0 * n * n))
    center = p + F.lit(z2) / (2 * n)
    denom = 1 + F.lit(z2) / n
    return agg.select(
        F.col("n").alias("n_viewer_days"),
        F.col("k").alias("n_converted_days"),
        fround(p, 6).alias("rate"),
        fround((center - half) / denom, 6).alias("ci_lo"),
        fround((center + half) / denom, 6).alias("ci_hi"),
    )


@query(
    "ab_test_zscore",
    oracle=f"""
WITH assigned AS (
    -- unit = user-day (see conversion_rate_ci), arm fixed per USER so the
    -- randomization unit matches how experiments actually assign
    SELECT user_id, date_trunc('day', ts) AS day,
           {_ARM_SQL} AS arm,
           CAST(count_if(event_type = 'purchase') > 0 AS INT) AS converted
    FROM events GROUP BY 1, 2, 3
), arms AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS k
    FROM assigned GROUP BY arm
), wide AS (
    SELECT
        max(CASE WHEN arm = 0 THEN n END) AS n_a,
        max(CASE WHEN arm = 0 THEN k END) AS k_a,
        max(CASE WHEN arm = 1 THEN n END) AS n_b,
        max(CASE WHEN arm = 1 THEN k END) AS k_b
    FROM arms
), stats AS (
    SELECT *,
        CAST(k_a AS DOUBLE) / n_a AS p_a,
        CAST(k_b AS DOUBLE) / n_b AS p_b,
        CAST(k_a + k_b AS DOUBLE) / (n_a + n_b) AS p_pool
    FROM wide
)
SELECT
    n_a, k_a, n_b, k_b,
    round(p_a * 1000000) / 1000000 AS rate_a,
    round(p_b * 1000000) / 1000000 AS rate_b,
    round((p_b - p_a) / sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b))
          * 10000) / 10000 AS z_score,
    abs((p_b - p_a) / sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b)))
        > {_Z95} AS significant_95
FROM stats
""",
)
def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-split into two
    arms (the `train_test_split` assignment discipline — reproducible,
    stable under re-runs, no RNG) and the purchase-conversion difference
    tested with the pooled two-proportion z-statistic plus a 95%
    significance flag.  On the uniform fixture the arms are exchangeable,
    so |z| should hover near 0 — the null behaving as a null is itself the
    sanity check (asserted in tests).

    Same determinism story as `conversion_rate_ci`: + * / sqrt/abs only,
    all IEEE correctly-rounded, bit-identical across engines."""
    events = load_table(spark, "events", sf_dir)
    assigned = events.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        (F.sum((F.col("event_type") == "purchase").cast("int")) > 0)
        .cast("int")
        .alias("converted"),
    ).select(
        hash_half(F.col("user_id")).alias("arm"),
        "converted",
    )
    arms = assigned.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("k")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("k"))).alias("k_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("k"))).alias("k_b"),
    )
    p_a = F.col("k_a").cast("double") / F.col("n_a")
    p_b = F.col("k_b").cast("double") / F.col("n_b")
    p_pool = (F.col("k_a") + F.col("k_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(p_pool * (1 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z = (p_b - p_a) / se
    return wide.select(
        "n_a",
        "k_a",
        "n_b",
        "k_b",
        fround(p_a, 6).alias("rate_a"),
        fround(p_b, 6).alias("rate_b"),
        fround(z, 4).alias("z_score"),
        (F.abs(z) > _Z95).alias("significant_95"),
    )


# --------------------------------------------------------------------------
# Robust trend: Theil-Sen slope over the daily revenue series
# --------------------------------------------------------------------------


@query(
    "revenue_theilsen_trend",
    oracle=f"""
WITH daily AS (
    {_daily_purchase_cents_sql(non_null_ts=False)}
), slopes AS (
    SELECT (b.cents - a.cents) * 1.0 / ((b.day_num - a.day_num) * 100.0)
               AS slope
    FROM daily a JOIN daily b ON b.day_num > a.day_num
), ranked AS (
    SELECT slope,
           row_number() OVER (ORDER BY slope) AS rn,
           count(*) OVER () AS n
    FROM slopes
)
SELECT
    CAST(max(n) AS BIGINT) AS n_pairs,
    round(min(CASE WHEN rn >= CAST(ceil(n / 2.0) AS BIGINT) THEN slope END)
          * 10000) / 10000 AS theilsen_slope_per_day,
    min(CASE WHEN rn >= CAST(ceil(n / 2.0) AS BIGINT) THEN slope END) > 0
        AS trending_up
FROM ranked
""",
)
def q_revenue_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the MEDIAN of all pairwise
    slopes — up to ~29% of days can be corrupted (holiday spikes, outages,
    backfill glitches) without moving it, where the OLS slope
    (`ngram_zipf_slope`'s regr_slope machinery) chases every outlier.
    Completes the robust-statistics family next to `winsorized_value_stats`
    and `revenue_anomaly_days`.

    Determinism: slopes are exact-cents differences over integer day gaps
    (one double division each, identical both engines) and the median is
    the discrete rank-ceil element — no float averaging of two middles.

    Scale: the pair expansion is over the DAILY aggregate (n days, n²/2
    pairs — 66k pairs for a year), not raw events; at much longer horizons
    the standard remedy is repeated median regression on a day sample,
    same plan shape."""
    events = load_table(spark, "events", sf_dir)
    daily = _daily_purchase_cents(events)
    a = daily.select(F.col("day_num").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("day_num").alias("db"), F.col("cents").alias("cb"))
    slopes = a.join(b, F.col("db") > F.col("da")).select(
        (
            (F.col("cb") - F.col("ca"))
            * 1.0
            / ((F.col("db") - F.col("da")) * 100.0)
        ).alias("slope")
    )
    w = Window.orderBy("slope")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy(F.lit(1))).alias("n"),
    )
    med = F.min(
        F.when(F.col("rn") >= F.ceil(F.col("n") / 2.0).cast("long"), F.col("slope"))
    )
    return ranked.agg(
        F.max("n").alias("n_pairs"),
        fround(med, 4).alias("theilsen_slope_per_day"),
        (med > 0).alias("trending_up"),
    )


@query(
    "weekday_seasonality",
    oracle=f"""
WITH daily AS (
    {_daily_purchase_cents_sql(non_null_ts=False)}
), tagged AS (
    -- epoch day 0 (1970-01-01) was a Thursday: weekday = (day_num + 4) % 7
    -- with 0 = Sunday, engine-independent integer arithmetic (no locale-
    -- sensitive dayofweek())
    SELECT (day_num + 4) % 7 AS weekday, cents FROM daily
), per_wd AS (
    SELECT weekday,
           count(*) AS n_days,
           sum(cents) AS cents
    FROM tagged GROUP BY 1
), tot AS (
    SELECT sum(cents) * 1.0 / sum(n_days) AS grand_daily_cents FROM per_wd
)
SELECT
    weekday,
    n_days,
    CAST(cents AS DOUBLE) / 100 AS revenue,
    round(cents * 1.0 / n_days / grand_daily_cents * 10000) / 10000
        AS seasonal_index
FROM per_wd, tot
ORDER BY weekday
""",
)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of purchase revenue: each weekday's mean
    daily revenue over the grand daily mean (1.0 = no seasonality) — the
    decomposition input every forecast/anomaly consumer normalizes by
    before comparing a Monday to a Sunday (`revenue_anomaly_days` without
    this index flags every weekend).

    The weekday comes from integer epoch-day arithmetic ((d+4) mod 7, 0 =
    Sunday) rather than dayofweek()/strftime — locale- and engine-
    independent by construction."""
    events = load_table(spark, "events", sf_dir)
    daily = _daily_purchase_cents(events)
    per_wd = (
        daily.select(
            F.pmod(F.col("day_num") + 4, F.lit(7)).alias("weekday"), "cents"
        )
        .groupBy("weekday")
        .agg(F.count("*").alias("n_days"), F.sum("cents").alias("cents"))
    )
    tot = per_wd.agg(
        (F.sum("cents") * 1.0 / F.sum("n_days")).alias("grand_daily_cents")
    )
    return (
        scalar_join(per_wd, tot)
        .select(
            "weekday",
            "n_days",
            (F.col("cents").cast("double") / 100).alias("revenue"),
            fround(
                F.col("cents") * 1.0 / F.col("n_days") / F.col("grand_daily_cents"),
                4,
            ).alias("seasonal_index"),
        )
        .orderBy("weekday")
    )


_HIST_BIN_W = 10
_HIST_BINS = 50  # [0, 500) in widths of 10; last bin clamps the tail




def hist_bin(value):
    """Equi-width histogram bin id over [0, _HIST_BINS*_HIST_BIN_W), tail
    clamped — shared by the batch and streaming histogram builders."""
    return F.least(F.floor(value / _HIST_BIN_W), F.lit(_HIST_BINS - 1)).cast("int")


def monthly_quantiles_from_day_bins(day_bins: DataFrame) -> DataFrame:
    """Month-grain p50/p90/p99 extracted from a (day, bin, c) histogram
    relation — the merge+extract half of `histogram_quantile_rollup`,
    shared with the streaming twin (whose day bins come from a watermarked
    streaming aggregation instead of a batch scan)."""
    # month rollup merges DAY histograms (vector add), not raw events
    month_bins = (
        day_bins.groupBy(
            F.date_trunc("month", F.col("day")).alias("month"), "bin"
        )
        .agg(F.sum("c").alias("c"))
    )
    w_cum = Window.partitionBy("month").orderBy("bin")
    w_tot = Window.partitionBy("month")
    ranked = month_bins.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "total", F.sum("c").over(w_tot)
    )
    # the q grid attaches row-locally via explode — no join, no cross join
    hits = ranked.withColumn(
        "q100", F.explode(F.array(F.lit(50), F.lit(90), F.lit(99)))
    ).where(F.col("cum") * 100 >= F.col("q100") * F.col("total"))
    est = hits.groupBy("month", "q100").agg(F.min("bin").alias("est_bin"))
    return (
        est.join(
            ranked.select("month", F.col("bin").alias("est_bin"), "c", "cum", "total"),
            ["month", "est_bin"],
        )
        .select(
            "month",
            "q100",
            ((F.col("est_bin") + 0.5) * _HIST_BIN_W).cast("double").alias("estimate"),
            F.col("total").alias("n_values"),
            fround((F.col("cum") - F.col("c")) * 1.0 / F.col("total"), 4).alias(
                "frac_below_bin"
            ),
        )
    )


HISTOGRAM_ROLLUP_ORACLE = f"""
WITH vals AS (
    SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
           CAST(least(floor(value / {_HIST_BIN_W}), {_HIST_BINS - 1}) AS INT) AS bin
    FROM events WHERE value IS NOT NULL
), bins AS (
    SELECT month, bin, count(*) AS c FROM vals GROUP BY 1, 2
), ranked AS (
    SELECT month, bin, c,
           sum(c) OVER (PARTITION BY month ORDER BY bin) AS cum,
           sum(c) OVER (PARTITION BY month) AS total
    FROM bins
), hits AS (
    SELECT month, q.q100, bin, c, cum, total
    FROM ranked, (VALUES (50), (90), (99)) q(q100)
    WHERE cum * 100 >= q.q100 * total
), est AS (
    SELECT month, q100, min(bin) AS est_bin
    FROM hits GROUP BY 1, 2
)
SELECT
    e.month,
    e.q100,
    CAST((e.est_bin + 0.5) * {_HIST_BIN_W} AS DOUBLE)  AS estimate,
    CAST(r.total AS BIGINT)                    AS n_values,
    round((r.cum - r.c) * 1.0 / r.total, 4)    AS frac_below_bin
FROM est e JOIN ranked r ON r.month = e.month AND r.bin = e.est_bin
"""


@query("histogram_quantile_rollup", oracle=HISTOGRAM_ROLLUP_ORACLE)
def q_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantiles: per-day equi-width histograms rolled up to
    monthly p50/p90/p99 estimates — the pattern that makes percentiles
    tractable at 100 TB.  ``percentile_approx``'s GK sketch is final (not
    mergeable), so re-grained percentiles normally mean re-touching raw
    events; fixed-bin histograms merge by vector ADDITION, so any coarser
    grain (month, quarter, all-time) derives from the tiny per-day bin
    relation.  Alongside each estimate the exact sub-bin rank
    (frac_below_bin) quantifies the bin-resolution error — the audit that
    tells an operator when to narrow the bins.

    Scale shape: day-grain histogram = one hash agg with partial combine
    (state = days x 50 bins); month rollup aggregates the BIN RELATION,
    never the events; quantile extraction is a window cumsum over <= 50
    rows per month.  Integer arithmetic throughout (cum*100 >= q*total —
    no float-boundary flakiness), deterministic on both engines."""
    events = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    day_bins = (
        events.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            hist_bin(F.col("value")).alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count("*").alias("c"))
    )
    return monthly_quantiles_from_day_bins(day_bins)


# --------------------------------------------------------------------------
# CUSUM changepoint detection (exact-integer)
# --------------------------------------------------------------------------


@query(
    "revenue_cusum_changepoints",
    oracle=f"""
WITH daily AS (
    {_daily_purchase_cents_sql(non_null_ts=False)}
), tot AS (
    SELECT sum(cents) AS t_cents, count(*) AS n_days FROM daily
), dev AS (
    SELECT day_num, cents,
           sum(cents * n_days - t_cents) OVER (
               ORDER BY day_num ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum,
           n_days, t_cents
    FROM daily, tot
), cusum AS (
    SELECT *,
           cum - least(0, min(cum) OVER (
               ORDER BY day_num ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )) AS s_scaled
    FROM dev
)
SELECT
    day_num,
    CAST(cents AS DOUBLE) / 100                          AS revenue,
    round(CAST(s_scaled AS DOUBLE) / n_days / 100 * 100) / 100 AS cusum_excess,
    4 * s_scaled > t_cents                               AS changepoint
FROM cusum
""",
)
def q_revenue_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upward CUSUM changepoint detection on the daily revenue series —
    the sequential level-shift detector (a sustained demand jump an
    isolated-day z-score like `revenue_anomaly_days` cannot see, because
    each day individually stays inside 2 sigma).

    The textbook recurrence s_i = max(0, s_{i-1} + (x_i - mean)) is not
    windowable, but it UNROLLS: s_i = cum_i - min(0, running_min(cum_i))
    where cum is the running sum of deviations — two ordered window passes,
    no fold.  All state stays INTEGER: deviations are scaled by n
    (n*x_i - T, cents x days), so the running sums, the running min, and
    the changepoint comparison (4*s_scaled > T: CUSUM excess above a
    quarter of the mean daily revenue, in the shared scaled units — a
    relative threshold, so it discriminates at every fixture size instead
    of needing a tuned absolute cut) are exact cross-engine; doubles appear
    only in the displayed columns, divided identically on both engines.

    Scale: the windows run over the DAILY aggregate (#days rows — tiny at
    any corpus size; the corpus-sized work is the same one rollup every
    revenue query shares), so the single-partition ordered pass is over
    ~365 rows/year, not events."""
    events = load_table(spark, "events", sf_dir)
    daily = _daily_purchase_cents(events)
    tot = daily.agg(F.sum("cents").alias("t_cents"), F.count("*").alias("n_days"))
    run = Window.orderBy("day_num").rowsBetween(Window.unboundedPreceding, 0)
    d = (
        scalar_join(daily, tot)
        .withColumn("cum", F.sum(F.col("cents") * F.col("n_days") - F.col("t_cents")).over(run))
        .withColumn(
            "s_scaled",
            F.col("cum") - F.least(F.lit(0).cast("long"), F.min("cum").over(run)),
        )
    )
    return d.select(
        "day_num",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        fround(F.col("s_scaled").cast("double") / F.col("n_days") / 100, 2).alias(
            "cusum_excess"
        ),
        (4 * F.col("s_scaled") > F.col("t_cents")).alias("changepoint"),
    )


_BOOT_B = 200  # bootstrap replicates
# integer thresholds (per mille) approximating Poisson(1) truncated at 4:
# P(0)=P(1)=.368, P(2)=.184, P(3)=.061, P(4)=.019 — identical in both
# engines by construction, so the approximation never affects parity
_BOOT_T = (368, 736, 920, 981)


@query(
    "bootstrap_revenue_ci",
    oracle=f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders
    WHERE o_orderdate IS NOT NULL
    GROUP BY 1
), reps AS (
    SELECT d, cents, b.b AS b,
           ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || b.b), 1, 6))::BIGINT
               % 1000 AS h
    FROM daily, generate_series(0, {_BOOT_B - 1}) b(b)
), weighted AS (
    SELECT b,
           CASE WHEN h < {_BOOT_T[0]} THEN 0
                WHEN h < {_BOOT_T[1]} THEN 1
                WHEN h < {_BOOT_T[2]} THEN 2
                WHEN h < {_BOOT_T[3]} THEN 3
                ELSE 4 END AS w,
           cents
    FROM reps
), means AS (
    SELECT b,
           CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100 AS rep_mean
    FROM weighted
    GROUP BY b
    HAVING sum(w) > 0
), ranked AS (
    SELECT rep_mean, row_number() OVER (ORDER BY rep_mean, b) AS rn,
           count(*) OVER () AS n_reps
    FROM means
), pt AS (
    SELECT CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS mean_daily_revenue,
           count(*) AS n_days
    FROM daily
)
SELECT pt.mean_daily_revenue,
       pt.n_days,
       r.n_reps,
       min(CASE WHEN r.rn = 5 THEN r.rep_mean END)   AS ci_lo,
       min(CASE WHEN r.rn = 195 THEN r.rep_mean END) AS ci_hi
FROM ranked r, pt
GROUP BY 1, 2, 3
""",
)
def q_bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bootstrap 95% CI for mean daily revenue: 200 deterministic
    Poisson-ish resamples of the DAILY rollup, replicate means ranked, the
    5th / 195th order statistics taken as the interval — uncertainty
    quantification without any closed-form variance assumption.

    Determinism: replicate weights come from md5(day:replicate) reduced to
    integer thresholds — both engines draw the IDENTICAL weight table, so
    the (statistical) Poisson truncation at 4 cannot affect parity; each
    replicate mean is exact-integer cents over an exact-integer weight sum,
    one divide; CI bounds are exact order statistics (rank 5 / 195 with a
    replicate-id tiebreak), never interpolated quantiles.

    Scale shape: the classic at-scale bootstrap — resample the AGGREGATE,
    not the fact table: expansion is spine-sized x B (200 x #days, i.e.
    thousands of rows at ANY corpus size), one hash agg per replicate set,
    a 200-row window for the order statistics.  The fact table is read
    once for the daily rollup."""
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate").isNotNull()
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        cents_sum(F.col("o_totalprice")).alias("cents")
    )
    reps = daily.select(
        "d",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("b").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 1000,
    )
    w = (
        F.when(F.col("h") < _BOOT_T[0], 0)
        .when(F.col("h") < _BOOT_T[1], 1)
        .when(F.col("h") < _BOOT_T[2], 2)
        .when(F.col("h") < _BOOT_T[3], 3)
        .otherwise(4)
    )
    means = (
        reps.select("b", w.alias("w"), "cents")
        .groupBy("b")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("num"), F.sum("w").alias("den"))
        .where(F.col("den") > 0)
        .select("b", (F.col("num").cast("double") / F.col("den") / 100).alias("rep_mean"))
    )
    ranked = means.select(
        "rep_mean",
        F.row_number().over(Window.orderBy("rep_mean", "b")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n_reps"),
    )
    pt = daily.agg(
        (F.sum("cents").cast("double") / F.count("*") / 100).alias("mean_daily_revenue"),
        F.count("*").alias("n_days"),
    )
    ci = ranked.groupBy("n_reps").agg(
        F.min(F.when(F.col("rn") == 5, F.col("rep_mean"))).alias("ci_lo"),
        F.min(F.when(F.col("rn") == 195, F.col("rep_mean"))).alias("ci_hi"),
    )
    return scalar_join(pt, ci).select(
        "mean_daily_revenue", "n_days", "n_reps", "ci_lo", "ci_hi"
    )


# --------------------------------------------------------------------------
# Forecast backtest (seasonal-naive, exact-integer error metrics)
# --------------------------------------------------------------------------


@query(
    "forecast_backtest_snaive",
    oracle=f"""
WITH daily AS (
    {_daily_purchase_cents_sql()}
), forecasted AS (
    SELECT day_num, cents,
           lag(cents, 7) OVER (ORDER BY day_num) AS fc
    FROM daily
), scored AS (
    SELECT CAST(floor(day_num / 7) AS BIGINT) AS week_num,
           cents, fc, abs(cents - fc) AS abs_err
    FROM forecasted WHERE fc IS NOT NULL
)
SELECT week_num,
       CAST(count(*) AS BIGINT)                       AS n_days,
       CAST(sum(cents) AS DOUBLE) / 100               AS actual_revenue,
       CAST(sum(abs_err) AS DOUBLE) / count(*) / 100  AS mae,
       round(CAST(sum(abs_err) AS DOUBLE) / sum(cents) * 10000) / 10000 AS wmape
FROM scored
GROUP BY 1
""",
)
def q_forecast_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST of the daily revenue series: the seasonal-naive
    predictor (forecast(d) = revenue(d-7), the baseline every demand-
    forecasting deployment must beat) evaluated walk-forward over the
    fixture month, reporting per-week MAE and WMAPE (Σ|err| / Σactual —
    the ratio-of-sums MAPE variant that is both the industry standard for
    intermittent demand AND exact here: numerator and denominator are
    integer cents sums, divided once at the edge, so no float-summation
    order exists to drift cross-engine).

    Scale shape: identical to every revenue rollup — the corpus-sized work
    is one hash agg to the daily grain; lag(7) and the week re-aggregation
    run over #days rows.  A real deployment swaps the predictor column
    (model output joined on day) and keeps this exact scoring harness —
    the backtest is the operator, the model is data."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = _daily_purchase_cents(events)
    fc = daily.withColumn("fc", F.lag("cents", 7).over(Window.orderBy("day_num")))
    scored = fc.where(F.col("fc").isNotNull()).select(
        F.floor(F.col("day_num") / 7).cast("long").alias("week_num"),
        "cents",
        F.abs(F.col("cents") - F.col("fc")).alias("abs_err"),
    )
    return scored.groupBy("week_num").agg(
        F.count("*").alias("n_days"),
        (F.sum("cents").cast("double") / 100).alias("actual_revenue"),
        (F.sum("abs_err").cast("double") / F.count("*") / 100).alias("mae"),
        fround(F.sum("abs_err").cast("double") / F.sum("cents"), 4).alias("wmape"),
    )


# --------------------------------------------------------------------------
# Population stability index (model-input drift monitor)
# --------------------------------------------------------------------------

_PSI_BIN_W = 50.0  # value-units per bin; events value spans ~[0, 500)


def psi_from_bin_counts(counts: DataFrame) -> DataFrame:
    """PSI finalization over a ``(bin, c_ref, c_cur)`` relation — shared by
    the batch monitor (`psi_value_drift`) and its streaming twin
    (`psi_drift_stream`) so the smoothing/fixed-point discipline cannot
    drift between the two.  Everything here runs on the #bins relation."""
    tot = counts.agg(F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur"))
    p_cur = (F.col("c_cur") + F.lit(1.0)) / (F.col("n_cur") + F.lit(1.0))
    p_ref = (F.col("c_ref") + F.lit(1.0)) / (F.col("n_ref") + F.lit(1.0))
    contrib = scalar_join(counts, tot).select(
        "bin",
        F.col("c_ref").cast("long").alias("c_ref"),
        F.col("c_cur").cast("long").alias("c_cur"),
        cents((p_cur - p_ref) * F.log(p_cur / p_ref), 1000000).alias("c_micro"),
    )
    total_w = Window.partitionBy()
    return contrib.select(
        "bin",
        "c_ref",
        "c_cur",
        fround(F.col("c_micro").cast("double") / 1000000, 6).alias("psi_contribution"),
        fround(
            F.sum("c_micro").over(total_w).cast("double") / 1000000, 6
        ).alias("psi_total"),
    )


# shared with the streaming twin (psi_drift_stream), which must hash-match
PSI_DRIFT_ORACLE = f"""
WITH marked AS (
    SELECT
        CAST(floor(value / {_PSI_BIN_W}) AS BIGINT) AS bin,
        CASE WHEN epoch_us(ts) < (
                 SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 FROM events
                 WHERE ts IS NOT NULL AND value IS NOT NULL)
             THEN 0 ELSE 1 END AS half
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), counts AS (
    SELECT bin,
           sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c_ref,
           sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c_cur
    FROM marked GROUP BY 1
), tot AS (
    SELECT sum(c_ref) AS n_ref, sum(c_cur) AS n_cur FROM counts
), contrib AS (
    SELECT bin, c_ref, c_cur,
           CAST(round(
               ((c_cur + 1.0) / (n_cur + 1.0) - (c_ref + 1.0) / (n_ref + 1.0))
               * ln(((c_cur + 1.0) / (n_cur + 1.0))
                    / ((c_ref + 1.0) / (n_ref + 1.0)))
               * 1000000
           ) AS BIGINT) AS c_micro
    FROM counts, tot
)
SELECT
    bin,
    CAST(c_ref AS BIGINT)                         AS c_ref,
    CAST(c_cur AS BIGINT)                         AS c_cur,
    round(CAST(c_micro AS DOUBLE) / 1000000, 6)   AS psi_contribution,
    round(CAST(sum(c_micro) OVER () AS DOUBLE) / 1000000, 6) AS psi_total
FROM contrib
"""


@query("psi_value_drift", oracle=PSI_DRIFT_ORACLE)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the feed's first and second time
    halves — the standard model-input drift monitor: per value-bin,
    (p_cur − p_ref)·ln(p_cur/p_ref) with add-one smoothing (a bin present
    in only one half must contribute, not divide by zero), plus the
    overall PSI every bin row carries (rule of thumb: <0.1 stable, >0.25
    drifted).

    Determinism: each bin's contribution is ONE identical IEEE expression
    on both engines, fixed-pointed to micros BEFORE the total — so the
    cross-bin sum is order-independent integer addition (same discipline
    as bm25's per-term fold).  Scale shape: one scan → (bin, half) hash
    agg; everything after runs on the #bins relation.  The time split is a
    min/max scalar broadcast; in production the two sides are yesterday's
    and today's partitions and the split predicate is partition pruning."""
    events = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    us = F.unix_micros(F.col("ts"))
    # exact-integer midpoint (DIV, not a floor over a double): epoch-micros
    # sums exceed 2^53, where double arithmetic could drift off the
    # oracle's integer // 2 by a few hundred microseconds
    mid = events.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) DIV 2").alias("mid_us")
    )
    marked = scalar_join(events, mid).select(
        F.floor(F.col("value") / _PSI_BIN_W).cast("long").alias("bin"),
        F.when(us < F.col("mid_us"), F.lit(0)).otherwise(F.lit(1)).alias("half"),
    )
    counts = marked.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c_cur"),
    )
    return psi_from_bin_counts(counts)


# --------------------------------------------------------------------------
# Exact AUC (Mann-Whitney, tie-aware, integer arithmetic)
# --------------------------------------------------------------------------


@query(
    "auc_quality_langid",
    oracle="""
WITH scored AS (
    SELECT
        round((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * 50
               + least(len(string_split(text, ' ')), 100) / 100 * 50)
              * 100) / 100 AS s,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents WHERE text IS NOT NULL
), grouped AS (
    SELECT s, count(*) AS cnt, sum(y) AS pos_cnt FROM scored GROUP BY s
), ranked AS (
    SELECT *,
           coalesce(sum(cnt) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS below
    FROM grouped
), sums AS (
    SELECT
        sum(pos_cnt)                               AS n_pos,
        sum(cnt) - sum(pos_cnt)                    AS n_neg,
        sum(pos_cnt * (2 * (below + 1) + cnt - 1)) AS sum_r2_pos
    FROM ranked
)
SELECT
    CAST(n_pos AS BIGINT) AS n_pos,
    CAST(n_neg AS BIGINT) AS n_neg,
    round(CAST(sum_r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
          / (2 * n_pos * n_neg) * 1000000) / 1000000 AS auc
FROM sums
""",
)
def q_auc_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of "quality score predicts English" — the Mann-Whitney
    rank formulation with PROPER tie handling (tied scores get their
    average rank), computed entirely in integers: doubled average ranks
    keep the half-ranks integral, so AUC = (Σ2R₊ − n₊(n₊+1)) / (2·n₊·n₋)
    is one exact ratio and both engines emit the identical 6dp value.

    This is the evaluator half of the ML-prep toolkit (`target_encoding_loo`,
    `kfold_assignment`, `train_test_split` build features; this scores any
    ranking column against any binary label with zero sampling error —
    unlike threshold-sweep AUC approximations).

    Scale shape: one scan → per-distinct-score (cnt, pos_cnt) hash agg; the
    ordered cumulative pass runs over #distinct scores (bounded by the 2dp
    score grid, ≤ ~10⁴ rows at ANY corpus size) — so exact AUC costs one
    aggregation even at 10¹⁰ documents, no per-pair work, no sort of the
    raw corpus."""
    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    from e_commerce_streaming_datapipeline_spark.operators.text import text_stats

    scored = text_stats(docs).select(
        F.col("quality_score").alias("s"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    grouped = scored.groupBy("s").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos_cnt")
    )
    run = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grouped.withColumn(
        "below", F.coalesce(F.sum("cnt").over(run), F.lit(0))
    )
    sums = ranked.agg(
        F.sum("pos_cnt").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos_cnt")).alias("n_neg"),
        F.sum(
            F.col("pos_cnt") * (2 * (F.col("below") + 1) + F.col("cnt") - 1)
        ).alias("sum_r2_pos"),
    )
    return sums.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        fround(
            (F.col("sum_r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
                "double"
            )
            / (2 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# Probability calibration: reliability bins + exact Brier decomposition
# --------------------------------------------------------------------------


@query(
    "calibration_bins",
    oracle="""
WITH scored AS (
    SELECT
        doc_id,
        round((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * 50
               + least(len(string_split(text, ' ')), 100) / 100 * 50)
              * 100) / 100 AS s,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents WHERE text IS NOT NULL
), binned AS (
    SELECT doc_id % 2 AS half, least(CAST(floor(s / 10) AS INT), 9) AS bin, y
    FROM scored
), tr AS (
    SELECT bin, count(*) AS n_tr, sum(y) AS pos_tr FROM binned
    WHERE half = 0 GROUP BY 1
), g AS (
    SELECT CAST(round(1000000.0 * sum(y) / count(*)) AS BIGINT) AS g_micros
    FROM binned WHERE half = 0
), te AS (
    SELECT bin, count(*) AS n_te, sum(y) AS pos_te FROM binned
    WHERE half = 1 GROUP BY 1
), base AS (
    SELECT
        te.bin, coalesce(tr.n_tr, 0) AS n_train, te.n_te, te.pos_te,
        coalesce(CAST(round(1000000.0 * tr.pos_tr / tr.n_tr) AS BIGINT),
                 g.g_micros) AS p_micros
    FROM te LEFT JOIN tr USING (bin) CROSS JOIN g
), terms AS (
    SELECT
        bin, n_train, n_te, p_micros,
        CAST(pos_te AS DOUBLE) / n_te                       AS o_b,
        p_micros / 1000000.0                                AS p_b,
        CAST(sum(pos_te) OVER () AS DOUBLE) / sum(n_te) OVER () AS obar,
        sum(n_te) OVER ()                                   AS n_total
    FROM base
), t2 AS (
    SELECT *,
        CAST(round(n_te * (p_b - o_b) * (p_b - o_b) * 1000000)
             AS BIGINT) AS rel_t,
        CAST(round(n_te * (o_b - obar) * (o_b - obar) * 1000000)
             AS BIGINT) AS res_t
    FROM terms
)
SELECT
    bin, n_train, n_te AS n_test,
    round(p_micros / 1000000.0, 6) AS p_hat,
    round(o_b, 6)                  AS obs_rate,
    round(CAST(sum(rel_t) OVER () AS DOUBLE) / (1000000.0 * n_total), 6)
                                   AS reliability,
    round(CAST(sum(res_t) OVER () AS DOUBLE) / (1000000.0 * n_total), 6)
                                   AS resolution,
    round(obar * (1 - obar), 6)    AS uncertainty,
    round((sum(rel_t) OVER () - sum(res_t) OVER ()) / (1000000.0 * n_total)
          + obar * (1 - obar), 6)  AS brier
FROM t2
""",
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-calibration audit with the exact Murphy decomposition of
    the Brier score: the quality-score→"is English" predictor is calibrated
    on the even-doc_id half (per decile bin, train positive rate in micros)
    and evaluated on the odd half — per test bin the reliability diagram row
    (predicted vs observed rate), plus Brier = reliability − resolution +
    uncertainty (exact here because predictions are constant within bins,
    so the bin-level decomposition IS the per-document Brier).

    Determinism: every per-bin term (n·(p−o)², n·(o−ō)²) is one identical
    IEEE expression fixed-pointed to micros BEFORE the cross-bin sums, so
    the decomposition totals are order-independent integer additions — the
    `psi_value_drift` discipline applied to calibration.

    Scale shape: one scan to (half, bin) counts; everything after runs on
    the #bins relation (≤10 rows at any corpus size).  The unseen-bin
    fallback is the global train rate attached as a 1-row broadcast scalar.
    """
    from e_commerce_streaming_datapipeline_spark.operators.text import text_stats

    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    st = text_stats(docs).select(
        "doc_id",
        F.col("quality_score").alias("s"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    binned = st.select(
        (F.col("doc_id") % 2).alias("half"),
        F.least(F.floor(F.col("s") / 10), F.lit(9)).cast("int").alias("bin"),
        "y",
    )
    tr = (
        binned.where(F.col("half") == 0)
        .groupBy("bin")
        .agg(F.count("*").alias("n_tr"), F.sum("y").alias("pos_tr"))
    )
    g = binned.where(F.col("half") == 0).agg(
        F.round(F.lit(1000000.0) * F.sum("y") / F.count("*"), 0)
        .cast("long")
        .alias("g_micros")
    )
    te = (
        binned.where(F.col("half") == 1)
        .groupBy("bin")
        .agg(F.count("*").alias("n_te"), F.sum("y").alias("pos_te"))
    )
    base = scalar_join(te.join(tr, "bin", "left"), g).select(
        "bin",
        F.coalesce(F.col("n_tr"), F.lit(0)).alias("n_train"),
        "n_te",
        "pos_te",
        F.coalesce(
            F.round(F.lit(1000000.0) * F.col("pos_tr") / F.col("n_tr"), 0).cast("long"),
            F.col("g_micros"),
        ).alias("p_micros"),
    )
    allw = Window.partitionBy()
    o_b = F.col("pos_te").cast("double") / F.col("n_te")
    p_b = F.col("p_micros") / 1000000.0
    obar = F.sum("pos_te").over(allw).cast("double") / F.sum("n_te").over(allw)
    terms = base.select(
        "bin",
        "n_train",
        "n_te",
        "p_micros",
        o_b.alias("o_b"),
        p_b.alias("p_b"),
        obar.alias("obar"),
        F.sum("n_te").over(allw).alias("n_total"),
    )
    t2 = terms.select(
        "*",
        cents(
            F.col("n_te") * (F.col("p_b") - F.col("o_b")) * (F.col("p_b") - F.col("o_b")),
            1000000,
        ).alias("rel_t"),
        cents(
            F.col("n_te") * (F.col("o_b") - F.col("obar")) * (F.col("o_b") - F.col("obar")),
            1000000,
        ).alias("res_t"),
    )
    return t2.select(
        "bin",
        "n_train",
        F.col("n_te").alias("n_test"),
        fround(F.col("p_micros") / 1000000.0, 6).alias("p_hat"),
        fround(F.col("o_b"), 6).alias("obs_rate"),
        fround(
            F.sum("rel_t").over(allw).cast("double") / (1000000.0 * F.col("n_total")), 6
        ).alias("reliability"),
        fround(
            F.sum("res_t").over(allw).cast("double") / (1000000.0 * F.col("n_total")), 6
        ).alias("resolution"),
        fround(F.col("obar") * (1 - F.col("obar")), 6).alias("uncertainty"),
        fround(
            (F.sum("rel_t").over(allw) - F.sum("res_t").over(allw))
            / (1000000.0 * F.col("n_total"))
            + F.col("obar") * (1 - F.col("obar")),
            6,
        ).alias("brier"),
    )


# --------------------------------------------------------------------------
# Split-conformal prediction intervals (distribution-free coverage)
# --------------------------------------------------------------------------


@query(
    "conformal_interval",
    oracle="""
WITH c AS (
    SELECT o_orderpriority AS grp, o_orderkey AS okey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders WHERE o_totalprice IS NOT NULL
), cal AS (SELECT * FROM c WHERE okey % 2 = 0),
te AS (SELECT * FROM c WHERE okey % 2 = 1),
med AS (
    SELECT grp, cents AS median_cents FROM (
        SELECT grp, cents,
               row_number() OVER (PARTITION BY grp ORDER BY cents, okey) AS rn,
               count(*) OVER (PARTITION BY grp) AS n
        FROM cal
    ) WHERE rn = (n + 1) // 2
), resid AS (
    SELECT cal.grp, abs(cal.cents - med.median_cents) AS r, cal.okey
    FROM cal JOIN med USING (grp)
), q AS (
    SELECT grp, n_cal, r AS q90_cents FROM (
        SELECT grp, r, okey,
               row_number() OVER (PARTITION BY grp ORDER BY r, okey) AS rn,
               count(*) OVER (PARTITION BY grp) AS n_cal
        FROM resid
    ) WHERE rn = least((9 * n_cal + 18) // 10, n_cal)
), scored AS (
    SELECT te.grp, med.median_cents, q.n_cal, q.q90_cents,
           CASE WHEN abs(te.cents - med.median_cents) <= q.q90_cents
                THEN 1 ELSE 0 END AS covered
    FROM te JOIN med USING (grp) JOIN q USING (grp)
)
SELECT
    grp AS o_orderpriority,
    CAST(n_cal AS BIGINT)  AS n_cal,
    median_cents,
    q90_cents,
    count(*)               AS n_test,
    CAST(sum(covered) AS BIGINT) AS n_covered,
    round(CAST(sum(covered) AS DOUBLE) / count(*), 6) AS coverage
FROM scored
GROUP BY 1, 2, 3, 4
""",
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per order priority — the
    distribution-free uncertainty wrapper every deployed regressor needs:
    the even-orderkey half calibrates (point prediction = the group's lower
    median in cents; conformal quantile = the ceil(0.9·(n+1))-th smallest
    absolute residual, the finite-sample-valid rank), and the odd half
    measures empirical coverage of prediction ± q, which conformal theory
    guarantees ≥ 90% in expectation REGARDLESS of the value distribution.

    Determinism: predictions and quantiles are ORDER STATISTICS (row_number
    lookups over (value, key) total orders), never interpolation, and the
    quantile rank ceil(0.9·(n+1)) is computed as (9n+18) DIV 10 — pure
    integer arithmetic end to end; coverage is one exact ratio.

    Scale shape: two rank-filtered partitioned windows over the calibration
    half (WindowGroupLimit-style per-group work, groups are the partition
    key), then a broadcast join of the 5-row (median, q) relation onto the
    test half — the corpus is scanned twice and never re-shuffled wider
    than its group key."""
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_totalprice").isNotNull()
    )
    c = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("okey"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    cal = c.where(F.col("okey") % 2 == 0)
    te = c.where(F.col("okey") % 2 == 1)
    w = Window.partitionBy("grp")
    med = (
        cal.select(
            "grp",
            "cents",
            F.row_number().over(w.orderBy("cents", "okey")).alias("rn"),
            F.count("*").over(w).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("grp", F.col("cents").alias("median_cents"))
    )
    resid = cal.join(F.broadcast(med), "grp").select(
        "grp", "okey", F.abs(F.col("cents") - F.col("median_cents")).alias("r")
    )
    q = (
        resid.select(
            "grp",
            "r",
            F.row_number().over(w.orderBy("r", "okey")).alias("rn"),
            F.count("*").over(w).alias("n_cal"),
        )
        .where(F.col("rn") == F.least(F.expr("(9 * n_cal + 18) DIV 10"), F.col("n_cal")))
        .select("grp", "n_cal", F.col("r").alias("q90_cents"))
    )
    scored = (
        te.join(F.broadcast(med), "grp")
        .join(F.broadcast(q), "grp")
        .select(
            "grp",
            "median_cents",
            "n_cal",
            "q90_cents",
            F.when(
                F.abs(F.col("cents") - F.col("median_cents")) <= F.col("q90_cents"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("covered"),
        )
    )
    return scored.groupBy(
        F.col("grp").alias("o_orderpriority"), "n_cal", "median_cents", "q90_cents"
    ).agg(
        F.count("*").alias("n_test"),
        F.sum("covered").alias("n_covered"),
        fround(F.sum("covered").cast("double") / F.count("*"), 6).alias("coverage"),
    )


# --------------------------------------------------------------------------
# Gini coefficient (revenue concentration, exact rank formulation)
# --------------------------------------------------------------------------


@query(
    "revenue_gini",
    oracle="""
WITH x AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders WHERE o_totalprice IS NOT NULL
    GROUP BY 1
), r AS (
    SELECT cents,
           row_number() OVER (ORDER BY cents, o_custkey NULLS LAST) AS rn
    FROM x
), s AS (
    SELECT count(*) AS n,
           sum(CAST(cents AS HUGEINT))      AS sx,
           sum(CAST(rn AS HUGEINT) * cents) AS srx
    FROM r
)
SELECT
    CAST(n AS BIGINT)  AS n_customers,
    CAST(sx AS BIGINT) AS total_cents,
    round(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * sx AS DOUBLE), 6) AS gini
FROM s
""",
)
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the concentration summary
    behind every "top X% of customers drive Y% of revenue" claim
    (`clv_pareto_deciles`' scalar sibling) — via the exact rank formulation
    G = (2·Σᵢ rᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over ascending-sorted cents:
    integer arithmetic end to end (rank×cents products summed in
    DECIMAL(38,0) / HUGEINT so the sum cannot overflow at any scale), one
    cast-to-double division at the edge.

    Scale shape: one groupBy to per-customer cents, then a global ascending
    rank via the two-phase distributed rank (`functions/ranks.py`:
    range-repartition + per-partition row_number + broadcast offsets) — no
    single-partition sort even at 10⁹ customers — feeding the unchanged
    Σrx/Σx aggregation (the formula needs only (rank, value) pairs, not a
    resident sort).  Tie permutation among equal cents leaves Σrn·cents
    invariant, so the rank's only nondeterminism cannot reach the output."""
    from e_commerce_streaming_datapipeline_spark.functions.ranks import global_row_number

    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_totalprice").isNotNull()
    )
    x = orders.groupBy("o_custkey").agg(
        cents_sum(F.col("o_totalprice")).alias("cents")
    )
    r = global_row_number(
        x, [F.col("cents").asc(), F.col("o_custkey").asc_nulls_last()], rank_col="rn"
    ).select("cents", "rn")
    s = r.agg(
        F.count("*").alias("n"),
        F.sum(F.col("cents").cast("decimal(20,0)")).alias("sx"),
        F.sum(F.col("rn").cast("decimal(18,0)") * F.col("cents").cast("decimal(20,0)"))
        .alias("srx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        fround(
            (F.lit(2) * F.col("srx") - (F.col("n") + 1) * F.col("sx")).cast("double")
            / (F.col("n").cast("decimal(18,0)") * F.col("sx")).cast("double"),
            6,
        ).alias("gini"),
    )


@query(
    "kfold_auc",
    oracle=f"""
WITH scored AS (
    SELECT
        {hash_bucket_sql("doc_id", 5)} AS fold,
        round((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * 50
               + least(len(string_split(text, ' ')), 100) / 100 * 50)
              * 100) / 100 AS s,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), grouped AS (
    SELECT fold, s, count(*) AS cnt, sum(y) AS pos_cnt
    FROM scored GROUP BY 1, 2
), ranked AS (
    SELECT *,
           coalesce(sum(cnt) OVER (
               PARTITION BY fold ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS below
    FROM grouped
), sums AS (
    SELECT
        fold,
        sum(pos_cnt)                               AS n_pos,
        sum(cnt) - sum(pos_cnt)                    AS n_neg,
        sum(pos_cnt * (2 * (below + 1) + cnt - 1)) AS sum_r2_pos
    FROM ranked GROUP BY 1
), per_fold AS (
    SELECT
        fold,
        CAST(n_pos AS BIGINT) AS n_pos,
        CAST(n_neg AS BIGINT) AS n_neg,
        CAST(round(1000000.0 * (sum_r2_pos - n_pos * (n_pos + 1))
                   / (2 * n_pos * n_neg)) AS BIGINT) AS auc_micros
    FROM sums
)
SELECT
    fold, n_pos, n_neg,
    round(auc_micros / 1000000.0, 6) AS auc,
    round(CAST(sum(auc_micros) OVER () AS DOUBLE)
          / (count(*) OVER () * 1000000.0), 6) AS mean_auc
FROM per_fold
""",
)
def q_kfold_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validated ranking evaluation: the exact Mann-Whitney AUC
    (`auc_quality_langid`) computed PER FOLD of the deterministic k-fold
    split (`kfold_assignment`'s hash buckets), plus the mean CV-AUC — the
    composition every model-selection loop runs, with zero sampling error
    in both the split and the metric.

    Scale shape: this is the PARTITIONED form of the AUC operator — the
    cumulative rank pass runs per fold (window PARTITION BY fold, so folds
    fan out instead of serializing through one partition), per-fold AUCs
    are fixed-pointed to micros, and the CV mean is an integer-sum window
    over k rows.

    NULL ``doc_id`` docs have no fold (the split hashes doc_id), so they
    are out of the evaluation on BOTH engines (r8 edge pin)."""
    from e_commerce_streaming_datapipeline_spark.operators.text import text_stats

    docs = load_table(spark, "documents", sf_dir).where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    scored = text_stats(docs).join(
        docs.select("doc_id", hash_bucket(F.col("doc_id"), 5).alias("fold")), "doc_id"
    ).select(
        "fold",
        F.col("quality_score").alias("s"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    grouped = scored.groupBy("fold", "s").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos_cnt")
    )
    run = (
        Window.partitionBy("fold")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = grouped.withColumn(
        "below", F.coalesce(F.sum("cnt").over(run), F.lit(0))
    )
    sums = ranked.groupBy("fold").agg(
        F.sum("pos_cnt").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos_cnt")).alias("n_neg"),
        F.sum(
            F.col("pos_cnt") * (2 * (F.col("below") + 1) + F.col("cnt") - 1)
        ).alias("sum_r2_pos"),
    )
    per_fold = sums.select(
        "fold",
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.round(
            F.lit(1000000.0)
            * (F.col("sum_r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2 * F.col("n_pos") * F.col("n_neg")),
            0,
        )
        .cast("long")
        .alias("auc_micros"),
    )
    allw = Window.partitionBy()
    return per_fold.select(
        "fold",
        "n_pos",
        "n_neg",
        fround(F.col("auc_micros") / 1000000.0, 6).alias("auc"),
        fround(
            F.sum("auc_micros").over(allw).cast("double")
            / (F.count("*").over(allw) * 1000000.0),
            6,
        ).alias("mean_auc"),
    )


# --------------------------------------------------------------------------
# Markov-chain (removal-effect) attribution
# --------------------------------------------------------------------------

_MKV_CHANNELS = ("click", "view", "signup", "error")
_MKV_SQUARINGS = 3  # M^8 by repeated squaring: 3 rounds, not 8 vector steps


def _mkv_iter_sql() -> str:
    parts = []
    for k in range(_MKV_SQUARINGS):
        a, b = f"m{2 ** k}", f"m{2 ** (k + 1)}"
        parts.append(
            f"""{b} AS (
    SELECT l.g, l.f, r.t,
           CAST(round(sum(l.p * r.p) / 1000000.0) AS BIGINT) AS p
    FROM {a} l JOIN {a} r ON r.g = l.g AND r.f = l.t
    GROUP BY 1, 2, 3
)"""
        )
    return ",\n".join(parts)


_MKV_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_type, ts, event_id
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
      AND event_type IN ('click', 'view', 'signup', 'error', 'purchase')
), seq AS (
    SELECT user_id, event_type,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
           ) AS rn
    FROM ev
), cut AS (
    SELECT s.user_id, s.event_type, s.rn
    FROM seq s LEFT JOIN (
        SELECT user_id, min(rn) AS first_rn FROM seq
        WHERE event_type = 'purchase' GROUP BY 1
    ) fp USING (user_id)
    WHERE fp.first_rn IS NULL OR s.rn <= fp.first_rn
), stepped AS (
    SELECT user_id, event_type, rn,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
    FROM cut
), transitions AS (
    SELECT 'START' AS f, event_type AS t FROM stepped WHERE rn = 1
    UNION ALL
    SELECT event_type AS f, coalesce(nxt, 'NULL_ST') AS t
    FROM stepped WHERE event_type <> 'purchase'
), m0 AS (
    SELECT f, t, CAST(round(1000000.0 * c / tot) AS BIGINT) AS p
    FROM (SELECT f, t, count(*) AS c,
                 sum(count(*)) OVER (PARTITION BY f) AS tot
          FROM transitions GROUP BY 1, 2)
    UNION ALL SELECT 'purchase', 'purchase', 1000000
    UNION ALL SELECT 'NULL_ST', 'NULL_ST', 1000000
), graphs AS (
    SELECT * FROM (VALUES ('base'), ('click'), ('view'), ('signup'), ('error')) gg(g)
), expanded AS (
    SELECT gr.g, m.f,
           CASE WHEN gr.g <> 'base' AND m.t = gr.g THEN 'NULL_ST' ELSE m.t END AS t,
           m.p
    FROM m0 m CROSS JOIN graphs gr
    WHERE NOT (gr.g <> 'base' AND m.f = gr.g)
), mg AS (
    SELECT g, f, t, CAST(sum(p) AS BIGINT) AS p FROM expanded GROUP BY 1, 2, 3
    UNION ALL
    SELECT g, g AS f, 'NULL_ST' AS t, CAST(1000000 AS BIGINT) AS p
    FROM graphs WHERE g <> 'base'
), m1 AS (
    SELECT g, f, t, p FROM mg
),
{_mkv_iter_sql()},
conv AS (
    SELECT gr.g, CAST(coalesce(v.p, 0) AS BIGINT) AS conv_mass
    FROM graphs gr LEFT JOIN (
        SELECT g, p FROM m{2 ** _MKV_SQUARINGS}
        WHERE f = 'START' AND t = 'purchase'
    ) v USING (g)
), base AS (
    SELECT conv_mass AS base_mass FROM conv WHERE g = 'base'
), re AS (
    SELECT c.g AS channel, b.base_mass, c.conv_mass,
           b.base_mass - c.conv_mass AS re_micros
    FROM conv c CROSS JOIN base b WHERE c.g <> 'base'
)
SELECT channel,
    round(base_mass / 1000000.0, 6) AS base_conv,
    round(conv_mass / 1000000.0, 6) AS removal_conv,
    round(re_micros / 1000000.0, 6) AS removal_effect,
    CASE WHEN sum(re_micros) OVER () > 0
         THEN round(CAST(re_micros AS DOUBLE) / sum(re_micros) OVER (), 6)
         ELSE CAST(0 AS DOUBLE) END AS attribution_share
FROM re
"""


@query("markov_attribution", oracle=_MKV_ORACLE)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven upgrade
    over the first/last/linear/time-decay heuristics this module already
    carries: user journeys (events up to the first purchase) become a
    first-order Markov chain over channel states; per channel, conversion
    mass reaching the absorbing PURCHASE state within 8 steps is
    re-computed on the graph with that channel REMOVED (its in-edges
    redirected to the NULL absorber), and the channel's credit is its
    removal effect's share — Anderl et al.'s framework, the standard
    data-driven attribution model.

    Determinism: transition probabilities are micros integers; M^8
    comes from REPEATED SQUARING (3 matrix-matrix rounds, not 8
    vector steps), each entry Σ(int×int) — exact — followed by ONE
    division and round, so both engines walk bit-identical chains.  Mass
    still in transient states after 8 steps is (deterministically)
    unattributed — conversion-within-k semantics.

    Scale shape: corpus-sized work is exactly the journey sequencing (one
    user-keyed window + lead) and the (from, to) count aggregation;
    everything after — graph expansion (an EXPLODE over the ≤49-row
    matrix, not a cross join), O(log k) squaring joins, removal deltas —
    runs on relations bounded by #states², independent of corpus size."""
    events = load_table(spark, "events", sf_dir)
    states = list(_MKV_CHANNELS) + ["purchase"]
    ev = events.where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isin(*states)
    ).select("user_id", "event_type", "ts", "event_id")
    uw = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc_nulls_last()
    )
    seq = ev.select("user_id", "event_type", F.row_number().over(uw).alias("rn"))
    fp = (
        seq.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("first_rn"))
    )
    cut = seq.join(fp, "user_id", "left").where(
        F.col("first_rn").isNull() | (F.col("rn") <= F.col("first_rn"))
    )
    sw = Window.partitionBy("user_id").orderBy("rn")
    stepped = cut.select(
        "user_id", "event_type", "rn", F.lead("event_type").over(sw).alias("nxt")
    )
    transitions = (
        stepped.where(F.col("rn") == 1).select(
            F.lit("START").alias("f"), F.col("event_type").alias("t")
        )
    ).unionAll(
        stepped.where(F.col("event_type") != "purchase").select(
            F.col("event_type").alias("f"),
            F.coalesce(F.col("nxt"), F.lit("NULL_ST")).alias("t"),
        )
    )
    fw = Window.partitionBy("f")
    m0_dist = transitions.groupBy("f", "t").agg(F.count("*").alias("c")).select(
        "f",
        "t",
        F.round(F.lit(1000000.0) * F.col("c") / F.sum("c").over(fw), 0)
        .cast("long")
        .alias("p"),
    )
    # bounded collect (documented pattern, similarity.py query vectors):
    # the transition matrix is <= (#states+1)^2 rows BY CONSTRUCTION.  The
    # corpus-sized work (journey windows, transition counts) stays fully
    # distributed above this line; the removal-graph expansion and the
    # O(#states^3 · log k) squaring chain below are constant-size integer
    # arithmetic — running 5 graphs x 3 squarings as ~20 cluster stages
    # over <=51-row relations costs seconds of pure scheduling, so the
    # chain runs here, in the EXACT integer form the oracle mirrors:
    # per-entry round(sum / 1e6) == (sum + 500000) // 1000000 for the
    # non-negative sums of this chain (halves are dyadic, so the IEEE
    # division is exact at every .5 boundary).
    base_m = {(r["f"], r["t"]): r["p"] for r in m0_dist.collect()}
    base_m[("purchase", "purchase")] = 1000000
    base_m[("NULL_ST", "NULL_ST")] = 1000000
    graph_names = ["base"] + list(_MKV_CHANNELS)

    def removal_graph(g: str) -> dict:
        if g == "base":
            return dict(base_m)
        mg: dict = {}
        for (f, t), p in base_m.items():
            if f == g:
                continue
            t2 = "NULL_ST" if t == g else t
            mg[(f, t2)] = mg.get((f, t2), 0) + p
        mg[(g, "NULL_ST")] = 1000000
        return mg

    def square(m: dict) -> dict:
        acc: dict = {}
        for (f, k), p1 in m.items():
            for (k2, t), p2 in m.items():
                if k2 == k:
                    acc[(f, t)] = acc.get((f, t), 0) + p1 * p2
        return {ft: (s + 500000) // 1000000 for ft, s in acc.items()}

    conv_rows = []
    for g in graph_names:
        m = removal_graph(g)
        for _ in range(_MKV_SQUARINGS):
            m = square(m)
        conv_rows.append((g, m.get(("START", "purchase"), 0)))
    conv = spark.createDataFrame(conv_rows, "g string, conv_mass long")
    base = conv.where(F.col("g") == "base").select(
        F.col("conv_mass").alias("base_mass")
    )
    re = scalar_join(conv.where(F.col("g") != "base"), base).select(
        F.col("g").alias("channel"),
        "base_mass",
        "conv_mass",
        (F.col("base_mass") - F.col("conv_mass")).alias("re_micros"),
    )
    allw = Window.partitionBy()
    return re.select(
        "channel",
        fround(F.col("base_mass") / 1000000.0, 6).alias("base_conv"),
        fround(F.col("conv_mass") / 1000000.0, 6).alias("removal_conv"),
        fround(F.col("re_micros") / 1000000.0, 6).alias("removal_effect"),
        F.when(
            F.sum("re_micros").over(allw) > 0,
            fround(
                F.col("re_micros").cast("double") / F.sum("re_micros").over(allw), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("attribution_share"),
    )


# --------------------------------------------------------------------------
# Experimentation estimators: naive / difference-in-differences / CUPED
# --------------------------------------------------------------------------


@query(
    "cuped_did_lift",
    oracle=f"""
WITH mid AS (
    SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
    FROM events WHERE ts IS NOT NULL
), per_user AS (
    SELECT
        user_id,
        {_ARM_SQL} AS arm,
        CAST(sum(CASE WHEN event_type = 'purchase' AND ts IS NOT NULL
                       AND epoch_us(ts) < mid.mid_us
                      THEN coalesce(CAST(round(value * 100) AS BIGINT), 0)
                      ELSE 0 END) AS BIGINT) AS pre_c,
        CAST(sum(CASE WHEN event_type = 'purchase' AND ts IS NOT NULL
                       AND epoch_us(ts) >= mid.mid_us
                      THEN coalesce(CAST(round(value * 100) AS BIGINT), 0)
                      ELSE 0 END) AS BIGINT) AS post_c
    FROM events CROSS JOIN mid
    WHERE user_id IS NOT NULL
    GROUP BY 1, 2
), sums AS (
    SELECT
        count(*)                                    AS n,
        sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)    AS n_a,
        sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)    AS n_b,
        sum(CASE WHEN arm = 0 THEN pre_c  ELSE 0 END) AS sp_a,
        sum(CASE WHEN arm = 0 THEN post_c ELSE 0 END) AS so_a,
        sum(CASE WHEN arm = 1 THEN pre_c  ELSE 0 END) AS sp_b,
        sum(CASE WHEN arm = 1 THEN post_c ELSE 0 END) AS so_b,
        sum(CAST(pre_c AS HUGEINT))                   AS sp,
        sum(CAST(post_c AS HUGEINT))                  AS so,
        sum(CAST(pre_c AS HUGEINT) * pre_c)           AS spp,
        sum(CAST(post_c AS HUGEINT) * post_c)         AS soo,
        sum(CAST(pre_c AS HUGEINT) * post_c)          AS spo
    FROM per_user
), d AS (
    SELECT
        n, n_a, n_b,
        CAST(so_a AS DOUBLE) / n_a AS mo_a, CAST(so_b AS DOUBLE) / n_b AS mo_b,
        CAST(sp_a AS DOUBLE) / n_a AS mp_a, CAST(sp_b AS DOUBLE) / n_b AS mp_b,
        CAST(n * spo - sp * so AS DOUBLE) AS cov_n2,
        CAST(n * spp - sp * sp AS DOUBLE) AS varp_n2,
        CAST(n * soo - so * so AS DOUBLE) AS varo_n2
    FROM sums
), est AS (
    SELECT
        n_a, n_b,
        mo_b - mo_a                                    AS naive_c,
        (mo_b - mp_b) - (mo_a - mp_a)                  AS did_c,
        cov_n2 / varp_n2                               AS theta,
        (mo_b - mo_a) - cov_n2 / varp_n2 * (mp_b - mp_a) AS cuped_c,
        cov_n2 * cov_n2 / (varp_n2 * varo_n2)          AS corr2
    FROM d
)
SELECT
    CAST(n_a AS BIGINT) AS n_a,
    CAST(n_b AS BIGINT) AS n_b,
    round(naive_c / 100, 4)  AS naive_lift,
    round(did_c / 100, 4)    AS did_lift,
    round(cuped_c / 100, 4)  AS cuped_lift,
    round(theta, 6)          AS theta,
    round(corr2, 6)          AS var_reduction
FROM est
""",
)
def q_cuped_did_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation estimator ladder on one readout: per-user
    purchase revenue split into pre/post periods (exact-integer time
    midpoint), users hash-assigned to arms (`ab_test_zscore`'s
    randomization discipline), then three lift estimates side by side —
    naive post-period difference, difference-in-differences (subtracting
    each arm's pre-period baseline), and CUPED (the industry-standard
    variance-reduction adjustment: θ = cov(pre, post)/var(pre), lift
    adjusted by θ·Δpre), plus θ and the theoretical variance-reduction
    factor ρ² = corr(pre, post)².  On the exchangeable fixture all three
    estimates hover near 0 — the null behaving as a null.

    Determinism: every moment (Σpre, Σpost, Σpre², Σpost², Σpre·post) is
    an exact integer-cents sum in DECIMAL(38,0)/HUGEINT; θ is computed as
    (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) — integer numerator and denominator
    converted to double ONCE, so both engines do the identical IEEE
    division.  Scale: one scan to per-user (arm, pre, post), one
    aggregation to the moment vector — CUPED at 10⁹ users is exactly this
    plan."""
    events = load_table(spark, "events", sf_dir)
    mid = events.where(F.col("ts").isNotNull()).agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) DIV 2").alias("mid_us")
    )
    value_cents = F.coalesce(cents(F.col("value")), F.lit(0))
    is_purch = (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    us = F.unix_micros(F.col("ts"))
    per_user = (
        scalar_join(events.where(F.col("user_id").isNotNull()), mid)
        .groupBy(
            "user_id",
            hash_half(F.col("user_id")).alias("arm"),
        )
        .agg(
            F.sum(
                F.when(is_purch & (us < F.col("mid_us")), value_cents).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("pre_c"),
            F.sum(
                F.when(is_purch & (us >= F.col("mid_us")), value_cents).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("post_c"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(18,0)")
    sums = per_user.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("pre_c")).otherwise(0)).alias("sp_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("post_c")).otherwise(0)).alias("so_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("pre_c")).otherwise(0)).alias("sp_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("post_c")).otherwise(0)).alias("so_b"),
        F.sum(dec("pre_c")).alias("sp"),
        F.sum(dec("post_c")).alias("so"),
        F.sum(dec("pre_c") * dec("pre_c")).alias("spp"),
        F.sum(dec("post_c") * dec("post_c")).alias("soo"),
        F.sum(dec("pre_c") * dec("post_c")).alias("spo"),
    )
    nD = F.col("n").cast("decimal(18,0)")
    d = sums.select(
        "n",
        "n_a",
        "n_b",
        (F.col("so_a").cast("double") / F.col("n_a")).alias("mo_a"),
        (F.col("so_b").cast("double") / F.col("n_b")).alias("mo_b"),
        (F.col("sp_a").cast("double") / F.col("n_a")).alias("mp_a"),
        (F.col("sp_b").cast("double") / F.col("n_b")).alias("mp_b"),
        (nD * F.col("spo") - F.col("sp") * F.col("so")).cast("double").alias("cov_n2"),
        (nD * F.col("spp") - F.col("sp") * F.col("sp")).cast("double").alias("varp_n2"),
        (nD * F.col("soo") - F.col("so") * F.col("so")).cast("double").alias("varo_n2"),
    )
    theta = F.col("cov_n2") / F.col("varp_n2")
    return d.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        fround((F.col("mo_b") - F.col("mo_a")) / 100, 4).alias("naive_lift"),
        fround(
            ((F.col("mo_b") - F.col("mp_b")) - (F.col("mo_a") - F.col("mp_a"))) / 100, 4
        ).alias("did_lift"),
        fround(
            ((F.col("mo_b") - F.col("mo_a")) - theta * (F.col("mp_b") - F.col("mp_a")))
            / 100,
            4,
        ).alias("cuped_lift"),
        fround(theta, 6).alias("theta"),
        fround(
            F.col("cov_n2") * F.col("cov_n2") / (F.col("varp_n2") * F.col("varo_n2")), 6
        ).alias("var_reduction"),
    )


@query(
    "quantile_pinball_backtest",
    oracle=f"""
WITH daily AS (
    {_daily_purchase_cents_sql()}
), hist AS (
    SELECT day_num, cents,
           list_sort(list(cents) OVER (
               ORDER BY day_num ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING
           )) AS h
    FROM daily
), scorable AS (
    SELECT * FROM hist WHERE len(h) = 14
), expanded AS (
    SELECT s.day_num, s.cents, qs.k, s.h[qs.idx] AS yhat
    FROM scorable s
    CROSS JOIN (VALUES (2, 1), (7, 5), (13, 9)) qs(idx, k)
), scored AS (
    SELECT k, cents, yhat,
           greatest(k * (cents - yhat), (k - 10) * (cents - yhat)) AS l10,
           CASE WHEN cents <= yhat THEN 1 ELSE 0 END AS covered
    FROM expanded
)
SELECT
    k / 10.0                                   AS q,
    CAST(count(*) AS BIGINT)                   AS n_days,
    round(CAST(sum(l10) AS DOUBLE) / (10 * count(*) * 100), 4) AS mean_pinball,
    round(CAST(sum(covered) AS DOUBLE) / count(*), 4)          AS coverage
FROM scored
GROUP BY 1
""",
)
def q_quantile_pinball_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast backtest with EXACT pinball loss: walk-forward
    P10/P50/P90 forecasts of daily revenue from the trailing 14 observed
    days' ORDER STATISTICS (rank lookups, never interpolation — the
    `conformal_interval` discipline applied to forecasting), scored with
    the pinball (quantile) loss that makes each quantile forecast
    individually falsifiable, plus empirical coverage per quantile (a
    calibrated P90 should cover ~90% of days).

    Determinism: with deciles as the quantile grid, 10× the pinball loss
    is INTEGER-valued in cents — max(k·Δ, (k−10)·Δ) for k∈{{1,5,9}} — so
    the loss totals are exact integer sums divided once at the edge.

    Scale shape: the corpus collapses to the daily grain in one hash agg;
    the trailing-window order statistics, quantile-grid explode (3
    literals), and loss aggregation all run over #days rows."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = _daily_purchase_cents(events)
    w14 = Window.orderBy("day_num").rowsBetween(-14, -1)
    hist = daily.withColumn("h", F.sort_array(F.collect_list("cents").over(w14)))
    scorable = hist.where(F.size("h") == 14)
    grid = F.array(
        *[
            F.struct(F.lit(idx).alias("idx"), F.lit(k).alias("k"))
            for idx, k in ((2, 1), (7, 5), (13, 9))
        ]
    )
    expanded = scorable.select(
        "day_num",
        "cents",
        F.explode(grid).alias("qs"),
        "h",
    ).select(
        "cents",
        F.col("qs.k").alias("k"),
        F.element_at(F.col("h"), F.col("qs.idx")).alias("yhat"),
    )
    diff = F.col("cents") - F.col("yhat")
    scored = expanded.select(
        "k",
        F.greatest(F.col("k") * diff, (F.col("k") - 10) * diff).alias("l10"),
        F.when(F.col("cents") <= F.col("yhat"), 1).otherwise(0).alias("covered"),
    )
    return scored.groupBy((F.col("k") / 10.0).alias("q")).agg(
        F.count("*").alias("n_days"),
        fround(F.sum("l10").cast("double") / (10 * F.count("*") * 100), 4).alias(
            "mean_pinball"
        ),
        fround(F.sum("covered").cast("double") / F.count("*"), 4).alias("coverage"),
    )


@query(
    "holt_forecast_backtest",
    oracle=f"""
WITH RECURSIVE daily AS (
    {_daily_purchase_cents_sql()}
), seq AS (
    SELECT cents, row_number() OVER (ORDER BY day_num) AS rn FROM daily
), r AS (
    SELECT CAST(1 AS BIGINT) AS rn,
           cents * 1000      AS l,
           CAST(0 AS BIGINT) AS b,
           CAST(0 AS BIGINT) AS errsum,
           CAST(0 AS BIGINT) AS ysum
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.rn,
           CAST(round(0.5 * (s.cents * 1000) + 0.5 * (r.l + r.b)) AS BIGINT) AS l_new,
           CAST(round(0.3 * (l_new - r.l) + 0.7 * r.b) AS BIGINT),
           r.errsum + abs(s.cents * 1000 - (r.l + r.b)),
           r.ysum + s.cents * 1000
    FROM r JOIN seq s ON s.rn = r.rn + 1
)
SELECT
    CAST(rn AS BIGINT)                 AS n_days,
    round(l / 100000.0, 4)             AS final_level,
    round(b / 100000.0, 4)             AS final_trend,
    CASE WHEN rn > 1
         THEN round(errsum / ((rn - 1) * 100000.0), 4)
         ELSE CAST(0 AS DOUBLE) END    AS mae,
    CASE WHEN ysum > 0
         THEN round(CAST(errsum AS DOUBLE) / ysum, 4)
         ELSE CAST(0 AS DOUBLE) END    AS wmape
FROM r WHERE rn = (SELECT max(rn) FROM r)
""",
)
def q_holt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α=0.5, β=0.3, trend-init 0) as a
    walk-forward one-step-ahead backtest over the daily revenue series —
    the genuinely RECURSIVE forecasting state (level + trend depend
    non-linearly on all history, unlike snaive's lag or CUSUM's closed-form
    unroll).  Each step fixes the state to millicents integers via one
    round(), so both engines carry bit-identical state: here the recursion
    is a codegen'd `aggregate` HIGHER-ORDER FOLD over the sorted day array,
    the oracle is a `WITH RECURSIVE` walk — two maximally different
    executions of the same recurrence, hash-equal.

    Scale shape: the corpus collapses to the daily grain in one hash agg;
    the fold runs over #days elements INSIDE one task (a year is 365
    elements — trivially driver^W executor-local), which is exactly how
    sequential time-series state should meet a distributed engine:
    distribute the rollup, not the recurrence."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = _daily_purchase_cents(events)
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day_num", "cents"))).alias("arr")
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("n"), zero.alias("l"), zero.alias("b"),
        zero.alias("errsum"), zero.alias("ysum"),
    )

    def step(acc, x):
        y = (x["cents"] * 1000).cast("long")
        f = acc["l"] + acc["b"]
        l_new = F.round(0.5 * y + 0.5 * f, 0).cast("long")
        b_new = F.round(0.3 * (l_new - acc["l"]) + 0.7 * acc["b"], 0).cast("long")
        return F.when(
            acc["n"] == 0,
            F.struct(
                F.lit(1).cast("long").alias("n"), y.alias("l"), zero.alias("b"),
                zero.alias("errsum"), zero.alias("ysum"),
            ),
        ).otherwise(
            F.struct(
                (acc["n"] + 1).alias("n"),
                l_new.alias("l"),
                b_new.alias("b"),
                (acc["errsum"] + F.abs(y - f)).alias("errsum"),
                (acc["ysum"] + y).alias("ysum"),
            )
        )

    folded = arr.select(F.aggregate(F.col("arr"), init, step).alias("s"))
    # empty series: the oracle's recursion has no base row — emit nothing
    # here too rather than a zero-state row
    folded = folded.where(F.col("s.n") > 0)
    return folded.select(
        F.col("s.n").alias("n_days"),
        fround(F.col("s.l") / 100000.0, 4).alias("final_level"),
        fround(F.col("s.b") / 100000.0, 4).alias("final_trend"),
        F.when(
            F.col("s.n") > 1,
            fround(F.col("s.errsum") / ((F.col("s.n") - 1) * 100000.0), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("mae"),
        F.when(
            F.col("s.ysum") > 0,
            fround(F.col("s.errsum").cast("double") / F.col("s.ysum"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("wmape"),
    )


@query(
    "popularity_rec_hitrate",
    oracle="""
WITH od AS (
    SELECT o_orderkey, o_custkey,
           CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS d
    FROM orders WHERE o_orderdate IS NOT NULL
), mid AS (
    SELECT (min(d) + max(d)) // 2 AS m FROM od
), labeled AS (
    SELECT o.o_orderkey, c.c_nationkey AS nation, o.d < mid.m AS is_train
    FROM od o JOIN customer c ON c.c_custkey = o.o_custkey CROSS JOIN mid
), items AS (
    SELECT l.l_partkey AS part, lb.nation, lb.is_train
    FROM lineitem l JOIN labeled lb ON lb.o_orderkey = l.l_orderkey
), pop AS (
    SELECT nation, part, count(*) AS c FROM items WHERE is_train GROUP BY 1, 2
), top5 AS (
    SELECT nation, part FROM (
        SELECT nation, part, row_number() OVER (
            PARTITION BY nation ORDER BY c DESC, part
        ) AS rnk FROM pop
    ) WHERE rnk <= 5
), test AS (
    SELECT nation, part FROM items WHERE NOT is_train
)
SELECT
    t.nation,
    count(*)       AS n_test_items,
    count(h.part)  AS n_hits,
    round(CAST(count(h.part) AS DOUBLE) / count(*), 6) AS hitrate_at_5,
    round(CAST(sum(count(h.part)) OVER () AS DOUBLE)
          / sum(count(*)) OVER (), 6)                  AS macro_hitrate
FROM test t LEFT JOIN top5 h ON h.nation = t.nation AND h.part = t.part
GROUP BY 1
""",
)
def q_popularity_rec_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recommender baseline every personalization system must beat,
    with its temporally-correct evaluation: per customer nation (the
    segment), the 5 most-ordered parts are learned on the FIRST date half
    and scored on the second — hit-rate@5 = the share of held-out line
    items whose part was in the segment's top-5 (plus the macro rate).
    The time split (exact-integer midpoint day) is the leakage discipline
    `leakage_safe_labels` establishes: popularity computed over the full
    range would grade itself on its own training data.

    Scale shape: two passes over the fact join (train popularity, test
    scoring), both plain equi-joins on orderkey/nation; the segment top-5
    is a rank-filtered partitioned window (WindowGroupLimit) and the hit
    check is a broadcast equi-join against the 5×#segments
    recommendation table — the same serving-side shape an actual
    popularity recommender deploys."""
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderdate").isNotNull()
    )
    od = orders.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("d"),
    )
    mid = od.agg(F.expr("(min(d) + max(d)) DIV 2").alias("m"))
    customer = load_table(spark, "customer", sf_dir).select(
        "c_custkey", F.col("c_nationkey").alias("nation")
    )
    labeled = scalar_join(od, mid).join(
        customer, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "nation", (F.col("d") < F.col("m")).alias("is_train"))
    lineitem = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_partkey").alias("part")
    )
    items = lineitem.join(labeled, "o_orderkey").select("part", "nation", "is_train")
    pop = (
        items.where(F.col("is_train"))
        .groupBy("nation", "part")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("nation").orderBy(F.col("c").desc(), F.col("part"))
    top5 = (
        pop.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("nation", "part")
        .withColumn("hit", F.lit(1))
    )
    test = items.where(~F.col("is_train")).select("nation", "part")
    allw = Window.partitionBy()
    return (
        test.join(F.broadcast(top5), ["nation", "part"], "left")
        .groupBy("nation")
        .agg(
            F.count("*").alias("n_test_items"),
            F.count("hit").alias("n_hits"),
            fround(F.count("hit").cast("double") / F.count("*"), 6).alias(
                "hitrate_at_5"
            ),
        )
        .select(
            "nation",
            "n_test_items",
            "n_hits",
            "hitrate_at_5",
            fround(
                F.sum("n_hits").over(allw).cast("double")
                / F.sum("n_test_items").over(allw),
                6,
            ).alias("macro_hitrate"),
        )
    )


@query(
    "chi2_independence",
    oracle="""
WITH base AS (
    SELECT lang, source FROM documents
), cells AS (
    SELECT lang, source, count(*) AS o FROM base GROUP BY 1, 2
), margins AS (
    SELECT c.lang, c.source, c.o,
           sum(c.o) OVER (PARTITION BY c.lang)   AS row_tot,
           sum(c.o) OVER (PARTITION BY c.source) AS col_tot,
           sum(c.o) OVER ()                      AS n,
           -- NULL is its own category: coalesce to a sentinel so the
           -- distinct-count sees it (Spark side counts struct(lang),
           -- which is never NULL)
           count(DISTINCT coalesce(c.lang, chr(1))) OVER ()   AS n_rows_dim,
           count(DISTINCT coalesce(c.source, chr(1))) OVER () AS n_cols_dim
    FROM cells c
), terms AS (
    SELECT *,
        CAST(row_tot AS DOUBLE) * col_tot / n AS e,
        CAST(round(
            (o - CAST(row_tot AS DOUBLE) * col_tot / n)
            * (o - CAST(row_tot AS DOUBLE) * col_tot / n)
            / (CAST(row_tot AS DOUBLE) * col_tot / n) * 1000000
        ) AS BIGINT) AS t_micro
    FROM margins
)
SELECT
    lang, source,
    CAST(o AS BIGINT)                        AS observed,
    round(e, 4)                              AS expected,
    round(t_micro / 1000000.0, 6)            AS chi2_term,
    round(CAST(sum(t_micro) OVER () AS DOUBLE) / 1000000, 6) AS chi2_total,
    CAST((n_rows_dim - 1) * (n_cols_dim - 1) AS BIGINT)      AS dof
FROM terms
""",
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between document language
    and source — the categorical-association check a corpus-composition
    review runs before stratifying on either axis (a large chi² says the
    sources have different language mixes, so per-source language quotas
    are not redundant with global ones).  Output: the full contingency
    relation with observed/expected counts, per-cell chi² terms, the total
    statistic, and its degrees of freedom.

    Determinism: expected counts and per-cell terms are single IEEE
    expressions over exact integer margins, micros-fixed-pointed BEFORE
    the cross-cell total (the PSI/Brier discipline).  Scale: one hash agg
    to the contingency cells; margins and terms are windows over the
    #langs × #sources relation — bounded at any corpus size.  NULL lang /
    NULL source form their own margin rows on both engines."""
    docs = load_table(spark, "documents", sf_dir)
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wa = Window.partitionBy()
    margins = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(wl).alias("row_tot"),
        F.sum("o").over(ws).alias("col_tot"),
        F.sum("o").over(wa).alias("n"),
        F.size(F.collect_set(F.struct("lang")).over(wa)).alias("n_rows_dim"),
        F.size(F.collect_set(F.struct("source")).over(wa)).alias("n_cols_dim"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    terms = margins.select(
        "*",
        e.alias("e"),
        cents((F.col("o") - e) * (F.col("o") - e) / e, 1000000).alias("t_micro"),
    )
    return terms.select(
        "lang",
        "source",
        F.col("o").cast("long").alias("observed"),
        fround(F.col("e"), 4).alias("expected"),
        fround(F.col("t_micro") / 1000000.0, 6).alias("chi2_term"),
        fround(F.sum("t_micro").over(wa).cast("double") / 1000000, 6).alias(
            "chi2_total"
        ),
        ((F.col("n_rows_dim") - 1) * (F.col("n_cols_dim") - 1))
        .cast("long")
        .alias("dof"),
    )


@query(
    "eb_rate_shrinkage",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           count(*) AS n,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
    FROM events WHERE user_id IS NOT NULL
    GROUP BY 1
), moments AS (
    -- method-of-moments Beta prior from the per-user rate distribution
    SELECT
        CAST(sum(k) AS DOUBLE) / sum(n) AS mu,
        sum(CAST(k AS HUGEINT) * k)     AS skk,
        sum(CAST(k AS HUGEINT) * n)     AS skn,
        sum(CAST(n AS HUGEINT) * n)     AS snn,
        sum(k) AS sk, sum(n) AS sn, count(*) AS u
    FROM per_user
), prior AS (
    SELECT mu,
        -- var of per-user rates approximated on the count scale:
        -- E[(k/n - mu)^2] with each user's term exact-integer expanded
        (SELECT CAST(sum(CAST(round(
             (CAST(k AS DOUBLE) / n - m.mu) * (CAST(k AS DOUBLE) / n - m.mu)
             * 1000000) AS BIGINT)) AS DOUBLE) / (count(*) * 1000000.0)
         FROM per_user) AS v
    FROM moments m
), ab AS (
    SELECT mu, v,
           mu * (mu * (1 - mu) / v - 1)       AS alpha,
           (1 - mu) * (mu * (1 - mu) / v - 1) AS beta
    FROM prior
), top AS (
    SELECT user_id, n, k,
           row_number() OVER (ORDER BY n DESC, user_id) AS rnk
    FROM per_user
)
SELECT
    t.user_id,
    CAST(t.n AS BIGINT) AS n_events,
    CAST(t.k AS BIGINT) AS n_purchases,
    round(CAST(t.k AS DOUBLE) / t.n, 6)                    AS raw_rate,
    round((t.k + a.alpha) / (t.n + a.alpha + a.beta), 6)   AS shrunk_rate,
    round(a.alpha, 6) AS alpha,
    round(a.beta, 6)  AS beta
FROM top t CROSS JOIN ab a
WHERE t.rnk <= 10
""",
)
def q_eb_rate_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates — the
    small-sample fix every per-segment rate dashboard needs (a 1/1 user is
    not a 100% converter): a Beta prior is fitted by method of moments
    from the whole population (mean rate μ and the rate variance v —
    each user's squared deviation micros-fixed before the sum), and each
    user's posterior mean (k+α)/(n+α+β) pulls small-n rates toward μ
    while leaving big-n rates alone.  Output: the 10 most-active users
    with raw vs shrunk rates plus the fitted prior.

    Determinism: all moment inputs are exact integer sums
    (HUGEINT/DECIMAL); μ, v, α, β are single IEEE expressions over them,
    identical on both engines.  Scale: one hash agg to per-user counts,
    one to the moment vector (a scalar broadcast), a rank-filtered top-10
    — shrinkage itself is a map-side expression over any number of users.
    """
    events = load_table(spark, "events", sf_dir).where(F.col("user_id").isNotNull())
    per_user = events.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    mu_df = per_user.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("mu"),
        F.count("*").alias("u"),
    )
    rate = F.col("k").cast("double") / F.col("n")
    v_df = scalar_join(per_user, mu_df).agg(
        (
            F.sum(cents((rate - F.col("mu")) * (rate - F.col("mu")), 1000000)).cast("double")
            / (F.count("*") * 1000000.0)
        ).alias("v"),
        F.first("mu").alias("mu"),
    )
    m = F.col("mu") * (F.col("mu") * (1 - F.col("mu")) / F.col("v") - 1)
    ab = v_df.select(
        "mu",
        "v",
        m.alias("alpha"),
        ((1 - F.col("mu")) * (F.col("mu") * (1 - F.col("mu")) / F.col("v") - 1)).alias(
            "beta"
        ),
    )
    w = Window.orderBy(F.col("n").desc(), F.col("user_id"))
    top = per_user.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 10)
    return scalar_join(top, ab).select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.col("k").cast("long").alias("n_purchases"),
        fround(F.col("k").cast("double") / F.col("n"), 6).alias("raw_rate"),
        fround(
            (F.col("k") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
        fround(F.col("alpha"), 6).alias("alpha"),
        fround(F.col("beta"), 6).alias("beta"),
    )


@query(
    "pr_curve_thresholds",
    oracle="""
WITH scored AS (
    SELECT
        round((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * 50
               + least(len(string_split(text, ' ')), 100) / 100 * 50)
              * 100) / 100 AS s,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents WHERE text IS NOT NULL
), grouped AS (
    SELECT s, count(*) AS cnt, sum(y) AS pos FROM scored GROUP BY 1
), totals AS (
    SELECT sum(cnt) AS n, sum(pos) AS p FROM grouped
), thresholds AS (
    SELECT unnest(range(10, 100, 10)) AS thr
), at_thr AS (
    SELECT t.thr,
           coalesce(sum(g.cnt), 0) AS pred_pos,
           coalesce(sum(g.pos), 0) AS tp
    FROM thresholds t LEFT JOIN grouped g ON g.s >= t.thr
    GROUP BY 1
)
SELECT
    CAST(a.thr AS INT)          AS threshold,
    CAST(a.pred_pos AS BIGINT)  AS n_predicted_pos,
    CAST(a.tp AS BIGINT)        AS n_true_pos,
    CASE WHEN a.pred_pos > 0
         THEN round(CAST(a.tp AS DOUBLE) / a.pred_pos, 6)
         ELSE CAST(0 AS DOUBLE) END AS precision,
    CASE WHEN t.p > 0
         THEN round(CAST(a.tp AS DOUBLE) / t.p, 6)
         ELSE CAST(0 AS DOUBLE) END AS recall,
    CASE WHEN a.pred_pos > 0 AND t.p > 0 AND a.tp > 0
         THEN round(2.0 * a.tp / (a.pred_pos + t.p), 6)
         ELSE CAST(0 AS DOUBLE) END AS f1
FROM at_thr a CROSS JOIN totals t
""",
)
def q_pr_curve_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precision/recall/F1 threshold sweep that `auc_quality_langid`
    integrates: "quality score >= t predicts English" evaluated at the 9
    decile cutoffs — the operating-point table a deployment actually picks
    its threshold from (AUC says the ranking is good; this says WHERE to
    cut it).  F1 in its 2·TP/(pred+actual) single-division form.

    Scale shape: the corpus collapses once to per-distinct-score (cnt,
    pos) aggregates — the SAME relation the AUC query builds — and every
    threshold row is a range-predicate re-aggregation of that bounded
    grid (≤10⁴ rows by the 2dp score grid), so the 9-point sweep costs
    one corpus scan regardless of size.  All counts exact integers; three
    guarded single divisions at the edge."""
    from e_commerce_streaming_datapipeline_spark.operators.text import text_stats

    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    scored = text_stats(docs).select(
        F.col("quality_score").alias("s"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    grouped = scored.groupBy("s").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    totals = grouped.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("p"))
    thresholds = spark.range(1, 10).select((F.col("id") * 10).cast("int").alias("thr"))
    at_thr = (
        thresholds.join(F.broadcast(grouped), F.col("s") >= F.col("thr"), "left")
        .groupBy("thr")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("pred_pos"),
            F.coalesce(F.sum("pos"), F.lit(0)).alias("tp"),
        )
    )
    return scalar_join(at_thr, totals).select(
        F.col("thr").alias("threshold"),
        F.col("pred_pos").cast("long").alias("n_predicted_pos"),
        F.col("tp").cast("long").alias("n_true_pos"),
        F.when(
            F.col("pred_pos") > 0,
            fround(F.col("tp").cast("double") / F.col("pred_pos"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
        F.when(F.col("p") > 0, fround(F.col("tp").cast("double") / F.col("p"), 6))
        .otherwise(F.lit(0.0))
        .alias("recall"),
        F.when(
            (F.col("pred_pos") > 0) & (F.col("p") > 0) & (F.col("tp") > 0),
            fround(F.lit(2.0) * F.col("tp") / (F.col("pred_pos") + F.col("p")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )


@query(
    "seasonal_decompose_daily",
    oracle=f"""
WITH daily AS (
    {_daily_purchase_cents_sql()}
), trended AS (
    SELECT day_num, cents,
           count(*) OVER w7 AS n7,
           CAST(round(CAST(sum(cents) OVER w7 AS DOUBLE) / count(*) OVER w7
                      * 1000) AS BIGINT) AS trend_milli
    FROM daily
    WINDOW w7 AS (ORDER BY day_num ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detrended AS (
    SELECT *, cents * 1000 - trend_milli AS det_milli,
           day_num % 7 AS weekday
    FROM trended WHERE n7 = 7
), seasonal AS (
    SELECT weekday,
           CAST(round(CAST(sum(det_milli) AS DOUBLE) / count(*)) AS BIGINT)
               AS seas_milli
    FROM detrended GROUP BY 1
)
SELECT
    d.day_num,
    round(d.cents / 100.0, 2)                       AS revenue,
    round(d.trend_milli / 100000.0, 4)              AS trend,
    round(s.seas_milli / 100000.0, 4)               AS seasonal,
    round((d.det_milli - s.seas_milli) / 100000.0, 4) AS residual,
    CAST(d.weekday AS INT)                          AS weekday
FROM detrended d JOIN seasonal s USING (weekday)
""",
)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily revenue series —
    trend (centered 7-day moving average), weekday seasonal (mean of the
    detrended series per day-of-week), residual (what anomaly detection
    should actually run on; `revenue_anomaly_days` on raw values flags
    every weekend) — the STL-shaped preprocessing every revenue
    forecasting/monitoring pipeline applies first.  Edge days without a
    full centered window are excluded (n7 = 7), so the trend is never a
    biased partial mean.

    Determinism: trend and seasonal means are single exact-integer-sum
    divisions rounded to millicents before any subtraction, so every
    derived column is integer arithmetic.  Scale: one hash agg to the
    daily grain; the centered window, weekday means, and the final join
    all run over #days rows."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = _daily_purchase_cents(events)
    w7 = Window.orderBy("day_num").rowsBetween(-3, 3)
    trended = daily.select(
        "day_num",
        "cents",
        F.count("*").over(w7).alias("n7"),
        cents(F.sum("cents").over(w7).cast("double") / F.count("*").over(w7), 1000).alias(
            "trend_milli"
        ),
    )
    detrended = trended.where(F.col("n7") == 7).select(
        "day_num",
        "cents",
        "trend_milli",
        (F.col("cents") * 1000 - F.col("trend_milli")).alias("det_milli"),
        (F.col("day_num") % 7).alias("weekday"),
    )
    seasonal = detrended.groupBy("weekday").agg(
        F.round(F.sum("det_milli").cast("double") / F.count("*"), 0)
        .cast("long")
        .alias("seas_milli")
    )
    return detrended.join(F.broadcast(seasonal), "weekday").select(
        "day_num",
        fround(F.col("cents") / 100.0, 2).alias("revenue"),
        fround(F.col("trend_milli") / 100000.0, 4).alias("trend"),
        fround(F.col("seas_milli") / 100000.0, 4).alias("seasonal"),
        fround((F.col("det_milli") - F.col("seas_milli")) / 100000.0, 4).alias(
            "residual"
        ),
        F.col("weekday").cast("int").alias("weekday"),
    )


@query(
    "residual_anomaly_days",
    oracle=f"""
WITH daily AS (
    {_daily_purchase_cents_sql()}
), trended AS (
    SELECT day_num, cents,
           count(*) OVER w7 AS n7,
           CAST(round(CAST(sum(cents) OVER w7 AS DOUBLE) / count(*) OVER w7
                      * 1000) AS BIGINT) AS trend_milli
    FROM daily
    WINDOW w7 AS (ORDER BY day_num ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detrended AS (
    SELECT day_num, cents, cents * 1000 - trend_milli AS det_milli,
           day_num % 7 AS weekday
    FROM trended WHERE n7 = 7
), seasonal AS (
    SELECT weekday,
           CAST(round(CAST(sum(det_milli) AS DOUBLE) / count(*)) AS BIGINT)
               AS seas_milli
    FROM detrended GROUP BY 1
), resid AS (
    SELECT d.day_num, d.cents, d.det_milli - s.seas_milli AS r_milli
    FROM detrended d JOIN seasonal s USING (weekday)
), med AS (
    SELECT r_milli AS med_milli FROM (
        SELECT r_milli, row_number() OVER (ORDER BY r_milli, day_num) AS rn,
               count(*) OVER () AS n
        FROM resid
    ) WHERE rn = (n + 1) // 2
), absdev AS (
    SELECT r.day_num, r.cents, r.r_milli,
           abs(r.r_milli - m.med_milli) AS ad, m.med_milli
    FROM resid r CROSS JOIN med m
), mad AS (
    SELECT ad AS mad_milli FROM (
        SELECT ad, row_number() OVER (ORDER BY ad, day_num) AS rn,
               count(*) OVER () AS n
        FROM absdev
    ) WHERE rn = (n + 1) // 2
)
SELECT
    a.day_num,
    round(a.cents / 100.0, 2)        AS revenue,
    round(a.r_milli / 100000.0, 4)   AS residual,
    round(a.med_milli / 100000.0, 4) AS resid_median,
    round(m.mad_milli / 100000.0, 4) AS resid_mad,
    round((a.r_milli - a.med_milli) / (1.4826 * m.mad_milli) * 1000000)
        / 1000000                    AS robust_z,
    abs(a.r_milli - a.med_milli) > 3 * 1.4826 * m.mad_milli AS is_anomaly
FROM absdev a CROSS JOIN mad m
ORDER BY a.day_num
""",
)
def q_residual_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection on the DECOMPOSED series — the operator
    `seasonal_decompose_daily`'s docstring promises: robust z-scores
    (median/MAD, both LOWER-MEDIAN order statistics — rank lookups, never
    interpolation) over the trend-and-seasonality-removed residuals, every
    day emitted with its |z| > 3 flag.  Running the same test on raw revenue flags
    every weekend; on residuals only genuine irregularities surface.

    Determinism: residuals are exact millicents integers end to end;
    median and MAD are row_number lookups; the z-score is one IEEE
    expression over integers with the conventional 1.4826 consistency
    constant, micros-rounded for display.  Scale: everything after the
    daily rollup runs on #days rows; the two order statistics are the
    `conformal_interval` rank discipline."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = _daily_purchase_cents(events)
    w7 = Window.orderBy("day_num").rowsBetween(-3, 3)
    trended = daily.select(
        "day_num",
        "cents",
        F.count("*").over(w7).alias("n7"),
        cents(F.sum("cents").over(w7).cast("double") / F.count("*").over(w7), 1000).alias(
            "trend_milli"
        ),
    )
    detrended = trended.where(F.col("n7") == 7).select(
        "day_num",
        "cents",
        (F.col("cents") * 1000 - F.col("trend_milli")).alias("det_milli"),
        (F.col("day_num") % 7).alias("weekday"),
    )
    seasonal = detrended.groupBy("weekday").agg(
        F.round(F.sum("det_milli").cast("double") / F.count("*"), 0)
        .cast("long")
        .alias("seas_milli")
    )
    resid = detrended.join(F.broadcast(seasonal), "weekday").select(
        "day_num", "cents", (F.col("det_milli") - F.col("seas_milli")).alias("r_milli")
    )
    wm = Window.orderBy("r_milli", "day_num")
    med = (
        resid.select(
            "r_milli",
            F.row_number().over(wm).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("r_milli").alias("med_milli"))
    )
    absdev = scalar_join(resid, med).select(
        "day_num",
        "cents",
        "r_milli",
        "med_milli",
        F.abs(F.col("r_milli") - F.col("med_milli")).alias("ad"),
    )
    wa = Window.orderBy("ad", "day_num")
    mad = (
        absdev.select(
            "ad",
            F.row_number().over(wa).alias("rn"),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("ad").alias("mad_milli"))
    )
    z = (F.col("r_milli") - F.col("med_milli")) / (F.lit(1.4826) * F.col("mad_milli"))
    return (
        scalar_join(absdev, mad)
        .select(
            "day_num",
            fround(F.col("cents") / 100.0, 2).alias("revenue"),
            fround(F.col("r_milli") / 100000.0, 4).alias("residual"),
            fround(F.col("med_milli") / 100000.0, 4).alias("resid_median"),
            fround(F.col("mad_milli") / 100000.0, 4).alias("resid_mad"),
            fround(z, 6).alias("robust_z"),
            (
                F.abs(F.col("r_milli") - F.col("med_milli"))
                > F.lit(3) * F.lit(1.4826) * F.col("mad_milli")
            ).alias("is_anomaly"),
        )
        .orderBy("day_num")
    )


# -- KMV (k-minimum-values / theta) sketch: distinct counts AND set overlap --

_KMV_K = 64
_KMV_A, _KMV_B = 2654435761, 97
_KMV_SCALE = (_KMV_K - 1) * PRIME  # (k-1)*P as one BIGINT literal (int32 would overflow)


def _kmv_hash(col):
    """Universal hash onto [1, P], P = 2^31 - 1: ``universal_hash`` + 1, so
    the estimator's divisor can never be 0."""
    return universal_hash(col, _KMV_A, _KMV_B) + 1


_KMV_HASH_SQL = f"({universal_hash_sql('user_id', _KMV_A, _KMV_B)} + 1)"


@query(
    "kmv_set_overlap",
    oracle=f"""
WITH flagged AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS is_p,
           max(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS is_c,
           {_KMV_HASH_SQL} AS h
    FROM events
    WHERE user_id IS NOT NULL AND event_type IN ('purchase', 'click')
    GROUP BY user_id
), exact AS (
    SELECT
        CAST(sum(is_p) AS BIGINT)                    AS n_purchasers_exact,
        CAST(sum(is_c) AS BIGINT)                    AS n_clickers_exact,
        CAST(count(*) AS BIGINT)                     AS n_union_exact,
        CAST(sum(is_p * is_c) AS BIGINT)             AS n_inter_exact
    FROM flagged
), kp AS (
    SELECT max(h) AS hk FROM (
        SELECT h FROM flagged WHERE is_p = 1 ORDER BY h, user_id LIMIT {_KMV_K})
), kc AS (
    SELECT max(h) AS hk FROM (
        SELECT h FROM flagged WHERE is_c = 1 ORDER BY h, user_id LIMIT {_KMV_K})
), ku AS (
    SELECT max(h) AS hk, CAST(sum(is_p * is_c) AS BIGINT) AS n_both FROM (
        SELECT h, is_p, is_c FROM flagged ORDER BY h, user_id LIMIT {_KMV_K})
)
SELECT
    CAST({_KMV_K} AS BIGINT)                                  AS k,
    e.n_purchasers_exact, e.n_clickers_exact,
    e.n_union_exact, e.n_inter_exact,
    CAST({_KMV_SCALE} // kp.hk AS BIGINT)                     AS est_purchasers,
    CAST({_KMV_SCALE} // kc.hk AS BIGINT)                     AS est_clickers,
    CAST({_KMV_SCALE} // ku.hk AS BIGINT)                     AS est_union,
    CAST(ku.n_both * 10000 // {_KMV_K} AS BIGINT)             AS est_jaccard_x10000,
    CAST(({_KMV_SCALE} // ku.hk) * ku.n_both // {_KMV_K}
         AS BIGINT)                                           AS est_intersection
FROM exact e, kp, kc, ku
""",
)
def q_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta sketch from first principles: the k MINIMUM hash values
    of a set are a fixed-size summary whose k-th value estimates the
    distinct count (n_hat = (k-1)*P / h_k), and — unlike HLL — KMV
    sketches support SET ALGEBRA: the union sketch is the k smallest of
    the merged minima, and the fraction of them belonging to BOTH sets
    estimates the Jaccard, hence the intersection (the DataSketches theta
    framework).  Purchasers vs clickers here, with the EXACT distinct
    counts computed alongside as the accuracy audit.

    Everything the hash touches is integer (universal hash mod a Mersenne
    prime, integer-div estimators, x10000 fixed-point Jaccard), so the
    row is bit-identical on any engine — the deterministic-parity sibling
    of the rows-only `approx_unique_users_hourly` (HLL is engine-private;
    KMV is pure arithmetic).

    100 TB shape: one hash-aggregate to per-user flags, then three
    TakeOrdered(k) passes (Spark's `orderBy().limit(k)` plans
    TakeOrderedAndProject — per-partition heaps, never a global sort) and
    constant-size reductions.  The sketch state is k longs per set — the
    mergeable summary you keep per partition/day and OR together at read,
    exactly like the bitmap/CMS/HLL family queries."""
    events = load_table(spark, "events", sf_dir)
    flagged = (
        events.where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("purchase", "click")
        )
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("long")).alias("is_p"),
            F.max((F.col("event_type") == "click").cast("long")).alias("is_c"),
        )
        .withColumn("h", _kmv_hash(F.col("user_id")))
    )
    exact = flagged.agg(
        F.sum("is_p").alias("n_purchasers_exact"),
        F.sum("is_c").alias("n_clickers_exact"),
        F.count("*").alias("n_union_exact"),
        F.sum(F.col("is_p") * F.col("is_c")).alias("n_inter_exact"),
    )

    def kmv_hk(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.orderBy("h", "user_id")
            .limit(_KMV_K)
            .agg(F.max("h").alias(alias))
        )

    kp = kmv_hk(flagged.where(F.col("is_p") == 1), "hk_p")
    kc = kmv_hk(flagged.where(F.col("is_c") == 1), "hk_c")
    ku = (
        flagged.orderBy("h", "user_id")
        .limit(_KMV_K)
        .agg(
            F.max("h").alias("hk_u"),
            F.sum(F.col("is_p") * F.col("is_c")).alias("n_both"),
        )
    )
    one = scalar_join(scalar_join(scalar_join(exact, kp), kc), ku)
    est = lambda hk: F.expr(f"{_KMV_SCALE} div {hk}")  # noqa: E731
    return one.select(
        F.lit(_KMV_K).cast("long").alias("k"),
        "n_purchasers_exact",
        "n_clickers_exact",
        "n_union_exact",
        "n_inter_exact",
        est("hk_p").alias("est_purchasers"),
        est("hk_c").alias("est_clickers"),
        est("hk_u").alias("est_union"),
        F.expr(f"(n_both * 10000) div {_KMV_K}").alias("est_jaccard_x10000"),
        F.expr(
            f"({_KMV_SCALE} div hk_u) * n_both div {_KMV_K}"
        ).alias("est_intersection"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit: the digit-distribution fraud/data-quality test
# --------------------------------------------------------------------------

# round(log10(1 + 1/d) * 1e6) for d = 1..9 — precomputed literals so NO
# engine evaluates a logarithm (the PMI discipline: transcendental functions
# are not guaranteed correctly rounded across engines; literals are)
_BENFORD_X1E6 = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
                 45757)


def _benford_oracle() -> str:
    expected = " UNION ALL ".join(
        f"SELECT {d} AS digit, {p} AS benford_x1e6"
        for d, p in enumerate(_BENFORD_X1E6, start=1)
    )
    return f"""
WITH cents AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
    FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
), digits AS (
    SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
           count(*) AS n_orders
    FROM cents GROUP BY 1
), total AS (
    SELECT sum(n_orders) AS n FROM digits
), expected AS ({expected})
SELECT
    e.digit,
    CAST(coalesce(d.n_orders, 0) AS BIGINT)          AS n_orders,
    CAST(coalesce(d.n_orders, 0) * 1000000 // t.n AS BIGINT)
                                                     AS observed_x1e6,
    CAST(e.benford_x1e6 AS BIGINT)                   AS benford_x1e6,
    CAST(coalesce(d.n_orders, 0) * 1000000 // t.n
         - e.benford_x1e6 AS BIGINT)                 AS excess_x1e6
FROM expected e
CROSS JOIN total t
LEFT JOIN digits d ON d.digit = e.digit
ORDER BY e.digit
"""


@query("benford_revenue_audit", oracle=_benford_oracle())
def q_benford_revenue_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    classic forensic data-quality test: naturally-generated multi-scale
    monetary amounts follow log10(1 + 1/d) leading-digit frequencies, and a
    per-digit excess flags fabricated, clipped, or unit-mangled feeds
    (a synthetic uniform price generator shows up instantly as a flat
    digit histogram).  One row per digit 1-9 with observed count, exact
    scaled observed and expected shares, and the signed excess.

    Exactness: the leading digit is taken from the DECIMAL STRING of exact
    cents (integer-to-string is engine-identical; no log10 anywhere — the
    expected shares are precomputed literals, the PMI discipline), and all
    shares are exact scaled-integer divisions.

    Scale: one scan projecting a leading digit (map-side string op on an
    exact long), one 9-cell hash aggregate, and a broadcast join against
    the 9-row literal expectation table.  This is the cheapest audit in
    the quality family — at 100 TB it rides along any existing pass over
    the fact table via multi-aggregate pushdown."""
    prices = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0))
        .select(cents(F.col("o_totalprice")).alias("c"))
    )
    digits = prices.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    ).groupBy("digit").agg(F.count("*").alias("n_orders"))
    total = digits.groupBy().agg(F.sum("n_orders").alias("__n"))
    expected = spark.range(1).select(
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("digit"), F.lit(p).alias("benford_x1e6"))
                for d, p in enumerate(_BENFORD_X1E6, start=1)
            ])
        ).alias("e")
    ).select(F.col("e.digit").alias("digit"), F.col("e.benford_x1e6").alias("benford_x1e6"))
    return (
        scalar_join(expected, total)
        .join(digits, "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
            F.expr("(coalesce(n_orders, 0) * 1000000) div __n").alias(
                "observed_x1e6"
            ),
            F.col("benford_x1e6").cast("long").alias("benford_x1e6"),
            F.expr(
                "(coalesce(n_orders, 0) * 1000000) div __n - benford_x1e6"
            ).alias("excess_x1e6"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Cohort LTV triangle (revenue sibling of the retention triangle)
# --------------------------------------------------------------------------

@query(
    "cohort_ltv_triangle",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY user_id
), purchases AS (
    SELECT e.user_id, f.cohort_day,
           date_diff('day', f.cohort_day,
                     CAST(date_trunc('day', e.ts) AS TIMESTAMP)) // 7
               AS week_offset,
           CAST(round(coalesce(e.value, 0) * 100) AS BIGINT) AS cents
    FROM events e JOIN firsts f USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
), sizes AS (
    SELECT cohort_day, count(*) AS cohort_size FROM firsts GROUP BY 1
), cells AS (
    SELECT cohort_day, week_offset,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           count(*) AS n_purchases
    FROM purchases GROUP BY 1, 2
), buyers AS (
    SELECT cohort_day, week_offset, count(*) AS n_buyers
    FROM (SELECT DISTINCT cohort_day, week_offset, user_id FROM purchases)
    GROUP BY 1, 2
)
SELECT
    c.cohort_day,
    CAST(c.week_offset AS INT)       AS week_offset,
    CAST(b.n_buyers AS BIGINT)       AS n_buyers,
    CAST(c.n_purchases AS BIGINT)    AS n_purchases,
    c.revenue_cents,
    CAST(s.cohort_size AS BIGINT)    AS cohort_size,
    CAST(c.revenue_cents * 100 // s.cohort_size AS BIGINT)
        AS ltv_cents_per_100_users
FROM cells c
JOIN buyers b USING (cohort_day, week_offset)
JOIN sizes s USING (cohort_day)
""",
)
def q_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV (lifetime-value) triangle — `cohort_retention`'s revenue
    sibling and the other half of every growth dashboard: users cohort by
    first-seen day, purchases accrue to (cohort, week-of-life) cells, and
    each cell reports buyers, purchase count, exact-cents revenue, and
    revenue per 100 cohort members — the table that prices acquisition
    (how much a cohort has paid back by week N of its life).

    Exactness: revenue in exact scaled cents; the per-100-users rate is an
    exact integer division; buyer counts come from a two-phase distinct
    (dedupe, then count) — no COUNT-DISTINCT Expand.

    Plan: the same user-grain shapes as the retention triangle — per-user
    first-seen hash agg, a user-key join that reuses the partitioning,
    purchase-cell hash aggs, and broadcast joins on the #days-sized
    cohort dimension.  All rollups run on (cohort x week) grain."""
    events = load_table(spark, "events", sf_dir)
    valid = events.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    firsts = valid.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("cohort_day")
    )
    purchases = (
        valid.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.expr(
                "datediff(CAST(date_trunc('day', ts) AS DATE), "
                "CAST(cohort_day AS DATE)) div 7"
            ).alias("week_offset"),
            cents(F.coalesce(F.col("value"), F.lit(0.0))).alias("cents"),
        )
    )
    sizes = firsts.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    cells = purchases.groupBy("cohort_day", "week_offset").agg(
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.count("*").cast("long").alias("n_purchases"),
    )
    buyers = (
        purchases.select("cohort_day", "week_offset", "user_id")
        .distinct()
        .groupBy("cohort_day", "week_offset")
        .agg(F.count("*").cast("long").alias("n_buyers"))
    )
    return (
        cells.join(buyers, ["cohort_day", "week_offset"])
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            F.col("week_offset").cast("int").alias("week_offset"),
            "n_buyers",
            "n_purchases",
            "revenue_cents",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.expr("(revenue_cents * 100) div cohort_size").alias(
                "ltv_cents_per_100_users"
            ),
        )
    )


# --------------------------------------------------------------------------
# Experiment power / sample-size advisor
# --------------------------------------------------------------------------

# z constants as LITERALS (the Benford/PMI discipline — no inverse-normal
# evaluated by either engine): two-sided alpha=0.05 -> 1.959964;
# power 0.80 -> z_beta = 0.841621
_Z_ALPHA2 = 1.959964
_Z_POWER80 = 0.841621
# minimum detectable effects swept, in ABSOLUTE conversion points x1e4
_MDE_X1E4 = (50, 100, 200, 400)


def _power_advisor_oracle() -> str:
    mdes = ", ".join(str(m) for m in _MDE_X1E4)
    return f"""
WITH assigned AS (
    SELECT user_id, date_trunc('day', ts) AS day,
           CAST(count_if(event_type = 'purchase') > 0 AS INT) AS converted
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1, 2
), base AS (
    SELECT CAST(count(*) AS BIGINT) AS n_units,
           CAST(sum(converted) AS BIGINT) AS k,
           CAST(sum(converted) AS DOUBLE) / count(*) AS p
    FROM assigned
), th AS (
    SELECT unnest([{mdes}]) AS mde_x1e4
)
SELECT
    CAST(th.mde_x1e4 AS INT) AS mde_x1e4,
    b.n_units,
    round(b.p * 1000000) / 1000000 AS baseline_rate,
    CAST(ceil(
        ({_Z_ALPHA2} + {_Z_POWER80}) * ({_Z_ALPHA2} + {_Z_POWER80})
        * 2.0 * b.p * (1.0 - b.p)
        / ((CAST(th.mde_x1e4 AS DOUBLE) / 10000.0)
           * (CAST(th.mde_x1e4 AS DOUBLE) / 10000.0))
    ) AS BIGINT) AS n_required_per_arm,
    b.n_units / 2 >= CAST(ceil(
        ({_Z_ALPHA2} + {_Z_POWER80}) * ({_Z_ALPHA2} + {_Z_POWER80})
        * 2.0 * b.p * (1.0 - b.p)
        / ((CAST(th.mde_x1e4 AS DOUBLE) / 10000.0)
           * (CAST(th.mde_x1e4 AS DOUBLE) / 10000.0))
    ) AS BIGINT) AS powered_today
FROM th CROSS JOIN base b
ORDER BY th.mde_x1e4
"""


@query("experiment_power_advisor", oracle=_power_advisor_oracle())
def q_experiment_power_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment POWER / sample-size advisor — the table a team reads
    BEFORE launching the A/B test `ab_test_zscore` reads out: for each
    candidate minimum-detectable-effect (absolute conversion points), the
    per-arm sample size a two-proportion test needs at alpha=0.05 /
    power=0.80 given the corpus's own baseline rate, and whether today's
    traffic already covers it.  Classic formula
    n = (z_a/2 + z_b)^2 * 2 p (1-p) / mde^2 with the z constants as
    LITERALS (the PMI/Benford discipline — neither engine evaluates an
    inverse normal), so the float chain is identical cross-engine.

    Unit = user-day with the arm-stable hash-split semantics of
    `ab_test_zscore` / `conversion_rate_ci` (the baseline p is measured on
    the same unit the test will randomize).

    Scale: one user-day hash aggregate (map-side combine) folds the corpus
    to ONE row; the MDE grid is a 4-row broadcast against it.  The advisor
    costs what a conversion count costs, regardless of fact size."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import bounded_cross_join

    assigned = (
        load_table(spark, "events", sf_dir)
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            (F.count_if(F.col("event_type") == "purchase") > 0)
            .cast("int")
            .alias("converted")
        )
    )
    base = assigned.groupBy().agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("converted").cast("long").alias("k"),
        (F.sum("converted").cast("double") / F.count("*")).alias("p"),
    )
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(m) for m in _MDE_X1E4])).alias("mde_x1e4")
    )
    z2 = (_Z_ALPHA2 + _Z_POWER80) * (_Z_ALPHA2 + _Z_POWER80)
    mde = F.col("mde_x1e4").cast("double") / 10000.0
    n_req = F.ceil(
        F.lit(z2) * 2.0 * F.col("p") * (F.lit(1.0) - F.col("p")) / (mde * mde)
    ).cast("long")
    return (
        bounded_cross_join(th, base)
        .select(
            F.col("mde_x1e4").cast("int").alias("mde_x1e4"),
            "n_units",
            fround(F.col("p"), 6).alias("baseline_rate"),
            n_req.alias("n_required_per_arm"),
            (F.expr("n_units div 2") >= n_req).alias("powered_today"),
        )
        .orderBy("mde_x1e4")
    )


# --------------------------------------------------------------------------
# Revenue concentration (Herfindahl-Hirschman index per day)
# --------------------------------------------------------------------------

@query(
    "revenue_concentration_hhi",
    oracle="""
WITH per_user AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
           CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1, 2
), per_day AS (
    SELECT day,
           CAST(count(*) AS BIGINT)        AS n_buyers,
           CAST(sum(cents) AS BIGINT)      AS total_cents,
           CAST(max(cents) AS BIGINT)      AS top_buyer_cents,
           CAST(sum(cents * cents) AS BIGINT) AS sumsq
    FROM per_user
    WHERE cents > 0
    GROUP BY 1
)
SELECT day, n_buyers, total_cents,
       CAST(top_buyer_cents * 1000000 // total_cents AS BIGINT)
           AS top_share_x1e6,
       round(CAST(sumsq AS DOUBLE)
             / (CAST(total_cents AS DOUBLE) * CAST(total_cents AS DOUBLE))
             * 1000000) / 1000000 AS hhi
FROM per_day
ORDER BY day
""",
)
def q_revenue_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue CONCENTRATION per day — the Herfindahl-Hirschman index over
    buyer revenue shares (sum of squared shares; 1/n_buyers = perfectly
    even, 1.0 = one whale), plus the top buyer's exact share.
    `revenue_gini`'s operational sibling: Gini summarizes the whole-corpus
    inequality once, HHI-per-day is the monitorable series that flags the
    day one account started dominating GMV (fraud, bot, or enterprise
    onboarding — all need a look).

    Exactness: per-buyer cents are exact scaled longs; sum-of-squares and
    totals are exact BIGINT aggregates (order-free), and the single HHI
    division runs the identical double expression on both engines before
    the 6dp round.  Top share is a pure integer division.  Zero-cent
    buyers are excluded on both engines (they hold no share).  BIGINT
    bound: sum(cents^2) overflows past ~3e9 cents on one (day, buyer) —
    at that scale move the squares to DECIMAL(38,0), same plan shape.

    Scale: two hash aggregations — (day, user) grain then day grain — both
    with map-side combine; no windows, no joins; output is day-sized."""
    per_user = (
        load_table(spark, "events", sf_dir)
        .where(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "user_id",
        )
        .agg(
            cents_sum(F.coalesce(F.col("value"), F.lit(0.0)))
            .cast("long")
            .alias("cents")
        )
        .where(F.col("cents") > 0)
    )
    per_day = per_user.groupBy("day").agg(
        F.count("*").cast("long").alias("n_buyers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.max("cents").cast("long").alias("top_buyer_cents"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("sumsq"),
    )
    return per_day.select(
        "day",
        "n_buyers",
        "total_cents",
        F.expr("(top_buyer_cents * 1000000) div total_cents").alias(
            "top_share_x1e6"
        ),
        fround(
            F.col("sumsq").cast("double")
            / (F.col("total_cents").cast("double") * F.col("total_cents").cast("double")),
            6,
        ).alias("hhi"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Autocorrelation function of the daily revenue series (time-series health)
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@query(
    "revenue_acf",
    oracle=f"""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)) AS cents
    FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    GROUP BY 1
), stats AS (
    SELECT count(*) AS n, sum(cents) AS s FROM daily
), centered AS (
    -- y_t = n*x_t - S: the mean-centered series scaled by n, exact integers
    SELECT d.day, CAST(st.n * d.cents - st.s AS BIGINT) AS y
    FROM daily d, stats st
), den AS (
    SELECT sum(y * y) AS den FROM centered
), lagged AS (
    SELECT t.i AS lag, a.y AS ya, b.y AS yb
    FROM (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS i) t
    JOIN centered a ON TRUE
    JOIN centered b ON b.day = a.day + t.i * INTERVAL 1 DAY
), num AS (
    SELECT lag, count(*) AS n_pairs, sum(ya * yb) AS num
    FROM lagged GROUP BY 1
)
SELECT
    CAST(n.lag AS INT)       AS lag,
    CAST(n.n_pairs AS BIGINT) AS n_pairs,
    CAST(CASE WHEN d.den = 0 THEN 0
         ELSE floor(1000000.0 * CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE)
                    + 0.5) END AS BIGINT) AS acf_x1e6
FROM num n, den d
ORDER BY 1
""",
)
def q_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION function of the daily purchase-revenue series at
    lags 1..{_ACF_MAX_LAG} — the first time-series diagnostic an analyst or a
    forecasting pipeline computes: a strong lag-7 spike confirms weekly
    seasonality (feeding `forecast_backtest_snaive`'s season choice), a
    slow decay flags trend (difference before modeling), and near-zero
    everywhere says the series is noise and any forecast is fiction.

    Exactness: the mean-centered series is scaled by n (y_t = n·x_t − S),
    keeping every centered value an exact integer; numerator/denominator
    products accumulate in DECIMAL(38,0)/HUGEINT so no float enters until
    the final ratio, and the micros quantization uses floor(r + 0.5) —
    the identical expression on both engines, immune to the half-even vs
    half-up divergence that plain round() has on negative ACF values.

    Scale shape: ONE corpus scan builds the day-grain rollup (hash agg,
    map-side combine); everything after operates on the DAY-sized series
    — the lag join is a self-equi-join on (day + k) over at most
    365·years rows, the {_ACF_MAX_LAG}-row lag grid is a bounded
    broadcast, and the denominator is a 1-row scalar.  At 100 TB the
    expensive part remains the single fact scan."""
    from e_commerce_streaming_datapipeline_spark.functions.scalars import bounded_cross_join

    daily = (
        load_table(spark, "events", sf_dir)
        .where((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(
            cents_sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("cents")
        )
    )
    stats = daily.agg(
        F.count("*").alias("__n"), F.sum("cents").alias("__s")
    )
    centered = scalar_join(daily, stats).select(
        "day",
        (F.col("__n") * F.col("cents") - F.col("__s"))
        .cast("long")
        .alias("y"),
    )
    y_dec = F.col("y").cast("decimal(19,0)")
    den = centered.agg(F.sum(y_dec * y_dec).alias("__den"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = bounded_cross_join(
        centered.select(F.col("day").alias("day_a"), F.col("y").alias("ya")), lags
    ).withColumn("day_b", F.expr("date_add(day_a, lag)"))
    b = centered.select(F.col("day").alias("day_b"), F.col("y").alias("yb"))
    num = (
        a.join(b, "day_b")
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                F.col("ya").cast("decimal(19,0)") * F.col("yb").cast("decimal(19,0)")
            ).alias("__num"),
        )
    )
    return (
        scalar_join(num, den)
        .select(
            "lag",
            "n_pairs",
            F.when(F.col("__den") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor(
                    F.lit(1000000.0)
                    * F.col("__num").cast("double")
                    / F.col("__den").cast("double")
                    + F.lit(0.5)
                ).cast("long")
            )
            .alias("acf_x1e6"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# Kaplan-Meier conversion survival (right-censored time-to-event)
# --------------------------------------------------------------------------


@query(
    "kaplan_meier_conversion",
    oracle="""
WITH base AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END)  AS fv,
           max(ts)                                          AS le
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
), pop AS (
    SELECT * FROM base WHERE fv IS NOT NULL
), conv AS (
    SELECT e.user_id, min(e.ts) AS fp
    FROM events e JOIN pop p USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts >= p.fv
    GROUP BY 1
), subjects AS (
    SELECT p.user_id,
           CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END AS event,
           datediff('day', p.fv, coalesce(c.fp, p.le)) AS dur
    FROM pop p LEFT JOIN conv c USING (user_id)
), grain AS (
    SELECT dur AS day, CAST(sum(event) AS BIGINT) AS d,
           CAST(count(*) - sum(event) AS BIGINT) AS c
    FROM subjects GROUP BY 1
), risked AS (
    SELECT day, d, c,
           CAST((SELECT count(*) FROM subjects)
                - coalesce(sum(d + c) OVER (
                    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
    FROM grain
), steps AS (
    SELECT day, n_risk, d, c,
           CAST(row_number() OVER (ORDER BY day) AS INT) AS rn
    FROM risked WHERE d > 0
), packed AS (
    -- each KM step encoded as one HUGEINT (n_risk * 1e12 + d): list_reduce
    -- folds scalars, so the pair rides in fixed decimal fields.  The 1e12
    -- field width admits d < 1e12 conversions/day and n_risk < 1e26 —
    -- far beyond 100 TB scale (the former 1e6 width silently bled d into
    -- n_risk past a million conversions/day)
    SELECT list(CAST(n_risk AS HUGEINT) * 1000000000000 + d ORDER BY day)
           AS ks
    FROM steps
)
SELECT
    CAST(s.day AS INT)  AS day,
    s.n_risk            AS n_risk,
    s.d                 AS n_events,
    s.c                 AS n_censored,
    CAST(list_reduce(
        list_prepend(CAST(1000000 AS HUGEINT), p.ks[1:s.rn]),
        (acc, e) -> acc * ((e // 1000000000000) - (e % 1000000000000))
                    // (e // 1000000000000)
    ) AS BIGINT) AS survival_x1e6
FROM steps s, packed p
ORDER BY 1
""",
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER product-limit estimator of the view→purchase
    conversion curve — the right answer to "how long until users convert"
    when most users HAVEN'T (yet): users without a purchase are
    right-CENSORED at their last observed activity instead of being
    dropped (which biases fast) or counted as never (which biases slow).
    Per event day: the at-risk count, conversions, same-day censorings,
    and the survival estimate S(t) = Π_{t_i <= t} (1 − d_i/n_i).

    Exactness: the product-limit chain is EXACT INTEGER arithmetic — the
    survival runs in 1e6-scaled units with floor division at each step
    (surv ← surv·(n−d) div n), a defined quantized estimator whose fold
    order is pinned by the sorted step array, so no float and no libm
    appears anywhere (the same discipline that keeps PMI log-free).  Each
    (n, d) step rides the fold as one wide scalar (n·1e12 + d, Spark
    DECIMAL(38,0) / DuckDB HUGEINT) because both engines' fold primitives
    (`aggregate` HOF / `list_reduce`) reduce scalars; the 1e12 field
    width bounds d < 1e12 conversions/day and n < 1e26 at-risk subjects,
    both unreachable at 100 TB (the acc·(n−d) intermediate peaks at
    1e6·n ≤ 1e32, inside DECIMAL(38,0)).

    Scale shape: two user-keyed shuffles build the subject table (first
    view + censor time, then first qualifying purchase), the day-grain
    relation is horizon-BOUNDED (≤ observation days), and the KM chain
    runs on that bounded relation (global window + per-row bounded fold —
    `bounded_global_window` class, like the daily-spine family).  At
    100 TB the subjects aggregation is the only corpus-scale work."""
    events = load_table(spark, "events", sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    base = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.max("ts").alias("le"),
    )
    pop = base.where(F.col("fv").isNotNull())
    conv = (
        events.where(F.col("event_type") == "purchase")
        .join(pop.select("user_id", "fv"), "user_id")
        .where(F.col("ts") >= F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    subjects = pop.join(conv, "user_id", "left").select(
        F.when(F.col("fp").isNotNull(), 1).otherwise(0).alias("event"),
        F.datediff(
            F.coalesce(F.col("fp"), F.col("le")).cast("date"),
            F.col("fv").cast("date"),
        ).alias("dur"),
    )
    grain = subjects.groupBy(F.col("dur").alias("day")).agg(
        F.sum("event").cast("long").alias("d"),
        (F.count("*") - F.sum("event")).cast("long").alias("c"),
    )
    total = subjects.agg(F.count("*").alias("__n_subjects"))
    prior = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    risked = scalar_join(grain, total).select(
        "day",
        "d",
        "c",
        (
            F.col("__n_subjects")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(prior), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    steps = (
        risked.where(F.col("d") > 0)
        .withColumn("rn", F.row_number().over(Window.orderBy("day")).cast("int"))
        .withColumn(
            "__ks_elem",
            F.col("n_risk").cast("decimal(38,0)") * 1000000000000 + F.col("d"),
        )
    )
    packed = steps.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("__ks_elem")))
        ).alias("__arr")
    ).select(F.expr("transform(__arr, x -> x.__ks_elem)").alias("__ks"))
    return (
        scalar_join(steps, packed)
        .select(
            F.col("day").cast("int").alias("day"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            F.expr(
                "CAST(aggregate(slice(__ks, 1, rn), "
                "CAST(1000000 AS DECIMAL(38,0)), "
                "(acc, e) -> CAST(acc "
                "* ((e div 1000000000000) - (e % 1000000000000)) "
                "div (e div 1000000000000) AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("survival_x1e6"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Stratified treatment-effect adjustment (observational uplift, IPW family)
# --------------------------------------------------------------------------


@query(
    "stratified_uplift_ipw",
    oracle="""
WITH o AS (
    SELECT
        c.c_mktsegment AS stratum,
        CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END AS treated,
        CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
s AS (
    SELECT
        stratum,
        count(*)                                        AS n_orders,
        sum(treated)                                    AS n_treated,
        count(*) - sum(treated)                         AS n_control,
        sum(CASE WHEN treated = 1 THEN cents ELSE 0 END) AS t_cents,
        sum(CASE WHEN treated = 0 THEN cents ELSE 0 END) AS c_cents
    FROM o GROUP BY 1
)
SELECT
    stratum,
    CAST(n_orders AS BIGINT)  AS n_orders,
    CAST(n_treated AS BIGINT) AS n_treated,
    CAST(n_control AS BIGINT) AS n_control,
    CAST(CASE WHEN n_treated > 0
         THEN (t_cents * 100) // n_treated END AS BIGINT) AS mean_treated_c100,
    CAST(CASE WHEN n_control > 0
         THEN (c_cents * 100) // n_control END AS BIGINT) AS mean_control_c100,
    CAST(CASE WHEN n_treated > 0 AND n_control > 0
         THEN (t_cents * 100) // n_treated - (c_cents * 100) // n_control
         END AS BIGINT)                                   AS stratum_ate_c100,
    CAST(CASE WHEN n_treated > 0 AND n_control > 0
         THEN n_orders * ((t_cents * 100) // n_treated
                          - (c_cents * 100) // n_control)
         END AS BIGINT)                                   AS weighted_contrib_c100
FROM s
ORDER BY stratum
""",
)
def q_stratified_uplift_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified treatment-effect adjustment (Cochran's subclassification
    — the coarse-strata limit of inverse-propensity weighting, public):
    the OBSERVATIONAL causal estimator completing the experiment pair
    (`cuped_did_lift` assumes randomized assignment; here assignment is
    confounded).  Treatment = expedited order priority (1-URGENT/2-HIGH),
    outcome = order value, confounding stratum = the customer's market
    segment; within each stratum the treated/control contrast is
    approximately unconfounded, and the population effect is the
    n_s-weighted sum of per-stratum contrasts — `sum(weighted_contrib_c100)
    / (100 * sum(n_orders))` cents, versus the naive pooled diff that
    Simpson's-paradox segment mix can flip.

    Plan shape: one fact-dim equi-join (customer side broadcastable — it
    is dimension-sized), ONE hash aggregate at stratum grain, and pure
    projection after; strata counts are segment-bounded (5 rows) no matter
    the data size.  All arithmetic is exact integers: money in cents,
    per-stratum means in centi-cents via `div` (≡ DuckDB `//`), NULL where
    a stratum has no treated or no control leg rather than a fabricated
    zero effect."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    o = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("stratum"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("treated"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    s = o.groupBy("stratum").agg(
        F.count("*").alias("n_orders"),
        F.sum("treated").alias("n_treated"),
        (F.count("*") - F.sum("treated")).alias("n_control"),
        F.sum(F.when(F.col("treated") == 1, F.col("cents")).otherwise(0)).alias(
            "t_cents"
        ),
        F.sum(F.when(F.col("treated") == 0, F.col("cents")).otherwise(0)).alias(
            "c_cents"
        ),
    )
    mean_t = F.expr("(t_cents * 100) div n_treated")
    mean_c = F.expr("(c_cents * 100) div n_control")
    return (
        s.select(
            "stratum",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_treated").cast("long").alias("n_treated"),
            F.col("n_control").cast("long").alias("n_control"),
            F.when(F.col("n_treated") > 0, mean_t)
            .cast("long")
            .alias("mean_treated_c100"),
            F.when(F.col("n_control") > 0, mean_c)
            .cast("long")
            .alias("mean_control_c100"),
            F.when(
                (F.col("n_treated") > 0) & (F.col("n_control") > 0),
                mean_t - mean_c,
            )
            .cast("long")
            .alias("stratum_ate_c100"),
            F.when(
                (F.col("n_treated") > 0) & (F.col("n_control") > 0),
                F.col("n_orders") * (mean_t - mean_c),
            )
            .cast("long")
            .alias("weighted_contrib_c100"),
        )
        .orderBy("stratum")
    )


# --------------------------------------------------------------------------
# Event-rate burst detection (threshold episodes via gaps-and-islands)
# --------------------------------------------------------------------------

_BURST_FACTOR = 2  # an hour is bursty when its arrivals >= factor x mean


_BURST_ORACLE = f"""
WITH h AS (
    SELECT event_type,
           epoch_us(ts) // 3600000000 AS hour,
           count(*) AS n
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
), tot AS (
    SELECT event_type,
           sum(n) AS total, count(*) AS n_hours
    FROM h GROUP BY 1
), bursty AS (
    SELECT h.event_type, h.hour, h.n
    FROM h JOIN tot USING (event_type)
    WHERE h.n * tot.n_hours >= {_BURST_FACTOR} * tot.total
), islands AS (
    SELECT *, hour - row_number() OVER (
        PARTITION BY event_type ORDER BY hour) AS grp
    FROM bursty
)
SELECT
    event_type,
    CAST(min(hour) AS BIGINT)  AS start_hour,
    CAST(max(hour) AS BIGINT)  AS end_hour,
    CAST(count(*) AS BIGINT)   AS n_bursty_hours,
    CAST(sum(n) AS BIGINT)     AS episode_events,
    CAST(max(n) AS BIGINT)     AS peak_hour_events
FROM islands
GROUP BY event_type, grp
ORDER BY event_type, start_hour
"""


def burst_episodes(h: DataFrame) -> DataFrame:
    """Shared episode derivation for the batch op and its streaming twin:
    ``h`` is the (event_type, hour, n) arrival relation; returns threshold
    episodes (docstring of ``q_event_burst_detection``)."""
    tot = h.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count("*").alias("n_hours")
    )
    bursty = h.join(F.broadcast(tot), "event_type").where(
        F.col("n") * F.col("n_hours") >= _BURST_FACTOR * F.col("total")
    )
    islands = bursty.withColumn(
        "grp",
        F.col("hour")
        - F.row_number().over(
            Window.partitionBy("event_type").orderBy("hour")
        ),
    )
    return (
        islands.groupBy("event_type", "grp")
        .agg(
            F.min("hour").cast("long").alias("start_hour"),
            F.max("hour").cast("long").alias("end_hour"),
            F.count("*").cast("long").alias("n_bursty_hours"),
            F.sum("n").cast("long").alias("episode_events"),
            F.max("n").cast("long").alias("peak_hour_events"),
        )
        .select(
            "event_type", "start_hour", "end_hour", "n_bursty_hours",
            "episode_events", "peak_hour_events",
        )
        .orderBy("event_type", "start_hour")
    )


@query("event_burst_detection", oracle=_BURST_ORACLE)
def q_event_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate burst detection — the stream-mining monitor next to
    `revenue_anomaly_days` (which z-scores DAILY money; this flags HOURLY
    traffic): an hour is bursty when its arrivals reach {_BURST_FACTOR}×
    the type's mean hourly rate (compared multiplicatively —
    `n · n_hours >= factor · total` — so the threshold is exact integer
    arithmetic, no rate division anywhere), and consecutive bursty hours
    merge into EPISODES via the gaps-and-islands trick (hour − row_number
    is constant exactly on a run).  Output: one row per burst episode
    with span, volume and peak — what an on-call dashboard pages on, and
    what a crawler-trap / bot-surge triage in a data pipeline cuts on.

    Plan shape: one fact scan → (type, hour) hash aggregate (the only
    data-proportional shuffle; the hour relation is calendar-bounded),
    a broadcast-sized per-type totals join, and a type-PARTITIONED
    row_number over the bursty subset (parallel, never a global window).
    Mean here is over ACTIVE hours — an hour with zero arrivals is not in
    the denominator, making the threshold conservative for sparse types."""
    h = (
        load_table(spark, "events", sf_dir)
        .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hour"),
        )
        .agg(F.count("*").alias("n"))
    )
    return burst_episodes(h)


# --------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check — the experiment-validity guardrail
# --------------------------------------------------------------------------


@query(
    "ab_srm_check",
    oracle=f"""
WITH arms AS (
    SELECT {_ARM_SQL} AS arm,
           count(DISTINCT user_id) AS n
    FROM events WHERE user_id IS NOT NULL
    GROUP BY 1
), wide AS (
    SELECT
        max(CASE WHEN arm = 0 THEN n END) AS n_a,
        max(CASE WHEN arm = 1 THEN n END) AS n_b
    FROM arms
)
SELECT
    CAST(n_a AS BIGINT) AS n_a,
    CAST(n_b AS BIGINT) AS n_b,
    CAST(n_a - n_b AS BIGINT) AS delta,
    -- square in HUGEINT: BIGINT delta^2 * 1e6 wraps at |delta| ~3.04e6
    -- users (r8 ADVICE #4)
    CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000 // (n_a + n_b)
         AS BIGINT) AS srm_chi2_x1e6,
    CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000 // (n_a + n_b)
        > 3841459 AS srm_detected
FROM wide
""",
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the validity guardrail that must run
    BEFORE `ab_test_zscore` is believed (public practice: Fabijan et al.,
    "Diagnosing Sample Ratio Mismatch", KDD'19): under the same fixed
    per-user hash assignment as the z-test, a 50/50 design whose realized
    arm sizes fail a one-degree chi-square (for two equal-expectation
    cells the statistic collapses to (n_a−n_b)²/N, computed here in exact
    integer micro-units against the 3.841459 critical value) indicates
    broken randomization — redirects, bot filtering, or logging loss
    biased one arm, and every downstream lift number is invalid.

    Plan shape: one fact scan → per-arm distinct-user count (the
    assignment grain — users, not events) → a 2-row pivot; the statistic
    is pure integer projection.  The healthy fixture should NOT flag
    (the hash split is genuinely ~50/50; the null behaving as a null is
    test-asserted, same discipline as `ab_test_zscore`)."""
    arms = (
        load_table(spark, "events", sf_dir)
        .where(F.col("user_id").isNotNull())
        .select(
            hash_half(F.col("user_id")).alias("arm"),
            "user_id",
        )
        .groupBy("arm")
        .agg(F.countDistinct("user_id").alias("n"))
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
    )
    # square in DECIMAL(38,0): a BIGINT delta^2 * 1e6 wraps silently at
    # |delta| >= ~3.04e6 users — Spark wraps where DuckDB promotes, a
    # latent cross-engine divergence at production scale (r8 ADVICE #4)
    chi2 = F.expr(
        "CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000000 "
        "div (n_a + n_b)"
    )
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.col("n_a") - F.col("n_b")).cast("long").alias("delta"),
        chi2.cast("long").alias("srm_chi2_x1e6"),
        (chi2 > 3841459).alias("srm_detected"),
    )


# --------------------------------------------------------------------------
# Holt-Winters triple exponential smoothing (additive, weekly seasonality)
# --------------------------------------------------------------------------

_HW_PERIOD = 7  # weekly seasonality over the daily revenue series


@query(
    "holt_winters_backtest",
    oracle=f"""
WITH RECURSIVE daily AS (
    {_daily_purchase_cents_sql()}
), seq AS (
    SELECT cents, row_number() OVER (ORDER BY day_num) AS rn FROM daily
), r AS (
    SELECT CAST(1 AS BIGINT) AS rn,
           cents * 1000      AS l,
           CAST(0 AS BIGINT) AS b,
           CAST([0, 0, 0, 0, 0, 0, 0] AS BIGINT[]) AS s,
           CAST(0 AS BIGINT) AS errsum,
           CAST(0 AS BIGINT) AS ysum
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s2.rn,
           CAST(round(0.5 * (s2.cents * 1000 - r.s[CAST(s2.rn % {_HW_PERIOD} AS INT) + 1])
                      + 0.5 * (r.l + r.b)) AS BIGINT) AS l_new,
           CAST(round(0.3 * (l_new - r.l) + 0.7 * r.b) AS BIGINT),
           list_resize(
               list_concat(
                   list_concat(
                       r.s[1:CAST(s2.rn % {_HW_PERIOD} AS INT)],
                       [CAST(round(0.5 * (s2.cents * 1000 - l_new)
                                   + 0.5 * r.s[CAST(s2.rn % {_HW_PERIOD} AS INT) + 1])
                             AS BIGINT)]),
                   r.s[CAST(s2.rn % {_HW_PERIOD} AS INT) + 2:{_HW_PERIOD}]),
               {_HW_PERIOD}, 0),
           r.errsum + abs(s2.cents * 1000
                          - (r.l + r.b + r.s[CAST(s2.rn % {_HW_PERIOD} AS INT) + 1])),
           r.ysum + s2.cents * 1000
    FROM r JOIN seq s2 ON s2.rn = r.rn + 1
)
SELECT
    CAST(rn AS BIGINT)                 AS n_days,
    round(l / 100000.0, 4)             AS final_level,
    round(b / 100000.0, 4)             AS final_trend,
    round((list_max(s) - list_min(s)) / 100000.0, 4) AS seasonal_amplitude,
    CASE WHEN rn > 1
         THEN round(errsum / ((rn - 1) * 100000.0), 4)
         ELSE CAST(0 AS DOUBLE) END    AS mae,
    CASE WHEN ysum > 0
         THEN round(CAST(errsum AS DOUBLE) / ysum, 4)
         ELSE CAST(0 AS DOUBLE) END    AS wmape
FROM r WHERE rn = (SELECT max(rn) FROM r)
""",
)
def q_holt_winters_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters ADDITIVE triple exponential smoothing (α=0.5, β=0.3,
    γ=0.5, weekly period P=7) as a walk-forward one-step-ahead backtest
    over daily revenue — the seasonal rung completing the forecasting
    ladder (`forecast_backtest_snaive` = pure seasonality,
    `holt_forecast_backtest` = level+trend, this = all three components).
    The smoothing state now includes a P-slot SEASONAL ARRAY updated in
    place each step — the hardest cross-engine state shape so far: Spark
    folds a struct-with-array accumulator through `aggregate` (slice /
    concat rebuild the array), the oracle walks the identical recurrence
    as a `WITH RECURSIVE` over a DuckDB LIST, and every component is
    fixed to millicents integers via one round() per step, so the two
    maximally different executions carry bit-identical state.  Seasonal
    slots initialize to 0 (the first week's forecasts are level+trend
    only — documented cold-start, identical both engines).

    Scale shape: the corpus collapses to the daily grain in one hash
    aggregate; the P-array fold runs over #days elements inside one task
    (distribute the rollup, not the recurrence — the Holt twin's
    argument, unchanged by the larger state)."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    daily = _daily_purchase_cents(events)
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day_num", "cents"))).alias("arr")
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("n"),
        zero.alias("l"),
        zero.alias("b"),
        F.array_repeat(zero, _HW_PERIOD).alias("s"),
        zero.alias("errsum"),
        zero.alias("ysum"),
    )

    def step(acc, x):
        y = (x["cents"] * 1000).cast("long")
        n_new = acc["n"] + 1
        # 1-based seasonal slot for THIS step: (n_new % P) + 1, matching
        # the oracle's rn-indexed slot walk
        pos = (n_new % _HW_PERIOD + 1).cast("int")
        s_old = F.element_at(acc["s"], pos)
        f = acc["l"] + acc["b"] + s_old
        l_new = F.round(0.5 * (y - s_old) + 0.5 * (acc["l"] + acc["b"]), 0).cast(
            "long"
        )
        b_new = F.round(0.3 * (l_new - acc["l"]) + 0.7 * acc["b"], 0).cast("long")
        s_val = F.round(0.5 * (y - l_new) + 0.5 * s_old, 0).cast("long")
        s_new = F.concat(
            F.slice(acc["s"], 1, pos - 1),
            F.array(s_val),
            F.slice(acc["s"], pos + 1, F.lit(_HW_PERIOD) - pos),
        )
        return F.when(
            acc["n"] == 0,
            F.struct(
                F.lit(1).cast("long").alias("n"),
                y.alias("l"),
                zero.alias("b"),
                F.array_repeat(zero, _HW_PERIOD).alias("s"),
                zero.alias("errsum"),
                zero.alias("ysum"),
            ),
        ).otherwise(
            F.struct(
                n_new.alias("n"),
                l_new.alias("l"),
                b_new.alias("b"),
                s_new.alias("s"),
                (acc["errsum"] + F.abs(y - f)).alias("errsum"),
                (acc["ysum"] + y).alias("ysum"),
            )
        )

    folded = arr.select(F.aggregate(F.col("arr"), init, step).alias("s"))
    folded = folded.where(F.col("s.n") > 0)
    return folded.select(
        F.col("s.n").alias("n_days"),
        fround(F.col("s.l") / 100000.0, 4).alias("final_level"),
        fround(F.col("s.b") / 100000.0, 4).alias("final_trend"),
        fround(
            (F.array_max(F.col("s.s")) - F.array_min(F.col("s.s")))
            / 100000.0,
            4,
        ).alias("seasonal_amplitude"),
        F.when(
            F.col("s.n") > 1,
            fround(F.col("s.errsum") / ((F.col("s.n") - 1) * 100000.0), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("mae"),
        F.when(
            F.col("s.ysum") > 0,
            fround(F.col("s.errsum").cast("double") / F.col("s.ysum"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("wmape"),
    )
