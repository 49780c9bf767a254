"""Streaming queries exposed through the driver contract.

Each runs a real Structured Streaming query over a file source with
``trigger(availableNow=True)`` into a memory sink, then returns the final
table — so the DRIVER's batch-style compare still works, and the oracle is
the *same SQL as the batch twin*: streaming-vs-batch equivalence is the
correctness property (SURVEY §7 Phase 2).

``outputMode("complete")`` makes the memory sink hold the final value of
every window regardless of watermark timing at end-of-input (append mode
would withhold windows the final watermark hasn't passed).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.checkpoints import round_checkpoint
from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, cents_sum
from e_commerce_streaming_datapipeline_spark.functions.scratch import scratch_dir
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.streaming import (
    FEED_GLOB,
    append_feed,
    read_file_stream,
    split_by_key,
)
from e_commerce_streaming_datapipeline_spark.streaming.processors import (
    streaming_funnel,
    streaming_user_stats,
    streaming_gmv,
    streaming_sessions,
    streaming_unique_buyers,
)


# Stateful streaming shuffles are NOT resized by AQE — every shuffle
# partition materializes a state-store instance for the life of the query, so
# the partition count must be sized to state volume, not to batch-CPU count.
# Windowed-agg state here is #windows/#users rows (tiny); at real scale raise
# this with expected state size, not with core count.  The 4 was measured at
# sf0.1: 4 beats 8 on the chained stream-stream joins (per-partition state
# store open/commit dominates over parallelism at this state volume —
# journey_stream_join 6.4s→4.2s) while costing <5% on the Python-worker
# stateful queries that like parallelism.
_STREAM_SHUFFLE_PARTITIONS = 4


def _stream_leg(
    spark: SparkSession,
    sf_dir: str,
    event_type: str,
    ts_alias: str,
    delay: str = "10 minutes",
    user_alias: str | None = None,
    id_alias: str | None = None,
    keep_value: bool = False,
    filename: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """One watermarked leg of a stream-stream join: filter to ``event_type``,
    alias the kept (user, id, ts[, value]) columns, watermark the aliased
    event time.  Every stream-join query builds its legs here, so a
    one-sided edit to a delay or alias cannot silently desynchronize the
    oracle's watermark arithmetic (the aggregate-side analogue of the
    shared gmv_aggs)."""
    cols = []
    if user_alias:
        cols.append(F.col("user_id").alias(user_alias))
    if id_alias:
        cols.append(F.col("event_id").alias(id_alias))
    cols.append(F.col("ts").alias(ts_alias))
    if keep_value:
        cols.append(F.col("value"))
    return (
        read_file_stream(spark, sf_dir, filename, max_files_per_trigger)
        .where(F.col("event_type") == event_type)
        .select(*cols)
        .withWatermark(ts_alias, delay)
    )



@contextlib.contextmanager
def _stream_run(spark: SparkSession, name_prefix: str):
    """One streaming run's scaffolding: a fresh uuid-suffixed query name, a
    checkpoint path, and the pinned stream shuffle partitions — the conf is
    restored and the checkpoint directory REMOVED when the run ends (each
    run gets a fresh checkpoint anyway, so keeping it only leaks /tmp state
    per invocation).  The pin is the package's one per-run conf write:
    Spark has no per-query setting for a stream's state-partition count; it
    is read from the session when the stream starts and then fixed in the
    checkpoint.  ``run_stream`` runs every availableNow stream through
    here; ``q_replay_rate_source`` uses it directly to poll an unbounded
    source."""
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    checkpoint = os.path.join(tempfile.gettempdir(), "e_commerce_streaming_datapipeline_ckpt", name)
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_SHUFFLE_PARTITIONS))
    try:
        yield name, checkpoint
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(checkpoint, ignore_errors=True)


def run_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    name_prefix: str,
    output_mode: str = "complete",
    sink: Callable[[DataFrame, int], None] | None = None,
) -> DataFrame | None:
    """Run ``stream_df`` to the end of its input (``availableNow``) inside
    ``_stream_run``.  With no ``sink`` the rows land in a memory table,
    which is returned; otherwise every micro-batch goes to
    ``sink(batch_df, batch_id)`` (``foreachBatch``) and None is returned."""
    with _stream_run(spark, name_prefix) as (name, checkpoint):
        writer = (
            stream_df.writeStream.queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
        )
        writer = writer.format("memory") if sink is None else writer.foreachBatch(sink)
        writer.start().awaitTermination()
    return spark.table(name) if sink is None else None


def _epoch_days(ts: pa.ChunkedArray) -> pa.ChunkedArray:
    """The UTC epoch day of each timestamp (NULL for a NULL ts): the chunk
    key of the per-day event feeds."""
    micros = pc.cast(pc.cast(ts, "timestamp[us]"), "int64")
    return pc.cast(pc.floor(pc.divide(micros, 86_400_000_000)), "int64")


def _week_of_month(ts: pa.ChunkedArray) -> pa.ChunkedArray:
    """``(day - 1) // 7`` of each timestamp: the chunk key of the per-week
    event feeds (integer division on the int day)."""
    return pc.divide(pc.subtract(pc.day(ts), 1), 7)


@query(
    "gmv_stream_minutely",
    oracle="""
SELECT
    date_trunc('minute', ts)                        AS window_start,
    date_trunc('minute', ts) + INTERVAL '1 minute'  AS window_end,
    round(sum(value), 2)               AS gmv,
    count(*)                           AS item_count,
    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value), 2)
                                       AS avg_item_price,
    round(max(value), 2)               AS max_item_price,
    round(min(value), 2)               AS min_item_price
FROM events
WHERE event_type = 'purchase'
GROUP BY 1, 2
""",
)
def q_gmv_stream_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 as a REAL streaming query (file source, availableNow) hash-checked
    against the same oracle as the batch twin — the streaming-vs-batch
    equivalence gate."""
    events = read_file_stream(spark, sf_dir)
    return run_stream(spark, streaming_gmv(events, "1 minute"), "gmv_stream")


@query(
    "unique_buyers_stream",
    oracle="""
SELECT
    date_trunc('minute', ts)                        AS window_start,
    date_trunc('minute', ts) + INTERVAL '1 minute'  AS window_end,
    count(DISTINCT user_id)                         AS unique_buyers
FROM events
WHERE event_type = 'purchase'
GROUP BY 1, 2
""",
)
def q_unique_buyers_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per window on a stream — streaming forbids
    count_distinct, so this is the two-stage dropDuplicates-then-count plan,
    hash-checked against the batch COUNT(DISTINCT) oracle."""
    events = read_file_stream(spark, sf_dir)
    return run_stream(
        spark, streaming_unique_buyers(events, "1 minute"), "unique_buyers_stream"
    )


@query(
    "funnel_stream_hourly",
    oracle="""
WITH agg AS (
    SELECT
        date_trunc('hour', ts)                      AS window_start,
        date_trunc('hour', ts) + INTERVAL '1 hour'  AS window_end,
        count(*)                                    AS total_events,
        CAST(count_if(event_type = 'view') AS BIGINT)     AS views,
        CAST(count_if(event_type = 'click') AS BIGINT)    AS clicks,
        CAST(count_if(event_type = 'signup') AS BIGINT)   AS signups,
        CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchases
    FROM events
    WHERE ts IS NOT NULL  -- event-time policy (streaming/processors.py)
    GROUP BY 1, 2
)
SELECT
    window_start, window_end, total_events, views, clicks, signups, purchases,
    CASE WHEN views > 0
         THEN round(clicks / views * 100, 2) ELSE 0.0 END AS click_rate
FROM agg
""",
)
def q_funnel_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 as a streaming query (complete mode, hourly windows).  Every
    aggregate is deterministic (conditional counts, no approx/distinct), so
    the streaming result hash-checks against the same batch SQL as the
    batch funnel — streaming-vs-batch equivalence as a driver-visible gate,
    not just a pytest."""
    events = read_file_stream(spark, sf_dir)
    return run_stream(spark, streaming_funnel(events, "1 hour"), "funnel_stream")


@query(
    "session_stream",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, coalesce(value, 0.0) AS value,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  >= INTERVAL '30 minutes'
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
    FROM events
    WHERE ts IS NOT NULL  -- event-time policy (streaming/processors.py)
), numbered AS (
    SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM ordered
)
SELECT
    user_id,
    min(ts)              AS session_start,
    max(ts)              AS session_end,
    count(*)             AS n_events,
    round(sum(value), 2) AS session_value
FROM numbered
GROUP BY user_id, session_seq
""",
)
def q_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session windows (30-min gap) on a stream.

    ``session_window`` is not itself SQL, but its semantics ARE — a session
    window [t, last + gap) admits the next event iff ts < last + gap, i.e.
    a gap >= 30 minutes starts a new session; that is exactly the
    gaps-and-islands oracle above (note >=, where the batch
    ``user_sessions`` twin uses > per its own window-function definition)."""
    events = read_file_stream(spark, sf_dir)
    return run_stream(spark, streaming_sessions(events, "30 minutes"), "session_stream")


@query(
    "dedup_stream_counts",
    oracle="""
SELECT event_type, count(*) AS n_events, round(sum(coalesce(value, 0.0)), 2) AS total_value
FROM (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id, event_type) AS rn
    FROM events
    -- event-time policy: the watermark-disciplined ingest stage cannot
    -- admit unwatermarkable rows (streaming/processors.py)
    WHERE ts IS NOT NULL
)
WHERE rn = 1
GROUP BY 1
""",
)
def q_dedup_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1's streaming twin through the driver contract: watermarked ingest
    dedup (``withWatermark`` + ``dropDuplicatesWithinWatermark`` — the state
    hygiene the reference configured but never applied, stream_processor.py:135,
    .env.example) followed by a per-type aggregation, hash-checked against the
    batch one-row-per-event_id oracle."""
    from e_commerce_streaming_datapipeline_spark.streaming.processors import with_event_time_discipline
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround

    events = read_file_stream(spark, sf_dir)
    counts = (
        with_event_time_discipline(events)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("total_value"),
        )
    )
    return run_stream(spark, counts, "dedup_stream")


@query(
    "attribution_stream_join",
    oracle="""
SELECT
    p.user_id,
    p.event_id        AS purchase_id,
    c.event_id        AS click_id,
    p.ts              AS purchase_ts,
    c.ts              AS click_ts,
    round(p.value, 2) AS purchase_value
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""",
)
def q_attribution_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the multi-stream correlation
    the reference advertises (README.md:79) and its processors accept but
    never perform (SURVEY §2.4: funnel/dropoff/payment each read only one
    input, funnel_processor.py:23): purchases joined to the clicks that
    preceded them within 1 hour, per user.

    Both sides carry watermarks and the join predicate carries an explicit
    event-time range, so each side's buffered state is evicted once the
    other side's watermark passes — bounded state at any scale, the
    condition Structured Streaming requires to avoid unbounded buffers.
    Hash-checked against the identical batch join oracle (append-mode inner
    join emits exactly the matched pairs)."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround

    purchases = _stream_leg(
        spark, sf_dir, "purchase", "purchase_ts",
        user_alias="buyer_id", id_alias="purchase_id", keep_value=True,
    )
    clicks = _stream_leg(
        spark, sf_dir, "click", "click_ts",
        user_alias="click_user_id", id_alias="click_id",
    )
    joined = purchases.join(
        clicks,
        (F.col("buyer_id") == F.col("click_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    ).select(
        F.col("buyer_id").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
        fround(F.col("value"), 2).alias("purchase_value"),
    )
    return run_stream(spark, joined, "attribution_stream", output_mode="append")


@query(
    "journey_stream_join",
    oracle="""
SELECT
    v.user_id,
    v.event_id AS view_id,
    c.event_id AS click_id,
    p.event_id AS purchase_id,
    v.ts       AS view_ts,
    c.ts       AS click_ts,
    p.ts       AS purchase_ts
FROM events v
JOIN events c
  ON c.user_id = v.user_id AND c.event_type = 'click'
 AND c.ts BETWEEN v.ts AND v.ts + INTERVAL '24 hours'
JOIN events p
  ON p.user_id = c.user_id AND p.event_type = 'purchase'
 AND p.ts BETWEEN c.ts AND c.ts + INTERVAL '24 hours'
WHERE v.event_type = 'view'
""",
)
def q_journey_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-WAY chained stream-stream join: view → click (within 24 h) →
    purchase (within 24 h of the click), per user — the multi-stream
    correlation the reference advertises (README.md:79) and its processors
    accept but never perform (SURVEY §2.4: FunnelProcessor.process takes
    three streams and reads one, funnel_processor.py:14-23).

    Chained stream joins require exactly ONE event-time column flowing into
    each join: after the first join the view timestamp is kept as a value
    by stripping its watermark tag (timestamp round-trip), leaving the
    click's event time to drive the second join's state bounds.  All three
    buffers are watermark-evicted under the range conditions; inner-join
    matches emit immediately (no watermark withholding), so the oracle is
    the plain 3-way self-join."""
    from pyspark.sql import functions as F

    def leg(event_type: str, prefix: str) -> DataFrame:
        return _stream_leg(
            spark, sf_dir, event_type, f"{prefix}_ts",
            user_alias=f"{prefix}_user", id_alias=f"{prefix}_id",
        )

    views, clicks, purchases = leg("view", "v"), leg("click", "c"), leg("purchase", "p")
    vc = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS")),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        F.col("v_id").alias("view_id"),
        # strip the event-time tag: only c_ts may carry one into join #2
        F.expr("timestamp_micros(unix_micros(v_ts))").alias("view_ts"),
        F.col("c_id").alias("click_id"),
        "c_ts",
    )
    journeys = vc.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 24 HOURS")),
        "inner",
    ).select(
        "user_id",
        "view_id",
        "click_id",
        F.col("p_id").alias("purchase_id"),
        "view_ts",
        F.col("c_ts").alias("click_ts"),
        F.col("p_ts").alias("purchase_ts"),
    )
    return run_stream(spark, journeys, "journey_stream", output_mode="append")


@query(
    "gmv_cascade_stream",
    oracle="""
WITH wm AS (
    SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '10 minutes' AS w
    FROM events WHERE event_type = 'purchase'
), hourly AS (
    SELECT
        date_trunc('hour', ts)                      AS window_start,
        date_trunc('hour', ts) + INTERVAL '1 hour'  AS window_end,
        CAST(sum(round(coalesce(value, 0.0) * 100)::BIGINT) AS DOUBLE) / 100 AS gmv,
        count(*)                                    AS n_purchases,
        count(DISTINCT date_trunc('minute', ts))    AS n_active_minutes
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1, 2
)
SELECT window_start, window_end, gmv, n_purchases, n_active_minutes
FROM hourly, wm
WHERE window_end < wm.w
""",
)
def q_gmv_cascade_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained minutely→hourly stateful aggregation in ONE streaming query
    (multi-stateful-operator support, ``window_time`` re-windowing).  Append
    mode emits an hour only after the watermark passes its end, so the
    oracle is the batch hourly rollup restricted to
    ``window_end < floor_ms(max ts) - delay`` — hash-checked, including the
    n_active_minutes count that only exists because the cascade really
    aggregates minute windows, not raw rows."""
    from e_commerce_streaming_datapipeline_spark.streaming.processors import (
        streaming_gmv_cascade,
    )

    events = read_file_stream(spark, sf_dir)
    return run_stream(
        spark, streaming_gmv_cascade(events), "gmv_cascade", output_mode="append"
    )


@query(
    "cart_abandonment_stream",
    oracle="""
WITH wm AS (
    -- Spark tracks event time in ms: watermark = floor_ms(max ts) - delay,
    -- over the filtered (view/purchase, keyed-user) stream the operator
    -- reads: NULL-user rows are nobody's cart session and are dropped on
    -- both engines before the watermark and the state grouping (Spark's
    -- groupBy treats NULLs as equal; SQL's equality correlation never
    -- matches NULL — r9 edge pin)
    SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '10 minutes' AS w
    FROM events
    WHERE event_type IN ('view', 'purchase') AND user_id IS NOT NULL
)
SELECT
    v.user_id,
    v.event_id                      AS view_event_id,
    v.ts                            AS view_ts,
    v.ts + INTERVAL '30 minutes'    AS abandoned_at
FROM events v, wm
WHERE v.event_type = 'view'
  AND v.user_id IS NOT NULL
  AND v.ts + INTERVAL '30 minutes' < wm.w
  AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase'
        AND p.user_id = v.user_id
        AND p.ts BETWEEN v.ts AND v.ts + INTERVAL '30 minutes')
""",
)
def q_cart_abandonment_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP drop-off detection as a native watermarked left-outer
    stream-stream join: a view with no purchase by the same user within 30
    minutes is emitted as an abandonment once the watermark strictly passes
    its deadline, so no such purchase can still arrive.  Both join legs are
    split from one watermarked stream, so the join keeps the oracle's single
    watermark (see streaming/processors.py::streaming_cart_abandonment).
    Hash-checked against a NOT EXISTS oracle bounded by the exact watermark
    emission rule — the reference's drop-off processor approximates this
    with status-count buckets (dropoff_processor.py:30-70)."""
    from e_commerce_streaming_datapipeline_spark.streaming.processors import (
        streaming_cart_abandonment,
    )

    events = read_file_stream(spark, sf_dir)
    return run_stream(
        spark, streaming_cart_abandonment(events), "cart_abandonment", output_mode="append"
    )


@query(
    "funnel_completion_stream",
    oracle="""
WITH wm AS (
    -- watermark over the filtered (view/click/purchase) stream, ms-floored
    SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '10 minutes' AS w
    FROM events WHERE event_type IN ('view', 'click', 'purchase')
), fin AS (
    -- the fold consumes only watermark-finalized events
    SELECT e.user_id, e.event_type, e.ts
    FROM events e, wm
    WHERE e.event_type IN ('view', 'click', 'purchase') AND e.ts < wm.w
), w1 AS (
    SELECT user_id, event_type, ts,
        min(CASE WHEN event_type = 'view' THEN ts END)
            OVER (PARTITION BY user_id) AS tv
    FROM fin
), w2 AS (
    SELECT *, min(CASE WHEN event_type = 'click' AND ts >= tv THEN ts END)
            OVER (PARTITION BY user_id) AS tc
    FROM w1
), w3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= tc THEN ts END)
            OVER (PARTITION BY user_id) AS tp
    FROM w2
), per_user AS (
    SELECT user_id, max(tv) AS first_view, max(tc) AS first_click,
           max(tp) AS purchase_ts
    FROM w3 GROUP BY 1
)
SELECT user_id, first_view, first_click, purchase_ts
FROM per_user WHERE purchase_ts IS NOT NULL
""",
)
def q_funnel_completion_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-funnel CEP on the stream (``applyInPandasWithState``): a
    completion row per user who performs view -> click -> purchase in order,
    with the same first-qualifying-event semantics as the batch
    ``ordered_funnel`` — fold registers advance only over watermark-finalized
    events, so the detection is exact under out-of-order arrival (see
    streaming/processors.py::streaming_funnel_completion).  Hash-checked
    against the batch three-stage window chain restricted to
    ``ts < final watermark``."""
    from e_commerce_streaming_datapipeline_spark.streaming.processors import (
        streaming_funnel_completion,
    )

    events = read_file_stream(spark, sf_dir)
    return run_stream(
        spark, streaming_funnel_completion(events), "funnel_completion", output_mode="append"
    )


@query(
    "unattributed_purchases_stream",
    oracle="""
WITH wm AS (
    -- Structured Streaming's global watermark: min over both inputs of
    -- (max event time - delay).  Outer-null rows emit once the watermark
    -- strictly passes the buffered row's event time.  Spark tracks event
    -- time at MILLISECOND granularity, so truncate each max before
    -- subtracting the delay (same as the sibling stream oracles).
    SELECT least(
        (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'click'),
        (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'purchase')
    ) - INTERVAL '10 minutes' AS w
)
SELECT
    p.user_id,
    p.event_id                         AS purchase_id,
    p.ts                               AS purchase_ts,
    round(coalesce(p.value, 0.0), 2)   AS purchase_value
FROM events p, wm
WHERE p.event_type = 'purchase'
  AND p.ts < wm.w
  AND NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.event_type = 'click'
        AND c.user_id = p.user_id
        AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts)
""",
)
def q_unattributed_purchases_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join: purchases with NO click in
    the preceding hour, emitted with null click columns only after the global
    watermark proves no matching click can still arrive.

    This is the other half of ``attribution_stream_join``'s inner join — the
    unmatched-emission semantics that make outer stream joins hard: a null
    row for a buffered purchase may only be emitted once min(click watermark,
    purchase watermark) strictly passes its event time, which is exactly the
    ``p.ts < wm`` bound the oracle reproduces.  Rows younger than the final
    watermark stay unemitted at end-of-input by design (verified: emission is
    strict less-than, per Spark's state eviction predicate)."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround

    purchases = _stream_leg(
        spark, sf_dir, "purchase", "purchase_ts",
        user_alias="buyer_id", id_alias="purchase_id", keep_value=True,
    )
    clicks = _stream_leg(
        spark, sf_dir, "click", "click_ts",
        user_alias="click_user_id", id_alias="click_id",
    )
    joined = (
        purchases.join(
            clicks,
            (F.col("buyer_id") == F.col("click_user_id"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
            "left_outer",
        )
        .where(F.col("click_id").isNull())
        .select(
            F.col("buyer_id").alias("user_id"),
            "purchase_id",
            "purchase_ts",
            fround(F.coalesce(F.col("value"), F.lit(0.0)), 2).alias("purchase_value"),
        )
    )
    return run_stream(spark, joined, "unattributed_stream", output_mode="append")


@query(
    "user_stats_stream",
    oracle="""
SELECT
    user_id,
    count(*)                                        AS n_events,
    round(sum(coalesce(value, 0.0)), 2)             AS total_value,
    count(*) FILTER (event_type = 'purchase')       AS n_purchases,
    max(ts)                                         AS last_seen
FROM events
GROUP BY 1
""",
)
def q_user_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running profiles (``streaming_user_stats``, a native
    stateful aggregation), hash-checked against the batch GROUP BY oracle.
    Complete mode, so the memory sink holds one row per user: the current
    profile."""
    events = read_file_stream(spark, sf_dir)
    return run_stream(spark, streaming_user_stats(events), "user_stats_stream")


@query(
    "segment_revenue_stream",
    oracle="""
SELECT
    c.c_mktsegment                       AS segment,
    count(*)                             AS purchases,
    round(sum(e.value), 2)               AS revenue
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1
""",
)
def q_segment_revenue_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the purchase stream enriched against the static
    customer dimension (the enrichment the reference loads its dimension CSVs
    for but never performs, SURVEY §2.4 J3), then aggregated per market
    segment.

    The static side is broadcast — re-used by every micro-batch with no
    state store and no stream-side shuffle for the join; this is the
    canonical shape for dimension enrichment at 100 TB/day stream volume
    (the dim refreshes per batch, needs no watermark, costs no state).
    Exact distinct-per-group on a stream needs the dedup-then-count stack
    demonstrated by ``unique_buyers_stream``; this query keeps the single
    streaming agg so the whole plan is one stateful operator."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround
    from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    purchases = read_file_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    enriched = purchases.join(broadcast(customer), purchases.user_id == customer.c_custkey)
    rolled = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("purchases"),
        fround(F.sum("value"), 2).alias("revenue"),
    )
    return run_stream(spark, rolled, "segment_revenue_stream")


@query(
    "replay_rate_source",
    oracle="""
SELECT
    CASE (v % 3) WHEN 0 THEN 'view' WHEN 1 THEN 'cart' ELSE 'purchase' END
        AS event_type,
    count(*) AS n_events,
    CAST(sum((v % 1000) * 137) AS DOUBLE) / 100 AS total_amount
FROM generate_series(0, 499) t(v)
GROUP BY 1
""",
)
def q_replay_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay/rate source (SURVEY §2.1 S6): the reference paces synthetic
    events into Kafka with per-order sleeps (``src/producers/
    event_generator.py:150-218``); the Spark-first equivalent is the
    ``rate-micro-batch`` source — deterministic (timestamp, value) rows at a
    configured rows-per-batch — mapped into typed events by pure column
    expressions, then aggregated like any other stream.

    Every derived field is integer arithmetic on ``value`` (event type =
    value%3, amount cents = (value%1000)*137), so the DuckDB oracle
    regenerates the whole stream with generate_series — the replay path is
    hash-checked end to end, not rows-only.  The aggregation filters to the
    first 500 events, so the result is stable no matter how many extra
    batches the rate source emits before stop().

    Scale note: rate sources are also the standard load-generator for
    sizing state stores and sink back-pressure before pointing a real Kafka
    topic at the job; rows-per-batch plays the reference's --speed knob."""
    import time

    from pyspark.sql import functions as F

    limit = 500
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 250)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    events = stream.where(F.col("value") < limit).select(
        F.when(F.col("value") % 3 == 0, "view")
        .when(F.col("value") % 3 == 1, "cart")
        .otherwise("purchase")
        .alias("event_type"),
        ((F.col("value") % 1000) * 137).alias("amount_cents"),
    )
    agg = events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (F.sum("amount_cents").cast("double") / 100).alias("total_amount"),
    )

    with _stream_run(spark, "replay_rate") as (name, checkpoint):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", checkpoint)
            .start()
        )
        # a rate source never ends: poll the complete-mode sink until the
        # first `limit` events are all accounted for, then stop
        deadline = time.time() + 120
        seen = 0
        while time.time() < deadline:
            seen = spark.table(name).agg(F.sum("n_events")).collect()[0][0] or 0
            if seen == limit:
                break
            time.sleep(0.25)
        q.stop()
        q.awaitTermination()
        if seen != limit:
            # fail loudly: a silent partial table would surface downstream as
            # a baffling oracle row-count/hash mismatch instead of the real
            # story (an overloaded host starving the rate source)
            raise TimeoutError(
                f"rate source emitted {seen}/{limit} events within 120s"
            )
    return spark.table(name)


@query(
    "multi_metric_stream",
    oracle="""
WITH p AS (
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)                              AS cnt,
           sum(CAST(round(value * 100) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
)
SELECT 'funnel_hour' AS metric, hour AS window_start, event_type AS key,
       cnt AS n, cents / 100.0 AS amount
FROM p WHERE event_type IN ('view', 'click', 'purchase')
UNION ALL
SELECT 'gmv_hour', hour, 'all', cnt, cents / 100.0
FROM p WHERE event_type = 'purchase'
UNION ALL
SELECT 'type_totals', NULL, event_type,
       CAST(sum(cnt) AS BIGINT), CAST(sum(cents) AS BIGINT) / 100.0
FROM p GROUP BY event_type
UNION ALL
SELECT 'error_rate_hour', hour, 'all', CAST(sum(cnt) AS BIGINT),
       round(coalesce(sum(CASE WHEN event_type = 'error' THEN cnt END), 0)
             * 100.0 / sum(cnt) * 100) / 100
FROM p GROUP BY hour
""",
)
def q_multi_metric_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One source pass → four metric relations: the architectural fix for
    the reference's worst physical inefficiency (SURVEY §4: four
    independent ``StreamingQuery``s re-read and re-parse the same topics,
    orders parsed 3x — stream_processor.py:141-231).

    A single ``foreachBatch`` reduces each micro-batch ONCE to mergeable
    partials at (hour, event_type) grain — counts plus scaled-long cents,
    both of which merge exactly across batches — and every downstream
    metric family (funnel stage counts, GMV, per-type totals, hourly error
    rate) derives from those partials without touching the source again.
    The fixture replay is hash-checked end to end against the batch oracle:
    streaming-vs-batch equivalence on all four families at once.

    At scale the partials land in a Delta/parquet accumulator table instead
    of a driver list (same MERGE-by-key semantics, ~#hours x #types rows
    per batch — KBs); deriving metrics from partials is the streaming twin
    of the cascaded-rollup pattern (SCALE.md): raw events are read once,
    every re-aggregation runs over the tiny partial relation."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround

    partials: list = []

    def reduce_batch(batch_df: DataFrame, batch_id: int) -> None:
        partials.extend(
            batch_df.groupBy(
                F.date_trunc("hour", "ts").alias("hour"), "event_type"
            )
            .agg(
                F.count("*").alias("cnt"),
                cents_sum(F.col("value")).alias("cents"),
            )
            .collect()
        )

    stream = read_file_stream(spark, sf_dir)
    run_stream(spark, stream, "multi_metric", output_mode="append", sink=reduce_batch)

    # merge per-batch partials (exact: counts and cents are both sums)
    p = (
        spark.createDataFrame(partials)
        .groupBy("hour", "event_type")
        .agg(F.sum("cnt").alias("cnt"), F.sum("cents").alias("cents"))
    )
    funnel = p.where(F.col("event_type").isin("view", "click", "purchase")).select(
        F.lit("funnel_hour").alias("metric"),
        F.col("hour").alias("window_start"),
        F.col("event_type").alias("key"),
        F.col("cnt").alias("n"),
        (F.col("cents") / 100.0).alias("amount"),
    )
    gmv = p.where(F.col("event_type") == "purchase").select(
        F.lit("gmv_hour").alias("metric"),
        F.col("hour").alias("window_start"),
        F.lit("all").alias("key"),
        F.col("cnt").alias("n"),
        (F.col("cents") / 100.0).alias("amount"),
    )
    totals = p.groupBy("event_type").agg(
        F.sum("cnt").alias("n"), F.sum("cents").alias("cents")
    ).select(
        F.lit("type_totals").alias("metric"),
        F.lit(None).cast("timestamp").alias("window_start"),
        F.col("event_type").alias("key"),
        F.col("n"),
        (F.col("cents") / 100.0).alias("amount"),
    )
    err = p.groupBy("hour").agg(
        F.sum("cnt").alias("total"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "error", F.col("cnt"))), F.lit(0)
        ).alias("err"),
    ).select(
        F.lit("error_rate_hour").alias("metric"),
        F.col("hour").alias("window_start"),
        F.lit("all").alias("key"),
        F.col("total").alias("n"),
        fround(F.col("err") * 100.0 / F.col("total"), 2).alias("amount"),
    )
    return funnel.unionByName(gmv).unionByName(totals).unionByName(err)


@query(
    "gmv_sliding_stream",
    oracle="""
WITH exploded AS (
    SELECT
        *,
        unnest([tb, tb - INTERVAL '30 seconds']) AS window_start
    FROM (
        SELECT *, time_bucket(INTERVAL '30 seconds', ts) AS tb
        FROM events
        WHERE event_type = 'purchase'
    )
)
SELECT
    window_start,
    window_start + INTERVAL '1 minute' AS window_end,
    round(sum(value), 2)               AS gmv,
    count(*)                           AS item_count,
    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value), 2)
                                       AS avg_item_price,
    round(max(value), 2)               AS max_item_price,
    round(min(value), 2)               AS min_item_price
FROM exploded
GROUP BY 1, 2
""",
)
def q_gmv_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows as a real streaming query (1 min window, 30 s slide
    — the reference's exact window geometry, stream_processor.py:33-39),
    hash-checked against the batch sliding oracle: SURVEY §7's hard part
    #1 (DuckDB has no sliding window(); the oracle explodes each event
    into its two overlapping buckets) closed on the STREAMING path, not
    just the batch twin.

    Each event updates 2 window states; with watermarking, expired windows
    evict, so state is (window span / slide) x #open-windows bounded —
    the reference ran the same geometry with no watermark and unbounded
    state (SURVEY §2.5 D3).  Exact distincts are omitted: a streaming agg
    cannot hold count_distinct state per sliding window without the
    two-stage dedup (see unique_buyers_stream); the remaining aggregates
    merge exactly."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.operators.gmv import gmv_aggs

    events = read_file_stream(spark, sf_dir)
    purchases = events.withWatermark("ts", "10 minutes").where(
        F.col("event_type") == "purchase"
    )
    w = F.window(F.col("ts"), "1 minute", "30 seconds").alias("w")
    rolled = (
        purchases.groupBy(w)
        # shared with the batch twin (operators/gmv.py) so the hash-checked
        # equivalence cannot drift from a one-sided edit
        .agg(*gmv_aggs(include_distinct=False))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "gmv",
            "item_count",
            "avg_item_price",
            "max_item_price",
            "min_item_price",
        )
    )
    return run_stream(spark, rolled, "gmv_sliding_stream")


@query(
    "click_purchase_full_outer_stream",
    oracle="""
WITH wm AS (
    SELECT least(
        (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'click'),
        (SELECT date_trunc('milliseconds', max(ts)) FROM events WHERE event_type = 'purchase')
    ) - INTERVAL '10 minutes' AS w
), c AS (
    -- -1 = "no id available" on BOTH engines: a keyless (NULL event_id)
    -- click/purchase keeps its match semantics (the join correlates on
    -- user + time, never on id) but surfaces the sentinel, exactly as the
    -- stream side coalesces — r9 edge pin
    SELECT user_id, coalesce(event_id, -1) AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, coalesce(event_id, -1) AS purchase_id, ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
), matched AS (
    SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts,
           'matched' AS match_type
    FROM c JOIN p
      ON p.user_id = c.user_id
     AND p.purchase_ts BETWEEN c.click_ts
                           AND c.click_ts + INTERVAL '30 minutes'
), click_only AS (
    SELECT c.user_id, c.click_id, CAST(-1 AS BIGINT) AS purchase_id,
           c.click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts,
           'click_only' AS match_type
    FROM c, wm
    WHERE c.click_ts + INTERVAL '30 minutes' < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.purchase_ts BETWEEN c.click_ts
                                  AND c.click_ts + INTERVAL '30 minutes')
), purchase_only AS (
    SELECT p.user_id, CAST(-1 AS BIGINT) AS click_id, p.purchase_id,
           CAST(NULL AS TIMESTAMP) AS click_ts, p.purchase_ts,
           'purchase_only' AS match_type
    FROM p, wm
    WHERE p.purchase_ts < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND p.purchase_ts BETWEEN c.click_ts
                                  AND c.click_ts + INTERVAL '30 minutes')
)
SELECT * FROM matched
UNION ALL SELECT * FROM click_only
UNION ALL SELECT * FROM purchase_only
""",
)
def q_click_purchase_full_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked FULL OUTER stream-stream join — completing the outer-join
    family (inner `attribution_stream_join`, left `unattributed_purchases_
    stream`): clicks and purchases correlated per user within a 30-minute
    conversion window; matched pairs emit immediately, unmatched rows from
    EITHER side emit with the other side nulled once the global watermark
    proves no match can still arrive.

    Emission bounds are asymmetric and the oracle encodes both: a click's
    null row needs wm > click_ts + 30min (a purchase that late could still
    match it), a purchase's needs only wm > purchase_ts (matching clicks
    precede it).  Null ids are surfaced as -1 sentinels so every output
    column stays scalar-typed and NaN-free for downstream canonicalizers;
    null timestamps stay NULL (NaT is hashable)."""
    joined = build_full_outer_click_purchase(spark, sf_dir)
    return run_stream(
        spark, joined, "full_outer_stream", output_mode="append"
    )


def build_full_outer_click_purchase(
    spark: SparkSession,
    sf_dir: str,
    filename: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The full-outer join's unstarted streaming plan — factored out so the
    cross-batch equivalence test can replay the same plan over a chunked
    directory with ``maxFilesPerTrigger=1`` (real multi-micro-batch
    watermark progression) and compare against the single-batch run."""
    from pyspark.sql import functions as F

    clicks = _stream_leg(
        spark, sf_dir, "click", "click_ts",
        user_alias="c_user", id_alias="c_id",
        filename=filename, max_files_per_trigger=max_files_per_trigger,
    )
    purchases = _stream_leg(
        spark, sf_dir, "purchase", "purchase_ts",
        user_alias="p_user", id_alias="p_id",
        filename=filename, max_files_per_trigger=max_files_per_trigger,
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        # -1 = "no id available": the side is absent OR the arriving event
        # was keyless (NULL event_id) — both engines coalesce identically,
        # so the sentinel never conflates with a real id and the column
        # stays NaN-free for the pandas canonicalizers
        F.coalesce(F.col("c_id"), F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("p_id"), F.lit(-1)).alias("purchase_id"),
        "click_ts",
        "purchase_ts",
        # side-PRESENCE decides the match class, keyed on the event-time
        # columns (the file feed admits no NULL-ts rows, so a NULL ts here
        # means the side is genuinely absent) — keying on id nullability
        # misclassified a KEYLESS click's matched pair as purchase_only
        # (r9 edge pin)
        F.when(F.col("click_ts").isNull(), "purchase_only")
        .when(F.col("purchase_ts").isNull(), "click_only")
        .otherwise("matched")
        .alias("match_type"),
    )


@query(
    "unattributed_asym_watermark_stream",
    oracle="""
WITH wm AS (
    -- per-input delays: the GLOBAL watermark is the min over inputs of
    -- (max event time - that input's OWN delay).  Here clicks tolerate
    -- 5 minutes of lateness and purchases 30 — so whichever bound is
    -- smaller gates null-row emission for the buffered purchases.
    SELECT least(
        (SELECT date_trunc('milliseconds', max(ts)) FROM events
          WHERE event_type = 'click') - INTERVAL '5 minutes',
        (SELECT date_trunc('milliseconds', max(ts)) FROM events
          WHERE event_type = 'purchase') - INTERVAL '30 minutes'
    ) AS w
)
SELECT
    p.user_id,
    p.event_id                       AS purchase_id,
    p.ts                             AS purchase_ts
FROM events p, wm
WHERE p.event_type = 'purchase'
  AND p.ts < wm.w
  AND NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.event_type = 'click'
        AND c.user_id = p.user_id
        AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts)
""",
)
def q_unattributed_asym_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join with ASYMMETRIC watermark delays —
    each input declares its own lateness tolerance (clicks: 5 min,
    purchases: 30 min) and Structured Streaming takes the global minimum
    across inputs.  The oracle computes exactly that two-delay minimum, so
    the hash check pins the per-input-delay semantics (the sibling
    `unattributed_purchases_stream` uses symmetric delays and cannot
    distinguish them).

    Why it matters at scale: delays size state — a noisy mobile click
    stream needs more lateness headroom than a server-side purchase feed,
    and setting them independently keeps the join buffer for the tight
    stream small instead of inflating both to the worst case."""
    from pyspark.sql import functions as F

    clicks = _stream_leg(
        spark, sf_dir, "click", "click_ts",
        delay="5 minutes", user_alias="click_user_id",
    )
    purchases = _stream_leg(
        spark, sf_dir, "purchase", "purchase_ts",
        delay="30 minutes", user_alias="buyer_id", id_alias="purchase_id",
    )
    joined = (
        purchases.join(
            clicks,
            (F.col("buyer_id") == F.col("click_user_id"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
            "left_outer",
        )
        .where(F.col("click_user_id").isNull())
        .select(
            F.col("buyer_id").alias("user_id"),
            "purchase_id",
            "purchase_ts",
        )
    )
    return run_stream(
        spark, joined, "unattributed_asym_stream", output_mode="append"
    )


from e_commerce_streaming_datapipeline_spark.operators.analytics import (  # noqa: E402
    _SESSION_DYNAMIC_ORACLE,
)


@query("session_dynamic_stream", oracle=_SESSION_DYNAMIC_ORACLE)
def q_session_dynamic_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows ON THE STREAM — the per-event gap
    expression (purchase: 30 min, else 10 min) drives a stateful
    session_window aggregation, hash-checked against the SAME oracle as
    the batch twin `session_dynamic_gap_stats`: streaming-vs-batch
    equivalence for heterogeneous-gap session merging.

    State: open sessions per user, merged as extending events arrive —
    the long-gap purchase events hold state open longer by design; at
    real scale pair with a watermark + append mode so closed sessions
    evict (complete-mode memory sink here keeps the driver compare
    batch-shaped)."""
    from pyspark.sql import functions as F

    events = read_file_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    sessions = (
        events.groupBy(
            F.col("user_id"), F.session_window(F.col("ts"), gap).alias("sw")
        )
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
    return run_stream(spark, sessions, "session_dynamic_stream")


@query(
    "attributed_clicks_semi_stream",
    oracle="""
SELECT
    c.user_id,
    c.event_id AS click_id,
    c.ts       AS click_ts
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase'
        AND p.user_id = c.user_id
        AND p.ts BETWEEN c.ts AND c.ts + INTERVAL '1 hour')
""",
)
def q_attributed_clicks_semi_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT SEMI stream-stream join — the remaining member of
    the stream-join family (inner `attribution_stream_join`, left outer
    `unattributed_purchases_stream`, full outer
    `click_purchase_full_outer_stream`): clicks that ARE followed by a
    purchase within 1 hour, emitted once, without ever materializing the
    purchase columns.

    Why semi beats inner+distinct on a stream: the inner join emits one row
    per (click, purchase) pair and deduplicating afterwards needs a second
    stateful operator; the semi join emits the click exactly once on its
    first match and drops its state — less state, no dedup stage.  Both
    sides keep watermarks and the join predicate carries the event-time
    range, so buffered clicks are evicted once the purchase watermark
    passes click_ts + 1h.  Matched rows emit on match (not on watermark),
    so the availableNow replay emits every click with EXISTS semantics —
    the oracle is the plain EXISTS, no watermark bound (same emission rule
    as the inner join's oracle)."""
    from pyspark.sql import functions as F

    clicks = _stream_leg(
        spark, sf_dir, "click", "click_ts",
        user_alias="user_id", id_alias="click_id",
    )
    purchases = _stream_leg(
        spark, sf_dir, "purchase", "purchase_ts", user_alias="buyer_id",
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("buyer_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select("user_id", "click_id", "click_ts")
    return run_stream(spark, joined, "attributed_semi_stream", output_mode="append")


@query(
    "unique_buyers_bitmap_stream",
    oracle="""
SELECT
    date_trunc('minute', ts)                        AS window_start,
    date_trunc('minute', ts) + INTERVAL '1 minute'  AS window_end,
    count(DISTINCT user_id)                         AS unique_buyers
FROM events
WHERE event_type = 'purchase'
GROUP BY 1, 2
""",
)
def q_unique_buyers_bitmap_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT streaming distinct via BITMAP state — the single-operator
    alternative to `unique_buyers_stream`'s dropDuplicates-then-count
    two-stage plan: one streaming aggregation whose state per
    (window, id-bucket) is a fixed-size bitmap (`bitmap_construct_agg`),
    micro-batches OR-merging into it, and a stateless second grouping
    summing `bitmap_count` per window.

    Trade vs the two-stage plan: ONE stateful operator instead of two
    (dedup store + count store), state size #buckets x 4 KB instead of one
    state row per distinct id, and the partial aggregation ORs map-side so
    the shuffle carries bitmaps, not ids — the same mergeability that makes
    the batch twin `bitmap_users_daily_to_monthly` re-aggregable.  The cost:
    per-bucket bitmaps only pay off when ids are dense (they are: user_id
    is a compact dictionary key; for sparse id domains the HLL sketch path
    `hll_users_daily_to_monthly` is the fallback)."""
    from pyspark.sql import functions as F

    events = read_file_stream(spark, sf_dir)
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
    )
    # ONE stateful operator: the per-(window, bucket) bitmap agg.  The
    # cross-bucket sum happens on the SINK table (a batch relation) — the
    # consumer-side merge every mergeable-partial design ends with, and it
    # sidesteps chaining two stateful aggs in one streaming plan (Spark's
    # multi-stateful correctness check rejects that for complete mode).
    per_bucket = (
        purchases.groupBy(
            F.window("ts", "1 minute").alias("w"),
            F.bitmap_bucket_number("user_id").alias("bucket"),
        )
        .agg(
            F.bitmap_count(
                F.bitmap_construct_agg(F.bitmap_bit_position("user_id"))
            ).alias("bucket_users")
        )
    )
    sink = run_stream(
        spark, per_bucket, "unique_buyers_bitmap_stream", output_mode="complete"
    )
    return (
        sink.groupBy("w")
        .agg(F.sum("bucket_users").alias("unique_buyers"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "unique_buyers",
        )
    )


@query(
    "lambda_unified_gmv",
    oracle="""
SELECT
    date_trunc('hour', ts)   AS window_start,
    CAST(sum(round(coalesce(value, 0.0) * 100)::BIGINT) AS DOUBLE) / 100
                             AS gmv,
    count(*)                 AS purchases
FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
GROUP BY 1
""",
)
def q_lambda_unified_gmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture unification with a REAL streaming tail: hourly
    GMV = batch layer (events strictly before a day-aligned cutoff, plain
    batch aggregation) UNION speed layer (events on/after the cutoff,
    computed by an actual Structured Streaming query with watermark +
    update mode).  The hash match against the single-shot batch oracle
    proves the two layers meet exactly at the seam — no double-counted and
    no dropped window.

    This is the architecture the reference implies but never closes
    (Postgres keeps history, Spark streams the tail; nothing verifies the
    splice).  Design points: the cutoff is day-aligned so no 1-hour window
    straddles the seam; the speed layer filters ts >= cutoff via a
    stream-static join (no driver collect feeding the stream); at scale
    the batch layer reads date partitions < cutoff and the speed layer's
    state holds only the tail's windows (watermark-evicted).

    metrics_merge_upsert is the batch+batch sibling (MERGE semantics at the
    seam); this one exercises the actual micro-batch engine on the tail."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.functions.rounding import cents_sum_double
    from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
    from e_commerce_streaming_datapipeline_spark.functions.windows import tumbling_window
    from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

    # ts IS NOT NULL mirrors the window()/tumbling_window null-drop on both
    # layers, so a NULL-ts purchase row cannot diverge from the oracle.
    events = load_table(spark, "events", sf_dir).where(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    cutoff = events.agg(
        F.date_trunc("day", F.max("ts") - F.expr("INTERVAL 3 DAYS")).alias("__cut")
    )

    batch_layer = (
        tumbling_window(
            scalar_join(events, cutoff).where(F.col("ts") < F.col("__cut")), "ts", "1 hour"
        )
        .groupBy("window_start")
        .agg(
            cents_sum_double(F.col("value")).alias("gmv"),
            F.count("*").alias("purchases"),
        )
    )

    stream = (
        read_file_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        # stream-static join: the batch-derived cutoff filters the stream
        # without any driver-side collect
        .join(F.broadcast(cutoff), F.col("ts") >= F.col("__cut"))
        .withWatermark("ts", "10 minutes")
    )
    w = F.window(F.col("ts"), "1 hour").alias("w")
    speed_layer_raw = run_stream(
        spark,
        stream.groupBy(w).agg(
            cents_sum_double(F.col("value")).alias("gmv"),
            F.count("*").alias("purchases"),
        ),
        "lambda_speed",
        output_mode="update",
    )
    # FINALIZE per window: the update-mode memory sink logs every per-batch
    # update, so a window touched in several micro-batches appears several
    # times (partial then final).  purchases is monotone within a window
    # (counts only grow), so the max-(purchases, gmv) struct is the final
    # emission — without this, any multi-batch replay double-counts.
    speed_layer = (
        speed_layer_raw.select(
            F.col("w.start").alias("window_start"),
            F.struct("purchases", "gmv").alias("pg"),
        )
        .groupBy("window_start")
        .agg(F.max("pg").alias("pg"))
        .select("window_start", F.col("pg.gmv").alias("gmv"), F.col("pg.purchases").alias("purchases"))
    )
    return batch_layer.unionByName(speed_layer)


from e_commerce_streaming_datapipeline_spark.operators.statistics import (  # noqa: E402
    HISTOGRAM_ROLLUP_ORACLE as _HIST_ORACLE,
)


# shares the batch rollup's oracle: the streaming twin must hash-match it
@query("histogram_stream_quantiles", oracle=_HIST_ORACLE)
def q_histogram_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-histogram pattern on the STREAMING path: a watermarked
    streaming aggregation maintains per-(day, bin) counts — 50 longs per
    day of state, evicted by the watermark — and month-grain p50/p90/p99
    are extracted from the collected bin relation afterwards, reusing the
    batch extractor.  Output is hash-identical to the batch
    `histogram_quantile_rollup` (same oracle), proving the streaming
    histogram lost nothing.

    Why this matters at 100 TB/day: quantile monitoring over a stream
    normally needs a mergeable sketch because the raw events are gone when
    the question is asked; fixed-bin histograms ARE that sketch, and the
    state is so small (days x 50 longs) that any re-grain — month,
    quarter, rolling 7d — is a post-hoc aggregation of the bin table."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.operators.statistics import (
        hist_bin,
        monthly_quantiles_from_day_bins,
    )

    stream = (
        read_file_stream(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .withWatermark("ts", "10 minutes")
    )
    binned = stream.groupBy(
        F.window(F.col("ts"), "1 day").alias("w"), hist_bin(F.col("value")).alias("bin")
    ).count()
    collected = run_stream(spark, binned, "hist_stream", output_mode="update")
    # finalize per (day, bin): update mode logs every per-batch revision of
    # a cell; counts only grow, so max = the final value (same finalization
    # the CMS twin applies) — without it a multi-batch replay sums a cell's
    # partial and final counts
    day_bins = (
        collected.select(F.col("w.start").alias("day"), "bin", F.col("count").alias("c"))
        .groupBy("day", "bin")
        .agg(F.max("c").alias("c"))
    )
    return monthly_quantiles_from_day_bins(day_bins)



from e_commerce_streaming_datapipeline_spark.operators.statistics import (  # noqa: E402
    _CMS_THRESHOLD,
    _cms_bucket_structs,
    HEAVY_HITTERS_ORACLE as _CMS_ORACLE,
)


# shares the batch twin's oracle: the streaming sketch must hash-match it
@query("heavy_hitters_cms_stream", oracle=_CMS_ORACLE)
def q_heavy_hitters_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch maintained BY a streaming aggregation: each
    event explodes into its 4 (row, bucket) cells and a stateful groupBy
    keeps the running cell counts — state is the sketch itself (<= 4x256
    longs, no watermark needed: the key space is bounded by construction,
    the degenerate-best-case of streaming state).  Heavy-hitter estimates
    extracted afterwards must hash-match the batch `heavy_hitters_cms`
    (shared oracle) — the sketch lost nothing crossing micro-batches.

    This closes the mergeable-sketch trio on the streaming path: bitmap
    exact-distinct (`unique_buyers_bitmap_stream`), fixed-bin histogram
    quantiles (`histogram_stream_quantiles`), and frequency CMS (here)."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

    stream = read_file_stream(spark, sf_dir).select(
        F.explode(_cms_bucket_structs("user_id")).alias("s")
    ).select("s.j", "s.bkt")
    cells_stream = stream.groupBy("j", "bkt").count()
    collected = run_stream(spark, cells_stream, "cms_stream", output_mode="update")
    # update-mode memory sink logs every per-batch update; counts only grow,
    # so the final cell value is the max observed per (j, bkt)
    cells = collected.groupBy("j", "bkt").agg(F.max("count").alias("c"))

    events = load_table(spark, "events", sf_dir).select("user_id")
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



from e_commerce_streaming_datapipeline_spark.operators.dedup import (
    INCREMENTAL_MINHASH_ORACLE as _ADMISSION_ORACLE,
)


@query(
    "minhash_admission_stream",
    oracle=_ADMISSION_ORACLE,
)
def q_minhash_admission_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup admission gate ON A STREAM: arriving documents
    (doc_id % 10 == 0 plays the live feed) probe the prebuilt static MinHash
    band index per micro-batch inside ``foreachBatch`` — a STATELESS gate
    (each document's verdict depends only on itself and the index, so no
    state store exists; within-batch signature duplicates collapse in the
    per-batch distinct, and each file-source document arrives exactly once).

    Shares `minhash_admission_pairs` with the batch twin
    (`incremental_minhash_dedup`) so the gate semantics cannot drift, and
    hash-checks against the SAME DuckDB oracle — batch/stream equivalence
    for the LLM-dedup tier, the same gate a Kafka-fed deployment would run.
    At scale accepted pairs land in a sink table instead of a driver list;
    the index sides are bucketed tables keyed by (band, band_sig)."""
    from e_commerce_streaming_datapipeline_spark.operators.dedup import (
        minhash_admission_pairs,
        minhash_index,
    )
    from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

    docs = load_table(spark, "documents", sf_dir)
    index_sets, index_bands = minhash_index(docs.where((F.col("doc_id") % 10) != 0))

    accepted: list = []

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.where((F.col("doc_id") % 10) == 0)
        accepted.extend(
            minhash_admission_pairs(new, index_sets, index_bands).collect()
        )

    stream = read_file_stream(spark, sf_dir, "documents.parquet")
    run_stream(spark, stream, "minhash_admission", output_mode="append", sink=admit)

    return spark.createDataFrame(
        accepted, schema="doc_new long, doc_index long, jaccard double"
    )


from e_commerce_streaming_datapipeline_spark.operators.analytics import (  # noqa: E402
    SCD2_ORACLE as _SCD2_ORACLE,
)

_SCD2_HISTORY_SCHEMA = (
    "custkey long, priority string, effective_from date, "
    "effective_to date, is_current boolean"
)


@query("scd2_stream_merge", oracle=_SCD2_ORACLE)
def q_scd2_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintained INCREMENTALLY by a stream — the lakehouse
    CDC pattern: order-priority change events replayed in event-time order
    (year-chunked files, ``maxFilesPerTrigger=1``) merge into a persistent
    history store inside ``foreachBatch``, and the final store must equal
    the one-shot batch build — hash-checked against the SAME oracle as
    `scd2_priority_history` (batch/stream equivalence for dimension
    maintenance, the CDC sibling of `metrics_merge_upsert`'s fact merge).

    The merge exploits the SCD2 CDC invariant: with time-ordered arrival,
    only ``is_current`` rows are mutable — a later change can close the
    open interval but can never rewrite an already-closed one.  The store
    is therefore VERSIONED on that invariant: each micro-batch reads only
    the previous version's live snapshot (``is_current`` filter — served
    by parquet row-group stats; a 100 TB table makes it a physical
    partition and this read a partition prune), splits it on the batch's
    custkeys (broadcast semi/anti), re-derives the affected customers'
    open tails via the shared `scd2_history` builder (seeded with the
    stored current row so an unchanged priority does NOT open a spurious
    version), and writes ONE plain job: the new snapshot plus this batch's
    newly-closed rows.  Closed history is never re-read and never
    rewritten — before r10 every batch rewrote the FULL history store, so
    per-batch I/O was O(history); now it is O(current dimension + batch).
    This is deliberately the single-write formulation: the r9 two-job
    split store (closed-log append + current rewrite) measured ~30 %
    slower at sf0.1, and a physically seg-partitioned single write
    re-measured ~20 % slower in r10 (repartition exchange + partitioned
    commit per micro-batch) — equivalent at 100 TB where MERGE INTO with
    dynamic partition overwrite does the same thing transactionally.  The
    year-chunking below is test-harness scaffolding for what a Kafka CDC
    feed provides naturally.
    """
    from e_commerce_streaming_datapipeline_spark.operators.analytics import scd2_history

    run_dir = scratch_dir("scd2")
    cdc_dir = os.path.join(run_dir, "cdc")
    tbl = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"],
    )
    # years replayed out of order would void the only-current-rows-mutable
    # invariant; the feed pins arrival order
    append_feed(cdc_dir, split_by_key(tbl, pc.year(tbl["o_orderdate"])))

    # current = latest version dir (its is_current rows are the live
    # snapshot); versions = the append-only list of per-batch dirs, whose
    # non-current rows are that batch's immutable newly-closed versions
    # (never re-read, never rewritten)
    store: dict = {"current": None, "versions": []}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch = batch_df.select(
            "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
        )
        if store["current"] is None:
            untouched = sp.createDataFrame([], _SCD2_HISTORY_SCHEMA)
            seeds = untouched
        else:
            cur = sp.read.parquet(store["current"]).where(F.col("is_current"))
            affected = batch.select(F.col("o_custkey").alias("custkey")).distinct()
            hit = cur.join(
                F.broadcast(affected).withColumn("__hit", F.lit(1)), "custkey", "left"
            )
            untouched = hit.where(F.col("__hit").isNull()).drop("__hit")
            seeds = hit.where(F.col("__hit").isNotNull()).drop("__hit")
        # the stored open version re-enters change detection as a pseudo-row
        # strictly before every batch row (its effective_from is from an
        # earlier chunk), so a batch whose first priority matches it extends
        # the open interval instead of opening a duplicate version
        seed_rows = seeds.select(
            F.col("custkey").alias("o_custkey"),
            F.col("priority").alias("o_orderpriority"),
            F.col("effective_from").alias("o_orderdate"),
            F.lit(-1).cast("long").alias("o_orderkey"),
        )
        out = os.path.join(run_dir, f"store_v{batch_id}")
        # ONE plain write job per batch: the new current snapshot plus this
        # batch's newly-closed rows (scd2_history over seed+batch emits
        # exactly the affected customers' re-derived versions, so every
        # non-current row in `merged` is newly closed).  A physically
        # partitioned seg=current/seg=closed write was A/B-measured ~20 %
        # slower at sf0.1 (the repartition exchange + partitioned-commit
        # overhead per micro-batch outweighs the tiny store) — the
        # is_current split happens at read time instead, which parquet
        # row-group stats serve for free; a 100 TB deployment flips back
        # to the physical partition once per-batch data dwarfs commit
        # overhead.
        untouched.unionByName(
            scd2_history(seed_rows.unionByName(batch))
        ).write.parquet(out)
        store["versions"].append(out)
        store["current"] = out

    stream = read_file_stream(spark, cdc_dir, FEED_GLOB, max_files_per_trigger=1)
    run_stream(spark, stream, "scd2_merge", output_mode="append", sink=merge_batch)
    # the final store = every version's immutable newly-closed rows plus
    # the live snapshot from the last version; superseded current
    # snapshots stay on disk but the run dir is /tmp-scoped like the
    # other roundtrips
    closed = spark.read.parquet(*store["versions"]).where(~F.col("is_current"))
    return closed.unionByName(
        spark.read.parquet(store["current"]).where(F.col("is_current"))
    )


_DEDUP_STATE_ORACLE = """
SELECT
    CAST(event_id % 8 AS BIGINT)  AS bucket,
    count(DISTINCT event_id)      AS state_rows,
    min(event_id)                 AS min_event_id,
    max(event_id)                 AS max_event_id
FROM events
WHERE event_id IS NOT NULL
GROUP BY 1
"""


@query("state_store_inspect", oracle=_DEDUP_STATE_ORACLE)
def q_state_store_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state observability: run a streaming ``dropDuplicates`` over
    the events feed, then read the checkpoint's state store back AS A
    DATAFRAME via Spark's ``statestore`` reader and aggregate the live state
    keys — the state a 100 TB deployment inspects when it asks "what is my
    dedup operator actually holding?".

    The oracle is the semantic definition of that state: one row per distinct
    event_id (no watermark on this query, so nothing evicts — the bounded
    fixture twin of an unbounded TTL'd dedup).  This is the direct, queryable
    form of SCALE.md's state-boundedness argument: the same reader, pointed
    at a watermarked checkpoint, is how the plateau is measured in production
    (reference parity: the reference exposes no state introspection at all —
    its Postgres sink is the only observable surface, SURVEY §2.6).

    The checkpoint (and the statestore scan over it) lives in a /tmp-scoped
    run dir kept for the returned lazy plan, like the other roundtrip
    queries.
    """
    run_dir = scratch_dir("state")
    checkpoint = os.path.join(run_dir, "ckpt")
    out_dir = os.path.join(run_dir, "out")
    # keyless (NULL event_id) messages cannot be deduped by key — the same
    # wire-contract drop kafka_payload_roundtrip applies, mirrored in the
    # oracle's WHERE; NULL keys would otherwise collapse to ONE state row
    # while COUNT(DISTINCT) counts zero
    deduped = (
        read_file_stream(spark, sf_dir, "events.parquet")
        .where(F.col("event_id").isNotNull())
        .dropDuplicates(["event_id"])
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(checkpoint)
    return state.select(F.col("key.event_id").alias("event_id")).groupBy(
        (F.col("event_id") % 8).alias("bucket")
    ).agg(
        F.count("*").alias("state_rows"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@query(
    "checkpoint_resume_stream",
    oracle="""
SELECT
    event_type,
    count(*)                 AS n_events,
    count(DISTINCT user_id)  AS n_users,
    min(event_id)            AS min_event_id,
    max(event_id)            AS max_event_id
FROM events
WHERE event_id IS NOT NULL
GROUP BY 1
""",
)
def q_checkpoint_resume_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a RESTART: the same dedup-ingest pipeline is
    started TWICE against one checkpoint — phase A sees the first half of
    the feed; phase B (a fresh ``start()``, simulating a crashed-and-
    restarted job) sees the second half PLUS a replayed slice of phase A's
    rows.  The recovered source offsets must not re-ingest phase A's file,
    and the recovered ``dropDuplicates`` STATE must suppress the replayed
    slice — so the appended sink holds every event exactly once and the
    per-type aggregate equals the plain batch oracle.

    This is K4 checkpointing evidence at the level the reference cannot
    demonstrate (its consumer restarts from Kafka committed offsets but has
    no dedup state to recover, reference src/consumers/stream_processor.py):
    offsets AND operator state both survive the restart, and the parquet
    sink's ``_spark_metadata`` commit log keeps half-written batches out of
    the read-back.
    """
    run_dir = scratch_dir("resume")
    feed_dir = os.path.join(run_dir, "feed")
    checkpoint = os.path.join(run_dir, "ckpt")
    out_dir = os.path.join(run_dir, "out")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    half = tbl.num_rows // 2

    def run_phase() -> None:
        # keyless rows dropped pre-dedup (wire contract, mirrored in the
        # oracle): NULL keys would collapse nondeterministically in state
        deduped = (
            read_file_stream(spark, feed_dir, FEED_GLOB)
            .where(F.col("event_id").isNotNull())
            .dropDuplicates(["event_id"])
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    append_feed(feed_dir, [tbl.slice(0, half)])
    run_phase()
    # phase B arrives AFTER the first run finished: the rest of the feed plus
    # a replayed prefix of phase A (at-least-once upstream delivery) — only
    # recovered dedup state can suppress it
    append_feed(feed_dir, [tbl.slice(half), tbl.slice(0, min(200, half))])
    run_phase()
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


@query(
    "changelog_replay_stream",
    oracle="""
SELECT
    TIMESTAMP '1970-01-01 00:00:00'
        + CAST(floor(epoch(ts) / 604800) AS BIGINT) * INTERVAL 1 SECOND * 604800
        AS window_start,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS gmv,
    count(*) AS item_count
FROM events
WHERE event_type = 'purchase' AND ts IS NOT NULL
GROUP BY 1
""",
)
def q_changelog_replay_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode changelog capture + replay: the GMV-per-WEEK aggregate
    streams over a day-chunked replay (3 day-files per micro-batch, so every
    week window is re-emitted across ~3 batches as its days arrive), and every
    batch's CHANGED windows are appended to a parquet changelog stamped with
    the batch id — the CDC feed a downstream system tails.  Replaying the
    changelog (last emission per window wins) must reconstruct the batch
    aggregate exactly — hash-checked against the same oracle as the batch
    twin.

    This is the semantic contract of ``outputMode("update")`` made
    checkable: a window is re-emitted WITH ITS COMPLETE NEW VALUE every
    batch it changes in, so last-writer-wins replay converges to the final
    table.  It is also why the append-side sink tolerates at-least-once
    delivery: a duplicated emission is identical, and max-batch-id replay
    collapses it.  At 100 TB the changelog is the handoff between the
    streaming layer and any store that can upsert; per-batch volume is
    #changed-windows, not #events.
    """
    run_dir = scratch_dir("changelog")
    feed_dir = os.path.join(run_dir, "feed")
    changelog_dir = os.path.join(run_dir, "changelog")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    append_feed(feed_dir, split_by_key(tbl, _epoch_days(tbl["ts"])))

    def capture(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(changelog_dir)

    agg = (
        # 5 day-files per batch over ~30 days: 6 micro-batches, and every
        # 7-day window still spans >=2 of them (real supersessions, pinned
        # by test) at roughly half the micro-batch machinery cost of
        # smaller triggers
        read_file_stream(spark, feed_dir, FEED_GLOB, max_files_per_trigger=5)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "7 days"))
        .agg(
            (cents_sum(F.col("value")).cast("double") / 100).alias("gmv"),
            F.count("*").alias("item_count"),
        )
        .select(F.col("window.start").alias("window_start"), "gmv", "item_count")
    )
    run_stream(spark, agg, "changelog", output_mode="update", sink=capture)
    changelog = spark.read.parquet(changelog_dir)
    latest = Window.partitionBy("window_start").orderBy(F.col("batch_id").desc())
    return (
        changelog.withColumn("__rn", F.row_number().over(latest))
        .where(F.col("__rn") == 1)
        .select("window_start", "gmv", "item_count")
    )


@query(
    "agg_state_inspect",
    oracle="""
SELECT
    date_trunc('hour', ts) AS hour,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue,
    count(*) AS n_purchases
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def q_agg_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming aggregation's STATE STORE read back as the aggregate it
    is: an hourly purchase-revenue streaming aggregation runs to a
    checkpoint, and the checkpoint's state rows — key = the grouping
    expression, value = the (sum, count) accumulator pair Spark actually
    maintains — are hash-checked against the semantic definition of the
    aggregate.  Where `state_store_inspect` audits a dedup operator's KEY
    set, this verifies stateful-aggregation ACCUMULATORS themselves:
    exactly the evidence needed when debugging a suspected state
    corruption/upgrade issue in production, and the strongest possible form
    of the SCALE.md claim that streaming state is the windowed aggregate
    and nothing more.

    The checkpoint lives in a /tmp-scoped run dir kept for the returned
    lazy plan, like the other roundtrip queries.
    """
    run_dir = scratch_dir("aggstate")
    checkpoint = os.path.join(run_dir, "ckpt")
    agg = (
        read_file_stream(spark, sf_dir, "events.parquet")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            cents_sum(F.col("value")).alias("cents"),
            F.count("*").alias("n_purchases"),
        )
    )
    name = f"agg_state_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(checkpoint)
    return state.select(
        F.col("key._groupingexpression").alias("hour"),
        (F.col("value.sum").cast("double") / 100).alias("revenue"),
        F.col("value.count").alias("n_purchases"),
    )


from e_commerce_streaming_datapipeline_spark.operators.statistics import (  # noqa: E402
    _PSI_BIN_W,
    PSI_DRIFT_ORACLE as _PSI_ORACLE,
    psi_from_bin_counts,
)


# shares the batch twin's oracle: the streaming monitor must hash-match it
@query("psi_drift_stream", oracle=_PSI_ORACLE)
def q_psi_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI input-drift monitor maintained BY a streaming aggregation —
    how drift detection actually deploys: the reference window's bin masses
    are fixed up front, the live feed streams through a stateful (bin,
    half) count whose state is the histogram itself (≤ #bins × 2 longs —
    bounded key space by construction, the CMS/bitmap/histogram mergeable-
    state family), and PSI finalization reuses the batch extractor over
    the collected bin relation.  Output hash-matches the batch
    `psi_value_drift` (shared oracle): the streaming histogram lost
    nothing crossing micro-batches.

    The time split lands per-event against a plan-time midpoint literal
    (computed from one bounded 1-row batch aggregate before the stream
    starts — the documented plan-time-pruning collect pattern); in
    production that constant is simply "today's date", and the reference
    half is yesterday's already-aggregated bin table."""
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

    batch = load_table(spark, "events", sf_dir).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # bounded collect: ONE row, the split point (plan-time literal)
    mid_us = batch.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) DIV 2").alias("m")
    ).collect()[0][0]

    stream = read_file_stream(spark, sf_dir).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    keyed = stream.select(
        F.floor(F.col("value") / _PSI_BIN_W).cast("long").alias("bin"),
        F.when(F.unix_micros(F.col("ts")) < F.lit(mid_us), F.lit(0))
        .otherwise(F.lit(1))
        .alias("half"),
    )
    cells_stream = keyed.groupBy("bin", "half").count()
    collected = run_stream(spark, cells_stream, "psi_stream", output_mode="update")
    # update-mode memory sink logs every per-batch revision; counts only
    # grow, so the final cell value is the max observed per (bin, half)
    cells = collected.groupBy("bin", "half").agg(F.max("count").alias("c"))
    counts = cells.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, F.col("c")).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(0)).alias("c_cur"),
    )
    return psi_from_bin_counts(counts)


@query(
    "leaderboard_stream",
    oracle="""
WITH totals AS (
    SELECT user_id,
           CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL
    GROUP BY 1
)
SELECT user_id, cents,
       cents / 100.0 AS revenue,
       CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY cents DESC, user_id) AS rn
    FROM totals
)
WHERE rn <= 10
""",
)
def q_leaderboard_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A live top-10 revenue leaderboard maintained BY the stream — the
    one query shape that is legal ONLY in complete output mode: Structured
    Streaming forbids sorting in append/update (rows could still move),
    but a complete-mode aggregation re-emits the whole result per
    micro-batch, so `.orderBy().limit(10)` runs INSIDE the streaming
    query and the memory sink always holds the current board.  This is
    the mode the reference's dashboard queries actually wanted
    (src/consumers/stream_processor.py writes full refreshes).

    State/scale: per-user running totals (key-bounded state, the
    CMS/bitmap/PSI family) plus a 10-row sort per micro-batch — the sort
    input is the aggregated relation, never raw events.  Hash-checked
    against the batch top-10 (streaming-vs-batch equivalence)."""
    from pyspark.sql import functions as F

    stream = read_file_stream(spark, sf_dir).where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    value_cents = F.coalesce(cents(F.col("value")), F.lit(0))
    totals = stream.groupBy("user_id").agg(F.sum(value_cents).alias("cents"))
    board = totals.orderBy(F.col("cents").desc(), "user_id").limit(10)
    collected = run_stream(spark, board, "leaderboard_stream")
    w = Window.orderBy(F.col("cents").desc(), "user_id")
    return collected.select(
        "user_id",
        "cents",
        # revenue = ONE exact IEEE division of the exact long cents —
        # deliberately no round() on either engine (the r5 driver witness
        # was red with rounded revenue; a bare division is bit-identical
        # under every engine version's rounding implementation)
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


# --------------------------------------------------------------------------
# Streaming PQ encoder: index maintenance as a stream
# --------------------------------------------------------------------------

from e_commerce_streaming_datapipeline_spark.operators.similarity import (  # noqa: E402
    _PQ_TRAIN_CTES,
)


@query(
    "pq_encode_stream",
    oracle=f"""
WITH {_PQ_TRAIN_CTES}
SELECT sub, lab2 AS code, CAST(count(*) AS BIGINT) AS n_vectors,
       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
FROM assign2
GROUP BY 1, 2
""",
)
def q_pq_encode_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index MAINTENANCE as a stream: vectors arrive on the file-stream
    source, are encoded against a codebook trained batch-side (the exact
    `embedding_topk_pq` codebook — shared helper, shared oracle CTEs), and
    the query maintains the per-(subspace, codeword) census of the encoded
    index — the bookkeeping a production vector store runs on its ingest
    path (cell occupancy drives codebook-retraining and rebalancing
    decisions).

    The codebook rides INTO the stream as a 32-row literal (collected from
    the batch trainer — bounded by K×M, never by data): assignment is then
    a pure row-local expression — `transform` over the codeword array,
    exact-integer Σ(x−c)² per candidate, `array_min` over (distance, code)
    structs for the tie-broken argmin — so encoding needs NO join and NO
    shuffle; the only stateful stage is the 32-group complete-mode count
    (state bounded by the codebook, not the stream).

    Hash-checked against the DuckDB oracle running the full shared
    training + assignment CTEs (`similarity._PQ_TRAIN_CTES`) — i.e. the
    stream's literal-codebook argmin provably equals the batch engine's
    join-based argmin on every vector."""
    from e_commerce_streaming_datapipeline_spark.operators.similarity import (
        _PQ_M,
        _PQ_SUBDIM,
        pq_subvectors,
        pq_train_codebook,
    )
    from e_commerce_streaming_datapipeline_spark.sources.batch import (
        load_valid_embeddings,
    )

    # batch-side training; collect is K*M = 32 rows regardless of corpus
    cents = (
        pq_train_codebook(pq_subvectors(load_valid_embeddings(spark, sf_dir)))
        .orderBy("sub", "lab")
        .collect()
    )
    by_sub: dict[int, list] = {}
    for r in cents:
        by_sub.setdefault(int(r["sub"]), []).append(
            (int(r["lab"]), [int(c) for c in r["c_arr"]])
        )
    codebook = F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(lab).cast("long").alias("lab"),
                        F.array(*[F.lit(c).cast("long") for c in c_arr]).alias(
                            "c_arr"
                        ),
                    )
                    for lab, c_arr in sorted(by_sub.get(s, []))
                ]
            )
            for s in range(_PQ_M)
        ]
    )

    stream = read_file_stream(spark, sf_dir, "embeddings.parquet").where(
        F.col("embedding").isNotNull() & (F.size("embedding") == _PQ_SUBDIM * _PQ_M)
    )
    subv = pq_subvectors(stream)
    cands = F.element_at(codebook, (F.col("sub") + 1).cast("int"))
    scored = F.transform(
        cands,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("sv"), c["c_arr"], lambda x, cc: (x - cc) * (x - cc)
                ),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).alias("d"),
            c["lab"].alias("lab"),
        ),
    )
    encoded = subv.select(
        "vec_id", "sub", F.array_min(scored)["lab"].alias("code")
    )
    census = encoded.groupBy("sub", "code").agg(
        F.count("*").alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )
    return run_stream(spark, census, "pq_encode_stream")


# --------------------------------------------------------------------------
# v_complete_funnel as ONE streaming query: agg -> agg -> JOIN (multi-
# stateful-operator chaining, Spark 4)
# --------------------------------------------------------------------------

@query(
    "complete_funnel_stream",
    oracle="""
WITH wm AS (
    SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '10 minutes' AS w
    FROM events WHERE ts IS NOT NULL
), f AS (
    SELECT
        date_trunc('hour', ts)                      AS window_start,
        date_trunc('hour', ts) + INTERVAL '1 hour'  AS window_end,
        count(*)                                    AS total_events,
        CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchases
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
), g AS (
    SELECT
        date_trunc('hour', ts) AS window_start,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS gmv,
        count(*)               AS item_count
    FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
    GROUP BY 1
)
SELECT f.window_start, f.window_end, f.total_events, f.purchases,
       g.gmv, g.item_count
FROM f JOIN g USING (window_start), wm
WHERE f.window_end < wm.w
""",
)
def q_complete_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``v_complete_funnel`` (init_metrics.sql:175-209) as
    ONE true streaming query: TWO windowed streaming aggregations (the
    funnel census over all events; the GMV rollup over purchases) JOINED on
    their window inside the same plan — windowed agg → windowed agg → equi
    join is exactly the multi-stateful-operator chaining Spark 4 allows and
    the reference's architecture (4 independent queries re-reading each
    topic, stitched back together in Postgres) could not express.  The
    batch `complete_funnel` is the static twin; `journey_stream_join` is
    the row-level (pre-aggregation) sibling.

    One watermark on the shared source feeds both legs, so the global
    watermark is max(ts) − 10 min over ALL events; append mode emits a
    joined row once the watermark passes the hour's end on both finalized
    sides — the oracle is the batch agg-join restricted to
    ``window_end < floor_ms(max ts) − delay``, hash-checked (scaled-long
    cents, NULL-ts rows dropped explicitly on both sides, NULL values
    skipped by the cents sum in both engines).

    Scale shape: each leg is a standard partial+final windowed hash agg
    (state = #open windows); the join keys are the window structs, so the
    join state holds only FINALIZED agg rows per window — bounded by the
    watermark horizon, evicted as it advances.  No raw event ever reaches
    the join."""
    joined = build_complete_funnel_joined(spark, sf_dir)
    return run_stream(
        spark, joined, "complete_funnel_stream", output_mode="append"
    )


def build_complete_funnel_joined(
    spark: SparkSession,
    src_dir: str,
    filename: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The agg→agg→join streaming plan, factored out so the multi-micro-
    batch replay-equivalence test can drive the same construction over a
    chunked source (``tests/test_streaming.py``)."""
    events = read_file_stream(
        spark, src_dir, filename, max_files_per_trigger
    ).withWatermark("ts", "10 minutes")
    hour = F.window("ts", "1 hour")
    funnel = events.groupBy(hour.alias("w")).agg(
        F.count("*").alias("total_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("purchases"),
    )
    gmv = (
        events.where(F.col("event_type") == "purchase")
        .groupBy(hour.alias("w"))
        .agg(
            (cents_sum(F.col("value")).cast("double") / 100).alias("gmv"),
            F.count("*").alias("item_count"),
        )
    )
    return funnel.join(gmv, "w").select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "total_events",
        "purchases",
        "gmv",
        "item_count",
    )


# --------------------------------------------------------------------------
# DSIR admission ON A STREAM: ingest-time data selection (foreachBatch gate)
# --------------------------------------------------------------------------

@query(
    "dsir_admission_stream",
    oracle="""
WITH hist AS (
    SELECT * FROM documents
    WHERE text IS NOT NULL AND doc_id % 10 <> 0
), toks AS (
    SELECT doc_id,
           source IS NOT DISTINCT FROM 'src1' AS is_tgt,
           unnest(string_split(text, ' ')) AS w
    FROM hist
), vocab AS (
    SELECT w,
           CAST(count_if(is_tgt) AS BIGINT)     AS t_c,
           CAST(count_if(NOT is_tgt) AS BIGINT) AS r_c
    FROM toks WHERE w <> '' GROUP BY w
), totals AS (
    SELECT sum(t_c) AS t_n, sum(r_c) AS r_n, count(*) AS v FROM vocab
), feed AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w
    FROM documents
    WHERE text IS NOT NULL AND doc_id % 10 = 0
      AND source IS DISTINCT FROM 'src1'
), scored AS (
    SELECT f.doc_id,
           count(*) AS n_tokens,
           round(avg(
               ln((vo.t_c + 1) / CAST(totals.t_n + totals.v AS DOUBLE))
             - ln((vo.r_c + 1) / CAST(totals.r_n + totals.v AS DOUBLE))
           ) * 10000) / 10000 AS importance_weight
    FROM feed f JOIN vocab vo ON f.w = vo.w, totals
    WHERE f.w <> ''
    GROUP BY f.doc_id
)
SELECT doc_id, n_tokens, importance_weight
FROM scored WHERE importance_weight > 0
""",
)
def q_dsir_admission_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR AT INGEST: the importance-ratio model is fitted ONCE on the
    historical pool (doc_id % 10 != 0 plays the warehouse), and arriving
    raw-pool documents (doc_id % 10 == 0 plays the live feed) are scored
    per micro-batch inside ``foreachBatch`` — documents more target-like
    than the raw average (weight > 0) are admitted.  The selection tier's
    streaming twin, exactly as `minhash_admission_stream` twins the
    near-dup gate: a STATELESS per-batch decision (each document's verdict
    depends only on itself and the fitted model), sharing
    `dsir_ratio_model`/`dsir_score` with the batch `dsir_importance_sample`
    so the two paths cannot diverge on what the score means.

    Scale shape: the model is vocabulary-sized and fitted offline (two
    hash aggregates); per batch the only work is the batch's tokens joined
    against it (AQE handles head-word skew) plus a batch-local per-doc
    reduce — no streaming state at all, so a Kafka-fed deployment admits
    at ingest throughput.  Admitted documents land in a parquet sink
    table per batch (executor-side append — exactly how a production
    admission gate feeds the curated pool) and the result is read back
    FROM that sink, so nothing row-proportional ever touches the
    driver."""
    from e_commerce_streaming_datapipeline_spark.operators.curation import (
        _dsir_tokens,
        dsir_ratio_model,
    )
    from e_commerce_streaming_datapipeline_spark.sources.batch import load_table
    from e_commerce_streaming_datapipeline_spark.operators.curation import dsir_score

    docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
    vocab, totals = dsir_ratio_model(docs.where(F.col("doc_id") % 10 != 0))
    # the fitted model is reused by EVERY micro-batch: materialize it once
    # (vocabulary-sized) instead of re-aggregating the history per batch
    vocab = round_checkpoint(vocab)
    totals = round_checkpoint(totals)

    sink_dir = scratch_dir("dsir_admit")

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        feed = batch_df.where(
            F.col("text").isNotNull()
            & (F.col("doc_id") % 10 == 0)
            & ~F.col("source").eqNullSafe(F.lit("src1"))
        )
        toks = _dsir_tokens(feed).drop("is_tgt")
        scores = dsir_score(toks, vocab, totals).where(
            F.col("importance_weight") > 0
        )
        # admitted rows append straight into the curated-pool sink table —
        # a distributed write per batch, zero rows on the driver
        scores.select(
            F.col("doc_id").cast("long"),
            F.col("n_tokens").cast("long"),
            F.col("importance_weight").cast("double"),
        ).write.mode("append").parquet(sink_dir)

    stream = read_file_stream(spark, sf_dir, "documents.parquet")
    run_stream(spark, stream, "dsir_admission", output_mode="append", sink=admit)

    if not os.path.isdir(sink_dir):  # no batch admitted anything
        return spark.createDataFrame(
            [], schema="doc_id long, n_tokens long, importance_weight double"
        )
    return spark.read.parquet(sink_dir)


# --------------------------------------------------------------------------
# Per-micro-batch dimension refresh: the time-varying stream-static join
# --------------------------------------------------------------------------

@query(
    "dim_refresh_stream",
    oracle="""
WITH typed AS (
    SELECT
        event_type,
        (day(ts) - 1) // 7                                   AS wk,
        CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)    AS cents
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
), rated AS (
    SELECT event_type, cents,
           100 + 10 * wk + (length(event_type) % 7) AS rate_x100
    FROM typed
)
SELECT
    event_type,
    count(*)                                     AS n_events,
    CAST(sum(cents) AS DOUBLE) / 100             AS revenue,
    CAST(sum(cents * rate_x100) AS DOUBLE) / 10000 AS adjusted_revenue
FROM rated
GROUP BY 1
""",
)
def q_dim_refresh_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join where the static side CHANGES between micro-
    batches — the production "slowly-changing lookup" problem
    (`segment_revenue_stream` is the frozen-dimension sibling): Spark
    resolves a stream-static join's static side ONCE at query start, so a
    dimension that updates mid-stream (fx rates, price books, model
    versions) silently serves stale rows.  The standard fix, demonstrated
    here, is joining inside ``foreachBatch`` where the dimension is
    re-derived per batch — each micro-batch broadcast-joins the CURRENT
    rate table (version = batch ordinal), so later events settle at later
    rates.

    Determinism scaffolding: events are replayed as a week-chunked
    ``sources/streaming.py::append_feed`` replay feed, so each
    micro-batch carries exactly one event-week and the "current dimension
    snapshot" is the rate table versioned by that week — re-derived inside
    the callback per batch, exactly where a production job would re-read
    the live lookup table.  The oracle reconstructs every event's rate
    from its week, so the check also proves no batch was served a stale
    (earlier-week) snapshot; NULL types drop at the inner join on both
    sides.

    Scale: per-batch work is the batch scan + a broadcast hash join
    against a |event-types|-row dimension + one partial aggregate into an
    append-only sink — no stream-stream state at all, and the dimension
    re-read per batch is exactly how production refreshes lookup tables
    without restarting the query.
    """
    run_dir = scratch_dir("dimref")
    feed_dir = os.path.join(run_dir, "feed")
    sink_dir = os.path.join(run_dir, "admitted")
    tbl = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["ts", "event_type", "value"],
    )
    tbl = tbl.filter(pc.is_valid(tbl["ts"]))
    append_feed(feed_dir, split_by_key(tbl, _week_of_month(tbl["ts"])))

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        typed = batch_df.where(F.col("event_type").isNotNull()).select(
            "event_type",
            ((F.dayofmonth("ts") - 1).cast("long") / 7)
            .cast("long")
            .alias("wk"),
            cents(F.coalesce(F.col("value"), F.lit(0.0))).alias("cents"),
        )
        # the CURRENT dimension snapshot for this batch: in production this
        # is a read of the live lookup table; the version key is the
        # batch's event-week (single-valued by the chunking), so the
        # oracle can reconstruct which snapshot served each event
        dim = (
            typed.select("event_type", "wk")
            .distinct()
            .select(
                "event_type",
                "wk",
                (F.lit(100) + F.lit(10) * F.col("wk") + F.length("event_type") % 7)
                .cast("long")
                .alias("rate_x100"),
            )
        )
        (
            typed.join(F.broadcast(dim), ["event_type", "wk"])
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("cents"),
                F.sum(F.col("cents") * F.col("rate_x100")).alias("adj_x100"),
            )
            .write.mode("append")
            .parquet(sink_dir)
        )

    # read_file_stream pins the session tz to UTC: F.dayofmonth above must
    # agree with the oracle's naive day()
    stream = read_file_stream(spark, feed_dir, FEED_GLOB, max_files_per_trigger=1)
    run_stream(spark, stream, "dim_refresh", output_mode="append", sink=enrich)

    per_batch = spark.read.parquet(sink_dir)
    return per_batch.groupBy("event_type").agg(
        F.sum("n_events").alias("n_events"),
        (F.sum("cents").cast("double") / 100).alias("revenue"),
        (F.sum("adj_x100").cast("double") / 10000).alias("adjusted_revenue"),
    )


# ---------------------------------------------------------------------------
# Per-micro-batch column-stats monitor (streaming data-quality telemetry)
# ---------------------------------------------------------------------------

# (column, engine-identical string rendering) — schema_drift_audit's
# discipline: ints/strings verbatim, the double `value` via exact cents
_COLSTATS_COLS = (
    ("user_id", "CAST(user_id AS {S})"),
    ("event_type", "event_type"),
    ("value", "CAST(CAST(round(value * 100) AS BIGINT) AS {S})"),
)


def _colstats_oracle() -> str:
    cells = " UNION ALL ".join(
        f"""SELECT (extract(day FROM ts) - 1) // 7 AS wk,
        '{name}' AS col_name, {expr.format(S="VARCHAR")} AS cell
    FROM events WHERE ts IS NOT NULL"""
        for name, expr in _COLSTATS_COLS
    )
    return f"""
WITH cells AS ({cells}),
m AS (
    SELECT wk, col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN cell IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null
    FROM cells GROUP BY 1, 2
), d AS (
    SELECT wk, col_name, CAST(count(*) AS BIGINT) AS ndv
    FROM (SELECT DISTINCT wk, col_name, cell FROM cells
          WHERE cell IS NOT NULL)
    GROUP BY 1, 2
)
SELECT CAST(m.wk AS BIGINT) AS wk, m.col_name, m.n_rows, m.n_null,
       coalesce(d.ndv, 0) AS ndv
FROM m LEFT JOIN d USING (wk, col_name)
ORDER BY wk, col_name
"""


@query("column_stats_stream", oracle=_colstats_oracle())
def q_column_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch COLUMN-STATS telemetry — `schema_drift_audit`'s
    streaming twin and the monitoring half of a production ingest: every
    micro-batch appends its own per-column row count, null count, and
    exact distinct-value count to a stats sink, so an upstream field going
    dark or collapsing to a constant is visible IN the batch that did it,
    not at the next nightly audit.  Events replay as a week-chunked
    `sources/streaming.py::append_feed` replay feed, so each
    batch is one event-week and the oracle reconstructs every batch's
    stats from the week column — proving the per-batch monitor equals a
    batch recomputation.

    Scale: per-batch work is a 3x column stack of the batch (map-side),
    one (week, col) hash agg and one two-phase distinct — no streaming
    state at all (the sink table IS the state), which is why this pattern
    deploys on any stream without watermark tuning.  The final read
    aggregates the batch-grain sink."""
    run_dir = scratch_dir("colstats")
    feed_dir = os.path.join(run_dir, "feed")
    sink_dir = os.path.join(run_dir, "stats")
    tbl = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["ts", "user_id", "event_type", "value"],
    )
    tbl = tbl.filter(pc.is_valid(tbl["ts"]))
    append_feed(feed_dir, split_by_key(tbl, _week_of_month(tbl["ts"])))

    stack_expr = ", ".join(
        f"'{name}', {expr.format(S='STRING')}" for name, expr in _COLSTATS_COLS
    )

    def monitor(batch_df: DataFrame, batch_id: int) -> None:
        cells = batch_df.select(
            ((F.dayofmonth("ts") - 1).cast("long") / 7).cast("long").alias("wk"),
            F.expr(
                f"stack({len(_COLSTATS_COLS)}, {stack_expr}) AS (col_name, cell)"
            ),
        )
        m = cells.groupBy("wk", "col_name").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("cell").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
        )
        d = (
            cells.where(F.col("cell").isNotNull())
            .select("wk", "col_name", "cell")
            .distinct()
            .groupBy("wk", "col_name")
            .agg(F.count("*").cast("long").alias("ndv"))
        )
        (
            m.join(d, ["wk", "col_name"], "left")
            .select(
                "wk", "col_name", "n_rows", "n_null",
                F.coalesce(F.col("ndv"), F.lit(0)).cast("long").alias("ndv"),
            )
            .write.mode("append")
            .parquet(sink_dir)
        )

    stream = read_file_stream(spark, feed_dir, FEED_GLOB, max_files_per_trigger=1)
    run_stream(spark, stream, "column_stats", output_mode="append", sink=monitor)

    # batches are week-exact by construction, so the sink is already at
    # (wk, col) grain; the max-merge makes a replayed batch idempotent
    return (
        spark.read.parquet(sink_dir)
        .groupBy("wk", "col_name")
        .agg(
            F.max("n_rows").cast("long").alias("n_rows"),
            F.max("n_null").cast("long").alias("n_null"),
            F.max("ndv").cast("long").alias("ndv"),
        )
        .orderBy("wk", "col_name")
    )


@query(
    "golden_record_stream",
    oracle="""
WITH keyed AS (
    SELECT *, date_trunc('hour', ts) AS hour_bucket
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
), sized AS (
    SELECT user_id, event_type, hour_bucket,
           count(*) AS n_dupes,
           max(coalesce(value, 0.0)) AS best_value,
           count(value) AS n_valued,
           count(props) AS n_props
    FROM keyed GROUP BY 1, 2, 3
), survivor AS (
    SELECT user_id, event_type, hour_bucket, event_id AS survivor_event_id
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type, hour_bucket
            ORDER BY epoch_us(ts) DESC,
                     coalesce(value, -1) DESC,
                     coalesce(event_id, 4611686018427387904)
        ) AS rn
        FROM keyed
    ) WHERE rn = 1
)
SELECT
    s.user_id, s.event_type, s.hour_bucket,
    CAST(s.n_dupes AS BIGINT)   AS n_dupes,
    v.survivor_event_id,
    round(s.best_value, 2)      AS best_value,
    CAST(s.n_valued AS BIGINT)  AS n_valued,
    CAST(s.n_props AS BIGINT)   AS n_props
FROM sized s JOIN survivor v USING (user_id, event_type, hour_bucket)
WHERE s.n_dupes >= 2
ORDER BY s.user_id, s.event_type, s.hour_bucket
""",
)
def q_golden_record_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`golden_record_survivorship` maintained ON A STREAM — the MDM store
    that stays canonical as duplicate submissions keep arriving: the
    events fixture replays as a REAL multi-micro-batch stream (per-day
    files, 5 per trigger), each batch folds its rows into per-cluster
    PARTIALS (member/field-completeness tallies plus the survivor as an
    argmax STRUCT key), partials append to a store with their batch id,
    and the final read merges partials across batches — counts add, the
    best-value max maxes, and the struct-key max re-elects the survivor.
    Because every piece of the survivorship policy is an associative,
    commutative aggregate (sum / max / max-of-struct), the merged store is
    hash-identical to the BATCH twin's single-pass answer no matter how
    the stream was chunked: cross-batch mergeability is the correctness
    property, proven against the same oracle.

    The struct key encodes the full policy so one max does the election:
    (epoch micros, value with NULL below any real value, NEGATED id with
    the 2^62 NULLS-LAST sentinel) — the max of that triple is exactly
    "latest ts, then highest value, then lowest id, NULL ids last".

    Scale shape: per batch ONE shuffle on the cluster key (batch-sized);
    the store holds cluster-grain partials (bounded by live clusters x
    batches between compactions), and the merge is a cluster-keyed hash
    aggregate over the store — the compaction itself."""
    run_dir = scratch_dir("goldenstream")
    feed_dir = os.path.join(run_dir, "feed")
    store_dir = os.path.join(run_dir, "store")
    # per-day feed chunks so availableNow + maxFilesPerTrigger replays as a
    # genuine multi-batch stream
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    append_feed(feed_dir, split_by_key(tbl, _epoch_days(tbl["ts"])))

    surv_key = F.struct(
        F.unix_micros("ts").alias("us"),
        F.coalesce(F.col("value"), F.lit(-1.0)).alias("vkey"),
        (-F.coalesce(F.col("event_id"), F.lit(4611686018427387904))).alias("negid"),
        F.col("event_id").alias("survivor_event_id"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return (
            df.where(
                F.col("user_id").isNotNull()
                & F.col("event_type").isNotNull()
                & F.col("ts").isNotNull()
            )
            .withColumn("hour_bucket", F.date_trunc("hour", F.col("ts")))
            .groupBy("user_id", "event_type", "hour_bucket")
            .agg(
                F.count("*").alias("n_dupes"),
                F.max(F.coalesce(F.col("value"), F.lit(0.0))).alias("best_value"),
                F.count("value").alias("n_valued"),
                F.count("props").alias("n_props"),
                F.max(surv_key).alias("surv"),
            )
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        partials(batch_df).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(store_dir)

    stream = read_file_stream(spark, feed_dir, FEED_GLOB, max_files_per_trigger=5)
    run_stream(spark, stream, "goldenstream", output_mode="append", sink=fold)
    store = spark.read.parquet(store_dir)
    merged = store.groupBy("user_id", "event_type", "hour_bucket").agg(
        F.sum("n_dupes").cast("long").alias("n_dupes"),
        F.max("best_value").alias("__best_value"),
        F.sum("n_valued").cast("long").alias("n_valued"),
        F.sum("n_props").cast("long").alias("n_props"),
        F.max("surv").alias("surv"),
    )
    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround

    return (
        merged.where(F.col("n_dupes") >= 2)
        .select(
            "user_id",
            "event_type",
            "hour_bucket",
            "n_dupes",
            F.col("surv.survivor_event_id").alias("survivor_event_id"),
            fround(F.col("__best_value"), 2).alias("best_value"),
            "n_valued",
            "n_props",
        )
        .orderBy("user_id", "event_type", "hour_bucket")
    )


# --------------------------------------------------------------------------
# Burst detection maintained on a stream (mergeable arrival-count store)
# --------------------------------------------------------------------------

from e_commerce_streaming_datapipeline_spark.operators.statistics import (  # noqa: E402
    _BURST_ORACLE,
    burst_episodes,
)


@query("burst_detection_stream", oracle=_BURST_ORACLE)
def q_burst_detection_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`event_burst_detection` maintained ON A STREAM — the traffic-surge
    monitor as it actually runs in production: the events fixture replays
    as a REAL multi-micro-batch stream (per-day feed files, 5 per
    trigger), each batch folds its rows into (type, hour) arrival-count
    PARTIALS appended to a store, and the final read merges partials by
    SUM before deriving thresholds and episodes through the SAME helper
    (and the same oracle) as the batch twin.  Because arrival counts are
    associative and commutative, the merged store is hash-identical to
    the batch answer no matter how the stream was chunked — the
    cross-batch mergeability proof, same discipline as
    `golden_record_stream`.  (The threshold itself needs the corpus-wide
    mean, so episode derivation is a read-side view over the store — the
    lambda-style split between cheap streaming partials and an exact
    consumer query.)

    Scale shape: per batch ONE hash aggregate at (type, hour) grain
    (batch-sized); the store holds calendar-bounded partials (hours ×
    batches between compactions); the merge is the compaction."""
    run_dir = scratch_dir("burststream")
    feed_dir = os.path.join(run_dir, "feed")
    store_dir = os.path.join(run_dir, "store")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    tbl = tbl.filter(pc.is_valid(tbl["ts"]))  # NULL-ts rows belong to no day
    append_feed(feed_dir, split_by_key(tbl, _epoch_days(tbl["ts"])))

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.where(
                F.col("ts").isNotNull() & F.col("event_type").isNotNull()
            )
            .groupBy(
                "event_type",
                F.expr("unix_micros(ts) div 3600000000").alias("hour"),
            )
            .agg(F.count("*").alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(store_dir)
        )

    stream = read_file_stream(spark, feed_dir, FEED_GLOB, max_files_per_trigger=5)
    run_stream(spark, stream, "burststream", output_mode="append", sink=fold)
    merged = (
        spark.read.parquet(store_dir)
        .groupBy("event_type", "hour")
        .agg(F.sum("n").alias("n"))
    )
    return burst_episodes(merged)
