"""Streaming processors — the reference's four metric queries
(src/processors/*.py) rebuilt on Structured Streaming with the semantic debt
paid off (SURVEY §2.5, §4):

* **Watermarks applied** (D3): the reference ships
  ``SPARK_WATERMARK_DELAY="10 minutes"`` in .env.example but never calls
  ``withWatermark`` — its dedup and aggregation state grow without bound.
  Here every stateful stage is watermarked, so windowed, session and dedup
  state is evicted; the per-user profile (``streaming_user_stats``) is the
  one keyed-by-user state, one row per distinct user, never evicted.
* **Watermarked dedup** (D1): ``dropDuplicatesWithinWatermark`` instead of
  the reference's unbounded ``dropDuplicates`` (stream_processor.py:138-139),
  and applied ONCE — the reference deduplicates a second time inside every
  processor, doubling state for nothing.
* **One source, many aggregations** (§4 inefficiency 1): the reference runs
  four independent StreamingQueries that each re-read and re-parse the same
  topics (orders parsed 3x).  ``sinks.fan_out_sink`` reads the stream once
  and fans out inside a single ``foreachBatch``.
* Session windows (D2 extension): ``F.session_window`` — the natural
  operator the reference's sliding windows approximate.
* Native stateful operators first, as the reference's processors are plain
  groupBy-aggregations: state is engine-managed, with no per-group callback
  into a Python worker.  Drop-off CEP (``streaming_cart_abandonment``) is a
  watermarked left-outer stream-stream join; ``applyInPandasWithState``
  carries only the CEP shape no native chain reproduces exactly
  (``streaming_funnel_completion``).

At 100 TB/day these queries run with the RocksDB state store (set in
session.py), watermark-bounded state, and shuffle partitions sized to the
key cardinality — all config, same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import cents_sum, fround
from e_commerce_streaming_datapipeline_spark.functions.windows import safe_rate

WATERMARK_DELAY = "10 minutes"  # honoring the reference's orphaned config


def _ensure_watermark(df: DataFrame, delay: str = WATERMARK_DELAY) -> DataFrame:
    """Watermark ``ts`` unless the caller already did.  Spark 4 makes
    redefining a watermark a runtime error, so the windowed processors can't
    blindly re-apply one when composed after ``with_event_time_discipline``
    (or any caller-side ``withWatermark``); and silently skipping it would
    recreate the reference's unbounded-state D3 bug for direct callers.
    Batch twins pass through untouched — ``withWatermark`` is eliminated in
    batch plans anyway."""
    if not df.isStreaming:
        return df
    if "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString():
        return df
    return df.withWatermark("ts", delay)


def with_event_time_discipline(events: DataFrame) -> DataFrame:
    """Watermark + watermarked dedup — the ingest-stage state hygiene the
    reference skipped.  Windows downstream are on true event time, not the
    reference's kafka ingest time (stream_processor.py:130-133 aliases
    kafka_timestamp; SURVEY §1.3 flags the divergence).

    NULL-event-time policy (same as the batch window helpers): a row with
    no event time cannot be watermarked or windowed — the engine drops it
    EXPLICITLY at the ingest stage instead of letting each downstream
    stateful operator drop it silently (the oracles mirror with
    ``WHERE ts IS NOT NULL``)."""
    return (
        events.where(F.col("ts").isNotNull())
        .withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def streaming_gmv(events: DataFrame, duration: str = "1 minute") -> DataFrame:
    """A2 on a stream: tumbling-window GMV — the aggregate expressions are
    SHARED with the batch twin (operators/gmv.py::gmv_aggs) minus the
    streaming-unsupported count_distinct, so the hash-checked batch/stream
    equivalence cannot drift from a one-sided edit.

    Watermarked so window state is evicted once the watermark passes a
    window's end — without it every window ever seen stays in the state
    store forever in update/append deployments (the reference's exact D3
    omission).  availableNow single-batch runs are unaffected: the watermark
    only advances between micro-batches."""
    from e_commerce_streaming_datapipeline_spark.operators.gmv import gmv_aggs

    purchases = _ensure_watermark(events).where(F.col("event_type") == "purchase")
    w = F.window(F.col("ts"), duration).alias("w")
    return (
        purchases.groupBy(w)
        .agg(*gmv_aggs(include_distinct=False))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"),
                "gmv", "item_count",
                "avg_item_price", "max_item_price", "min_item_price")
    )


def streaming_unique_buyers(events: DataFrame, duration: str = "1 minute") -> DataFrame:
    """Exact distinct users per window on a stream: dropDuplicates on the
    (window, user) pair, then a plain count — two stateful stages instead of
    the unsupported streaming count_distinct.

    Watermarked: the dedup key contains the event-time window, so both the
    dedup state and the downstream window state are evicted once the
    watermark passes the window — without the watermark the (window, user)
    dedup state grows one row per pair forever.

    NULL user_ids are excluded: dropDuplicates keeps NULL as its own group
    and count(*) would tally it as a buyer, where COUNT(DISTINCT user_id)
    — the batch semantics this stream twins — skips NULLs (r8 edge pin)."""
    purchases = _ensure_watermark(events).where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    w = F.window(F.col("ts"), duration).alias("w")
    return (
        purchases.select(w, "user_id")
        .dropDuplicates(["w", "user_id"])
        .groupBy("w")
        .agg(F.count("*").alias("unique_buyers"))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"),
                "unique_buyers")
    )


def streaming_funnel(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """A1 on a stream: stage counts + rates per window.  The stage counts and
    the click rate are SHARED with the batch twin
    (operators/funnel.py::funnel_metrics), as ``streaming_gmv`` shares
    ``gmv_aggs``.  Watermarked so per-window state is evicted in
    update/append deployments."""
    from e_commerce_streaming_datapipeline_spark.operators.funnel import _stage

    agg = (
        _ensure_watermark(events)
        .groupBy(F.window(F.col("ts"), duration).alias("w"))
        .agg(
            F.count("*").alias("total_events"),
            _stage("view").alias("views"),
            _stage("click").alias("clicks"),
            _stage("signup").alias("signups"),
            _stage("purchase").alias("purchases"),
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "total_events", "views", "clicks", "signups", "purchases",
        safe_rate(F.col("clicks"), F.col("views")).alias("click_rate"),
    )


def streaming_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user — the stateful operator the reference's
    sliding windows stand in for.  State bounded by the watermark.

    ``session_window``'s end bound is last-event-time + gap; subtract the gap
    so ``session_end`` means "last event in the session", matching the batch
    gaps-and-islands definition (operators/analytics.py::q_user_sessions).

    Watermarked: a session closes (and its state is dropped) once the
    watermark passes its gap-extended end — the eviction session windows
    need to be usable outside complete mode at all.
    """
    return (
        _ensure_watermark(events)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr(f"INTERVAL {gap}")).alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def streaming_gmv_cascade(events: DataFrame) -> DataFrame:
    """CHAINED stateful aggregation in one streaming query (Spark's
    multi-stateful-operator support): purchases roll up to minutely GMV,
    and the minute windows roll up again to hourly via ``window_time`` —
    the streaming form of the cascaded-rollup pattern (pre-aggregate at
    fine grain once, re-aggregate coarser grains from the fine one instead
    of re-reading the source).

    Both stages share one watermark; an hourly row is emitted (append mode)
    only once the watermark passes its window end, at which point every
    constituent minute window is final by construction.  At scale the
    minutely state is the only stream-sized state; hourly state is
    #hours rows.
    """
    # money rides the cascade as scaled-long CENTS: minute subtotals and the
    # hourly re-add are exact integer sums, so re-aggregation order cannot
    # drift a half-cent against the flat-sum oracle — the same property that
    # makes the batch q_cascaded_rollup safe (analytics.py)
    minutely = (
        _ensure_watermark(events.where(F.col("event_type") == "purchase"))
        .groupBy(F.window("ts", "1 minute").alias("w1"))
        .agg(
            cents_sum(F.coalesce("value", F.lit(0.0))).alias("m_cents"),
            F.count("*").alias("m_n"),
        )
    )
    hourly = (
        minutely.groupBy(F.window(F.window_time("w1"), "1 hour").alias("w2"))
        .agg(
            F.sum("m_cents").alias("cents"),
            F.sum("m_n").alias("n_purchases"),
            F.count("*").alias("n_active_minutes"),
        )
    )
    return hourly.select(
        F.col("w2.start").alias("window_start"),
        F.col("w2.end").alias("window_end"),
        (F.col("cents").cast("double") / 100).alias("gmv"),
        "n_purchases",
        "n_active_minutes",
    )


def streaming_cart_abandonment(
    events: DataFrame, timeout_minutes: int = 30
) -> DataFrame:
    """TRUE drop-off detection — the honest version of the reference's
    drop-off processor (src/processors/dropoff_processor.py:30-70, which
    proxies "drop-off" from order_status value counts alone) — as a native
    watermarked LEFT OUTER stream-stream join.

    Semantics: a ``view`` is abandoned iff NO ``purchase`` by the same user
    lands in [view_ts, view_ts + 30 min].  The view leg joins the purchase
    leg on user and ``view_ts <= p_ts <= view_ts + 30 min``; a view with no
    match is emitted with a null purchase side, i.e. as an abandonment.

    Emission rule: Spark evicts a buffered view, emitting its null row, once
    the watermark STRICTLY passes ``view_ts + 30 min`` — only then can no
    covering purchase still arrive.  Spark tracks event time in
    milliseconds, so the bound is floor_ms(max event time) - delay: the
    oracle's ``v.ts + INTERVAL '30 minutes' < wm.w`` with
    ``wm.w = date_trunc('milliseconds', max(ts)) - delay``.

    One watermark: both legs are split from ONE watermarked view+purchase
    stream, so the join's global watermark is that stream's watermark —
    the oracle's single ``max(ts)`` over views and purchases.  Two
    separately watermarked reads (the ``_stream_leg`` pattern) would give
    the minimum of the two legs' watermarks, and the result moves.

    State stays bounded: a view is held until its deadline passes the
    watermark, a purchase until the watermark passes it (a later view it
    could cover would be too late to accept).  So a late view, arriving in
    a later micro-batch within the allowed lateness, is still checked
    against purchases from earlier batches, and vice versa.

    NULL-user rows are nobody's cart session: they are dropped before the
    watermark, as the oracle drops them from its views and its watermark
    (r9 edge pin).
    """
    timeout = F.expr(f"INTERVAL {timeout_minutes} MINUTES")
    stream = _ensure_watermark(
        events.where(
            F.col("event_type").isin("view", "purchase") & F.col("user_id").isNotNull()
        )
    )
    views = stream.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"), F.col("ts").alias("view_ts")
    )
    purchases = stream.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    return (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("view_ts"))
            & (F.col("p_ts") <= F.col("view_ts") + timeout),
            "left_outer",
        )
        .where(F.col("p_ts").isNull())
        .select("user_id", "view_event_id", "view_ts",
                (F.col("view_ts") + timeout).alias("abandoned_at"))
    )


def streaming_funnel_completion(events: DataFrame) -> DataFrame:
    """Ordered-sequence CEP: emit (user, first_view, first_qualifying_click,
    first_qualifying_purchase) once a user completes view -> click ->
    purchase IN ORDER — the sequential-funnel semantics of the batch
    ``ordered_funnel``, detected incrementally on the stream.

    Correctness under out-of-order arrival (the part a naive running state
    machine gets wrong): fold registers only advance over WATERMARK-FINALIZED
    events.  Events at or above the watermark stay buffered in state; each
    invocation merges buffer + new rows, sorts by (ts, view<click<purchase),
    and folds exactly the prefix the watermark has made immutable.  A late
    view/click (within allowed lateness) therefore still lands in its correct
    sequence position before the fold consumes it — the emitted triple is
    bit-identical to the batch chain over ``ts < final watermark``, which is
    what the oracle replays.  Beyond-lateness stragglers are the standard
    watermark forfeit.

    State per user = 2 fold registers + the buffer of not-yet-final events —
    bounded by the watermark horizon, not stream history.  Completion does
    NOT remove the state: it flips a DONE marker (tv = -2), because removing
    it would let a user who completes a SECOND view->click->purchase sequence
    rebuild state from scratch and fire a duplicate append-mode row.  The
    marker is one tuple per completed user, evicted by an event-time TTL
    (24 h past the firing watermark); a user who re-completes after the TTL
    is the standard bounded-state forfeit, same class as watermark lateness.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _KIND = {"view": 0, "click": 1, "purchase": 2}
    _DONE = -2  # tv register sentinel: funnel already fired for this user
    _DONE_TTL_MS = 24 * 3600 * 1000
    out_schema = (
        "user_id long, first_view timestamp, first_click timestamp, "
        "purchase_ts timestamp"
    )
    # tv/tc registers use -1 as "not reached yet"
    state_schema = "tv long, tc long, pend_ts array<long>, pend_kind array<int>"

    def detect(key, pdf_iter, state: GroupState):
        tv, tc = -1, -1
        pend: list[tuple[int, int]] = []  # (ts_us, kind)
        if state.exists:
            tv, tc, tss, kinds = state.get
            pend = list(zip(tss, kinds))
        wm_us = state.getCurrentWatermarkMs() * 1000
        if tv == _DONE:
            if state.hasTimedOut:
                state.remove()  # done-marker TTL expired
                return
            for _ in pdf_iter:  # drain: the funnel fires once per user
                pass
            state.update((_DONE, _DONE, [], []))
            state.setTimeoutTimestamp(wm_us // 1000 + _DONE_TTL_MS)
            return
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                for ts, et in zip(pdf["ts"], pdf["event_type"]):
                    pend.append((int(ts.value // 1000), _KIND[et]))
        pend.sort()
        fold, pend = [p for p in pend if p[0] < wm_us], [p for p in pend if p[0] >= wm_us]
        tp = -1
        for ts_us, kind in fold:
            if kind == 0 and tv < 0:
                tv = ts_us
            elif kind == 1 and tc < 0 and 0 <= tv <= ts_us:
                tc = ts_us
            elif kind == 2 and 0 <= tc <= ts_us:
                tp = ts_us
                break
        if tp >= 0:
            # fires once; keep a DONE marker so a later second sequence
            # cannot rebuild state and emit a duplicate row
            state.update((_DONE, _DONE, [], []))
            state.setTimeoutTimestamp(wm_us // 1000 + _DONE_TTL_MS)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "first_view": [pd.Timestamp(tv, unit="us")],
                    "first_click": [pd.Timestamp(tc, unit="us")],
                    "purchase_ts": [pd.Timestamp(tp, unit="us")],
                }
            )
            return
        state.update((tv, tc, [p[0] for p in pend], [p[1] for p in pend]))
        if pend:
            # wake when the watermark can finalize the earliest buffered event
            state.setTimeoutTimestamp(max(pend[0][0] // 1000 + 1, wm_us // 1000 + 1))

    return (
        _ensure_watermark(
            events.where(F.col("event_type").isin("view", "click", "purchase"))
            .select("user_id", "ts", "event_type")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            detect,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running profile (event count, total spend, purchase count,
    last-seen timestamp) as a native update-mode aggregation: engine-managed
    state, no per-group callback into a Python worker.  Emits the current
    profile of every user the micro-batch touched.

    Eviction contract: state is one row per distinct user and is never
    idle-evicted — the watermark only drops late input, and a plain
    ``groupBy`` key carries no event-time bound to evict on.  At Olist's ~99k
    customers that is small, and the RocksDB state store (session.py) holds
    it at 100 TB.  In exchange the profile equals the batch ``GROUP BY``
    exactly, whatever the trigger timing: a user idle for hours keeps their
    counters.  The money total is ``fround`` over the summed raw values, the
    same expression as the oracle's ``round(sum(coalesce(value, 0.0)), 2)``.
    """
    return (
        _ensure_watermark(events)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("total_value"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
            F.max("ts").alias("last_seen"),
        )
    )
