"""Streaming layer tests: streaming-vs-batch equivalence (SURVEY §7 Phase 2's
correctness property), watermarked dedup, and sink idempotence."""

from __future__ import annotations

import os
import tempfile
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.operators.gmv import gmv_tumbling
from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import run_stream
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table
from e_commerce_streaming_datapipeline_spark.sources.streaming import (
    FEED_GLOB,
    append_feed,
    read_file_stream,
)
from e_commerce_streaming_datapipeline_spark.streaming.processors import (
    streaming_gmv,
    streaming_sessions,
    with_event_time_discipline,
)
from e_commerce_streaming_datapipeline_spark.streaming.sinks import idempotent_parquet_sink


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_streaming_gmv_equals_batch(spark, sf_dir):
    stream = streaming_gmv(read_file_stream(spark, sf_dir), "1 minute")
    got = run_stream(spark, stream, "t")

    batch_events = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    expected = gmv_tumbling(batch_events, "1 minute").drop("unique_buyers")
    assert sorted(_rows(got, "window_start")) == sorted(_rows(expected, "window_start"))


def test_streaming_sessions_match_gaps_and_islands(spark, sf_dir):
    """session_window on a stream produces the same (user, start, end, count)
    sessions as the batch gaps-and-islands plan."""
    got = run_stream(
        spark, streaming_sessions(read_file_stream(spark, sf_dir), "30 minutes"), "t"
    )
    from e_commerce_streaming_datapipeline_spark.operators.analytics import q_user_sessions

    batch = q_user_sessions(spark, sf_dir).select(
        "user_id", "session_start", "session_end", "n_events", "session_value"
    )
    got_sel = got.select("user_id", "session_start", "session_end", "n_events", "session_value")
    assert sorted(map(tuple, got_sel.collect())) == sorted(map(tuple, batch.collect()))


def test_watermarked_dedup_drops_duplicates(spark, sf_dir):
    """with_event_time_discipline: duplicated input stream -> unique event_ids
    out (the reference's D1 dedup with bounded state)."""
    base = read_file_stream(spark, sf_dir)
    doubled = base.union(base)  # every event twice
    deduped = with_event_time_discipline(doubled).select("event_id")
    # distinct aggregation isn't allowed on a stream — land rows in a memory
    # sink (append mode) and assert in batch
    got = run_stream(spark, deduped, "t", output_mode="append")
    distinct_expected = load_table(spark, "events", sf_dir).select("event_id").distinct().count()
    assert got.count() == distinct_expected
    assert got.distinct().count() == distinct_expected


def test_idempotent_sink_converges(spark, sf_dir):
    """Re-writing the same micro-batch must not duplicate rows (the
    reference's append+swallow gives duplicates without UNIQUE constraints)."""
    out = os.path.join(tempfile.mkdtemp(prefix="e_commerce_streaming_datapipeline_sink_"), "metrics")
    batch = gmv_tumbling(
        load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase"),
        "1 hour",
    )
    sink = idempotent_parquet_sink(out)
    sink(batch, 0)
    once = spark.read.parquet(out).count()
    sink(batch, 1)  # replay the same windows — e.g. after a restart
    twice = spark.read.parquet(out).count()
    assert once == twice == batch.count()


def test_parquet_sink_runs_one_job_per_micro_batch(spark, sf_dir, tmp_path):
    """The sink is ONE write action per micro-batch, for data and no-data
    batches alike: the write itself runs the stateful plan (state-store
    load, update, commit), with no emptiness probe before it and no cached
    copy of the batch left behind."""
    import pyarrow.parquet as pq

    from tests.conftest import sync_status_store

    in_dir = str(tmp_path / "in")
    table = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    cuts = [table.num_rows * i // 3 for i in range(4)]
    append_feed(in_dir, [table.slice(cuts[i], cuts[i + 1] - cuts[i]) for i in range(3)])

    sc = spark.sparkContext
    sink = idempotent_parquet_sink(str(tmp_path / "out"))
    groups, cached = {}, {}

    def counted(batch_df, batch_id):
        # the sink's jobs run on the stream thread: tag them per batch,
        # then hand the thread its own job group (the run id) back
        prev = sc.getLocalProperty("spark.jobGroup.id")
        groups[batch_id] = f"sink-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", groups[batch_id])
        try:
            sink(batch_df, batch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        lvl = batch_df.storageLevel
        cached[batch_id] = lvl.useMemory or lvl.useDisk

    events = read_file_stream(spark, in_dir, FEED_GLOB, max_files_per_trigger=1)
    q = (
        streaming_gmv(events, "1 hour")
        .writeStream.foreachBatch(counted)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    input_rows = {p["batchId"]: p["numInputRows"] for p in q.recentProgress}
    sync_status_store(sc)
    jobs = {
        b: len(sc.statusTracker().getJobIdsForGroup(g)) for b, g in groups.items()
    }

    assert sorted(jobs) == sorted(input_rows)
    assert 0 in input_rows.values() and any(input_rows.values()), (
        f"need data and no-data batches: {input_rows}"
    )
    assert jobs == {b: 1 for b in input_rows}, f"jobs per batch {jobs}, rows {input_rows}"
    assert not any(cached.values()), "the sink left the batch persisted"


def test_parquet_sink_empty_batch_is_a_no_op(spark, tmp_path):
    """No emptiness probe guards the write: an empty batch after a
    non-empty one leaves every partition and row as it was, and an empty
    FIRST batch leaves an empty output directory."""
    import datetime

    schema = "window_start timestamp, window_end timestamp, gmv double"
    day = datetime.datetime(2024, 1, 15)
    rows = [
        (day + datetime.timedelta(hours=h), day + datetime.timedelta(hours=h + 1), h * 1.5)
        for h in range(3)
    ]

    def listing(path):
        return sorted(p.name for p in path.iterdir() if not p.name.startswith("."))

    def contents(path):
        return sorted(map(tuple, spark.read.parquet(str(path)).collect()))

    out = tmp_path / "metrics"
    sink = idempotent_parquet_sink(str(out))
    sink(spark.createDataFrame(rows, schema), 0)
    parts, before = listing(out), contents(out)
    assert len(parts) == len(before) == 3
    sink(spark.createDataFrame([], schema), 1)
    assert listing(out) == parts
    assert contents(out) == before

    fresh = tmp_path / "fresh"
    idempotent_parquet_sink(str(fresh))(spark.createDataFrame([], schema), 0)
    assert list(fresh.iterdir()) == []


def _batch_user_profiles(events):
    """The batch GROUP BY every per-user stream profile must equal."""
    from e_commerce_streaming_datapipeline_spark.functions.rounding import fround

    return {
        r["user_id"]: tuple(r)
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            fround(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("total_value"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
            F.max("ts").alias("last_seen"),
        )
        .collect()
    }


def test_custom_stateful_user_stats_matches_batch(spark, sf_dir):
    """Streaming per-user profiles equal the batch GROUP BY exactly."""
    from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import q_user_stats_stream

    got = {r["user_id"]: tuple(r) for r in q_user_stats_stream(spark, sf_dir).collect()}
    assert got == _batch_user_profiles(load_table(spark, "events", sf_dir))


def test_user_stats_profile_survives_idle_gaps_across_batches(spark, sf_dir, tmp_path):
    """The profile is never idle-evicted: the events fixture replayed as
    time-sorted files, one per micro-batch, with users idle for more than
    an hour of event time across whole batches, still ends at the batch
    GROUP BY.  A profile that reset a user's counters after an idle hour
    would depend on when triggers fire."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from e_commerce_streaming_datapipeline_spark.streaming.processors import streaming_user_stats

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    tbl = tbl.take(pc.sort_indices(tbl, [("ts", "ascending")]))
    n_chunks = 20
    per = -(-tbl.num_rows // n_chunks)
    chunk_dir = str(tmp_path / "user_chunks")
    parts = [tbl.slice(c * per, per) for c in range(n_chunks)]
    append_feed(chunk_dir, parts)
    chunks = [part.select(["user_id", "ts"]).to_pandas() for part in parts]

    # precondition: some user sits out a whole batch and is idle for more
    # than an hour of event time across it
    last_seen, idle = {}, False
    for part in chunks:
        present = set(part["user_id"])
        batch_end = part["ts"].max()
        idle |= any(
            u not in present and batch_end - t > pd.Timedelta(hours=1)
            for u, t in last_seen.items()
        )
        last_seen.update(part.groupby("user_id")["ts"].max().to_dict())
    assert idle, "no user is idle for more than an hour across a batch"

    stream = read_file_stream(spark, chunk_dir, FEED_GLOB, max_files_per_trigger=1)
    name = f"t_{uuid.uuid4().hex[:10]}"
    q = (
        streaming_user_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == n_chunks
    # update mode logs every revision; the latest has the largest count
    latest = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value", "n_purchases", "last_seen")).alias("p"))
        .select("user_id", "p.*")
    )
    got = {r["user_id"]: tuple(r) for r in latest.collect()}
    assert got == _batch_user_profiles(load_table(spark, "events", sf_dir))


def test_user_stats_plan_has_no_python_state_operator(spark, sf_dir):
    """The per-user profile runs as a native stateful aggregation: no
    pandas state operator and no Python worker in its executed plan."""
    from e_commerce_streaming_datapipeline_spark.streaming.processors import streaming_user_stats

    q = (
        streaming_user_stats(read_file_stream(spark, sf_dir))
        .writeStream.format("noop")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    assert "StateStoreSave" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan


def test_checkpoint_restart_resumes_without_reprocessing(spark, sf_dir, tmp_path):
    """Full restart-from-checkpoint lifecycle over a file source: run 1
    processes the first half of the input; the query is stopped; new files
    arrive; run 2 (same checkpoint) must process ONLY the new files — the
    offset log, state store, and idempotent sink together must converge the
    output table to exactly the batch answer, and a third restart with no
    new data must be a no-op.  This is the recovery story the reference
    configures (checkpointLocation, spark_config.py:36-39) but never
    exercises."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # split the fixture by day (the sink partitions per exact window, so any
    # split converges now; a day split additionally pins that run 2 never
    # rewrites run 1's windows — numInputRows stays assertable per run)
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    cutoff = pa.scalar(
        datetime.datetime(2024, 1, 15), type=table.schema.field("ts").type
    )
    first = table.filter(pc.less(table["ts"], cutoff))
    second = table.filter(pc.greater_equal(table["ts"], cutoff))
    assert first.num_rows > 0 and second.num_rows > 0
    append_feed(in_dir, [first])

    def run_once():
        stream = read_file_stream(spark, in_dir, FEED_GLOB)
        q = (
            streaming_gmv(stream, "1 hour")
            .writeStream.foreachBatch(idempotent_parquet_sink(out))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in (q.recentProgress or []))

    assert run_once() == first.num_rows

    append_feed(in_dir, [second])
    assert run_once() == second.num_rows  # only the NEW file is read

    expect = {
        tuple(r)
        for r in streaming_gmv(load_table(spark, "events", sf_dir), "1 hour").collect()
    }
    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .drop("window_part")
        .select("window_start", "window_end", "gmv", "item_count",
                "avg_item_price", "max_item_price", "min_item_price")
        .collect()
    }
    assert got == expect

    assert run_once() == 0  # third restart: checkpoint says nothing new
    got_again = {tuple(r) for r in spark.read.parquet(out).drop("window_part")
                 .select("window_start", "window_end", "gmv", "item_count",
                         "avg_item_price", "max_item_price", "min_item_price").collect()}
    assert got_again == expect

def test_watermark_bounds_state_and_append_emits_once(spark, sf_dir, tmp_path):
    """The D3 contract that IS guaranteed (and that the reference's missing
    watermark forfeits, stream_processor.py:135): windowed-agg state is
    EVICTED once the watermark passes a window, so state size tracks open
    windows, not stream history; and append mode emits each window at most
    once.  (The late-row input drop itself is documented best-effort —
    Spark 4 admits stragglers and immediately finalizes them — so this
    pins eviction + exactly-once emission, not the drop.)"""
    import datetime

    events = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cut = events.agg(F.min("ts")).collect()[0][0] + datetime.timedelta(days=3)
    on_time = events.where(F.col("ts") >= cut)
    late = events.where(F.col("ts") < cut)
    assert late.count() > 0 and on_time.count() > 0

    # the feed replays the on-time batch, THEN the stragglers
    stream_dir = str(tmp_path / "stream_in")
    append_feed(stream_dir, [on_time.toArrow(), late.toArrow()])
    stream = read_file_stream(spark, stream_dir, FEED_GLOB, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    name = f"t_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name)

    # two micro-batches actually ran (on-time file, then the straggler file)
    batches = {p["batchId"] for p in q.recentProgress}
    assert len(batches) >= 2

    # watermark advanced off the on-time batch before the stragglers arrived
    wm_used = [
        p["eventTime"].get("watermark")
        for p in sorted(q.recentProgress, key=lambda p: p["batchId"])
    ]
    assert wm_used[-1].startswith("2024-01-30"), wm_used

    # EVICTION: final state holds only windows past the watermark (~1), not
    # the stream's full window history (~500) — the reference's unbounded
    # state bug, fixed
    final_state = q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"]
    assert final_state <= 5, f"state not evicted: {final_state} rows"

    # EXACTLY-ONCE EMISSION: append emitted every window at most once
    dupes = got.groupBy("window_start").count().where(F.col("count") > 1).count()
    assert dupes == 0

    # nothing silently lost end-to-end: emitted events + events in windows
    # still open (window end past the final watermark) = all events
    emitted = got.agg(F.sum("n")).collect()[0][0]
    wm = datetime.datetime.fromisoformat(wm_used[-1].replace("Z", ""))
    open_events = events.where(
        F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR") > F.lit(wm)
    ).count()
    assert emitted + open_events == events.count()


def test_metrics_collector_captures_batch_health(spark, sf_dir):
    """The StreamingQueryListener (SURVEY §4's sanctioned custom component)
    must capture per-batch input rows, duration, watermark, and state size
    for a named query — the engine-native replacement for the reference's
    Prometheus servlet + Grafana panels."""
    from e_commerce_streaming_datapipeline_spark.streaming.monitoring import MetricsCollector
    from e_commerce_streaming_datapipeline_spark.streaming.processors import streaming_gmv

    collector = MetricsCollector().attach(spark)
    try:
        events = read_file_stream(spark, sf_dir)
        name = f"metrics_probe_{uuid.uuid4().hex[:8]}"
        q = (
            streaming_gmv(events.withWatermark("ts", "10 minutes"), "1 hour")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener-bus delivery is async; give it a moment
        import time as _time

        for _ in range(40):
            if any(m.query_name == name for m in collector.records):
                break
            _time.sleep(0.25)
        mine = [m for m in collector.records if m.query_name == name]
        assert mine, "listener captured no progress for the query"
        total_rows = sum(m.num_input_rows for m in mine)
        assert total_rows == load_table(spark, "events", sf_dir).count()
        assert all(m.batch_duration_ms >= 0 for m in mine)
        assert any(m.state_rows > 0 for m in mine)  # windowed agg has state
        # a stateful batch reports its phases and state-store timings
        assert any(m.add_batch_ms > 0 for m in mine)
        assert any(m.state_commit_ms > 0 for m in mine)
        assert all(m.trigger_execution_ms >= m.add_batch_ms for m in mine)
        assert any(m.state_store_instances > 0 for m in mine)
        mdf = collector.to_df(spark)
        assert mdf.where(F.col("query_name") == name).count() == len(mine)
    finally:
        collector.detach(spark)


def test_metrics_collector_schema(spark):
    """``to_df`` keeps its original columns first and appends the batch
    phases and state-operator timings."""
    from e_commerce_streaming_datapipeline_spark.streaming.monitoring import MetricsCollector

    schema = MetricsCollector().to_df(spark).schema
    assert [(f.name, f.dataType.simpleString()) for f in schema] == [
        ("query_name", "string"),
        ("batch_id", "bigint"),
        ("num_input_rows", "bigint"),
        ("processed_rows_per_sec", "double"),
        ("batch_duration_ms", "bigint"),
        ("watermark", "string"),
        ("state_rows", "bigint"),
        ("state_memory_bytes", "bigint"),
        ("rows_dropped_by_watermark", "bigint"),
        ("add_batch_ms", "bigint"),
        ("query_planning_ms", "bigint"),
        ("wal_commit_ms", "bigint"),
        ("trigger_execution_ms", "bigint"),
        ("state_commit_ms", "bigint"),
        ("state_all_updates_ms", "bigint"),
        ("state_store_instances", "bigint"),
    ]


def test_python_datasource_stream_matches_batch(spark, tmp_path):
    """The Python DataSource's micro-batch streamReader must produce exactly
    the batch reader's rows (offset bookkeeping loses/duplicates nothing)."""
    import uuid

    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.sources import python_datasource as pds

    pds.register(spark)
    agg = lambda df: df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("amount_cents").alias("cents"),
    )
    batch = agg(spark.read.format("ecommerce_replay").option("n", 10_000).load())

    name = f"pds_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg(spark.readStream.format("ecommerce_replay").option("n", 10_000).load())
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) == 4


def test_observe_metrics_on_stream(spark, sf_dir):
    """df.observe on a streaming DataFrame: per-batch data-quality counters
    (row count, null-value count, gmv sum) surfaced through
    StreamingQueryProgress.observedMetrics — the engine-native form of the
    reference's side-channel Prometheus counters, computed inline with the
    query (no second pass)."""
    import uuid

    from pyspark.sql import functions as F

    events = read_file_stream(spark, sf_dir).observe(
        "ingest_quality",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
        F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
    )
    name = f"observe_{uuid.uuid4().hex[:8]}"
    q = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    observed = [
        p["observedMetrics"]["ingest_quality"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("ingest_quality")
    ]
    assert observed, "no observed metrics surfaced"
    total_rows = sum(m["rows"] for m in observed)
    batch_events = load_table(spark, "events", sf_dir)
    assert total_rows == batch_events.count()
    assert sum(m["null_values"] for m in observed) == batch_events.where(
        F.col("value").isNull()
    ).count()


@pytest.mark.parametrize(
    "batches, abandoned",
    [
        pytest.param(
            [
                # A: user 1 purchases at T+10 (watermark after A: T)
                [(100, 1, 10, "purchase")],
                # B: late out-of-order views at T+5/T+6 (>= watermark T,
                # accepted); user 1's is covered by the batch-A purchase
                # (T+5 <= T+10 <= T+35), user 2's is genuinely abandoned
                [(101, 1, 5, "view"), (102, 2, 6, "view")],
                # C: watermark pusher to T+70, past both 30-min deadlines;
                # its own view stays open (deadline T+110)
                [(103, 3, 80, "view")],
            ],
            {(2, 102)},
            id="late_view_after_purchase",
        ),
        pytest.param(
            [
                # A: views at T+0 (user 1) and T+15 (user 2); watermark T+5
                [(101, 1, 0, "view"), (102, 2, 15, "view")],
                # B: user 1's purchase at T+8 arrives late (below max event
                # time T+15, above watermark T+5) and covers the batch-A view
                [(103, 1, 8, "purchase")],
                # C: watermark pusher to T+70; its own view stays open
                [(104, 3, 80, "view")],
            ],
            {(2, 102)},
            id="late_purchase_after_view",
        ),
        pytest.param(
            [
                [(101, 1, 0, "view"), (102, 2, 5, "view")],
                # B: user 1's purchase covers its view; watermark T+10
                [(103, 1, 20, "purchase")],
                # C: only a purchase, by a user with no view; its watermark
                # push to T+50 passes user 2's deadline (T+35)
                [(104, 3, 60, "purchase")],
            ],
            {(2, 102)},
            id="purchase_only_final_batch",
        ),
    ],
)
def test_cart_abandonment_across_micro_batches(spark, tmp_path, batches, abandoned):
    """Cross-batch out-of-order correctness for drop-off detection: a view
    and its covering purchase arriving in different micro-batches (either
    one late, within the allowed lateness) convert, and an uncovered view
    is emitted once the watermark passes its deadline — whichever event
    type pushed it there.  The join's legs share ONE watermark; legs read
    and watermarked separately hold it at the lagging leg and emit
    nothing here."""
    import datetime

    from e_commerce_streaming_datapipeline_spark.streaming.processors import (
        streaming_cart_abandonment,
    )

    T = datetime.datetime(2024, 3, 1, 12, 0, 0)
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    stream_dir = str(tmp_path / "ca_stream")
    append_feed(
        stream_dir,
        [
            spark.createDataFrame(
                [(eid, uid, T + datetime.timedelta(minutes=mins), et)
                 for eid, uid, mins, et in rows],
                schema,
            ).toArrow()
            for rows in batches
        ],
    )
    stream = read_file_stream(spark, stream_dir, FEED_GLOB, max_files_per_trigger=1)
    got = run_stream(
        spark, streaming_cart_abandonment(stream), "t", output_mode="append"
    )
    assert {(r["user_id"], r["view_event_id"]) for r in got.collect()} == abandoned


def test_jdbc_upsert_statement_and_no_write_without_driver(spark, monkeypatch):
    """The JDBC sink must (a) generate the ON CONFLICT merge statement
    correctly and (b) refuse to attempt ANY write when no JDBC driver on the
    classpath accepts the URL — the connectivity gate fires before staging."""
    from pyspark.sql.readwriter import DataFrameWriter

    from e_commerce_streaming_datapipeline_spark.streaming.sinks import (
        build_upsert_statement,
        jdbc_upsert_sink,
    )

    stmt = build_upsert_statement(
        "metrics", "metrics_staging_7",
        ["window_start", "payment_type", "gmv", "n"],
        ["window_start", "payment_type"],
    )
    assert stmt == (
        "INSERT INTO metrics (window_start, payment_type, gmv, n) "
        "SELECT window_start, payment_type, gmv, n FROM metrics_staging_7 "
        "ON CONFLICT (window_start, payment_type) DO UPDATE SET "
        "gmv = EXCLUDED.gmv, n = EXCLUDED.n"
    )

    attempts = []
    monkeypatch.setattr(
        DataFrameWriter, "jdbc", lambda self, *a, **kw: attempts.append(a)
    )
    batch = spark.createDataFrame(
        [(1, "card", 10.0, 2)], "window_start int, payment_type string, gmv double, n int"
    )
    sink = jdbc_upsert_sink(
        "jdbc:postgresql://localhost:5432/absent", "metrics",
        ["window_start", "payment_type"],
    )
    with pytest.raises(NotImplementedError) as err:
        sink(batch, 7)
    assert "ON CONFLICT" in str(err.value)
    assert attempts == [], "write attempted despite missing JDBC driver"


def test_funnel_completion_fold_handles_late_view(spark, tmp_path):
    """Out-of-order robustness of the sequence detector: user 1's click and
    purchase arrive in batch A, their view arrives LATE in batch B with an
    EARLIER event time.  A running state machine would have consumed the
    click/purchase already and missed the funnel; the watermark-finalized
    fold buffers all three and folds them in event-time order, emitting the
    completion with the correct triple."""
    import datetime

    from e_commerce_streaming_datapipeline_spark.streaming.processors import (
        streaming_funnel_completion,
    )

    T = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def m(minutes):
        return T + datetime.timedelta(minutes=minutes)

    schema = "event_id long, user_id long, ts timestamp, event_type string"
    batches = [
        [(100, 1, m(5), "click"), (101, 1, m(6), "purchase")],
        [(102, 1, m(2), "view"), (103, 2, m(3), "view"), (104, 2, m(4), "click")],
        [(105, 3, m(60), "view")],  # watermark pusher to T+50
    ]
    stream_dir = str(tmp_path / "fc_stream")
    append_feed(stream_dir, [spark.createDataFrame(rows, schema).toArrow() for rows in batches])
    stream = read_file_stream(spark, stream_dir, FEED_GLOB, max_files_per_trigger=1)
    got = run_stream(
        spark, streaming_funnel_completion(stream), "t", output_mode="append"
    )
    rows = {r["user_id"]: r for r in got.collect()}
    assert set(rows) == {1}, "only user 1 completes the ordered funnel"
    assert rows[1]["first_view"] == m(2)
    assert rows[1]["first_click"] == m(5)
    assert rows[1]["purchase_ts"] == m(6)


def test_rocksdb_state_store_produces_identical_results(spark, sf_dir):
    """The large-state scale path: a deployment sets the state-store
    provider key to RocksDB (one SPARK_GRAFT_EXTRA_CONF entry over
    session.py's table) — state spills to disk instead of executor heap.
    The provider is read per query start, so this runs one watermarked
    aggregation under RocksDB and asserts bit-identical output to the batch
    equivalent (same contract the default provider satisfies)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = run_stream(
            spark, streaming_gmv(read_file_stream(spark, sf_dir), "1 minute"), "t"
        )
        batch_events = load_table(spark, "events", sf_dir).where(
            F.col("event_type") == "purchase"
        )
        expected = gmv_tumbling(batch_events, "1 minute").drop("unique_buyers")
        assert sorted(_rows(got, "window_start")) == sorted(_rows(expected, "window_start"))
    finally:
        spark.conf.set(key, prev)


def test_transform_with_state_probe():
    """Cheap per-round availability probe for ``transformWithStateInPandas``
    (Spark 4's successor to ``applyInPandasWithState``): its Python worker
    path serializes state via protobuf, and the test skips while
    ``import google.protobuf`` fails.  When the probe starts passing, port
    ``funnel_completion_stream`` (``streaming_funnel_completion``, the one
    processor left on ``applyInPandasWithState``) to a StatefulProcessor
    variant; until then ``applyInPandasWithState`` (tested above) is the
    supported CEP path — same semantics, RDD-free, watermark-evicted state.

    Probe history: rounds 3-8 all re-probed (``import google``
    still fails, 2026-08-16); the skip below is the suite's single
    deliberate skip."""
    try:
        import google.protobuf  # noqa: F401
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
    except ImportError:
        pytest.skip(
            "transformWithStateInPandas unavailable: protobuf missing from "
            "the container; applyInPandasWithState covers stateful CEP"
        )
    raise AssertionError(
        "protobuf now importable — port funnel_completion_stream to "
        "transformWithStateInPandas as a second variant"
    )


def test_python_datasource_sink_commit_protocol(spark, tmp_path):
    """The custom JSON-lines sink publishes atomically: staged part files
    are invisible until the driver commit renames them and writes the
    manifest; the manifest's row total equals the written count; staging is
    empty afterwards (no orphans on the success path)."""
    import os

    from e_commerce_streaming_datapipeline_spark.sources import python_datasource as pds

    pds.register(spark)
    pds.register_sink(spark)
    out = str(tmp_path / "sinkout")
    feed = spark.read.format("ecommerce_replay").option("n", 1000).load()
    feed.write.format("ecommerce_jsonl").option("path", out).mode("append").save()

    files, total = pds.read_manifest_files(out)
    assert total == 1000
    assert files and all(os.path.exists(f) for f in files)
    assert os.listdir(os.path.join(out, "_staging")) == []
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, amount_cents double"
    ).json(files)
    assert back.count() == 1000
    assert back.select("event_id").distinct().count() == 1000


def test_python_datasource_stream_sink_epoch_commits(spark, tmp_path):
    """The custom sink's STREAMING writer publishes per micro-batch with
    idempotent epoch manifests: streaming the replay source (availableNow)
    into it yields one `_MANIFEST-<batchId>` per epoch, epoch row totals
    sum to the input size, and no rows are lost or duplicated across the
    published epoch files."""
    import glob
    import json as _json
    import os

    from e_commerce_streaming_datapipeline_spark.sources import python_datasource as pds

    pds.register(spark)
    pds.register_sink(spark)
    out = str(tmp_path / "streamout")
    feed = spark.readStream.format("ecommerce_replay").option("n", 2000).load()
    q = (
        feed.writeStream.format("ecommerce_jsonl")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    manifests = sorted(glob.glob(os.path.join(out, "_MANIFEST-*")))
    assert manifests, "no epoch manifests published"
    total = 0
    files = []
    for mf in manifests:
        with open(mf) as f:
            m = _json.load(f)
        total += m["total_rows"]
        files += [os.path.join(out, p["file"]) for p in m["files"]]
    assert total == 2000
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, amount_cents double"
    ).json(files)
    assert back.count() == 2000
    assert back.select("event_id").distinct().count() == 2000


def test_full_outer_join_multi_batch_equals_single_batch(spark, sf_dir, tmp_path):
    """REAL multi-micro-batch replay: the events fixture is time-sorted and
    split into 4 chunk files, streamed with maxFilesPerTrigger=1 so the
    full-outer join processes 4 micro-batches with the watermark advancing
    (and state being matched/evicted) BETWEEN batches.  The final emission
    set must equal the single-batch availableNow run — the cross-batch
    state-correctness property a 1-batch test cannot exercise."""
    import pyarrow.parquet as pq

    from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
        build_full_outer_click_purchase,
    )

    # time-sorted 4-way chunking of the fixture (pyarrow preserves the
    # TIMESTAMP(NANOS) physical type the source reader expects)
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    chunk_dir = tmp_path / "chunks"
    n = tbl.num_rows
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    # a later chunk read first would drop earlier rows as late
    append_feed(str(chunk_dir), [tbl.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])])

    def run(src_dir, filename, mfpt, name):
        joined = build_full_outer_click_purchase(
            spark, str(src_dir), filename, max_files_per_trigger=mfpt
        )
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        batches = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        rows = sorted(
            tuple(r) for r in spark.table(name).collect()
        )
        return batches, rows

    single_batches, single_rows = run(sf_dir, "events.parquet", None, "fo_single")
    multi_batches, multi_rows = run(chunk_dir, FEED_GLOB, 1, "fo_multi")
    assert multi_batches >= 4, f"expected >=4 data micro-batches, got {multi_batches}"
    assert multi_rows == single_rows, (
        f"multi-batch emission diverged: {len(multi_rows)} vs {len(single_rows)} rows"
    )


def test_jdbc_upsert_live_derby_idempotent(spark, tmp_path):
    """VERDICT r2 task 5: execute the JDBC upsert sink LIVE against embedded
    Derby (derby-10.16 ships on Spark's classpath) — the ANSI MERGE dialect
    twin of the Postgres ON CONFLICT path.  Stage → merge → replay the SAME
    batch (row counts unchanged: at-least-once delivery converges, the
    reference's init_metrics.sql UNIQUE semantics) → merge an UPDATED batch
    (in-place update, still no new rows)."""
    from e_commerce_streaming_datapipeline_spark.streaming.sinks import (
        build_upsert_statement,
        jdbc_upsert_sink,
    )

    url = f"jdbc:derby:{tmp_path}/metricsdb;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE metrics (window_start INT NOT NULL, "
        "payment_type VARCHAR(16) NOT NULL, gmv DOUBLE, n INT, "
        "PRIMARY KEY (window_start, payment_type))"
    )
    st.close()
    conn.close()

    # ANSI dialect statement shape (unit pin alongside the live run)
    stmt = build_upsert_statement(
        "metrics", "METRICS_STAGING_0",
        ["window_start", "payment_type", "gmv", "n"],
        ["window_start", "payment_type"], dialect="ansi",
    )
    assert stmt == (
        "MERGE INTO metrics t USING METRICS_STAGING_0 s "
        "ON (t.window_start = s.window_start AND t.payment_type = s.payment_type) "
        "WHEN MATCHED THEN UPDATE SET gmv = s.gmv, n = s.n "
        "WHEN NOT MATCHED THEN INSERT (window_start, payment_type, gmv, n) "
        "VALUES (s.window_start, s.payment_type, s.gmv, s.n)"
    )

    sink = jdbc_upsert_sink(url, "metrics", ["window_start", "payment_type"])
    batch = spark.createDataFrame(
        [(1, "card", 10.0, 2), (1, "pix", 5.0, 1), (2, "card", 7.5, 3)],
        "window_start int, payment_type string, gmv double, n int",
    )

    def table_rows():
        # Derby stores unquoted identifiers uppercase; fold back for asserts
        df = spark.read.jdbc(url, "metrics")
        df = df.toDF(*[c.lower() for c in df.columns])
        return {
            (r["window_start"], r["payment_type"]): (r["gmv"], r["n"])
            for r in df.collect()
        }

    sink(batch, 0)
    first = table_rows()
    assert len(first) == 3 and first[(1, "card")] == (10.0, 2)

    # replay the SAME batch under a new batch id — idempotence proven live
    sink(batch, 1)
    assert table_rows() == first, "replaying an identical batch changed the table"

    # re-emitted window with updated values: in-place update, no new rows
    updated = spark.createDataFrame(
        [(1, "card", 12.5, 4)],
        "window_start int, payment_type string, gmv double, n int",
    )
    sink(updated, 2)
    after = table_rows()
    assert len(after) == 3
    assert after[(1, "card")] == (12.5, 4)
    assert after[(1, "pix")] == (5.0, 1)


def _chunked_event_stream_dir(tmp_path, n_minutes=80, per_minute=60, n_chunks=8):
    """Time-ordered synthetic event chunks: uniform arrival rate so bounded
    state under watermark eviction shows up as a PLATEAU in state rows."""
    import datetime

    import pyarrow as pa

    t0 = datetime.datetime(2024, 3, 1, 0, 0, 0)
    types = ["view", "click", "purchase"]
    rows = {"event_id": [], "ts": [], "user_id": [], "event_type": [], "value": []}
    i = 0
    for minute in range(n_minutes):
        for j in range(per_minute):
            rows["event_id"].append(i)
            rows["ts"].append(t0 + datetime.timedelta(minutes=minute, seconds=j))
            rows["user_id"].append(i % 50)
            rows["event_type"].append(types[i % 3])
            rows["value"].append(float(10 + (i % 90)))
            i += 1
    tbl = pa.table(
        {
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "ts": pa.array(rows["ts"], pa.timestamp("us")),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": pa.array(rows["event_type"], pa.string()),
            "value": pa.array(rows["value"], pa.float64()),
        }
    )
    chunk_dir = tmp_path / "state_chunks"
    n = tbl.num_rows
    per = n // n_chunks
    bounds = [c * per for c in range(n_chunks)] + [n]
    append_feed(str(chunk_dir), [tbl.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])])
    return chunk_dir


def _run_with_collector(spark, tmp_path, stream_df, name, output_mode):
    from e_commerce_streaming_datapipeline_spark.streaming.monitoring import (
        MetricsCollector,
    )

    collector = MetricsCollector().attach(spark)
    try:
        q = (
            stream_df.writeStream.format("noop")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously on the bus thread
        import time as _time

        deadline = _time.time() + 30
        while _time.time() < deadline:
            with collector._lock:
                metrics = [m for m in collector.records if m.query_name == name]
            if len(metrics) >= sum(1 for p in q.recentProgress if p["numInputRows"] > 0):
                break
            _time.sleep(0.25)
    finally:
        collector.detach(spark)
    return [m for m in metrics if m.num_input_rows > 0]


def _assert_state_plateau(metrics, label):
    """State at batch N ≈ state at batch 2N: watermark eviction keeps total
    state bounded by the horizon, not the cumulative input."""
    assert len(metrics) >= 6, f"{label}: expected >=6 data micro-batches"
    state = [m.state_rows for m in metrics]
    cumulative = sum(m.num_input_rows for m in metrics)
    mid, last = state[len(state) // 2], state[-1]
    assert last > 0, f"{label}: no state recorded"
    assert last <= mid * 1.5, (
        f"{label}: state still growing at the tail — mid={mid} last={last} "
        f"(series {state})"
    )
    assert last < cumulative * 0.5, (
        f"{label}: tail state {last} is a large fraction of cumulative input "
        f"{cumulative} — eviction is not happening (series {state})"
    )


def test_dedup_stream_state_plateaus_under_eviction(spark, tmp_path):
    """VERDICT r2 task 7, part 1: watermarked dedup + windowed count over an
    8-micro-batch uniform-rate replay.  SCALE.md argues watermark-bounded
    state; this measures it via the StreamingQueryListener — state rows at
    batch N ≈ batch 2N, nowhere near cumulative input."""
    from e_commerce_streaming_datapipeline_spark.sources.streaming import read_file_stream
    from e_commerce_streaming_datapipeline_spark.streaming.processors import (
        with_event_time_discipline,
    )

    chunk_dir = _chunked_event_stream_dir(tmp_path)
    stream = read_file_stream(
        spark, str(chunk_dir), FEED_GLOB, max_files_per_trigger=1
    )
    counted = (
        with_event_time_discipline(stream)
        .groupBy(F.window(F.col("ts"), "1 minute"))
        .count()
    )
    metrics = _run_with_collector(spark, tmp_path, counted, "dedup_plateau", "update")
    _assert_state_plateau(metrics, "dedup+window")


def test_journey_join_state_plateaus_under_eviction(spark, tmp_path):
    """VERDICT r2 task 7, part 2: the 3-way chained stream-stream join's
    buffers (3 legs x join state) must also plateau — range-bounded join
    conditions + per-leg watermarks evict matched/expired rows between
    micro-batches."""
    from e_commerce_streaming_datapipeline_spark.sources.streaming import read_file_stream

    chunk_dir = _chunked_event_stream_dir(tmp_path)

    def leg(event_type, prefix):
        return (
            read_file_stream(
                spark, str(chunk_dir), FEED_GLOB, max_files_per_trigger=1
            )
            .where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "5 minutes")
        )

    views, clicks, purchases = leg("view", "v"), leg("click", "c"), leg("purchase", "p")
    vc = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        F.col("v_id").alias("view_id"),
        F.expr("timestamp_micros(unix_micros(v_ts))").alias("view_ts"),
        F.col("c_id").alias("click_id"),
        "c_ts",
    )
    journeys = vc.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    )
    metrics = _run_with_collector(spark, tmp_path, journeys, "journey_plateau", "append")
    _assert_state_plateau(metrics, "journey-join")


def test_late_rows_are_expired_not_aggregated(spark, tmp_path):
    """Late-data handling: a chunk whose event times lie far behind the
    COMMITTED watermark must contribute NOTHING to the aggregation (its
    windows are already finalized/evicted), and the listener must report
    the drop via numRowsDroppedByWatermark.  The spacer chunk matters:
    Spark's watermark is a lower-bound contract that commits with one batch
    of lag under availableNow, so data arriving in the very next batch
    after the advancing chunk may still be absorbed — a correctly-loose
    behavior this test intentionally leaves room for."""
    import datetime

    import pyarrow as pa

    from e_commerce_streaming_datapipeline_spark.sources.streaming import read_file_stream

    t0 = datetime.datetime(2024, 3, 1, 0, 0, 0)
    chunk_dir = tmp_path / "late_chunks"

    def write_chunk(idx, minutes):
        n = len(minutes)
        tbl = pa.table(
            {
                "event_id": pa.array(range(idx * 1000, idx * 1000 + n), pa.int64()),
                "ts": pa.array(
                    [t0 + datetime.timedelta(minutes=m) for m in minutes],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
                "event_type": pa.array(["purchase"] * n, pa.string()),
                "value": pa.array([10.0] * n, pa.float64()),
            }
        )
        append_feed(str(chunk_dir), [tbl])

    write_chunk(0, [0, 1, 2, 3, 4] * 10)       # watermark -> ~4min - delay
    write_chunk(1, [30, 31, 32, 33] * 10)       # watermark -> ~33min - 5min
    write_chunk(2, [60, 61, 62] * 10)           # spacer: lets wm=00:28 commit
    write_chunk(3, [0, 1, 2] * 10)              # LATE: far behind watermark

    stream = read_file_stream(
        spark, str(chunk_dir), FEED_GLOB, max_files_per_trigger=1
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window(F.col("ts"), "1 minute").alias("w"))
        .count()
        .select(F.col("w.start").alias("window_start"), "count")
    )

    from e_commerce_streaming_datapipeline_spark.streaming.monitoring import (
        MetricsCollector,
    )

    collector = MetricsCollector().attach(spark)
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("late_drop")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import time as _time

        deadline = _time.time() + 30
        while _time.time() < deadline:
            with collector._lock:
                metrics = [
                    m
                    for m in collector.records
                    if m.query_name == "late_drop" and m.num_input_rows > 0
                ]
            if len(metrics) >= 4:
                break
            _time.sleep(0.25)
    finally:
        collector.detach(spark)

    # update mode: the memory sink logs every per-batch update.  The early
    # windows must have been emitted exactly ONCE (by chunk 0) with count
    # 10 — the late chunk's 30 rows triggered no re-emission.  (Complete
    # mode would disable watermark eviction entirely and absorb them.)
    early = [
        (r["window_start"].minute, r["count"])
        for r in spark.table("late_drop").collect()
        if r["window_start"].hour == 0 and r["window_start"].minute < 5
    ]
    assert sorted(early) == [(0, 10), (1, 10), (2, 10), (3, 10), (4, 10)], early
    # the late batch's rows reached the state operator behind the watermark
    # and were dropped — AND counted by the listener
    assert len(metrics) >= 4
    assert metrics[-1].num_input_rows == 30  # the late chunk really arrived
    assert metrics[-1].rows_dropped_by_watermark > 0, (
        f"drop series {[m.rows_dropped_by_watermark for m in metrics]}"
    )


def test_fan_out_stream_to_parquet_and_derby_converges(spark, sf_dir, tmp_path):
    """K1 end-to-end with BOTH production sinks on one persisted batch:
    a streaming hourly-GMV query writes through fan_out_sink into (a) the
    dynamic-partition-overwrite parquet sink and (b) the live Derby JDBC
    upsert — then the ENTIRE stream is replayed under a fresh checkpoint
    (at-least-once, every window re-emitted) and both sinks must converge
    to the same state, equal to the batch recomputation."""
    from e_commerce_streaming_datapipeline_spark.operators.gmv import gmv_tumbling
    from e_commerce_streaming_datapipeline_spark.streaming.sinks import (
        fan_out_sink,
        idempotent_parquet_sink,
        jdbc_upsert_sink,
    )

    url = f"jdbc:derby:{tmp_path}/fanoutdb;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE gmv_metrics (window_start TIMESTAMP NOT NULL PRIMARY KEY, "
        "window_end TIMESTAMP, gmv DOUBLE, item_count BIGINT, "
        "avg_item_price DOUBLE, max_item_price DOUBLE, min_item_price DOUBLE)"
    )
    st.close()
    conn.close()

    out_parquet = str(tmp_path / "metrics_parquet")
    sink = fan_out_sink(
        idempotent_parquet_sink(out_parquet),
        jdbc_upsert_sink(url, "gmv_metrics", ["window_start"]),
    )

    def run(ckpt):
        stream = streaming_gmv(read_file_stream(spark, sf_dir), "1 hour")
        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ckpt_a")
    run("ckpt_b")  # fresh checkpoint: full replay, every window re-emitted

    batch = streaming_gmv(
        load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase"),
        "1 hour",
    )
    expect = {tuple(r) for r in batch.collect()}
    cols = [
        "window_start", "window_end", "gmv", "item_count",
        "avg_item_price", "max_item_price", "min_item_price",
    ]
    got_parquet = {
        tuple(r)
        for r in spark.read.parquet(out_parquet).select(*cols).collect()
    }
    derby = spark.read.jdbc(url, "gmv_metrics")
    derby = derby.toDF(*[c.lower() for c in derby.columns])
    got_derby = {tuple(r) for r in derby.select(*cols).collect()}
    assert got_parquet == expect, "parquet sink diverged after full replay"
    assert got_derby == expect, "Derby sink diverged after full replay"


def test_update_mode_finalization_under_multi_batch_replay(spark, tmp_path):
    """Round-3 review finding: update-mode memory-sink output logs every
    per-batch revision of a key, so consumers must FINALIZE (max of the
    monotone count) before aggregating further.  Drive the histogram and
    gmv speed-layer shapes through a REAL 8-micro-batch replay and assert
    the finalized results equal the batch recomputation — without the
    max-finalization both would double-count windows straddling batches."""
    from e_commerce_streaming_datapipeline_spark.operators.statistics import (
        hist_bin,
        monthly_quantiles_from_day_bins,
    )
    from e_commerce_streaming_datapipeline_spark.sources.streaming import read_file_stream

    chunk_dir = _chunked_event_stream_dir(tmp_path, n_minutes=80, per_minute=60)

    def run_update(stream_df, name):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        assert batches >= 8, f"expected a real multi-batch replay, got {batches}"
        return spark.table(name)

    batch_df = spark.read.parquet(str(chunk_dir))

    # histogram shape: hourly-bin cells revised across batches
    stream = read_file_stream(
        spark, str(chunk_dir), FEED_GLOB, max_files_per_trigger=1
    ).withWatermark("ts", "5 minutes")
    binned = stream.groupBy(
        F.window(F.col("ts"), "1 day").alias("w"), hist_bin(F.col("value")).alias("bin")
    ).count()
    collected = run_update(binned, "hist_multi")
    day_bins = (
        collected.select(F.col("w.start").alias("day"), "bin", F.col("count").alias("c"))
        .groupBy("day", "bin")
        .agg(F.max("c").alias("c"))
    )
    got = {tuple(r) for r in monthly_quantiles_from_day_bins(day_bins).collect()}
    batch_bins = (
        batch_df.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            hist_bin(F.col("value")).alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count("*").alias("c"))
    )
    expect = {tuple(r) for r in monthly_quantiles_from_day_bins(batch_bins).collect()}
    assert got == expect

    # gmv speed-layer shape: hourly windows revised across batches
    stream2 = read_file_stream(
        spark, str(chunk_dir), FEED_GLOB, max_files_per_trigger=1
    ).where(F.col("event_type") == "purchase").withWatermark("ts", "5 minutes")
    agg = stream2.groupBy(F.window(F.col("ts"), "1 hour").alias("w")).agg(
        F.round(F.sum("value"), 2).alias("gmv"), F.count("*").alias("purchases")
    )
    raw = run_update(agg, "gmv_multi")
    final = (
        raw.select(F.col("w.start").alias("ws"), F.struct("purchases", "gmv").alias("pg"))
        .groupBy("ws")
        .agg(F.max("pg").alias("pg"))
        .select("ws", "pg.gmv", "pg.purchases")
    )
    got2 = {tuple(r) for r in final.collect()}
    expect2 = {
        tuple(r)
        for r in batch_df.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("ws"))
        .agg(F.round(F.sum("value"), 2).alias("gmv"), F.count("*").alias("purchases"))
        .collect()
    }
    assert got2 == expect2


def test_idempotent_sink_same_day_update_batches_do_not_clobber(spark, tmp_path):
    """Round-3 review finding: the sink used to partition per DAY while
    update-mode micro-batches emit only the windows they touched, so a later
    batch wiped every same-day window it did not re-emit.  Now the partition
    key is the exact window start: two batches touching the same calendar day
    must both survive, and a replayed window must converge, not duplicate."""
    import datetime

    out = str(tmp_path / "metrics")
    schema = (
        "window_start timestamp, window_end timestamp, gmv double, item_count bigint"
    )
    day = datetime.datetime(2024, 1, 15)

    def w(hour, gmv, n):
        start = day + datetime.timedelta(hours=hour)
        return (start, start + datetime.timedelta(hours=1), gmv, n)

    sink = idempotent_parquet_sink(out)
    sink(spark.createDataFrame([w(0, 10.0, 1)], schema), 0)
    sink(spark.createDataFrame([w(5, 20.0, 2)], schema), 1)  # same day, new window
    sink(spark.createDataFrame([w(0, 15.0, 3)], schema), 2)  # replay/update of window 0

    got = {
        (r["window_start"], r["gmv"], r["item_count"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (day, 15.0, 3),
        (day + datetime.timedelta(hours=5), 20.0, 2),
    }, "per-window overwrite must keep sibling same-day windows and converge replays"


def test_upsert_statement_all_key_columns_is_valid_sql():
    """All-key tables (presence rows) have nothing to update: the generated
    statement must degrade to DO NOTHING / insert-only MERGE, not emit an
    empty assignment list (a parse error on every engine)."""
    from e_commerce_streaming_datapipeline_spark.streaming.sinks import build_upsert_statement

    pg = build_upsert_statement("seen", "seen_s", ["ws", "k"], ["ws", "k"], "postgres")
    assert pg.endswith("ON CONFLICT (ws, k) DO NOTHING")
    ansi = build_upsert_statement("seen", "seen_s", ["ws", "k"], ["ws", "k"], "ansi")
    assert "WHEN MATCHED" not in ansi
    assert "WHEN NOT MATCHED THEN INSERT (ws, k) VALUES (s.ws, s.k)" in ansi
    assert "SET " not in ansi


def test_fan_out_inner_sink_does_not_evict_shared_cache(spark, tmp_path):
    """Round-3 review finding: composing idempotent_parquet_sink inside
    fan_out_sink used to let the inner sink's unpersist() evict the batch the
    outer sink cached, forcing every later sink to recompute the full plan.
    Cache ownership is now tracked: while fan_out holds the cache, sinks that
    run after the parquet sink must still see a cached DataFrame."""
    import datetime

    from e_commerce_streaming_datapipeline_spark.streaming.sinks import fan_out_sink

    levels = []

    def probe(batch_df, batch_id):
        lvl = batch_df.storageLevel
        levels.append(lvl.useMemory or lvl.useDisk)

    batch = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 15), datetime.datetime(2024, 1, 15, 1), 10.0)],
        "window_start timestamp, window_end timestamp, gmv double",
    )
    fan_out_sink(idempotent_parquet_sink(str(tmp_path / "pq")), probe)(batch, 0)
    assert levels == [True], "inner parquet sink evicted the fan-out's shared cache"
    lvl = batch.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "fan_out must release its own cache"


def test_funnel_completion_fires_once_despite_second_sequence(spark, tmp_path):
    """Round-3 review finding: completion used to state.remove(), so a user
    completing a SECOND view->click->purchase sequence in later micro-batches
    rebuilt state from scratch and emitted a duplicate append-mode row.  The
    DONE marker must swallow the second sequence: exactly one row per user,
    carrying the FIRST triple."""
    import datetime

    from e_commerce_streaming_datapipeline_spark.streaming.processors import (
        streaming_funnel_completion,
    )

    T = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def m(minutes):
        return T + datetime.timedelta(minutes=minutes)

    schema = "event_id long, user_id long, ts timestamp, event_type string"
    batches = [
        # sequence 1 for user 1
        [(1, 1, m(0), "view"), (2, 1, m(1), "click"), (3, 1, m(2), "purchase")],
        # watermark pusher: finalizes sequence 1 -> row emitted, DONE marker set
        [(4, 9, m(30), "view")],
        # sequence 2 for user 1, entirely after sequence 1
        [(5, 1, m(40), "view"), (6, 1, m(41), "click"), (7, 1, m(42), "purchase")],
        # watermark pusher: would finalize sequence 2 if state had been removed
        [(8, 9, m(120), "view")],
    ]
    stream_dir = str(tmp_path / "ff_stream")
    append_feed(stream_dir, [spark.createDataFrame(rows, schema).toArrow() for rows in batches])
    stream = read_file_stream(spark, stream_dir, FEED_GLOB, max_files_per_trigger=1)
    got = run_stream(
        spark, streaming_funnel_completion(stream), "t", output_mode="append"
    ).where(F.col("user_id") == 1)
    rows = got.collect()
    assert len(rows) == 1, f"funnel fired {len(rows)} times for user 1, want exactly 1"
    assert rows[0]["first_view"] == m(0)
    assert rows[0]["first_click"] == m(1)
    assert rows[0]["purchase_ts"] == m(2)


def test_agg_join_chain_multi_batch_equals_single_batch(spark, sf_dir, tmp_path):
    """complete_funnel_stream's agg→agg→join chain replayed over 4
    time-sorted micro-batches (maxFilesPerTrigger=1) must emit the same
    final set as the single-batch availableNow run: the watermark advances
    BETWEEN batches, so both aggregation states and the window-equi join
    state are finalized/evicted incrementally — the cross-batch correctness
    property of the multi-stateful-operator chain that one batch cannot
    exercise."""
    import pyarrow.parquet as pq

    from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
        build_complete_funnel_joined,
    )

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    chunk_dir = tmp_path / "funnel_chunks"
    n = tbl.num_rows
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    # a later chunk read first would drop earlier rows as late
    append_feed(str(chunk_dir), [tbl.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])])

    def run(src_dir, filename, mfpt, name):
        joined = build_complete_funnel_joined(
            spark, str(src_dir), filename, max_files_per_trigger=mfpt
        )
        ckpt = tmp_path / f"ckpt_{name}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["window_start"], r["window_end"]): (
                r["total_events"], r["purchases"], r["gmv"], r["item_count"]
            )
            for r in spark.table(name).collect()
        }

    single = run(sf_dir, "events.parquet", None, "cf_single")
    multi = run(chunk_dir, FEED_GLOB, 1, "cf_multi")
    assert single, "single-batch run emitted nothing"
    assert multi == single


def test_replay_feed_arrives_in_order_one_batch_per_chunk(spark, tmp_path):
    """``split_by_key`` puts the null-key rows first, then one chunk per key
    in ascending order, and loses no row; ``append_feed`` stamps strictly
    ascending mtimes, across two appends too; and a stream reading one file
    per trigger sees one micro-batch per chunk, in that order."""
    import pyarrow as pa

    from e_commerce_streaming_datapipeline_spark.sources.streaming import split_by_key

    tbl = pa.table({"k": pa.array([3, None, 1, 3, 2, None, 1], pa.int64()),
                    "v": pa.array(range(7), pa.int64())})
    chunks = split_by_key(tbl, tbl["k"])
    assert [c["k"].to_pylist() for c in chunks] == [[None, None], [1, 1], [2], [3, 3]]
    assert sorted(pa.concat_tables(chunks).to_pylist(), key=lambda r: r["v"]) == tbl.to_pylist()

    feed = str(tmp_path / "feed")
    paths = append_feed(feed, chunks[:2]) + append_feed(feed, chunks[2:])
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes

    seen = []
    run_stream(
        spark,
        read_file_stream(spark, feed, FEED_GLOB, max_files_per_trigger=1),
        "feed",
        output_mode="append",
        sink=lambda batch_df, batch_id: seen.append(sorted(r["v"] for r in batch_df.collect())),
    )
    assert seen == [c["v"].to_pylist() for c in chunks]
