"""The two benchmark workloads.

Each workload drives the engine only through its public calls
(``get_spark``, registry ``Query.builder``, ``sources.streaming.
read_file_stream``, the ``streaming.processors`` functions and
``streaming.sinks.idempotent_parquet_sink``) and returns the raw samples
of one measured leg.  ``end_to_end`` turns a leg into the metrics the
benchmark prints.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from statistics import fmean

import gen
from stats import median, percentile

# The reference's dashboard relations and views, then the scan/join shapes.
DASHBOARD_QUERIES = (
    "gmv_minutely",
    "gmv_sliding",
    "funnel_hourly",
    "dropoff_hourly",
    "payment_hourly",
    "complete_funnel",
    "pricing_summary",
    "order_details",
    "shipping_priority",
)
BATCH_QUERIES = {"dashboard_batch": DASHBOARD_QUERIES}
# Streaming query -> registry query whose DuckDB oracle is its batch twin.
STREAM_ORACLES = {
    "streaming_gmv": "gmv_stream_minutely",
    "streaming_funnel": "funnel_stream_hourly",
    "streaming_user_stats": "user_stats_stream",
}
CHECK_THREADS = 3
ROUND_START_SHARE = 0.9
STREAM_TIMEOUT_S = 60.0
TRIGGER_LEAD_S = 0.05
POLL_S = 0.05


@dataclass
class Leg:
    """Raw samples of one measured leg."""

    latencies: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    elapsed_s: float = 0.0
    work_done: float = 0.0  # queries or burst events
    catchup_s: float = 0.0
    lateness_ms: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {exc}"[:500])


def end_to_end(workload: str, leg: Leg) -> dict[str, float]:
    """The latency and throughput metrics of one leg (``setup_s`` and
    ``peak_rss_mb`` are measured by the parent process).

    On the dashboard the typical latency counts each query shape once, by
    its median latency, in a geometric mean over the shapes; the long wait
    is a full refresh, every panel once, one after another, the median
    round.  On the stream they are the median and the 90th percentile of
    every file's freshness."""
    if workload == "dashboard_batch":
        shapes = [median(v) for v in leg.extra["per_query"].values()]
        typical = math.exp(fmean(math.log(x) for x in shapes))
        tail = median(leg.extra["rounds_s"])
    else:
        typical, tail = percentile(leg.latencies, 50), percentile(leg.latencies, 90)
    return {
        "latency_s": typical,
        "latency_tail_s": tail,
        "throughput_per_s": leg.work_done / (leg.catchup_s or leg.elapsed_s),
    }


# ---------------------------------------------------------------- checks


def check_queries(ctx, names: tuple[str, ...], leg: Leg) -> None:
    """Hash-check each query against its registry oracle on the generated
    inputs, once per run and outside the timed region.  The checks are also
    the warm-up: every query has run once before the clock starts.

    They run on CHECK_THREADS threads: the comparison is mostly Python
    work, which overlaps the next query's Spark job.  None of these builders
    pins a rank cache (functions/ranks.py), so one check's
    ``release_rank_caches`` cannot pull data from under another."""
    from tests.oracle_compare import compare_query

    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        futures = {n: pool.submit(compare_query, ctx.spark, n, ctx.data_dir) for n in names}
    for name, fut in futures.items():
        leg.attempted += 1
        try:
            res = fut.result()
        except Exception as exc:  # an engine error is a failed operation
            leg.fail(f"check {name}", repr(exc))
            continue
        if not res.ok:
            leg.fail(f"check {name}", res.detail)


# ---------------------------------------------------------------- batch


def _run_query(ctx, name: str, tracer, parent):
    from e_commerce_streaming_datapipeline_spark.plans.registry import get_query

    with tracer.span(name, parent) as op:
        with tracer.span("plans.build", op, job_group=True):
            df = get_query(name).builder(ctx.spark, ctx.data_dir)
        with tracer.span("exec.action", op, job_group=True):
            df.write.format("noop").mode("overwrite").save()


def dashboard_batch(ctx, tracer) -> Leg:
    """Closed loop: rounds over the dashboard queries, each in a seeded
    order, one client, no think time.  Only whole rounds run, so every
    query shape is sampled equally often.  A new round starts while less
    than ROUND_START_SHARE of ``ctx.seconds`` has passed, so the measured
    time lands near ``ctx.seconds`` and the round count does not flip with
    small changes in round time."""
    leg = Leg()
    rng = random.Random(ctx.seed)
    per_query: dict[str, list[float]] = {}
    rounds: list[float] = []
    t0 = time.perf_counter()
    while True:
        order = list(DASHBOARD_QUERIES)
        rng.shuffle(order)
        r0 = time.perf_counter()
        with tracer.span("round", None) as round_span:
            for name in order:
                q0 = time.perf_counter()
                leg.attempted += 1
                try:
                    _run_query(ctx, name, tracer, round_span)
                except Exception as exc:
                    leg.fail(name, repr(exc))
                    continue
                leg.latencies.append(time.perf_counter() - q0)
                per_query.setdefault(name, []).append(leg.latencies[-1])
        rounds.append(time.perf_counter() - r0)
        if time.perf_counter() - t0 >= ROUND_START_SHARE * ctx.seconds:
            break
    leg.elapsed_s = time.perf_counter() - t0
    leg.work_done = len(leg.latencies)
    leg.extra["per_query"] = per_query
    leg.extra["rounds_s"] = rounds
    ctx.leg_done()
    return leg


# ---------------------------------------------------------------- stream


def _log_entries(log_dir: str, after: int = -1) -> dict[int, list[str]]:
    """Entries of a streaming metadata log (``v1`` header, then one JSON
    line per entry) with an id above ``after``; compacted files included."""
    out: dict[int, list[str]] = {}
    if not os.path.isdir(log_dir):
        return out
    for fname in os.listdir(log_dir):
        stem = fname.split(".")[0]
        if not stem.isdigit() or fname.endswith(".tmp") or int(stem) <= after:
            continue
        with open(os.path.join(log_dir, fname)) as fh:
            out[int(stem)] = fh.read().splitlines()[1:]
    return out


class _Checkpoint:
    """Maps dropped files to the micro-batch that consumed them, from the
    file source's log (file -> source offset) and the offset log
    (micro-batch -> last source offset)."""

    def __init__(self, path: str):
        self.path = path
        self.file_offset: dict[str, int] = {}
        self.batch_end: dict[int, int] = {}
        self._seen_source = -1
        self._seen_batch = -1

    def refresh(self) -> None:
        src = _log_entries(os.path.join(self.path, "sources", "0"), self._seen_source)
        for log_id, lines in src.items():
            for line in lines:
                entry = json.loads(line)
                self.file_offset[os.path.basename(entry["path"])] = int(entry["batchId"])
            self._seen_source = max(self._seen_source, log_id)
        offs = _log_entries(os.path.join(self.path, "offsets"), self._seen_batch)
        for batch_id, lines in offs.items():
            self.batch_end[batch_id] = int(json.loads(lines[-1])["logOffset"])
            self._seen_batch = max(self._seen_batch, batch_id)

    def batch_of(self, fname: str) -> int | None:
        off = self.file_offset.get(fname)
        if off is None:
            return None
        ids = [b for b, end in self.batch_end.items() if end >= off]
        return min(ids) if ids else None


class _Sinks:
    """foreachBatch wrappers around ``idempotent_parquet_sink`` that record
    when each micro-batch's sink write has committed."""

    def __init__(self, tracer):
        self.commits: dict[str, dict[int, float]] = {}
        self.lock = threading.Lock()
        self.tracer = tracer
        # stopping a query interrupts the batch in flight; that batch's
        # write is not a sink failure
        self.stopping = False

    def wrap(self, name: str, output_dir: str):
        from e_commerce_streaming_datapipeline_spark.streaming.sinks import (
            idempotent_parquet_sink,
        )

        write = idempotent_parquet_sink(output_dir)
        self.commits[name] = {}

        def batch(df, batch_id):
            t0 = time.perf_counter()
            ok = False
            try:
                write(df, batch_id)
                ok = True
            finally:
                t1 = time.perf_counter()
                if ok or not self.stopping:
                    self.tracer.sink_write(name, batch_id, t0, t1, ok)
            with self.lock:
                self.commits[name][batch_id] = t1

        return batch

    def committed(self, name: str, batch_id: int) -> bool:
        with self.lock:
            return batch_id in self.commits[name]


def _stream_frames(spark, watch_dir):
    from pyspark.sql import functions as F

    from e_commerce_streaming_datapipeline_spark.sources.streaming import read_file_stream
    from e_commerce_streaming_datapipeline_spark.streaming.processors import (
        streaming_funnel,
        streaming_gmv,
        streaming_user_stats,
    )

    events = read_file_stream(spark, watch_dir, "ev-*.parquet")
    return {
        "streaming_gmv": streaming_gmv(events, "1 minute"),
        "streaming_funnel": streaming_funnel(events, "1 hour"),
        # the sink's idempotence unit is its partition key, so per-user
        # profiles are keyed on the user: each update overwrites exactly
        # the profiles it re-emits
        "streaming_user_stats": streaming_user_stats(events).withColumn(
            "window_start", F.timestamp_seconds(F.col("user_id"))
        ),
    }


def stream_ingest(ctx, tracer, tag: str) -> Leg:
    """Open loop: a generator thread drops seeded event files into a watched
    directory on a fixed schedule while three streaming queries consume
    them, then drops one burst of backlog files at once."""
    plan = ctx.stream_plan
    leg = Leg()
    base = os.path.join(ctx.work_dir, f"stream-{tag}")
    stage, watch = os.path.join(base, "stage"), os.path.join(base, "in")
    for d in (stage, watch):
        os.makedirs(d)
    n_fixed = plan.warmup_files + plan.fixed_files(ctx.seconds)
    names = gen.write_stream_files(
        stage, ctx.seed, 1 + n_fixed + plan.burst_files, plan
    )
    fixed = names[1 : 1 + n_fixed]
    burst = names[1 + n_fixed :]
    sampled = fixed[plan.warmup_files :]
    # the priming file exists before the queries start (the file source
    # reads its schema from the directory) and its batch is the warm-up
    os.rename(os.path.join(stage, names[0]), os.path.join(watch, names[0]))

    sinks = _Sinks(tracer)
    queries = {}
    checkpoints: dict[str, _Checkpoint] = {}
    tracer.stream_started(ctx.spark)
    for name, frame in _stream_frames(ctx.spark, watch).items():
        checkpoints[name] = _Checkpoint(os.path.join(base, "ckpt", name))
        queries[name] = (
            frame.writeStream.queryName(f"{name}_{tag}")
            .outputMode("update")
            .trigger(processingTime=f"{plan.trigger_s} seconds")
            .foreachBatch(sinks.wrap(name, os.path.join(base, "sink", name)))
            .option("checkpointLocation", checkpoints[name].path)
            .start()
        )
    t = [time.perf_counter()]
    try:
        _wait_for(names[0], queries, checkpoints, sinks)
        t.append(time.perf_counter())
        span = len(fixed) * plan.file_interval_s
        sched = _drive(stage, watch, fixed, _before_trigger(plan, span + 0.1) - span,
                       plan.file_interval_s, leg)
        t.append(time.perf_counter())
        _wait_for(fixed[-1], queries, checkpoints, sinks)
        t.append(time.perf_counter())
        # the burst lands just before the next trigger, which finds every
        # query drained and idle: that trigger runs the burst together with
        # the watermark advance and state eviction a no-data batch would
        # otherwise run on its own
        sched.update(_drive(stage, watch, burst, _before_trigger(plan, 0.1), 0.0, leg))
        _wait_for(burst[-1], queries, checkpoints, sinks)
        t.append(time.perf_counter())
        ctx.leg_done()
        t.append(time.perf_counter())
    finally:
        sinks.stopping = True
        for q in queries.values():
            q.stop()
    t.append(time.perf_counter())
    leg.extra["phases"] = dict(zip(("priming_s", "drive_s", "drain_s", "burst_s", "live_heap_s", "stop_s"),
                                   (b - a for a, b in zip(t, t[1:]))))
    tracer.stream_stopped(ctx.spark, queries)

    dropped = 0
    burst_commit = 0.0
    for name, q in queries.items():
        ckpt = checkpoints[name]
        ckpt.refresh()
        commit = {f: sinks.commits[name][ckpt.batch_of(f)] for f in names}
        leg.latencies.extend(commit[f] - sched[f] for f in sampled)
        burst_commit = max([burst_commit] + [commit[f] for f in burst])
        dropped += sum(
            op.numRowsDroppedByWatermark for p in q.recentProgress for op in p.stateOperators
        )
        tracer.stream_files(name, {f: ckpt.batch_of(f) for f in names}, sched)
    leg.catchup_s = burst_commit - sched[burst[0]]
    leg.extra["phases"]["catchup_s"] = leg.catchup_s
    leg.work_done = plan.burst_files * plan.events_per_file
    leg.elapsed_s = burst_commit - sched[sampled[0]]
    leg.extra["dropped_by_watermark"] = dropped
    leg.extra["base"] = base
    leg.extra["files"] = names
    return leg


def _wait_for(last_file, queries, checkpoints, sinks) -> None:
    """Block until every query has committed the batch holding ``last_file``."""
    deadline = time.perf_counter() + STREAM_TIMEOUT_S
    pending = set(queries)
    while pending:
        for name in list(pending):
            q = queries[name]
            if q.exception() is not None:
                raise RuntimeError(f"{name} failed: {q.exception()}")
            ckpt = checkpoints[name]
            ckpt.refresh()
            b = ckpt.batch_of(last_file)
            if b is not None and sinks.committed(name, b):
                pending.discard(name)
        if time.perf_counter() > deadline:
            raise TimeoutError(f"streams {sorted(pending)} never committed {last_file}")
        time.sleep(POLL_S)


def _before_trigger(plan, after_s: float) -> float:
    """The ``perf_counter`` time TRIGGER_LEAD_S before the first trigger
    boundary at least ``after_s`` from now.  Processing-time triggers fire
    on the wall clock's multiples of the interval, so a file dropped there
    waits for its trigger the same time in every run instead of a draw
    between zero and one interval."""
    now, wall = time.perf_counter(), time.time()
    at = math.ceil((wall + after_s + TRIGGER_LEAD_S) / plan.trigger_s) * plan.trigger_s
    return now + (at - TRIGGER_LEAD_S - wall)


def _drive(stage, watch, files, t0, interval, leg) -> dict[str, float]:
    """The generator: drop ``files`` one every ``interval`` seconds from
    ``t0`` (all at once for 0).  Returns each file's scheduled drop time."""
    sched = {f: t0 + i * interval for i, f in enumerate(files)}

    def run():
        for f in files:
            delay = sched[f] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(stage, f), os.path.join(watch, f))
            leg.lateness_ms.append((time.perf_counter() - sched[f]) * 1000)

    thread = threading.Thread(target=run, name="generator", daemon=True)
    thread.start()
    thread.join(timeout=sched[files[-1]] - time.perf_counter() + 30)
    if thread.is_alive():
        raise TimeoutError("generator thread did not finish")
    return sched


def check_stream(ctx, leg: Leg) -> None:
    """Every sink must equal its batch oracle over every event dropped, and
    no row may have been dropped by the watermark."""
    import duckdb

    from e_commerce_streaming_datapipeline_spark.plans.registry import get_query
    from tests.oracle_compare import _oracle_df_rows, _rows_signature

    base = leg.extra["base"]
    con = duckdb.connect()
    files = [os.path.join(base, "in", f) for f in leg.extra["files"]]
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})")
    leg.attempted += 1
    if leg.extra["dropped_by_watermark"]:
        leg.fail("stream watermark", f"{leg.extra['dropped_by_watermark']} rows dropped")
    for name, registry_name in STREAM_ORACLES.items():
        leg.attempted += 1
        try:
            cols, rows, _, _ = _oracle_df_rows(con, get_query(registry_name).oracle)
            sink = ctx.spark.read.parquet(os.path.join(base, "sink", name)).select(*cols)
            got = [tuple(r) for r in sink.collect()]
        except Exception as exc:
            leg.fail(f"stream {name}", repr(exc))
            continue
        if _rows_signature(cols, got) != _rows_signature(cols, rows):
            leg.fail(f"stream {name}", f"sink has {len(got)} rows, oracle {len(rows)}; values differ")
    con.close()
    shutil.rmtree(base, ignore_errors=True)
