"""One benchmark process: it sets the engine up and prints READY (the
parent times set-up from launch to that line), checks every output against
its oracle (outside the timed region), runs the workload's measured leg
between LEG_START and LEG_END lines and writes the raw samples as JSON.
With ``--trace 1`` it runs an untraced leg and then a traced one, each for
``--seconds``, and adds the per-layer metrics and the tracing overhead.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402
from tracing import NullTracer, Tracer, lateness  # noqa: E402

# The session is the program's own (``get_spark``'s memory and engine
# settings); the benchmark only keeps every progress event of a stream, so
# the watermark check sees all of them (Spark keeps the last 100).
OBSERVE_CONF = {"spark.sql.streaming.numRecentProgressUpdates": "1000"}
# Trace runs keep every job and stage of a run in the status store (Spark
# keeps the last 1000 by default).
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}
LIVE_HEAP_MAX_GCS = 10
LIVE_HEAP_TOLERANCE_MB = 1.0
LIVE_HEAP_PAUSE_S = 0.25


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    data_dir: str
    work_dir: str
    stream_plan: gen.StreamPlan
    # called once a leg's measured work is done, while its state is held
    leg_done: Callable[[], None] = lambda: None


def setup(master: str, trace: bool) -> tuple[object, dict[str, float]]:
    """Session, registry import and warm-up: the session preparation every
    table load performs (it ships the package to executors once) and one
    small SQL job, so the JIT and codegen are up."""
    t0 = time.perf_counter()
    from e_commerce_streaming_datapipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={**OBSERVE_CONF, **(TRACE_CONF if trace else {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries

    all_queries()
    t2 = time.perf_counter()
    from e_commerce_streaming_datapipeline_spark.sources.batch import ensure_session_conf

    ensure_session_conf(spark)
    spark.range(1000).selectExpr("sum(id) AS s").collect()
    return spark, {"session.get_spark_s": t1 - t0, "plans.registry_load_s": t2 - t1}


class JvmMemory:
    """The JVM's share of ``peak_rss_mb``, as memory in use rather than
    memory reserved: under ``get_spark``'s 8 GB heap limit the heap the
    collector reserves, and so the JVM's resident size, follows when it
    chooses to grow the heap: it ranged from 1.9 to 4.2 GB over identical
    stream runs.

    - non-heap (metaspace, code cache): the peak over the measured leg,
      which the JVM keeps per pool; reset when the leg starts.
    - heap: the live set once the leg's work is done and its state is still
      held (before the streaming queries stop), read after full
      collections, so it holds what the program retains (state store
      versions, broadcast and cached blocks still in use) and not garbage
      awaiting collection."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        mf = self.jvm.java.lang.management.ManagementFactory
        self.non_heap = [p for p in mf.getMemoryPoolMXBeans()
                         if p.getType().toString() == "Non-heap memory"]
        self.memory = mf.getMemoryMXBean()
        self.live_heap_mb = 0.0

    def start(self) -> None:
        for pool in self.non_heap:
            pool.resetPeakUsage()

    def measure_live_heap(self) -> None:
        """Full collections until three in a row agree within
        LIVE_HEAP_TOLERANCE_MB: the first collection only clears the weak
        references through which Spark's ContextCleaner learns that a
        broadcast or shuffle is unused; the blocks it then removes are freed
        by a later one (the live set read 233 MB after one collection and
        99 MB after three).  Python's own cycle collector runs first: a
        DataFrame the driver no longer references but has not collected
        yet still pins its JVM objects through py4j, and whether it had run
        moved the live set by 35 MB between runs."""
        gc.collect()
        seen: list[float] = []
        for _ in range(LIVE_HEAP_MAX_GCS):
            self.jvm.java.lang.System.gc()
            seen.append(self.memory.getHeapMemoryUsage().getUsed() / 2**20)
            if len(seen) >= 3 and max(seen[-3:]) - min(seen[-3:]) < LIVE_HEAP_TOLERANCE_MB:
                break
            time.sleep(LIVE_HEAP_PAUSE_S)
        self.live_heap_mb = seen[-1]

    def result_mb(self) -> dict[str, float]:
        return {
            "live_heap": self.live_heap_mb,
            "non_heap_peak": sum(p.getPeakUsage().getUsed() for p in self.non_heap) / 2**20,
        }


def run_leg(ctx: Ctx, workload: str, tracer) -> workloads.Leg:
    if workload == "dashboard_batch":
        return workloads.dashboard_batch(ctx, tracer)
    return workloads.stream_ingest(ctx, tracer, tag="traced" if isinstance(tracer, Tracer) else "plain")


def check_leg(ctx: Ctx, workload: str, leg: workloads.Leg) -> None:
    if workload == "stream_ingest":
        workloads.check_stream(ctx, leg)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--master", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", default="")
    ap.add_argument("--plan", choices=("run", "trace"), default="run")
    args = ap.parse_args(argv)

    spark, setup_layers = setup(args.master, bool(args.trace))
    print("READY", flush=True)

    plan = gen.TRACE_PLAN if args.plan == "trace" else gen.StreamPlan()
    ctx = Ctx(spark, args.seed, args.seconds, args.data, args.work, plan)
    phases = {}
    t_phase = time.perf_counter()
    checks = workloads.Leg()
    workloads.check_queries(ctx, workloads.BATCH_QUERIES.get(args.workload, ()), checks)
    phases["checks_s"] = time.perf_counter() - t_phase
    jvm_memory = JvmMemory(spark)
    jvm_memory.start()
    ctx.leg_done = jvm_memory.measure_live_heap
    print("LEG_START", flush=True)
    leg = run_leg(ctx, args.workload, NullTracer())
    print("LEG_END", flush=True)
    ctx.leg_done = lambda: None
    phases["leg_s"] = time.perf_counter() - t_phase - phases["checks_s"]
    phases.update(leg.extra.get("phases", {}))
    check_leg(ctx, args.workload, leg)
    phases["leg_check_s"] = time.perf_counter() - t_phase - phases["checks_s"] - phases["leg_s"]
    result = {
        "phases": phases,
        "attempted": checks.attempted + leg.attempted,
        "failed": checks.failed + leg.failed,
        "errors": checks.errors + leg.errors,
        "samples": len(leg.latencies),
        "per_query_s": {n: [round(x, 3) for x in v]
                        for n, v in leg.extra.get("per_query", {}).items()},
        "jvm_mb": jvm_memory.result_mb(),
        "metrics": workloads.end_to_end(args.workload, leg),
    }
    if args.trace:
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id)
        t0 = time.time()
        traced = run_leg(ctx, args.workload, tracer)
        layers = tracer.collect(t0, time.time())
        check_leg(ctx, args.workload, traced)
        layers.update(setup_layers)
        traced_e2e = workloads.end_to_end(args.workload, traced)
        for name, value in traced_e2e.items():
            layers[f"trace.overhead.{name}"] = value - result["metrics"][name]
        layers["gen.lateness_p50_ms"], layers["gen.lateness_max_ms"] = lateness(traced.lateness_ms)
        if args.workload == "stream_ingest":
            layers["scaling.catchup_nproc_events_per_s"] = result["metrics"]["throughput_per_s"]
        result["attempted"] += traced.attempted
        result["failed"] += traced.failed
        result["errors"] += traced.errors
        result["layers"] = layers
        result["traced_metrics"] = traced_e2e
        if args.trace_out:
            tracer.write(args.trace_out, {"run_id": run_id, "workload": args.workload,
                                          "seed": args.seed, "master": args.master})
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
