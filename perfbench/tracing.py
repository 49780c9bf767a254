"""Benchmark-side tracing: spans around each call into the engine, plus the
per-layer numbers Spark already keeps.

Spans are recorded only around calls the benchmark makes (a query's build
and action, a round of queries, a streaming query, a sink write); nothing
is added inside the program.  Stage metrics come from the application's
status store through the UI REST API, and streaming phases from a
``StreamingQueryListener`` that keeps what ``streaming.monitoring.
MetricsCollector`` drops: ``durationMs`` and each state operator's commit
time, update time and store-instance count.  Everything is held in memory
and written out when the run ends.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager

from stats import median, union_length

PER_LAYER = (
    "session.get_spark_s",
    "plans.registry_load_s",
    "plans.build_s",
    "plans.eager_jobs",
    "exec.driver_s",
    "exec.stages",
    "exec.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "sources.scan_bytes",
    "sources.scan_rows",
    "exchange.write_bytes",
    "exchange.read_bytes",
    "exchange.fetch_wait_s",
    "exchange.spill_bytes",
    "python.eval_s",
    "python.rows",
    "streaming.batches",
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.latest_offset_ms",
    "streaming.no_data_batch_share",
    "streaming.backlog_files_max",
    "state.commit_ms",
    "state.update_ms",
    "state.rows_total",
    "state.memory_bytes",
    "state.instances",
    "state.dropped_by_watermark",
    "sinks.write_ms",
    "sinks.batches",
    "sinks.failed_batches",
    "gen.lateness_p50_ms",
    "gen.lateness_max_ms",
    "scaling.nproc",
    "scaling.catchup_nproc_events_per_s",
    "scaling.catchup_1core_events_per_s",
    "trace.leg_s",
    "trace.overhead.latency_s",
    "trace.overhead.latency_tail_s",
    "trace.overhead.throughput_per_s",
)


class NullTracer:
    """Tracing off: every hook is a no-op, so the measured legs run the same
    calls with nothing wrapped around them."""

    @contextmanager
    def span(self, name, parent=None, job_group=False):
        yield None

    def sink_write(self, *args) -> None:
        pass

    def stream_started(self, spark) -> None:
        pass

    def stream_stopped(self, spark, queries) -> None:
        pass

    def stream_files(self, *args) -> None:
        pass


class _Listener:
    """Keeps every progress event as parsed JSON (built lazily so that
    importing this module needs no Spark)."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def __init__(self):
                self.events = []
                self.lock = threading.Lock()

            def onQueryStarted(self, event):  # noqa: N802 (Spark API casing)
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = json.loads(event.progress.json)
                with self.lock:
                    self.events.append(p)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return Listener()


def _epoch(stamp: str) -> float:
    """Spark UI / progress timestamps ('...T01:26:07.610GMT' or '...Z')."""
    stamp = stamp.replace("GMT", "").replace("Z", "")
    return dt.datetime.fromisoformat(stamp).replace(tzinfo=dt.timezone.utc).timestamp()


class Tracer(NullTracer):
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.groups: dict[str, int] = {}
        self.sinks: list[dict] = []
        self.files: dict[str, tuple[dict, dict]] = {}
        self.listener = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._offset = time.time() - time.perf_counter()

    # -- recording ---------------------------------------------------------
    def _add(self, name, start, end, parent, **attrs) -> int:
        with self._lock:
            sid = next(self._ids)
            self.spans.append(dict(id=sid, name=name, start=start, end=end,
                                   parent=parent, run_id=self.run_id, **attrs))
        return sid

    @contextmanager
    def span(self, name, parent=None, job_group=False):
        sc = self.spark.sparkContext
        with self._lock:
            sid = next(self._ids)
        group = f"pb-{self.run_id}-{sid}" if job_group else None
        if group:
            sc.setJobGroup(group, name)
            self.groups[group] = sid
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(dict(id=sid, name=name, start=start, end=end,
                                       parent=parent, run_id=self.run_id, group=group))

    def sink_write(self, query, batch_id, t0, t1, ok) -> None:
        with self._lock:
            self.sinks.append(dict(query=query, batch_id=batch_id, ok=ok,
                                   start=t0 + self._offset, end=t1 + self._offset))

    def stream_started(self, spark) -> None:
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def stream_stopped(self, spark, queries) -> None:
        time.sleep(0.5)  # the listener bus delivers the last progress events
        spark.streams.removeListener(self.listener)

    def stream_files(self, query, file_batch, sched) -> None:
        self.files[query] = (file_batch, {f: t + self._offset for f, t in sched.items()})

    # -- Spark's own accounting -------------------------------------------
    def _rest(self, path: str):
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def collect(self, leg_start: float, leg_end: float) -> dict[str, float]:
        """Per-layer metrics of the traced leg ``[leg_start, leg_end]``."""
        time.sleep(1.0)  # the status store applies listener events asynchronously
        jobs = [
            j for j in self._rest("/jobs")
            if "submissionTime" in j and leg_start <= _epoch(j["submissionTime"]) <= leg_end
        ]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = {
            s["stageId"]: s for s in self._rest("/stages")
            if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
        }

        def window(stage_list):
            return [
                (_epoch(s["submissionTime"]), _epoch(s["completionTime"]))
                for s in stage_list if "completionTime" in s and "submissionTime" in s
            ]

        # stage spans under the call span whose job group ran them
        stage_parent: dict[int, int] = {}
        by_group: dict[str, list] = {}
        for j in jobs:
            sid = self.groups.get(j.get("jobGroup", ""))
            for st in j["stageIds"]:
                if st in stages:
                    by_group.setdefault(j.get("jobGroup", ""), []).append(stages[st])
                    if sid is not None:
                        stage_parent[st] = sid
        for st, parent in stage_parent.items():
            for a, b in window([stages[st]]):
                self._add(f"stage {st}", a, b, parent, kind="stage")

        m = dict.fromkeys(PER_LAYER, 0.0)
        for span in self.spans:
            d = span["end"] - span["start"]
            if span["name"] == "plans.build":
                m["plans.build_s"] += d
                m["plans.eager_jobs"] += sum(
                    1 for j in jobs if j.get("jobGroup") == span["group"]
                )
            elif span["name"] == "exec.action":
                intervals = [
                    (max(a, span["start"]), min(b, span["end"]))
                    for a, b in window(by_group.get(span["group"], []))
                    if b > span["start"] and a < span["end"]
                ]
                m["exec.driver_s"] += d - union_length(intervals)
        for s in stages.values():
            m["exec.stages"] += 1
            m["exec.tasks"] += s["numCompleteTasks"]
            m["exec.run_s"] += s["executorRunTime"] / 1e3
            m["exec.cpu_s"] += s["executorCpuTime"] / 1e9
            m["exec.gc_s"] += s["jvmGcTime"] / 1e3
            m["sources.scan_bytes"] += s["inputBytes"]
            m["sources.scan_rows"] += s["inputRecords"]
            m["exchange.write_bytes"] += s["shuffleWriteBytes"]
            m["exchange.read_bytes"] += s["shuffleReadBytes"]
            m["exchange.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
            m["exchange.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        self._streaming(m, jobs, stages)
        m["trace.leg_s"] = leg_end - leg_start
        return m

    def _streaming(self, m, jobs, stages) -> None:
        events = list(self.listener.events) if self.listener else []
        if not events:
            return
        n = len(events)
        dur = [e.get("durationMs", {}) for e in events]
        m["streaming.batches"] = n
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                          ("latestOffset", "latest_offset_ms")):
            m[f"streaming.{name}"] = sum(d.get(key, 0) for d in dur) / n
        m["streaming.no_data_batch_share"] = sum(1 for e in events if e["numInputRows"] == 0) / n
        peak: dict[str, dict[str, float]] = {}
        for e in events:
            ops = e.get("stateOperators", [])
            m["state.commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops) / n
            m["state.update_ms"] += sum(o.get("allUpdatesTimeMs", 0) for o in ops) / n
            m["state.dropped_by_watermark"] += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
            # foreachBatch runs the batch plan in nested executions, so the
            # SQL node of a pandas-state operator carries no Python metrics;
            # its update time is the Python function's time plus Arrow transfer
            for o in ops:
                if "pandas" in o.get("operatorName", "").lower():
                    m["python.eval_s"] += o.get("allUpdatesTimeMs", 0) / 1e3
                    m["python.rows"] += o.get("numRowsUpdated", 0)
            p = peak.setdefault(e["name"], dict(rows=0, mem=0, inst=0))
            p["rows"] = max(p["rows"], sum(o.get("numRowsTotal", 0) for o in ops))
            p["mem"] = max(p["mem"], sum(o.get("memoryUsedBytes", 0) for o in ops))
            p["inst"] = max(p["inst"], sum(o.get("numStateStoreInstances", 0) for o in ops))
        m["state.rows_total"] = sum(p["rows"] for p in peak.values())
        m["state.memory_bytes"] = sum(p["mem"] for p in peak.values())
        m["state.instances"] = sum(p["inst"] for p in peak.values())
        m["sinks.batches"] = len(self.sinks)
        m["sinks.failed_batches"] = sum(1 for s in self.sinks if not s["ok"])
        m["sinks.write_ms"] = sum(s["end"] - s["start"] for s in self.sinks) * 1e3 / max(1, len(self.sinks))

        # spans: query -> micro-batch -> (sink write, stages of that query's jobs)
        query_runs = {}
        for e in events:
            query_runs.setdefault(e["name"], e["runId"])
        driver_s = 0.0
        for qname, run_id in query_runs.items():
            q_events = [e for e in events if e["name"] == qname]
            q_start = min(_epoch(e["timestamp"]) for e in q_events)
            q_end = max(_epoch(e["timestamp"]) + e["durationMs"].get("triggerExecution", 0) / 1e3
                        for e in q_events)
            qid = self._add(qname, q_start, q_end, None, kind="stream")
            q_stages = [stages[s] for j in jobs if j.get("jobGroup") == run_id
                        for s in j["stageIds"] if s in stages]
            starts = {}
            for e in q_events:
                a = _epoch(e["timestamp"])
                b = a + e["durationMs"].get("triggerExecution", 0) / 1e3
                starts[e["batchId"]] = a
                bid = self._add(f"batch {e['batchId']}", a, b, qid, kind="batch")
                inside = []
                for s in q_stages:
                    if "completionTime" not in s:
                        continue
                    sa, sb = _epoch(s["submissionTime"]), _epoch(s["completionTime"])
                    if sa >= a and sb <= b + 0.001:
                        inside.append((sa, sb))
                        self._add(f"stage {s['stageId']}", sa, sb, bid, kind="stage")
                for s in self.sinks:
                    if s["query"] == qname.rsplit("_", 1)[0] and s["batch_id"] == e["batchId"]:
                        self._add("sinks.write", s["start"], s["end"], bid, kind="sink")
                driver_s += (b - a) - union_length(inside)
            file_batch, sched = self.files.get(qname.rsplit("_", 1)[0], ({}, {}))
            # backlog: files dropped whose micro-batch has not started yet
            marks = sorted(
                [(sched[f], 1) for f in file_batch if f in sched]
                + [(starts.get(b, sched.get(f, 0.0)), -1)
                   for f, b in file_batch.items() if f in sched]
            )
            level = 0
            for _, step in marks:
                level += step
                m["streaming.backlog_files_max"] = max(m["streaming.backlog_files_max"], level)
        m["exec.driver_s"] += driver_s

    # -- output ------------------------------------------------------------
    def write(self, path: str, header: dict) -> None:
        """Spans with their self time: duration minus the part of the span
        its child spans cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        with open(path, "w") as fh:
            fh.write(json.dumps(header) + "\n")
            for s in sorted(self.spans, key=lambda s: s["start"]):
                kids = [(max(a, s["start"]), min(b, s["end"]))
                        for a, b in children.get(s["id"], []) if b > s["start"] and a < s["end"]]
                out = dict(s, self_s=(s["end"] - s["start"]) - union_length(kids))
                fh.write(json.dumps(out) + "\n")


def lateness(values_ms: list[float]) -> tuple[float, float]:
    return (median(values_ms), max(values_ms)) if values_ms else (0.0, 0.0)
