"""The benchmark, as one command:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It generates the workload's inputs from the seed, starts the engine in
child processes (``worker.py``) and prints one JSON object as the last line
of standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.  The
line before it carries the workload's own metric names (``query_geomean_s``,
``freshness_p90_s``, ``error_rate``, ...), the sample count, ``nproc`` and
the Spark master.  See ``perfbench/NOTES.md``.

Everything the run writes stays under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` (trace spans) in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import percentile  # noqa: E402

WORKLOADS = ("dashboard_batch", "stream_ingest")
CHILD_TIMEOUT_S = 150.0
# Each leg of a traced run measures this share of --seconds, and a stream
# leg follows gen.TRACE_PLAN: the run has two legs (untraced, traced) and,
# for the stream, a local[1] worker with a third, and must still end inside
# the run's time limit.
TRACE_LEG_SHARE = 0.1
RSS_POLL_S = 0.1

# The workload's own names for the common end-to-end metrics.
NAMES = {
    "dashboard_batch": {
        "latency_s": "query_geomean_s",
        "latency_tail_s": "refresh_s",
        "throughput_per_s": "queries_per_s",
    },
    "stream_ingest": {
        "latency_s": "freshness_p50_s",
        "latency_tail_s": "freshness_p90_s",
        "throughput_per_s": "catchup_events_per_s",
    },
}
UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _missing_program() -> str | None:
    for rel in ("e_commerce_streaming_datapipeline_spark/__init__.py", "tests/oracle_compare.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a checkout of the engine"
    for mod in ("pyspark", "duckdb", "pyarrow", "numpy", "pandas"):
        if importlib.util.find_spec(mod) is None:
            return f"python module {mod!r} is not installed"
    return None


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _is_jvm(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False


def tree_processes(root_pid: int) -> dict[int, bool]:
    """``root_pid`` and its descendants, each mapped to whether it is the
    JVM.  A child of the JVM whose command line is still the JVM's has not
    exec'd yet: the JVM starts helpers with ``posix_spawn``, whose child
    shares the JVM's memory map until it execs, so it is left out.  Forked
    children of other processes (the Python workers PySpark's daemon forks
    without exec) are kept."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_read(f"/proc/{name}/stat").rsplit(b")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = {root_pid: _is_jvm(root_pid)}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp != p or c in out:
                continue
            try:
                if out[p] and _read(f"/proc/{c}/cmdline") == _read(f"/proc/{p}/cmdline"):
                    continue
            except OSError:
                continue
            out[c] = _is_jvm(c)
            frontier.append(c)
    return out


def outside_jvm_pss_kb(root_pid: int) -> int:
    """Proportional set size of every process of the tree under
    ``root_pid`` but the JVM: pages shared between forked Python workers are
    counted once.  The JVM's own is not read: ``smaps_rollup`` walks its
    whole multi-GB address space under its memory-map lock, which took
    50 ms a read and stalled the JVM being measured."""
    total = 0
    for pid, is_jvm in tree_processes(root_pid).items():
        if is_jvm:
            continue
        try:
            for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
                if line.startswith(b"Pss:"):
                    total += int(line.split()[1])
                    break
        except OSError:
            continue
    return total


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` is still running (zombies aside)."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                fields = _read(f"/proc/{name}/stat").rsplit(b")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != b"Z":
                return True
    return False


class Child:
    """A worker process in its own process group, timed from launch to the
    READY line it prints once set up.  Its process tree's memory is sampled
    between the LEG_START and LEG_END lines it prints around the measured
    leg, so the oracle checks before the leg do not count."""

    def __init__(self, args: list[str], env: dict, cwd: str, log: str):
        self.log = log
        self.ready_s: float | None = None
        self.measuring = threading.Event()
        self.peak_other_kb = 0  # every process of the tree but the JVM
        self._log_fh = open(log, "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdout=subprocess.PIPE, stderr=self._log_fh, cwd=cwd, env=env,
            text=True, start_new_session=True,
        )
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            word = line.strip()
            if word == "READY" and self.ready_s is None:
                self.ready_s = time.perf_counter() - self.t0
            elif word == "LEG_START":
                self.measuring.set()
            elif word == "LEG_END":
                self.measuring.clear()

    def watch_rss(self, stop: threading.Event) -> threading.Thread:
        def poll():
            while not stop.is_set() and self.proc.poll() is None:
                if self.measuring.is_set():
                    self.peak_other_kb = max(self.peak_other_kb,
                                             outside_jvm_pss_kb(self.proc.pid))
                stop.wait(RSS_POLL_S)

        t = threading.Thread(target=poll, daemon=True)
        t.start()
        return t

    def wait(self, timeout: float) -> int:
        try:
            return self.proc.wait(timeout=timeout)
        finally:
            self.stop()

    def stop(self) -> None:
        """Kill what is left of the worker's process group (its JVM and
        Python workers) and wait until all of it has ended."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait(timeout=10)
        deadline = time.monotonic() + 10
        while _group_alive(self.proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        self._reader.join(timeout=5)
        self._log_fh.close()

    def tail(self, n: int = 30) -> str:
        with open(self.log, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])


def _env(work: str, cpus: int) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONHASHSEED": "0",
    })
    return env


def _generate(workload: str, seed: int, data: str) -> None:
    import gen

    os.makedirs(data, exist_ok=True)
    if workload == "dashboard_batch":
        gen.write_events(data, seed)
        gen.write_star_schema(data, seed)
    # stream_ingest stages its own files, one set per leg


def _main_run(workload, seed, seconds, master, cpus, work, trace, trace_out,
              label, plan) -> tuple[str, Child]:
    """Start one worker; returns its result path and the child."""
    out = os.path.join(work, f"result-{label}.json")
    child = Child(
        ["--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--master", master,
         "--data", os.path.join(work, "data"), "--work", work, "--out", out,
         "--trace-out", trace_out, "--plan", plan],
        _env(work, cpus), work, os.path.join(work, f"{label}.log"),
    )
    return out, child


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its workers (the ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)}")
    missing = _missing_program()
    if missing:
        return _fail(missing)

    cpus = len(os.sched_getaffinity(0))
    master = f"local[{cpus}]"
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    trace_out = ""
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        trace_out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.jsonl")
    children: list[Child] = []
    try:
        os.makedirs(work)
        _generate(args.workload, args.seed, os.path.join(work, "data"))

        leg_seconds = args.seconds * TRACE_LEG_SHARE if args.trace else args.seconds
        plan = "trace" if args.trace else "run"
        out, main_child = _main_run(args.workload, args.seed, leg_seconds, master, cpus,
                                    work, args.trace, trace_out, "main", plan)
        children.append(main_child)
        stop = threading.Event()
        main_child.watch_rss(stop)
        code = main_child.wait(CHILD_TIMEOUT_S)
        stop.set()
        if code != 0 or main_child.ready_s is None:
            return _fail(f"worker exited with {code}:\n{main_child.tail()}")
        with open(out) as fh:
            res = json.load(fh)
        memory = {
            "other_pss_peak_mb": main_child.peak_other_kb / 1024,
            "jvm_live_heap_mb": res["jvm_mb"]["live_heap"],
            "jvm_non_heap_peak_mb": res["jvm_mb"]["non_heap_peak"],
        }
        e2e = {
            "setup_s": main_child.ready_s,
            "peak_rss_mb": sum(memory.values()),
            **res["metrics"],
        }
        attempted, failed = res["attempted"], res["failed"]
        errors = list(res["errors"])

        if args.trace:
            metrics = dict(res["layers"])
            metrics["scaling.nproc"] = cpus
            if args.workload == "stream_ingest":
                # the same schedule as the traced run's untraced leg, whose
                # catch-up is the nproc figure
                out1, one = _main_run(args.workload, args.seed, leg_seconds, "local[1]", 1,
                                      work, 0, "", "one-core", plan)
                children.append(one)
                if one.wait(CHILD_TIMEOUT_S) != 0:
                    return _fail(f"local[1] worker failed:\n{one.tail()}")
                with open(out1) as fh:
                    res1 = json.load(fh)
                metrics["scaling.catchup_1core_events_per_s"] = res1["metrics"]["throughput_per_s"]
                attempted += res1["attempted"]
                failed += res1["failed"]
                errors += res1["errors"]
        else:
            metrics = e2e

        own = {NAMES[args.workload].get(k, k): round(v, 6) for k, v in e2e.items()}
        own["error_rate"] = failed / attempted
        if res["per_query_s"]:
            # the plain median of every query sample, beside the per-shape
            # metrics
            samples = [x for v in res["per_query_s"].values() for x in v]
            own["query_p50_s"] = round(percentile(samples, 50), 6)
        info = {"workload": args.workload, "seed": args.seed, "nproc": cpus,
                "master": master, "samples": res["samples"], "metrics": own,
                "memory_mb": {k: round(v, 1) for k, v in memory.items()},
                "phases": res["phases"], "errors": errors[:5]}
        if res["per_query_s"]:
            info["per_query_s"] = res["per_query_s"]
        if args.trace:
            info["traced_metrics"] = res["traced_metrics"]
            info["spans"] = os.path.relpath(trace_out, ROOT)
        print(json.dumps(info))
        units = {name: UNITS.get(name, _layer_unit(name)) for name in metrics}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    except subprocess.TimeoutExpired as exc:
        return _fail(f"worker timed out: {exc}")
    finally:
        for c in children:
            c.stop()
        shutil.rmtree(work, ignore_errors=True)


def _layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
