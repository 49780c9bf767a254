"""Self-tests of the benchmark: generator determinism and seed sensitivity,
the memory walk over the worker's process tree, the printed metric names and
units against BENCHMARK.json, a smoke run of every workload with its
correctness checks on, and the refusal to run outside a checkout of the
engine.

    python -m pytest perfbench/tests -q

The smoke runs start Spark and take a few minutes in all.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from run import WORKLOADS, tree_processes  # noqa: E402
from stats import percentile, union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _digests(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(directory: str, seed: int) -> dict[str, str]:
    os.makedirs(directory)
    gen.write_events(directory, seed, n=2_000)
    gen.write_star_schema(directory, seed, scale=0.01)
    gen.write_stream_files(directory, seed, 3, gen.StreamPlan())
    return _digests(directory)


def test_generator_is_deterministic_and_seed_sensitive(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    c = _generate(str(tmp_path / "c"), 8)
    assert a == b
    # every seeded table changes with the seed; the two constant
    # dimension tables (nation, region) do not depend on it
    changed = {name for name in a if a[name] != c[name]}
    assert changed == set(a) - {"nation.parquet", "region.parquet"}


def test_generator_plants_the_properties_the_engine_reacts_to(tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen.write_events(str(tmp_path), 3, n=20_000)
    ev = pq.read_table(str(tmp_path / "events.parquet")).to_pandas()
    ids = ev["event_id"].to_numpy()
    assert 0.01 < 1 - len(np.unique(ids)) / len(ids) < 0.05  # duplicate event_id share
    ts = ev["ts"].astype("int64").to_numpy()
    assert (np.diff(ts) < 0).mean() > 0.01  # out-of-order rows, in file order
    top = ev["user_id"].value_counts(normalize=True).iloc[0]
    assert top > 10 / gen.EventShape().n_users  # user_id skew
    assert set(ev["event_type"]) == set(gen.EVENT_TYPES)

    plan = gen.StreamPlan()
    names = gen.write_stream_files(str(tmp_path), 3, 4, plan)
    late = 0
    for i, name in enumerate(names):
        t = pq.read_table(str(tmp_path / name)).column("ts").cast(pa.int64()).to_numpy()
        lo = gen.FIXTURE_EPOCH_US + i * plan.file_span_us
        # out-of-order rows reach into earlier files' event time, but stay
        # inside the 10-minute watermark
        assert t.min() >= lo - plan.shape.ooo_max_us
        assert t.max() < lo + plan.file_span_us
        late += int((t < lo).sum())
    assert late > 0


def test_stats_helpers():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_dashboard_latency_counts_each_shape_once():
    """A shape's weight in the dashboard's typical latency does not depend
    on how often it ran: one value per shape, its median.  The long wait is
    the median round."""
    from workloads import Leg, end_to_end

    leg = Leg(latencies=[1.0, 1.0, 1.0, 4.0, 8.0], elapsed_s=15.0, work_done=5)
    leg.extra["per_query"] = {"a": [1.0, 1.0, 1.0], "b": [4.0, 8.0]}
    leg.extra["rounds_s"] = [5.0, 9.0, 1.0]
    m = end_to_end("dashboard_batch", leg)
    assert m["latency_s"] == pytest.approx((1.0 * 6.0) ** 0.5)
    assert m["latency_tail_s"] == pytest.approx(5.0)
    assert m["throughput_per_s"] == pytest.approx(1 / 3)


def test_memory_walk_counts_forked_python_workers():
    """PySpark's daemon forks its Python workers without exec, so a worker's
    command line is the daemon's; the walk must still count them while a
    pandas function runs."""
    from e_commerce_streaming_datapipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest", master="local[1]")

    def slow(batches):
        for batch in batches:
            time.sleep(3)
            yield batch

    job = threading.Thread(target=lambda: spark.range(4).mapInPandas(slow, "id long").collect())
    job.start()
    seen, jvms = set(), set()
    try:
        while job.is_alive():
            for pid, is_jvm in tree_processes(os.getpid()).items():
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as fh:
                        cmd = fh.read()
                except OSError:
                    continue
                if is_jvm:
                    jvms.add(pid)
                elif b"pyspark.daemon" in cmd:
                    seen.add(pid)
            time.sleep(0.1)
    finally:
        job.join()
        spark.stop()
    assert len(jvms) == 1
    assert len(seen) >= 2  # the daemon and at least one worker it forked


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _expected(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_driver_workloads_are_known():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct_and_prints_every_end_to_end_metric(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _expected("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    proc = _run("dashboard_batch", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _expected("per_layer")


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = _run("dashboard_batch", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
