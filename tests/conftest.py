from __future__ import annotations

import os
import sys
import time
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from e_commerce_streaming_datapipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="e_commerce_streaming_datapipeline-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def sync_status_store(sc, timeout_s: float = 30.0) -> None:
    """Block until the status store has applied every job event posted so
    far: it applies listener events in order, so once a marker job started
    now is visible, every earlier job is too."""
    group = f"marker-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + timeout_s
    while not sc.statusTracker().getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "status store never saw the marker job"
        time.sleep(0.05)
