"""SparkSession factory.

Mirrors the intent of the reference's ``config/spark_config.py:21-33`` (AQE on,
tuned shuffle parallelism, Kryo, graceful shutdown) but sized for the test
host and designed so the same settings scale to a real cluster.  Every conf
the engine relies on has one value, in ``SESSION_CONF`` below:

* AQE on (coalesce partitions, skew-join) — at 100 TB this is what turns a
  static ``shuffle.partitions`` guess into runtime-sized partitions.
* ``shuffle.partitions`` defaults to ``SPARK_GRAFT_CPUS`` (the local core
  count); callers size it with ``get_spark(shuffle_partitions=...)`` (rule of
  thumb on a cluster: 2-3x total cores, AQE coalesces down).
* Arrow enabled for the few Pandas-UDF operators (similarity/multimodal).
* Session timezone pinned to UTC so window bucketing is reproducible across
  engines (the DuckDB oracle is tz-naive).
* ``parquet.nanosAsLong`` — the driver fixtures write pandas ns timestamps;
  Spark 4 refuses TIMESTAMP(NANOS) without it. sources/batch.py converts the
  raw long back to a proper TimestampType column.

A deployment changes any of these with ``SPARK_GRAFT_EXTRA_CONF`` or
``get_spark(extra_conf=...)``, which are applied after the table and win;
e.g. the RocksDB state store is one entry setting
``spark.sql.streaming.stateStore.providerClass`` to
``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``.
The only other environment variables read here are deployment sizes:
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


# The runtime-settable SQL confs the fixtures are read and bucketed under.
# sources/batch.py::ensure_session_conf pins these same values on sessions
# built elsewhere.
FIXTURE_CONF: dict[str, str] = {
    # -- fixture compatibility: pandas writes TIMESTAMP(NANOS) --
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # fixture timestamp[us] columns carry isAdjustedToUTC=false; read them
    # as plain TIMESTAMP (session tz = UTC) rather than TIMESTAMP_NTZ
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # -- determinism across engines --
    "spark.sql.session.timeZone": "UTC",
    # batch shuffles are sized by AQE at runtime (streaming stateful
    # shuffles cannot be: see operators/streaming_queries.py)
    "spark.sql.adaptive.enabled": "true",
}

SESSION_CONF: dict[str, str] = {
    **FIXTURE_CONF,
    # -- optimizer / execution (reference: config/spark_config.py:26-33) --
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE partition coalescing keeps Spark's parallelismFirst=true: an r9 A/B
    # over a 32-query cross-section at sf0.1 measured parallelismFirst=false
    # 46% SLOWER (53.0 s vs 36.3 s warm) — at this scale per-stage compute
    # is real but small, and collapsing KB-sized shuffles to one 64 MB-
    # advisory task serializes work 32 cores finish faster
    # (OPTIMIZATION_r09.md).  On a production 100 TB cluster, override it to
    # false so post-shuffle partitions honor the advisory size (Spark's own
    # tuning-guide recommendation once shuffles are GB-scale and scheduling
    # overhead is amortized).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Join-strategy preference (optimization-guide §9 suggests allowing
    # shuffled-hash joins): r9 A/B legs at sf0.1 were inside the machine's
    # noise band, so the Spark default (sort-merge preferred) stands.
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime row-level filtering for big fact-fact joins: inject a bloom
    # filter built from the smaller join side into the larger side's scan
    # (cuts shuffle volume for selective joins like orders ⋈ lineitem at
    # 100 TB; no-op for broadcast joins, which already prune).
    # NOTE: runtimeFilter.semiJoinReduction.enabled is deliberately NOT
    # set — on Spark 4.1.2 it hangs every query (first action never
    # completes; verified by bisection on a bare session).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # -- python interop --
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # -- streaming (reference: spark_config.py:27, stream graceful stop) --
    # Spark's HDFS/heap-backed store: windowed-agg state here is #windows
    # rows, far under heap, and RocksDB costs ~7 s native init + per-batch
    # JNI.  Deployments whose state exceeds heap (100 TB dedup/session
    # state) override this key with RocksDBStateStoreProvider.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    ),
    "spark.streaming.stopGracefullyOnShutdown": "true",
    # reap reliable round checkpoints (functions/checkpoints.py) once
    # their RDDs are garbage-collected, instead of piling them up
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def parse_extra_conf(text: str) -> dict[str, str]:
    """The ``SPARK_GRAFT_EXTRA_CONF`` override list, ``"k=v;k2=v2"``, as a
    dict.  Limitation: ';' separates pairs, so VALUES cannot contain ';' —
    use spark-defaults.conf / --conf for those.  An entry without '=' is a
    typo'd override that would otherwise be silently ignored: warn loudly
    (r9 ADVICE #4)."""
    conf = {}
    for pair in text.split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            conf[k.strip()] = v.strip()
        elif pair.strip():
            import warnings

            warnings.warn(
                f"SPARK_GRAFT_EXTRA_CONF entry {pair!r} has no '=' and was "
                "ignored (format: 'key=value;key2=value2')",
                stacklevel=2,
            )
    return conf


def get_spark(
    app_name: str = "e_commerce_streaming_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    A second call in one process returns the live session, and pyspark's
    ``getOrCreate`` applies this call's builder options to it: its shuffle
    partitions, ``SESSION_CONF`` and the overrides replace what the session
    held.  Build once per process and pass the session around.

    Cluster-scale notes: everything here is config, not code — on a 1000-
    executor cluster the same plans run with ``master=yarn``/``k8s`` and a
    larger shuffle partition count; operators never assume local mode.
    """
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # local mode runs every executor thread inside the driver JVM, whose
        # default heap is 1g — far under this host's memory and an OOM at
        # ~5M-row shuffles.  Applies only when this process launches the JVM
        # (a pre-existing session keeps its own setting).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config(map=SESSION_CONF)
        # deployment-specific overrides without code changes (e.g. cluster
        # shuffle codecs, memoryOverhead)
        .config(map=parse_extra_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")))
        .config(map=extra_conf or {})
    )
    return builder.getOrCreate()


@contextmanager
def spark_session(**kwargs) -> Iterator[SparkSession]:
    spark = get_spark(**kwargs)
    try:
        yield spark
    finally:
        spark.stop()
