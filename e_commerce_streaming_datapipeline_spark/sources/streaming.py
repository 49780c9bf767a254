"""Streaming sources — reference operators S1-S4
(src/consumers/stream_processor.py:96-136).

Two interchangeable builders behind one API:

* ``read_kafka_stream`` — the production path, byte-for-byte the reference's
  source semantics: subscribe topic, ``startingOffsets=latest``,
  ``failOnDataLoss=false``, ``maxOffsetsPerTrigger`` backpressure, metadata
  projection (S2), ``from_json`` + corrupt-drop (S3), struct flatten (S4).
  Requires the spark-sql-kafka package on the classpath; guarded so the rest
  of the engine works without a broker.
* ``read_file_stream`` — the deterministic test harness: the same downstream
  plan over a parquet file source with ``trigger(availableNow=True)``
  (SURVEY §2.1 S1 "test harness substitutes parquet").

``append_feed`` (with ``split_by_key``) is the one definition of a replay
feed — the reference producer's ordered replay of stored tables — as a
directory of parquet chunks that ``read_file_stream`` reads in arrival
order.

Upgrade over the reference (SURVEY §2.5 D3): callers get event-time columns
and are expected to ``withWatermark`` — the reference configured a watermark
(.env.example SPARK_WATERMARK_DELAY) and never applied it, so its streaming
state grows unboundedly.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEFAULT_MAX_OFFSETS_PER_TRIGGER = 10_000  # reference: stream_processor.py:108

# the chunk names append_feed writes; read a feed with
# read_file_stream(spark, feed_dir, FEED_GLOB, max_files_per_trigger=N)
FEED_GLOB = "chunk-*.parquet"


def read_kafka_stream(
    spark: SparkSession,
    topic: str,
    payload_schema: StructType,
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int = DEFAULT_MAX_OFFSETS_PER_TRIGGER,
) -> DataFrame:
    """S1-S4: Kafka scan -> metadata projection -> JSON decode -> flatten."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .load()
    )
    meta = raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("value").cast("string").alias("raw_value"),
        F.col("timestamp").alias("kafka_timestamp"),
        "partition",
        "offset",
    )
    parsed = meta.withColumn("parsed", F.from_json(F.col("raw_value"), payload_schema))
    # PERMISSIVE parse + drop-corrupt (reference stream_processor.py:117-122)
    return (
        parsed.filter(F.col("parsed").isNotNull())
        .select("kafka_key", "kafka_timestamp", "partition", "offset", "parsed.*")
    )


def read_file_stream(
    spark: SparkSession,
    sf_dir: str,
    filename: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Deterministic replay source over the fixture parquet (S1 test twin +
    S6 replay source).  Emits the same columns as the batch loader.

    File streams require an explicit schema; we take it from a batch read of
    the same file (plus the same timestamp normalization), so the streaming
    and batch paths can never disagree about fixture physical types.

    The file source requires a directory path; ``pathGlobFilter`` narrows it
    to the one fixture file (globs work too — multi-file replay).

    ``max_files_per_trigger`` throttles ingestion to N files per micro-batch
    (the file-source analogue of Kafka's ``maxOffsetsPerTrigger``), so a
    chunked directory replays as a REAL multi-batch stream with watermark
    progression between batches — used by the cross-batch equivalence tests.
    """
    from e_commerce_streaming_datapipeline_spark.sources.batch import (
        _normalize_ns_timestamps,
        _read_parquet,
        ensure_session_conf,
    )

    ensure_session_conf(spark)
    path = os.path.join(sf_dir, filename)
    if os.path.isfile(path):
        # a multi-leg stream query (e.g. the 3-way journey join) builds this
        # source repeatedly: reuse the file's schema while it is unchanged
        physical = _read_parquet(spark, path).schema
    else:
        physical = (
            spark.read.option("pathGlobFilter", filename).parquet(sf_dir).schema
        )
    reader = spark.readStream.schema(physical).option("pathGlobFilter", filename)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _normalize_ns_timestamps(reader.parquet(sf_dir))


def split_by_key(table: pa.Table, keys: pa.ChunkedArray | pa.Array) -> list[pa.Table]:
    """``table``'s rows as feed chunks by ``keys`` (one key per row): the
    null-key rows first, as one chunk, then one chunk per distinct key in
    ascending order."""
    chunks = [table.filter(pc.is_null(keys))] if keys.null_count else []
    for key in sorted(pc.unique(keys).drop_null().to_pylist()):
        chunks.append(table.filter(pc.equal(keys, key)))
    return chunks


def append_feed(feed_dir: str, tables: Iterable[pa.Table]) -> list[str]:
    """Append ``tables`` to the replay feed in ``feed_dir``, one parquet
    chunk each, and return the chunk paths.

    The file source turns file order into micro-batch order, and it orders
    files by modification time: chunks written back to back can share an
    mtime millisecond and replay out of order.  So each chunk is stamped
    one second after the previous one, and the first one after every file
    already in ``feed_dir`` — a later append (a restarted job's new input)
    arrives strictly after what the stream has seen."""
    os.makedirs(feed_dir, exist_ok=True)
    existing = [e for e in os.scandir(feed_dir) if e.is_file()]
    mtime = max([time.time()] + [e.stat().st_mtime + 1 for e in existing])
    paths = []
    for i, table in enumerate(tables, start=len(existing)):
        path = os.path.join(feed_dir, FEED_GLOB.replace("*", f"{i:05d}"))
        pq.write_table(table, path)
        os.utime(path, (mtime, mtime))
        mtime += 1
        paths.append(path)
    return paths
