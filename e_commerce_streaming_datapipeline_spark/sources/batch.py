"""Batch sources: parquet scans over the driver fixture tables.

Reference analog: the producer's pandas CSV loads
(``src/producers/event_generator.py:47-85``) — here they become declarative
``spark.read.parquet`` scans so Catalyst gets column pruning and predicate
pushdown for free (check ``.explain``: PushedFilters/ReadSchema reach the
scan).

Scale note: the fixture is one parquet file per table; at 100 TB the same
loader points at a partitioned directory (e.g. ``events/ingest_date=.../``)
and everything downstream is unchanged — partition pruning comes from the
path layout, not from code here.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from e_commerce_streaming_datapipeline_spark.schemas import TESTDATA_TABLES
from e_commerce_streaming_datapipeline_spark.session import (
    FIXTURE_CONF,
    _default_parallelism,
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_ns_timestamps(df: DataFrame) -> DataFrame:
    """Convert raw int64-nanosecond columns back to TimestampType.

    The fixtures are written by pandas with ns precision; the session reads
    them via ``spark.sql.legacy.parquet.nanosAsLong`` as plain longs named
    like timestamps.  Spark timestamps are µs, so floor-divide — identical to
    DuckDB's ns→µs truncation, keeping the oracle comparable.
    """
    out = df
    for name in ("ts",):
        if name in df.columns and isinstance(df.schema[name].dataType, LongType):
            # integer `div`, not `/`: float division loses ns precision above 2^53
            out = out.withColumn(name, F.timestamp_micros(F.expr(f"{name} div 1000")))
    return out


_SHIPPED_SESSIONS: set[str] = set()
_SHIP_LOCK = threading.Lock()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    An externally-built SparkSession (the driver's) knows nothing about our
    import path: closures that cloudpickle serializes BY REFERENCE (the
    mapInPandas multimodal decoders, the Python DataSource class) make the
    worker ``import e_commerce_streaming_datapipeline_spark`` — which fails
    unless the package rides along.  ``addPyFile`` is runtime-callable and
    reaches workers through SparkFiles, so it works however the session was
    built.  Idempotent per (process, SparkContext), and safe for concurrent
    first callers: the lock makes the check-then-ship atomic, and the zip is
    written under a temporary name and renamed into place, so no caller ever
    ships a half-written zip."""
    sc = spark.sparkContext
    # keyed on applicationId, NOT id(sc): CPython recycles object addresses,
    # so after a context is stopped and freed a NEW context can reuse the
    # address and silently skip the addPyFile it needs
    key = sc.applicationId
    with _SHIP_LOCK:
        if key in _SHIPPED_SESSIONS:
            return
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pkg_name = os.path.basename(pkg_root)
        zip_path = os.path.join(
            tempfile.gettempdir(), f"{pkg_name}_pyfiles_{os.getpid()}.zip"
        )
        if not os.path.exists(zip_path):
            fd, tmp_path = tempfile.mkstemp(
                suffix=".zip.tmp", dir=os.path.dirname(zip_path)
            )
            try:
                with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
                    for dirpath, _dirnames, filenames in os.walk(pkg_root):
                        for fn in filenames:
                            if fn.endswith(".py"):
                                full = os.path.join(dirpath, fn)
                                arc = os.path.join(
                                    pkg_name, os.path.relpath(full, pkg_root)
                                )
                                zf.write(full, arc)
                os.replace(tmp_path, zip_path)
            except BaseException:
                os.unlink(tmp_path)
                raise
        sc.addPyFile(zip_path)
        _SHIPPED_SESSIONS.add(key)


def ensure_session_conf(spark: SparkSession) -> None:
    """Make an externally-provided SparkSession (e.g. the driver's) safe for
    the fixture tables: ns-timestamp parquet needs the legacy long fallback,
    and all window bucketing/oracle comparison assumes UTC.  Pins
    ``session.FIXTURE_CONF``, writing a key only when its value differs, so
    a ``get_spark`` session gets no writes; idempotent."""
    _ship_package(spark)
    for key, value in FIXTURE_CONF.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)
    # right-size shuffles if the session still carries Spark's static default
    # (AQE coalesces batch shuffles, but streaming stateful ops can't)
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(_default_parallelism()))


# path -> (st_size, st_mtime_ns, inferred schema) of single-file tables.
# Schemas only, never DataFrames: two loads of one table must get fresh
# attribute ids, or a self-join of them cannot be resolved.
_FILE_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the footer-inference Spark job
    on every load: a single file's inferred schema is reused while the
    file's size and mtime are unchanged.  Directories (the partitioned
    layout at scale) and paths that are not local files keep inference."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    cached = _FILE_SCHEMAS.get(path)
    if cached is not None and cached[:2] == (st.st_size, st.st_mtime_ns):
        return spark.read.schema(cached[2]).parquet(path)
    df = spark.read.parquet(path)
    _FILE_SCHEMAS[path] = (st.st_size, st.st_mtime_ns, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    # ensure_session_conf pins the confs that steer parquet schema inference
    # (nanosAsLong, inferTimestampNTZ) just before the read, so a cached
    # schema is the one inference would give on this session too
    ensure_session_conf(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return _normalize_ns_timestamps(df)


EMBED_DIM = 64  # fixture embedding dimensionality (embeddings.parquet)


def load_valid_embeddings(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """The vector-op input gate: a row whose embedding is NULL, empty, or
    not EMBED_DIM-dimensional is INVALID INPUT for every vector kernel —
    under ANSI mode a zero-length vector turns the cosine denominator into
    a job-killing DIVIDE_BY_ZERO, and the Arrow kernels cannot reshape a
    ragged batch.  Dropped EXPLICITLY here, once, for the whole similarity/
    dedup/quantize family; every family oracle mirrors the gate with
    ``VALID_EMBEDDINGS_SQL`` (pinned by the embeddings-edge fixture test).
    At 100 TB this filter is a map-side predicate on the scan — production
    pipelines gate malformed vectors at ingest for exactly this reason."""
    df = load_table(spark, "embeddings", sf_dir)
    return df.where(
        F.col("embedding").isNotNull() & (F.size("embedding") == EMBED_DIM)
    )


# the oracles' twin of load_valid_embeddings: the predicate, and the gated
# table as a subquery
VALID_EMBEDDING_PRED = f"embedding IS NOT NULL AND len(embedding) = {EMBED_DIM}"
VALID_EMBEDDINGS_SQL = f"(SELECT * FROM embeddings WHERE {VALID_EMBEDDING_PRED})"


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use
    (replaces the reference's Postgres view tier, init_metrics.sql:157-239)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
