"""GMV metrics — reference operator A2 (src/processors/gmv_processor.py:21-51).

Semantics reproduced: filter to revenue events, bucket by time window,
aggregate ``sum(total_value), count(*), count_distinct(order), avg/max/min
(price)`` rounded to 2dp.  On the synthetic fixture the revenue stream is
``events`` with ``event_type='purchase'`` and ``value`` playing price
(FIXTURES.md §B mapping).

Spark-first notes:
* The filter sits directly on the scan => Catalyst pushes
  ``event_type = 'purchase'`` into the parquet reader (PushedFilters) and
  prunes to 3 columns (ReadSchema) — at 100 TB this is the difference between
  scanning the table and scanning ~1/5 of three columns.
* One hash aggregation with map-side partial aggregation; the shuffle key
  (window_start) is dense and unskewed.
* Exact ``count_distinct`` is used (not the reference's
  ``approx_count_distinct``) so the DuckDB oracle hash-matches; the approx
  variant is exposed separately in operators/views.py with a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import decimal_avg, fround

from e_commerce_streaming_datapipeline_spark.functions.windows import sliding_window, tumbling_window
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

# avg is computed as exact-decimal sum / count so both engines divide the
# identical double — a plain double avg can land a knife-edge half-cent whose
# rounding depends on engine-specific summation order
#
# Shared with streaming/processors.py::streaming_gmv and the sliding-window
# streaming twin: the batch/stream equivalence gate hash-checks both sides
# against one oracle, so the aggregate expressions must stay bit-identical —
# one definition, parameterized on the single aggregate streaming forbids
# (count_distinct inside a streaming aggregation).
def gmv_aggs(include_distinct: bool = True):
    aggs = [
        fround(F.sum("value"), 2).alias("gmv"),
        F.count("*").alias("item_count"),
    ]
    if include_distinct:
        aggs.append(F.count_distinct(F.col("user_id")).alias("unique_buyers"))
    aggs += [
        fround(decimal_avg(F.col("value"), F.count("value")), 2)
        .alias("avg_item_price"),
        fround(F.max("value"), 2).alias("max_item_price"),
        fround(F.min("value"), 2).alias("min_item_price"),
    ]
    return aggs


_GMV_ORACLE_AGGS = """
    round(sum(value), 2)               AS gmv,
    count(*)                           AS item_count,
    count(DISTINCT user_id)            AS unique_buyers,
    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value), 2)
                                       AS avg_item_price,
    round(max(value), 2)               AS max_item_price,
    round(min(value), 2)               AS min_item_price
"""


def gmv_tumbling(purchases: DataFrame, duration: str = "1 minute") -> DataFrame:
    """A2 with tumbling windows (batch twin of the streaming processor)."""
    return (
        tumbling_window(purchases, "ts", duration)
        .groupBy("window_start", "window_end")
        .agg(*gmv_aggs())
    )


def gmv_sliding(purchases: DataFrame, duration: str = "1 minute", slide: str = "30 seconds") -> DataFrame:
    """A2 with the reference's exact 1-minute/30-second sliding windows
    (stream_processor.py:33-39): each event lands in 2 overlapping windows."""
    return (
        sliding_window(purchases, "ts", duration, slide)
        .groupBy("window_start", "window_end")
        .agg(*gmv_aggs())
    )


def _purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")


@query(
    "gmv_minutely",
    oracle=f"""
SELECT
    date_trunc('minute', ts)                        AS window_start,
    date_trunc('minute', ts) + INTERVAL '1 minute'  AS window_end,
    {_GMV_ORACLE_AGGS}
FROM events
-- event-time policy: unwindowable NULL-ts rows are dropped (see
-- functions/windows.py tumbling_window)
WHERE event_type = 'purchase' AND ts IS NOT NULL
GROUP BY 1, 2
""",
)
def q_gmv_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-minute GMV over purchase events (A2, tumbling)."""
    return gmv_tumbling(_purchases(spark, sf_dir), "1 minute")


@query(
    "gmv_sliding",
    oracle=f"""
WITH exploded AS (
    SELECT
        *,
        unnest([tb, tb - INTERVAL '30 seconds']) AS window_start
    FROM (
        SELECT *, time_bucket(INTERVAL '30 seconds', ts) AS tb
        FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
    )
)
SELECT
    window_start,
    window_start + INTERVAL '1 minute' AS window_end,
    {_GMV_ORACLE_AGGS}
FROM exploded
GROUP BY 1, 2
""",
)
def q_gmv_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 with sliding 1m/30s windows — oracle explodes each event into its
    two overlapping windows (DuckDB lacks a sliding window() function)."""
    return gmv_sliding(_purchases(spark, sf_dir), "1 minute", "30 seconds")


@query(
    "gmv_hourly",
    oracle=f"""
SELECT
    date_trunc('hour', ts)                       AS window_start,
    date_trunc('hour', ts) + INTERVAL '1 hour'   AS window_end,
    {_GMV_ORACLE_AGGS}
FROM events
-- event-time policy: unwindowable NULL-ts rows are dropped (see
-- functions/windows.py tumbling_window)
WHERE event_type = 'purchase' AND ts IS NOT NULL
GROUP BY 1, 2
""",
)
def q_gmv_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup of A2 — the granularity used by the downstream join
    queries (complete_funnel) so window keys line up across metric tables."""
    return gmv_tumbling(_purchases(spark, sf_dir), "1 hour")
