"""Payment metrics — reference operator A4
(src/processors/payment_processor.py:22-66) + the JSON-decode source operator
S3 (src/consumers/stream_processor.py:117-122).

Semantics reproduced: windowed aggregation grouped by window + payment_type
with ``coalesce``-defaulted sums/averages, conditional success/failure
counts, and a safe-division success rate.  Fixture mapping (FIXTURES.md §B):
payment_type is derived from the ``props`` JSON payload (exercising the
``from_json``/``get_json_object`` decode path the reference applies to every
Kafka value) and success is ``value >= 20``.

Spark-first notes: ``get_json_object`` runs JVM-side (Jackson) inside
codegen; the JSON decode is a projection, not a UDF.  Grouping key
(window, payment_type) has cardinality #windows x 4 — dense, no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.rounding import decimal_avg, fround

from e_commerce_streaming_datapipeline_spark.functions.windows import safe_rate, tumbling_window
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.schemas import PAYMENT_TYPES
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

SUCCESS_MIN_VALUE = 20.0


def with_payment_type(events: DataFrame) -> DataFrame:
    """Decode the JSON props payload (S3) and derive a payment_type bucket.

    NULL props (or props without ``k``) must yield a NULL payment_type —
    guarded EXPLICITLY with ``when(isNotNull)``, because Catalyst's
    extract-value simplification rewrites ``element_at(<literal array>,
    idx)`` into a CASE whose ELSE branch is the LAST element, so a NULL
    index silently returns 'debit_card' instead of NULL (pinned by the
    events-edge fixture test)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    bucket = F.pmod(k, F.lit(4)).cast("int")
    return events.withColumn("props_k", k).withColumn(
        "payment_type",
        F.when(
            bucket.isNotNull(),
            F.element_at(F.array(*[F.lit(t) for t in PAYMENT_TYPES]), bucket + 1),
        ),
    )


# the oracles' twin of with_payment_type's bucket: a positive mod, matching
# Spark's pmod for negative k
PAYMENT_TYPE_SQL = (
    f"{list(PAYMENT_TYPES)} [(((CAST(props->>'$.k' AS BIGINT) % {len(PAYMENT_TYPES)}) "
    f"+ {len(PAYMENT_TYPES)}) % {len(PAYMENT_TYPES)}) + 1]"
)


def payment_metrics(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    success = F.coalesce(F.col("value"), F.lit(0.0)) >= SUCCESS_MIN_VALUE
    agg = (
        tumbling_window(with_payment_type(events), "ts", duration)
        .groupBy("window_start", "window_end", "payment_type")
        .agg(
            F.count("*").alias("transaction_count"),
            F.count_distinct(F.col("user_id")).alias("unique_users"),
            fround(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("total_payment_value"),
            fround(
                decimal_avg(F.coalesce(F.col("value"), F.lit(0.0)), F.count("*")), 2
            ).alias("avg_payment_value"),
            F.sum(F.when(success, 1).otherwise(0)).alias("successful_payments"),
            F.sum(F.when(~success, 1).otherwise(0)).alias("failed_payments"),
            fround(F.avg(F.coalesce(F.col("props_k"), F.lit(1))), 2).alias("avg_k"),
            F.max(F.coalesce(F.col("props_k"), F.lit(1))).alias("max_k"),
        )
    )
    return agg.withColumn(
        "success_rate",
        safe_rate(F.col("successful_payments"), F.col("transaction_count")),
    )


_PAYMENT_ORACLE = f"""
WITH typed AS (
    SELECT
        *,
        CAST(props->>'$.k' AS BIGINT) AS props_k,
        {PAYMENT_TYPE_SQL} AS payment_type
    FROM events
    WHERE ts IS NOT NULL  -- event-time policy (windows.py)
)
SELECT
    date_trunc('hour', ts)                     AS window_start,
    date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
    payment_type,
    count(*)                                   AS transaction_count,
    count(DISTINCT user_id)                    AS unique_users,
    round(sum(coalesce(value, 0.0)), 2)        AS total_payment_value,
    round(CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(18,2))) AS DOUBLE)
          / count(*), 2)                       AS avg_payment_value,
    CAST(count_if(coalesce(value, 0.0) >= {SUCCESS_MIN_VALUE}) AS BIGINT) AS successful_payments,
    CAST(count_if(coalesce(value, 0.0) < {SUCCESS_MIN_VALUE}) AS BIGINT)  AS failed_payments,
    round(avg(coalesce(props_k, 1)), 2)        AS avg_k,
    CAST(max(coalesce(props_k, 1)) AS BIGINT)  AS max_k,
    CASE WHEN count(*) > 0
         THEN round(CAST(count_if(coalesce(value, 0.0) >= {SUCCESS_MIN_VALUE}) AS BIGINT)
                    / count(*) * 100, 2)
         ELSE 0.0 END                          AS success_rate
FROM typed
GROUP BY 1, 2, 3
"""


@query("payment_hourly", oracle=_PAYMENT_ORACLE)
def q_payment_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: hourly payment metrics per payment_type with JSON-derived type,
    coalesce defaults and success rates (reference payment_metrics table,
    init_metrics.sql:113-149)."""
    return payment_metrics(load_table(spark, "events", sf_dir), "1 hour")
