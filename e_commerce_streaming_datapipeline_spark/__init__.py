"""PySpark-native analytics engine with the query surface of
natashaDian/e-commerce_streaming_datapipeline (reference at /root/reference, read-only).

A brand-new Spark-first design — NOT a port. The reference is a pure-Python
PySpark 3.5 + Kafka streaming pipeline (see SURVEY.md); this engine
re-expresses its whole query surface (sources, row ops, windowed aggregations,
joins, dedup, sinks, downstream SQL views) as idiomatic batch + Structured
Streaming DataFrame plans, and extends it with LLM-data-pipeline operators
(dedup families, similarity search, text analysis, multimodal plumbing)
designed for 100 TB scale.

Layout:
    session.py    SparkSession factory (AQE, Arrow, UTC, ns-parquet handling)
    schemas.py    fixture table names and event/payment vocabularies
    sources/      batch parquet/csv loaders, streaming (file/kafka) sources
    operators/    the operator inventory from SURVEY.md §2 + scale-up ops
    functions/    reusable column expressions (vector math, hashing, text)
    streaming/    watermarked streaming processors + idempotent sinks
    plans/        query registry exposed to the driver via __spark_entry__.py
"""

from e_commerce_streaming_datapipeline_spark.session import get_spark, spark_session

__all__ = ["get_spark", "spark_session"]
