"""Query registry: every operator from SURVEY.md §2 (plus the scale-up
operators) registers itself here as a named ``(spark, sf_dir) -> DataFrame``
builder with an optional DuckDB oracle SQL string.

``__spark_entry__.py`` (the driver contract) is a thin view over this
registry.  Column-name discipline: builders alias every computed column and
the oracle SQL uses identical ``AS`` names — the driver's compare sorts
columns by name before hashing.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}

# operator modules that register queries on import
_OPERATOR_MODULES = [
    "e_commerce_streaming_datapipeline_spark.operators.gmv",
    "e_commerce_streaming_datapipeline_spark.operators.funnel",
    "e_commerce_streaming_datapipeline_spark.operators.dropoff",
    "e_commerce_streaming_datapipeline_spark.operators.payment",
    "e_commerce_streaming_datapipeline_spark.operators.row_ops",
    "e_commerce_streaming_datapipeline_spark.operators.dedup",
    "e_commerce_streaming_datapipeline_spark.operators.joins",
    "e_commerce_streaming_datapipeline_spark.operators.advanced",
    "e_commerce_streaming_datapipeline_spark.operators.connectors",
    "e_commerce_streaming_datapipeline_spark.operators.views",
    "e_commerce_streaming_datapipeline_spark.operators.analytics",
    "e_commerce_streaming_datapipeline_spark.operators.text",
    "e_commerce_streaming_datapipeline_spark.operators.similarity",
    "e_commerce_streaming_datapipeline_spark.operators.multimodal",
    "e_commerce_streaming_datapipeline_spark.operators.streaming_queries",
    "e_commerce_streaming_datapipeline_spark.operators.setops",
    "e_commerce_streaming_datapipeline_spark.operators.sampling",
    "e_commerce_streaming_datapipeline_spark.operators.tpch_shapes",
    "e_commerce_streaming_datapipeline_spark.operators.tpch_shapes2",
    "e_commerce_streaming_datapipeline_spark.operators.curation",
    "e_commerce_streaming_datapipeline_spark.operators.statistics",
    "e_commerce_streaming_datapipeline_spark.operators.layout",
    "e_commerce_streaming_datapipeline_spark.operators.graph",
    "e_commerce_streaming_datapipeline_spark.operators.segmentation",
    "e_commerce_streaming_datapipeline_spark.operators.retrieval",
    "e_commerce_streaming_datapipeline_spark.operators.quality",
    "e_commerce_streaming_datapipeline_spark.operators.ml_training",
]


# The external correctness driver snapshots a fixed-size prefix (50 entries)
# of ``queries()`` in iteration order.  To guarantee that window witnesses at
# least one proof query per SURVEY.md §2 family (S sources / P row ops /
# A aggregations / J joins / D dedup+stateful / K sinks / V views / UDF
# surface) AND per LLM-data-pipeline family (dedup, ANN, text, curation,
# sampling, multimodal, streaming, TPC-H shapes, analytics, sketches), the
# registry emits this curated prefix first, then every remaining query in
# registration order.  Round-2 verdict finding #1: appending modules rotated
# views.py proof queries out of the driver window — this makes the window
# content explicit and insertion-order-proof.
# Rotation: the driver hash-checks only the first 50 entries of
# ``queries()``, so per round the prefix rotates through the registry while
# keeping one witness per SURVEY §2 / LLM-pipeline family.  The names earlier
# windows witnessed are the keys of the committed CORRECTNESS_r*.json files
# (tests/test_round3_ops.py::test_rotation_adds_never_witnessed_queries).

_PROOF_PREFIX = (
    # ---- round-10 window: 15 SURVEY §2 flagship keepers + 35 rotated-in
    # queries that have never had a driver CORRECTNESS row (VERDICT r9
    # task #8: keep burning the witness backlog — 133 never-witnessed at
    # r10 start, ≤ 98 after this window).  Priorities: (a) the two
    # r10-optimization-touched never-witnessed queries (minhash_audit's
    # sampled truth set and dup_ngram_coverage's materialized grain get
    # driver-verified the same round they changed), (b) the remaining
    # never-witnessed streaming family — state-store readers, changelog
    # replay, per-batch monitors, bitmap/histogram/CMS sketch stores and
    # the asymmetric-watermark joins, (c) one fresh representative per
    # SURVEY/LLM family that still has unwitnessed names (dedup, text,
    # ANN, curation, multimodal, TPC-H shapes, analytics, graph,
    # drift/eval, layout).  Retrieval has no never-witnessed names left,
    # so its family witness is the r4-witnessed flagship bm25_topk
    # (keeper-by-family, swapped for the J_joins second witness).
    # Family coverage is pinned by tests/test_round3_ops.py; rotation
    # freshness (>= 35 never-witnessed) by
    # test_rotation_adds_never_witnessed_queries.
    #
    # A1-A4 core reference processors (one witness each)
    "gmv_minutely",
    "funnel_hourly",
    "dropoff_hourly",
    "payment_hourly",
    # P row-level ops
    "enrich_lineitem",
    # V views + A6 re-aggregation (family witness)
    "payment_rollup",
    # J joins
    "complete_funnel",
    # retrieval family witness (no never-witnessed retrieval names remain)
    "bm25_topk",
    # D dedup + the HLL bounds-oracle keeper
    "dedup_events",
    "approx_unique_users_hourly",
    # S sources / K sinks (Kafka wire, live-Derby MERGE)
    "kafka_payload_roundtrip",
    "jdbc_upsert_roundtrip",
    # UDF/Variant surface
    "variant_props_stats",
    # Streaming (D2-D4)
    "gmv_stream_minutely",
    # LLM dedup flagship
    "minhash_near_dups",
    # ---- rotated in for round 10 (never driver-witnessed before) ----
    # (a) r10-optimization-touched
    "minhash_audit",
    "dup_ngram_coverage",
    # (b) the never-witnessed streaming tail: stateful monitors, sketch
    # stores, state-store readers, changelog replay, asymmetric watermarks
    "user_stats_stream",
    "segment_revenue_stream",
    "unattributed_purchases_stream",
    "unattributed_asym_watermark_stream",
    "session_dynamic_stream",
    "unique_buyers_bitmap_stream",
    "histogram_stream_quantiles",
    "heavy_hitters_cms_stream",
    "state_store_inspect",
    "changelog_replay_stream",
    "agg_state_inspect",
    "column_stats_stream",
    # (c) fresh family representatives
    "incremental_minhash_dedup",
    "symspell_typo_linkage",
    "top_terms",
    "vocab_oov_rates",
    "lsh_recall_audit",
    "embedding_topk_sq",
    "matryoshka_recall_audit",
    "weighted_doc_sample",
    "kfold_assignment",
    "user_erasure",
    "multimodal_asset_stats",
    "nation_trade_volume",
    "late_ship_priority",
    "top_supplier",
    "revenue_cusum_changepoints",
    "bootstrap_revenue_ci",
    "supplier_link_prediction",
    "revenue_acf",
    "chi2_independence",
    "wap_publish_gate",
    "ivm_retract_merge",
)


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB ANSI SQL; None => driver does rows-only check
    doc: str = ""


def query(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            # overwriting silently would swap a proof query's builder+oracle
            # out from under the driver's hash-checked window with no signal
            raise ValueError(f"duplicate query registration: {name!r}")
        _REGISTRY[name] = Query(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def _load() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


def all_queries() -> dict[str, Query]:
    """All registered queries, curated proof prefix first.

    The driver's correctness snapshot covers a fixed-size prefix of this
    mapping, so ``_PROOF_PREFIX`` (every operator family) is emitted first,
    followed by the remaining queries in registration order.
    """
    _load()
    missing = [n for n in _PROOF_PREFIX if n not in _REGISTRY]
    if missing:  # fail loudly: a rename must update the prefix too
        raise KeyError(f"_PROOF_PREFIX names unregistered queries: {missing}")
    ordered = {n: _REGISTRY[n] for n in _PROOF_PREFIX}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def get_query(name: str) -> Query:
    return all_queries()[name]


def queries_map() -> dict[str, Builder]:
    return {n: q.builder for n, q in all_queries().items()}


def oracle_sql_map() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}
