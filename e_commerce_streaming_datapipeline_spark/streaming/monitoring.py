"""Streaming observability: a ``StreamingQueryListener`` that captures the
per-micro-batch health metrics the reference exports through its Prometheus
servlet sinks (``infrastructure/spark/metrics.properties:1-8``,
``infrastructure/prometheus/prometheus.yml:22-33``) — input rows, processed
rows/sec, batch duration, watermark, and state-store size — without any
external infrastructure.  Each record also keeps where the batch's time
went: its phases (``addBatch``, ``queryPlanning``, ``walCommit``,
``triggerExecution``) and its state operators' commit and update times.

This is the one custom-code component SURVEY §4 sanctions beyond stock
DataFrame plans ("a custom StreamingQueryListener for Prometheus-style
metrics parity").  The listener is pure driver-side bookkeeping: metrics
events arrive on Spark's listener bus, so attaching it costs the hot path
nothing.  At scale the same records feed a Prometheus pushgateway or a
metrics topic; here they land in memory and are queryable as a DataFrame —
the engine's answer to the reference's Grafana panels
(``ecommerce-streaming.json:55-346``).
"""

from __future__ import annotations

import threading
from dataclasses import astuple, dataclass, field, fields

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetric:
    query_name: str
    batch_id: int
    num_input_rows: int
    processed_rows_per_sec: float
    batch_duration_ms: int
    watermark: str
    state_rows: int
    state_memory_bytes: int
    rows_dropped_by_watermark: int = 0
    # micro-batch phases (progress.durationMs)
    add_batch_ms: int = 0
    query_planning_ms: int = 0
    wal_commit_ms: int = 0
    trigger_execution_ms: int = 0
    # summed over the batch's stateful operators
    state_commit_ms: int = 0
    state_all_updates_ms: int = 0
    state_store_instances: int = 0


_SQL_TYPES = {"str": "string", "int": "long", "float": "double"}
# to_df's schema: one column per BatchMetric field, in field order
_SCHEMA = ", ".join(f"{f.name} {_SQL_TYPES[f.type]}" for f in fields(BatchMetric))


@dataclass
class MetricsCollector(StreamingQueryListener):
    """Collects one ``BatchMetric`` per completed micro-batch.

    Thread-safe: progress events fire on the listener-bus thread while the
    test/driver thread reads.  ``attach``/``detach`` manage registration so
    collectors don't leak across queries.
    """

    records: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API casing)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        # sum across ALL stateful operators: a multi-stateful query (dedup →
        # window agg, or a chained stream-stream join) reports one entry per
        # operator, and total state is the number that must plateau under
        # watermark eviction
        ops = p.stateOperators or []
        phases = p.durationMs or {}
        m = BatchMetric(
            query_name=p.name or "",
            batch_id=p.batchId,
            num_input_rows=p.numInputRows,
            processed_rows_per_sec=float(p.processedRowsPerSecond or 0.0),
            batch_duration_ms=int(p.batchDuration),
            watermark=(p.eventTime or {}).get("watermark", ""),
            state_rows=sum(int(s.numRowsTotal) for s in ops),
            state_memory_bytes=sum(int(s.memoryUsedBytes) for s in ops),
            rows_dropped_by_watermark=sum(
                int(s.numRowsDroppedByWatermark) for s in ops
            ),
            add_batch_ms=int(phases.get("addBatch", 0)),
            query_planning_ms=int(phases.get("queryPlanning", 0)),
            wal_commit_ms=int(phases.get("walCommit", 0)),
            trigger_execution_ms=int(phases.get("triggerExecution", 0)),
            state_commit_ms=sum(int(s.commitTimeMs) for s in ops),
            state_all_updates_ms=sum(int(s.allUpdatesTimeMs) for s in ops),
            state_store_instances=sum(int(s.numStateStoreInstances) for s in ops),
        )
        with self._lock:
            self.records.append(m)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- driver-side access ------------------------------------------------
    def attach(self, spark: SparkSession) -> "MetricsCollector":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The captured metrics as a relation — the queryable surface the
        reference delegates to Prometheus/Grafana."""
        with self._lock:
            rows = [astuple(m) for m in self.records]
        return spark.createDataFrame(rows, _SCHEMA)
