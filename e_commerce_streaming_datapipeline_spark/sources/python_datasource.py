"""Custom connector via the Python DataSource API (Spark 4).

The reference ships its own producer process that replays events into Kafka
(``src/producers/event_generator.py:150-218``); the Spark-4-native way to own
an ingest format end-to-end is a registered Python ``DataSource`` — the same
plumbing a user would write for a proprietary feed, queue, or API: schema
declaration, partition planning, executor-side generation/fetch, and (for
streams) offset bookkeeping.

``ecommerce_replay`` generates a deterministic synthetic event feed from pure
integer arithmetic (LCG), so the DuckDB oracle reproduces every row with
``generate_series`` — the connector path is hash-checked end to end, like
every other operator.

Scale notes: ``partitions()`` is the parallelism contract — each partition
generates (or would fetch) its id-striped slice independently on executors;
nothing flows through the driver.  The stream reader partitions each
micro-batch by the same striping, and offsets are plain row counts, so a
restart resumes exactly (the checkpoint stores the JSON offset).  Arrow
conversion applies when the reader yields tuples; generation cost is linear
per partition with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

N_DEFAULT = 10_000
N_PARTITIONS = 8
EVENT_TYPES = ("view", "click", "signup", "purchase")


def _user_id(i: int) -> int:
    return ((1103515245 * i + 12345) % 2147483648) % 997


def _amount_cents(i: int) -> int:
    return (i * 137) % 100_000


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int, stride: int):
        self.start = start
        self.end = end
        self.stride = stride


def _gen(part: _RangePartition):
    i = part.start
    while i < part.end:
        yield (
            i,
            _user_id(i),
            EVENT_TYPES[i % 4],
            float(_amount_cents(i)),
        )
        i += part.stride


def _gen_arrow(part: _RangePartition):
    """The batch reader's vectorized twin of ``_gen``: one Arrow
    RecordBatch per partition instead of per-row pickled tuples (guide §4 —
    the row path pays a Python-loop LCG plus per-row serialization; the
    same integer arithmetic over a numpy range is one vectorized pass and
    one Arrow hand-off).  Values are bit-identical to ``_gen``'s: int64
    arithmetic never exceeds 1103515245·n, far under 2^63 for any
    realistic n."""
    import numpy as np
    import pyarrow as pa

    # int64 headroom guard: the row-path twin ``_gen`` computes the LCG in
    # exact Python ints, while this path wraps at 2^63 — beyond
    # n ≈ 8.36e9 the two readers would silently diverge.  Fail loudly
    # instead (r9 ADVICE #1) — a raise, not an assert, so ``python -O``
    # keeps the guard.
    if part.end > (2**63) // 1103515245:
        raise OverflowError(
            f"_gen_arrow int64 overflow: end={part.end} exceeds "
            f"{(2**63) // 1103515245} (LCG multiply would wrap); "
            "compute modulo before multiply to lift the bound"
        )
    i = np.arange(part.start, part.end, part.stride, dtype=np.int64)
    user = ((1103515245 * i + 12345) % 2147483648) % 997
    amount = ((i * 137) % 100_000).astype(np.float64)
    etype = np.asarray(EVENT_TYPES, dtype=object)[(i % 4)]
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(i, type=pa.int64()),
            pa.array(user, type=pa.int64()),
            pa.array(etype, type=pa.string()),
            pa.array(amount, type=pa.float64()),
        ],
        names=["event_id", "user_id", "event_type", "amount_cents"],
    )


class EcommerceReplayReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", N_DEFAULT))
        self.num_partitions = int(options.get("numPartitions", N_PARTITIONS))

    def partitions(self):
        return [
            _RangePartition(p, self.n, self.num_partitions)
            for p in range(self.num_partitions)
        ]

    def read(self, partition: _RangePartition):
        return _gen_arrow(partition)


class EcommerceReplayStreamReader(DataSourceStreamReader):
    """Micro-batch stream over the same deterministic feed.  Offsets are row
    counts ({"row": k} = first k rows consumed) — monotonic and
    checkpoint-restart safe: a resumed query passes the stored offset as
    ``start`` and reads only [start, latest)."""

    def __init__(self, options):
        self.n = int(options.get("n", N_DEFAULT))
        self.num_partitions = int(options.get("numPartitions", N_PARTITIONS))

    def initialOffset(self):
        return {"row": 0}

    def latestOffset(self):
        return {"row": self.n}

    def partitions(self, start, end):
        lo, hi = int(start["row"]), int(end["row"])
        # stripe the [lo, hi) id range across executors
        return [
            _RangePartition(lo + p, hi, self.num_partitions)
            for p in range(self.num_partitions)
        ]

    def read(self, partition: _RangePartition):
        return _gen(partition)

    def commit(self, end):
        pass


class EcommerceReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ecommerce_replay"

    def schema(self) -> str:
        return "event_id long, user_id long, event_type string, amount_cents double"

    def reader(self, schema):
        return EcommerceReplayReader(self.options)

    def streamReader(self, schema):
        return EcommerceReplayStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration (re-registering overwrites).

    Ships the package to executors first: cloudpickle pickles the DataSource
    and reader classes BY REFERENCE, so executor Python workers must be able
    to import this module — in an externally-built session from a foreign
    cwd that only works after ``ensure_session_conf``'s ``addPyFile`` zip
    shipping.  Registering without it would fail on the first read if this
    is the session's first closure-pickled query."""
    from e_commerce_streaming_datapipeline_spark.sources.batch import ensure_session_conf

    ensure_session_conf(spark)
    spark.dataSource.register(EcommerceReplayDataSource)


# --------------------------------------------------------------------------
# Writer: transactional JSON-lines sink with a manifest commit protocol
# --------------------------------------------------------------------------

import dataclasses
import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclasses.dataclass
class _StagedFile(WriterCommitMessage):
    staged_path: str
    rows: int


class _JsonlStagingMixin:
    """The staging half shared by the batch and stream writers — one
    definition of the file contract, so a fix (e.g. the None-message guard)
    cannot land in one writer and miss the other.

    Single-shared-filesystem commit: tasks stage and the driver publishes on
    ONE posix filesystem (true in this local-mode harness; a multi-node
    deployment swaps ``os.replace`` for an object-store manifest-only
    publish — the manifest already carries everything a reader needs)."""

    path: str

    def _stage_partition(self, iterator) -> _StagedFile:
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        fname = os.path.join(staging, f"{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(fname, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _StagedFile(staged_path=fname, rows=n)

    def _stage_arrow_partition(self, iterator) -> _StagedFile:
        """Arrow twin of ``_stage_partition`` for the batch writer: the
        input crosses the JVM→Python boundary as Arrow RecordBatches
        (guide §4 — one columnar hand-off per batch instead of a pickled
        Row per record) and ``to_pylist`` yields dicts in schema order, so
        the staged JSONL bytes are identical to the row path's
        ``json.dumps(row.asDict())``."""
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        fname = os.path.join(staging, f"{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(fname, "w", encoding="utf-8") as f:
            for batch in iterator:
                rows = batch.to_pylist()
                f.write("".join(json.dumps(r) + "\n" for r in rows))
                n += len(rows)
        return _StagedFile(staged_path=fname, rows=n)

    @staticmethod
    def _remove_staged(messages) -> None:
        for m in messages:
            if m is None:
                # pyspark contract: a FAILED task's commit message is None,
                # and abort only runs when something failed — without this
                # guard the abort itself dies on AttributeError and leaks
                # every other task's staged file
                continue
            try:
                os.remove(m.staged_path)
            except OSError:
                pass


class EcommerceJsonlWriter(_JsonlStagingMixin, DataSourceArrowWriter):
    """Executor half of the commit protocol: each task writes its partition
    to ``<path>/_staging/<uuid>.jsonl`` and returns the staged filename as
    its commit message.  Nothing under ``<path>`` outside ``_staging`` is
    touched until the DRIVER commits — a failed/speculative task leaves only
    orphaned staging files, never half-published data (the same
    staging-then-publish contract Spark's own FileCommitProtocol and
    object-store manifest commits implement).

    ``DataSourceArrowWriter`` (guide §4): input arrives as Arrow
    RecordBatches rather than pickled Rows — the staged bytes are
    unchanged (see ``_stage_arrow_partition``).  The STREAM writer below
    keeps the row path: its per-epoch volumes are offsets-bounded and the
    row path stays exercised by the restart tests."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ecommerce_jsonl writer requires option 'path'")
        self.overwrite = overwrite

    def write(self, iterator) -> _StagedFile:
        return self._stage_arrow_partition(iterator)

    def commit(self, messages) -> None:
        """Driver-side atomic publish: rename every staged file into the
        target dir, then write the ``_MANIFEST`` naming exactly the
        committed files + row counts.  Readers trust only the manifest, so
        a crash between renames publishes nothing (no manifest) and a
        re-run republishes idempotently.

        Save-mode semantics against a prior manifest: ``append`` MERGES the
        prior file list (clobbering it would silently unpublish every
        previously committed row); ``overwrite`` deletes the prior data
        files before publishing (or they would sit on disk unreferenced
        forever)."""
        manifest_path = os.path.join(self.path, "_MANIFEST")
        prior = []
        if os.path.exists(manifest_path):
            with open(manifest_path, encoding="utf-8") as f:
                prior_manifest = json.load(f)
            if self.overwrite:
                for p in prior_manifest["files"]:
                    try:
                        os.remove(os.path.join(self.path, p["file"]))
                    except OSError:
                        pass
            else:
                prior = prior_manifest["files"]
        published = list(prior)
        for m in messages:
            final = os.path.join(self.path, os.path.basename(m.staged_path))
            os.replace(m.staged_path, final)
            published.append({"file": os.path.basename(final), "rows": m.rows})
        manifest = {
            "files": sorted(published, key=lambda p: p["file"]),
            "total_rows": sum(p["rows"] for p in published),
        }
        with open(manifest_path, "w", encoding="utf-8") as f:
            json.dump(manifest, f)

    def abort(self, messages) -> None:
        self._remove_staged(messages)


class EcommerceJsonlSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ecommerce_jsonl"

    def writer(self, schema, overwrite: bool):
        return EcommerceJsonlWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return EcommerceJsonlStreamWriter(self.options)


def register_sink(spark) -> None:
    """Idempotent registration of the JSON-lines sink (ships the package
    first for executor-side class imports, same as ``register``)."""
    from e_commerce_streaming_datapipeline_spark.sources.batch import ensure_session_conf

    ensure_session_conf(spark)
    spark.dataSource.register(EcommerceJsonlSink)


def read_manifest_files(path: str) -> tuple[list[str], int]:
    """The reader half of the protocol: only manifest-listed files exist as
    far as consumers are concerned."""
    with open(os.path.join(path, "_MANIFEST"), encoding="utf-8") as f:
        manifest = json.load(f)
    return (
        [os.path.join(path, p["file"]) for p in manifest["files"]],
        manifest["total_rows"],
    )


# --------------------------------------------------------------------------
# Stream writer: per-epoch manifest commits (exactly-once streaming sink)
# --------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamWriter


class EcommerceJsonlStreamWriter(_JsonlStagingMixin, DataSourceStreamWriter):
    """Streaming half of the sink: same staging contract as the batch
    writer, but the driver commit is PER MICRO-BATCH and idempotent on
    batchId — the manifest for epoch N is written once at
    ``_MANIFEST-<N>``, and committing an epoch removes any
    ``epoch-<N>-*`` data files a crashed earlier attempt of the SAME epoch
    left behind, so neither manifest-trusting readers nor naive globbers
    ever observe a duplicated epoch.  This is the exactly-once recipe for
    sinks without transactions: idempotent per-epoch publish keyed on
    batchId."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ecommerce_jsonl stream writer requires option 'path'")

    def write(self, iterator) -> _StagedFile:
        return self._stage_partition(iterator)

    def commit(self, messages, batchId: int) -> None:
        published = []
        for m in messages:
            if m is None:
                continue
            final = os.path.join(
                self.path, f"epoch-{batchId}-{os.path.basename(m.staged_path)}"
            )
            os.replace(m.staged_path, final)
            published.append({"file": os.path.basename(final), "rows": m.rows})
        kept = {p["file"] for p in published}
        # replayed epoch: sweep the crashed attempt's uuid-named files so the
        # directory never holds two copies of epoch N's data
        for fname in os.listdir(self.path):
            if fname.startswith(f"epoch-{batchId}-") and fname not in kept:
                try:
                    os.remove(os.path.join(self.path, fname))
                except OSError:
                    pass
        manifest = {
            "batch_id": batchId,
            "files": sorted(published, key=lambda p: p["file"]),
            "total_rows": sum(p["rows"] for p in published),
        }
        with open(
            os.path.join(self.path, f"_MANIFEST-{batchId}"), "w", encoding="utf-8"
        ) as f:
            json.dump(manifest, f)

    def abort(self, messages, batchId: int) -> None:
        self._remove_staged(messages)
