"""Sinks — reference operators K1-K4 (src/sinks/metrics_sink.py:18-51)
rebuilt with real exactly-once semantics.

The reference's sink is append + swallow-duplicate-key-errors
(metrics_sink.py:30-41, relying on Postgres UNIQUE constraints), and it
executes the batch plan up to four times (isEmpty/count/show/write —
SURVEY §4 inefficiency 3).  Here:

* ``idempotent_parquet_sink`` — foreachBatch writer that MERGE-semantically
  replaces window partitions (dynamic partition overwrite keyed on the EXACT
  window start, one partition per window), so re-emitted windows after a
  failure/restart converge instead of duplicating: at-least-once delivery +
  idempotent write = exactly-once table state.  The partition key must equal
  the idempotence key — a coarser key (e.g. per day) would delete same-day
  windows a later micro-batch did not re-emit.
* That sink is ONE write action per micro-batch; only ``fan_out_sink``,
  which runs several writers over one batch, caches it.
* ``jdbc_upsert_sink`` — the JDBC twin: same keying, staged through a
  per-batch table + ON CONFLICT merge executed over a driver-side JDBC
  connection.  Connectivity-gated before any write (no Postgres in this
  container); statement generation is unit-tested either way.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _acquire_cache(df: DataFrame) -> bool:
    """``fan_out_sink``'s cache: persist ``df`` unless a caller already did;
    return whether the fan-out owns the cache and so must unpersist it — a
    nested fan-out must not evict the batch from under the outer one's
    remaining writers."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return False
    df.persist()
    return True


def idempotent_parquet_sink(output_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: dynamic-partition-overwrite parquet writer.

    Partitioned by the EXACT window start (one directory per window), so a
    re-processed micro-batch overwrites precisely the windows it re-emits and
    nothing else — the MERGE-on-(window, key) semantics SURVEY §2.5 D5 calls
    for, without a transactional store.  Update-mode micro-batches emit only
    the windows they touched; a coarser partition key (per day) would wipe
    every other same-day window on each write.  Partition count equals the
    number of distinct windows ever emitted (24/day hourly, 1440/day
    minutely) — for sub-minute windows compact downstream rather than
    coarsening this key, because the key IS the idempotence unit.

    One write action per micro-batch, no emptiness probe: an empty batch is
    a no-op write (dynamic overwrite replaces only the partitions the batch
    holds), except that an empty FIRST batch leaves an empty ``output_dir``.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "window_part",
                F.date_format(F.col("window_start"), "yyyyMMddHHmmss"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_part")
            .parquet(output_dir)
        )

    return write


def build_upsert_statement(
    table: str,
    staging: str,
    columns: list[str],
    key_columns: list[str],
    dialect: str = "postgres",
) -> str:
    """The merge statement the JDBC sink executes after staging a
    micro-batch — factored out so statement generation is unit tested even
    where no database exists (reference target: init_metrics.sql's
    UNIQUE-keyed metric tables).

    Dialects: ``postgres`` emits INSERT .. ON CONFLICT DO UPDATE (the
    reference's target database); ``ansi`` emits standard MERGE INTO, which
    Derby/Oracle/SQL Server/DB2 (and Postgres 15+) all accept — and which
    the in-container integration test executes live against embedded Derby
    (tests/test_streaming.py)."""
    cols = ", ".join(columns)
    non_keys = [c for c in columns if c not in key_columns]
    if dialect == "postgres":
        # all-key tables (presence/dimension rows) have nothing to update —
        # "DO UPDATE SET" with an empty list is a parse error
        action = (
            "DO UPDATE SET "
            + ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
            if non_keys
            else "DO NOTHING"
        )
        return (
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging} "
            f"ON CONFLICT ({', '.join(key_columns)}) {action}"
        )
    if dialect == "ansi":
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_columns)
        matched = (
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"{c} = s.{c}" for c in non_keys)
            + " "
            if non_keys
            else ""
        )
        insert_vals = ", ".join(f"s.{c}" for c in columns)
        return (
            f"MERGE INTO {table} t USING {staging} s ON ({on}) "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({insert_vals})"
        )
    raise ValueError(f"unknown merge dialect {dialect!r}")


def _dialect_for_url(url: str) -> str:
    return "postgres" if url.startswith("jdbc:postgresql") else "ansi"


def jdbc_upsert_sink(
    url: str,
    table: str,
    key_columns: list[str],
    properties: dict[str, str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """K1 twin for JDBC targets: stage the batch into a per-batch table, then
    MERGE on the window/key columns via a driver-side JDBC connection —
    replaces the reference's append + tolerate-duplicate-key
    (metrics_sink.py:30-41) with an idempotent upsert (at-least-once replay
    converges, SURVEY §2.5 D5).

    Connectivity-gated UP FRONT: if no JDBC driver on the classpath accepts
    ``url`` (the case for Postgres in this container), the sink raises
    before staging anything, so no write is ever attempted against an
    unreachable target.  The merge dialect follows the URL (Postgres →
    ON CONFLICT; anything else → ANSI MERGE INTO).  Executed LIVE against
    embedded Derby — stage, merge, same-batch replay, idempotence assert —
    in tests/test_streaming.py."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        dialect = _dialect_for_url(url)
        # Spark's JDBC writer quotes the staging name verbatim while the
        # merge references it unquoted (engine case-folded): Postgres folds
        # unquoted identifiers DOWN, ANSI engines (Derby et al.) fold UP —
        # normalize the created name to the fold target so they meet.
        staging = f"{table}_staging_{batch_id}"
        staging = staging.upper() if dialect == "ansi" else staging.lower()
        merge_sql = build_upsert_statement(
            table, staging, batch_df.columns, key_columns, dialect
        )
        jvm = batch_df.sparkSession._jvm
        try:
            jvm.java.sql.DriverManager.getDriver(url)
        except Exception as exc:  # no registered driver accepts this URL
            raise NotImplementedError(
                f"no JDBC driver on the classpath accepts {url!r}; refusing to "
                f"stage batch {batch_id}. Generated merge statement: {merge_sql}"
            ) from exc
        props = dict(properties or {})
        # Spark's JDBC writer quotes COLUMN names verbatim too; fold staging
        # columns up for ANSI engines so the merge's unquoted s.<col>
        # references (case-folded up) resolve against them
        staged_df = (
            batch_df.toDF(*[c.upper() for c in batch_df.columns])
            if dialect == "ansi"
            else batch_df
        )
        writer = staged_df.write
        if dialect == "ansi":
            # Derby's Spark dialect maps StringType -> CLOB, which cannot be
            # equi-compared with the target table's VARCHAR keys; pin string
            # staging columns to VARCHAR
            str_cols = [
                f.name
                for f in staged_df.schema.fields
                if f.dataType.simpleString() == "string"
            ]
            if str_cols:
                writer = writer.option(
                    "createTableColumnTypes",
                    ", ".join(f"{c} VARCHAR(1024)" for c in str_cols),
                )
        writer.jdbc(url, staging, mode="overwrite", properties=props)
        jprops = jvm.java.util.Properties()
        for k, v in props.items():
            jprops.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
        try:
            st = conn.createStatement()
            try:
                st.execute(merge_sql)
            finally:
                # drop the staging table even when the merge fails — a
                # retrying streaming query must not accumulate one orphaned
                # staging table per failed batch id in the target database
                try:
                    st.execute(f"DROP TABLE {staging}")
                finally:
                    st.close()
        finally:
            conn.close()

    return write


def fan_out_sink(*sinks: Callable[[DataFrame, int], None]) -> Callable[[DataFrame, int], None]:
    """Compose several per-batch writers over ONE persisted batch — fixes the
    reference's replay-the-plan-per-action sink (SURVEY §4 inefficiency 3)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        owns = _acquire_cache(batch_df)
        try:
            for sink in sinks:
                sink(batch_df, batch_id)
        finally:
            if owns:
                batch_df.unpersist()

    return write
