"""Connector-path operators exposed as oracle-checkable queries: the Kafka
producer payload path (K3, ``src/producers/base_producer.py:25-76``) and the
CSV batch source (S5, ``src/producers/event_generator.py:47-85``).

Neither needs live infrastructure to verify: the Kafka path is checked as a
serialize→deserialize round-trip (the lossy step is the JSON codec, not the
broker), and the CSV path writes the fixture out and reads it back through
the real CSV parser (header, quoting, timestamp parsing — the parts that
break).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from e_commerce_streaming_datapipeline_spark.functions.rounding import cents_sum, cents_sum_double, fround
from e_commerce_streaming_datapipeline_spark.functions.scratch import scratch_dir
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


@query(
    "kafka_payload_roundtrip",
    oracle="""
SELECT event_id, ts, user_id, event_type, round(coalesce(value, 0.0) * 100) / 100 AS value
FROM events
-- wire contract: the entity id is the Kafka key and a REQUIRED field — a
-- keyless event is an invalid message, dropped by the consumer's
-- required-field validation, so the producer never emits it either
WHERE event_id IS NOT NULL
""",
)
def q_kafka_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 producer payload path, round-tripped: build the exact wire format
    the reference produces (JSON value keyed by the entity id,
    base_producer.py:25 ``json.dumps`` / kafka key ``order_id``,
    event_generator.py:174-178), then decode it with the consumer's S3 path
    (``from_json`` + flatten) and hash-check that nothing was lost.

    ``value`` is rounded to 2dp BEFORE serialization: JSON carries decimal
    text, so a raw double's 17-digit round-trip is exact only if both codecs
    print shortest-roundtrip floats — Spark's and DuckDB's disagree; money
    fields on a wire format should be fixed-point anyway (the reference's
    Postgres DDL agrees: DECIMAL(15,2), init_metrics.sql:28).
    """
    # producer side: never emit a keyless message (the oracle's wire
    # contract; the consumer's required-field probe would drop it anyway,
    # and a NULL Kafka key would break log compaction in production)
    events = load_table(spark, "events", sf_dir).where(
        F.col("event_id").isNotNull()
    )
    payload_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    # micros-precision timestamp format: to_json's default prints millis,
    # which would silently truncate event times on the wire
    ts_fmt = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"}
    wire = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(
            F.struct(
                "event_id",
                "ts",
                "user_id",
                "event_type",
                fround(F.coalesce(F.col("value"), F.lit(0.0)), 2).alias("value"),
            ),
            ts_fmt,
        ).alias("value"),
    )
    # consumer side: S3 decode + S4 flatten (sources/streaming.py, batch twin)
    parsed = wire.withColumn("parsed", F.from_json(F.col("value"), payload_schema, ts_fmt))
    # PERMISSIVE from_json yields an all-null STRUCT for corrupt input, never
    # a null struct — the drop test must probe a required FIELD (see
    # q_corrupt_record_drop), or corrupt records would pass as all-null rows
    return parsed.filter(F.col("parsed.event_id").isNotNull()).select("parsed.*")


_CSV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@query(
    "csv_source_stats",
    oracle="""
SELECT
    event_type,
    count(*)                                    AS n_events,
    CAST(sum(round(coalesce(value, 0.0) * 100)::BIGINT) AS DOUBLE) / 100
                                                AS total_value,
    count(props)                                AS n_props
FROM events
GROUP BY 1
""",
)
def q_csv_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 CSV batch source, proven lossless: write the events fixture as CSV
    (header, quoted JSON props, ISO timestamps) and read it back through
    ``spark.read.csv`` with an explicit schema — no inferSchema job, the
    production pattern — then aggregate.  Matching the parquet-side oracle
    means the CSV parser preserved every row, timestamp, and quoted JSON
    payload.  At scale the same reader handles the reference's Olist CSVs
    (event_generator.py:51-69) as a parallel multi-file scan."""
    events = load_table(spark, "events", sf_dir)
    out_dir = scratch_dir("csv")
    (
        events.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(out_dir)
    )
    back = (
        spark.read.schema(_CSV_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(out_dir)
    )
    # scaled-long cents sum (order-independent), not raw-double summation —
    # ULP drift from summation order could flip the 2dp rounding at scale
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        cents_sum_double(F.col("value")).alias("total_value"),
        F.count("props").alias("n_props"),
    )


def partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events fixture in the 100-TB ingest layout — parquet
    partitioned by event_date — and return its path (cached per sf_dir).

    This is the storage design SCALE.md prescribes: date partitioning turns
    retention (V7) into partition drops and gives every time-bounded query
    partition pruning instead of a full scan.

    Cache keyed by the source file's (mtime, size), not just the sf name —
    a regenerated fixture must not serve the previous snapshot.  The
    build lands in a per-pid staging dir and is renamed into place, so a
    concurrent harness run either wins the rename or reads the winner's
    complete output — never a half-written directory."""
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "e_commerce_streaming_datapipeline_part",
        f"{os.path.basename(sf_dir.rstrip('/'))}_{st.st_mtime_ns}_{st.st_size}",
    )
    marker = os.path.join(out_dir, "_SUCCESS")
    if not os.path.exists(marker):
        build_dir = f"{out_dir}_build_{os.getpid()}"
        events = load_table(spark, "events", sf_dir)
        (
            events.withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")  # one writer task per partition => one file
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(build_dir)
        )
        try:
            os.rename(build_dir, out_dir)
        except OSError:
            # lost the publish race — the winner's complete dir is in place
            shutil.rmtree(build_dir, ignore_errors=True)
    return out_dir


@query(
    "partitioned_scan_counts",
    oracle="""
SELECT
    CAST(date_trunc('day', ts) AS DATE)  AS event_date,
    count(*)                             AS n_events,
    count(DISTINCT user_id)              AS unique_users
FROM events
WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL '7 days'
  AND date_trunc('day', ts) >= date_trunc('day', (SELECT max(ts) FROM events) - INTERVAL '7 days')
GROUP BY 1
""",
)
def q_partitioned_scan_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side partitioning + read-side partition PRUNING: events land
    date-partitioned (hive-style ``event_date=.../``), and the last-7-days
    filter prunes to ~8 of the ~30 daily partitions before any file is
    opened — the layout that makes time-bounded queries O(days queried), not
    O(corpus), at 100 TB.

    The cutoff comes from a one-row subquery collected driver-side: its
    value feeds the partition filter, which must be a literal at planning
    time for pruning to happen (dynamic partition pruning covers the
    join-driven variant; see test_partition_pruning_prunes_files)."""
    part_dir = partitioned_events_dir(spark, sf_dir)
    events = spark.read.parquet(part_dir)
    # collect() of a 1-row aggregate: the scalar must be a plan-time literal
    # for static partition pruning; this is a deliberate driver round-trip.
    # The DATE is computed engine-side (session tz = UTC, same semantics as
    # the event_date partition column and the oracle's date_trunc) — a
    # driver-side .date() on the collected timestamp would apply the SYSTEM
    # timezone and shift the cutoff by a day on non-UTC machines.
    row = (
        load_table(spark, "events", sf_dir)
        .agg(
            F.max("ts").alias("m"),
            F.to_date(F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cut_date"),
        )
        .collect()[0]
    )
    import datetime

    cut_ts = row["m"] - datetime.timedelta(days=7)
    cut_date = row["cut_date"]
    return (
        events.where((F.col("event_date") >= F.lit(cut_date)) & (F.col("ts") >= F.lit(cut_ts)))
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("unique_users"),
        )
    )


def _bucketed_table(spark: SparkSession, sf_dir: str, source: str, key: str, n: int = 8) -> str:
    """Materialize ``source`` as a bucketed table (hash-bucketed by ``key``
    into ``n`` buckets, sorted within buckets) and return its catalog name.

    Bucketing is the write-time contract that removes the shuffle from every
    subsequent join/agg on the bucket key: each bucket file holds exactly the
    keys with ``hash(key) % n == bucket_id``, so a join of two tables
    bucketed the same way is map-side — the SCALE.md co-location story for
    repeated fact-fact joins at 100 TB (pay one shuffle at write, never at
    read)."""
    safe_sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    name = f"bucketed_{source}_{safe_sf}"
    if not spark.catalog.tableExists(name):
        path = os.path.join(scratch_dir("buckets"), source)
        (
            load_table(spark, source, sf_dir)
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(n, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    return name


def bucketed_order_lineitem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located join itself: both facts bucketed by orderkey, joined
    with ZERO Exchange nodes (test-pinned)."""
    lt = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    ot = _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    lineitem = spark.table(lt)
    orders = spark.table(ot)
    return lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)


@query(
    "bucketed_order_join",
    oracle="""
SELECT
    o.o_orderstatus                      AS status,
    l.l_linestatus                       AS linestatus,
    count(*)                             AS line_items,
    CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT) AS DOUBLE) / 100
        AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""",
)
def q_bucketed_order_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over bucketed storage: lineitem ⋈ orders co-located by
    orderkey — the join runs with no shuffle on either side (the only
    Exchange left in the plan is the final small-key aggregation).  Results
    are identical to the plain parquet join, which is what the oracle
    computes."""
    revenue = cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        bucketed_order_lineitem_join(spark, sf_dir)
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            F.count("*").alias("line_items"),
            (revenue.cast("double") / 100).alias("revenue"),
        )
    )


@query(
    "corrupt_record_drop",
    oracle="""
WITH m AS (
    SELECT event_type,
        CASE WHEN event_id % 7 = 0 THEN substr(props, 2) ELSE props END AS mp
    FROM events
), flagged AS (
    -- TRY_CAST(... AS JSON) is DuckDB's PERMISSIVE parse: NULL on corrupt
    -- (plain json_extract raises on malformed input)
    SELECT event_type,
        CAST(json_extract(TRY_CAST(mp AS JSON), '$.k') AS INT) AS k,
        CAST(json_extract(TRY_CAST(mp AS JSON), '$.k') AS INT) IS NOT NULL AS ok
    FROM m
)
SELECT
    event_type,
    CAST(count(CASE WHEN ok THEN 1 END) AS INT)     AS n_valid,
    CAST(count(CASE WHEN NOT ok THEN 1 END) AS INT) AS n_dropped,
    CAST(sum(CASE WHEN ok THEN k END) AS BIGINT)    AS sum_k
FROM flagged
GROUP BY event_type
""",
)
def q_corrupt_record_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 corrupt-record semantics (PERMISSIVE parse + drop,
    ``src/consumers/stream_processor.py:117-122``): parse a JSON payload
    column with a declared schema and drop rows that fail.  Corruption is
    synthesized deterministically (every 7th event loses its opening brace)
    because the fixture's ``props`` are all well-formed.

    Spark 4 nuance the reference's ``.filter(parsed.isNotNull())`` misses:
    PERMISSIVE ``from_json`` yields an all-null STRUCT for corrupt input,
    not a null struct, so the drop filter must test the required FIELD —
    which is exactly the reference's own producer-side validation rule
    (required-field presence, ``src/schemas/avro_schemas.py:69-74``)
    applied consumer-side.

    Row-local projection + one hash agg over (event_type): parse cost is
    map-side codegen (Jackson inside the JVM), nothing shuffles but the
    5-row aggregate — at 100 TB this is scan-bound, and the dropped count
    per type is the data-quality telemetry a real ingest job emits."""
    events = load_table(spark, "events", sf_dir)
    mangled = F.when(
        F.col("event_id") % 7 == 0, F.expr("substring(props, 2)")
    ).otherwise(F.col("props"))
    parsed = F.from_json(mangled, "k INT")
    ok = parsed["k"].isNotNull()
    return events.select("event_type", ok.alias("ok"), parsed["k"].alias("k")).groupBy(
        "event_type"
    ).agg(
        F.count(F.when(F.col("ok"), 1)).cast("int").alias("n_valid"),
        F.count(F.when(~F.col("ok"), 1)).cast("int").alias("n_dropped"),
        F.sum(F.when(F.col("ok"), F.col("k"))).alias("sum_k"),
    )


@query(
    "schema_evolution_read",
    oracle="""
SELECT
    CASE WHEN event_id % 2 = 1
         THEN CASE WHEN user_id % 2 = 0 THEN 'web' ELSE 'app' END
    END                                            AS channel,
    CAST(count(*) AS INT)                          AS n_events,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
                                                   AS total_value
FROM events
GROUP BY 1
""",
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution source path: a dataset written in two generations —
    generation 1 without a ``channel`` column, generation 2 with it — read
    back as ONE relation via parquet ``mergeSchema``; old rows surface the
    new column as NULL.  This is the ingest reality of any long-lived
    pipeline (the reference hard-codes one fixed StructType per topic,
    stream_processor.py:60-93, and would crash on a producer upgrade).

    Physical note: ``mergeSchema`` reconciles footers at planning time;
    data files are untouched and column pruning/pushdown still work per
    file.  At 100 TB you pay one footer pass per file (or none, with a
    catalog/Delta log holding the merged schema) — the scan itself is
    unchanged.  The write side here is the test fixture generator; the
    READ is the operator."""
    events = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "value"
    )
    out_dir = scratch_dir("schema_evo")
    gen1 = events.where(F.col("event_id") % 2 == 0)
    gen2 = events.where(F.col("event_id") % 2 == 1).withColumn(
        "channel",
        F.when(F.col("user_id") % 2 == 0, "web").otherwise("app"),
    )
    gen1.write.mode("overwrite").parquet(os.path.join(out_dir, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(out_dir, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(out_dir)
    return merged.groupBy("channel").agg(
        F.count("*").cast("int").alias("n_events"),
        (cents_sum(F.col("value")) / 100.0).alias("total_value"),
    )


@query(
    "python_datasource_feed",
    oracle="""
WITH feed AS (
    SELECT
        v AS event_id,
        ((1103515245 * v + 12345) % 2147483648) % 997 AS user_id,
        CASE (v % 4) WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                     WHEN 2 THEN 'signup' ELSE 'purchase' END AS event_type,
        CAST((v * 137) % 100000 AS DOUBLE) AS amount_cents
    FROM generate_series(0, 9999) t(v)
)
SELECT
    event_type,
    count(*)                           AS n_events,
    count(DISTINCT user_id)            AS unique_users,
    sum(amount_cents) / 100            AS total_amount
FROM feed
GROUP BY 1
""",
)
def q_python_datasource_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python DataSource API (Spark 4) — the
    engine-native replacement for the reference's out-of-process producer
    (event_generator.py:150-218): schema declaration, partition planning and
    executor-side generation live behind ``spark.read.format(...)`` like any
    built-in source.  The feed is pure integer arithmetic, so the DuckDB
    oracle regenerates it with generate_series and the whole connector path
    is hash-checked.  ``sources/python_datasource.py`` also ships the
    micro-batch ``streamReader`` twin (offset = rows consumed;
    checkpoint-restart safe), equivalence-tested in tests/test_streaming.py."""
    from e_commerce_streaming_datapipeline_spark.sources import python_datasource as pds

    pds.register(spark)
    feed = spark.read.format("ecommerce_replay").option("n", 10_000).load()
    return feed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("unique_users"),
        (F.sum("amount_cents") / 100.0).alias("total_amount"),
    )


@query(
    "python_datasource_sink_roundtrip",
    oracle="""
WITH feed AS (
    SELECT
        v AS event_id,
        ((1103515245 * v + 12345) % 2147483648) % 997 AS user_id,
        CASE (v % 4) WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                     WHEN 2 THEN 'signup' ELSE 'purchase' END AS event_type,
        CAST((v * 137) % 100000 AS DOUBLE) AS amount_cents
    FROM generate_series(0, 9999) t(v)
)
SELECT
    user_id % 10                      AS user_bucket,
    count(*)                          AS n_events,
    count(DISTINCT event_type)        AS n_types,
    sum(amount_cents) / 100           AS total_amount
FROM feed
GROUP BY 1
""",
)
def q_python_datasource_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python DataSource writer API (Spark 4) — the
    engine-native replacement for the reference's fire-and-forget Kafka
    producer (base_producer.py:25-76), upgraded with a real commit
    protocol: executors stage ``_staging/<uuid>.jsonl`` part files, the
    driver atomically publishes them plus a ``_MANIFEST``; readers trust
    only the manifest, so partial writes are invisible and re-runs are
    idempotent.  This query drives the full loop — deterministic feed →
    custom sink → manifest-scoped read-back — and hash-checks the result
    against the DuckDB regeneration of the feed, proving no row was lost
    or duplicated through the sink."""
    from e_commerce_streaming_datapipeline_spark.sources import python_datasource as pds

    pds.register(spark)
    pds.register_sink(spark)
    out_dir = scratch_dir("sink")
    feed = spark.read.format("ecommerce_replay").option("n", 10_000).load()
    feed.write.format("ecommerce_jsonl").option("path", out_dir).mode("append").save()

    files, total_rows = pds.read_manifest_files(out_dir)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, amount_cents double"
    ).json(files)
    return back.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        (F.sum("amount_cents") / 100.0).alias("total_amount"),
    )


@query(
    "orc_source_stats",
    oracle="""
SELECT
    event_type,
    count(*)                                    AS n_events,
    CAST(sum(round(coalesce(value, 0.0) * 100)::BIGINT) AS DOUBLE) / 100
                                                AS total_value,
    min(ts)                                     AS first_ts,
    max(ts)                                     AS last_ts
FROM events
GROUP BY 1
""",
)
def q_orc_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC batch source, proven lossless (the columnar-format sibling of
    `csv_source_stats`): write the events fixture as ORC and read it back
    through ``spark.read.orc``, then aggregate — a hash match against the
    parquet-side oracle proves row counts, doubles, and microsecond
    timestamps survive the ORC writer/reader pair.  ORC carries the same
    footer min/max stats and predicate pushdown as parquet, so every scan
    argument in SCALE.md transfers; this query keeps the format door open
    for deployments standardized on ORC (Hive-lineage warehouses)."""
    events = load_table(spark, "events", sf_dir)
    out_dir = scratch_dir("orc")
    events.write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir)
    # scaled-long cents sum (functions/rounding.py fixed point; see csv
    # twin) — immune to summation-order ULP drift
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        cents_sum_double(F.col("value")).alias("total_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "jdbc_upsert_roundtrip",
    oracle="""
SELECT
    CASE CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
         WHEN 0 THEN 'credit_card' WHEN 1 THEN 'boleto'
         WHEN 2 THEN 'voucher'     WHEN 3 THEN 'debit_card' END AS payment_type,
    count(*) AS n_events,
    CAST(sum(round(coalesce(value, 0.0) * 100)::BIGINT) AS DOUBLE) / 100
        AS total_value
FROM events
WHERE props IS NOT NULL
  -- a payload without a derivable payment type (e.g. the empty object
  -- '{}') cannot key the MERGE: payment_type is the upsert PRIMARY KEY,
  -- so underivable rows are out of the rollup on BOTH engines (r8 edge
  -- pin; Derby additionally rejects NULL-string staging values via its
  -- setNull(CLOB) dialect mapping)
  AND CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
GROUP BY 1
""",
)
def q_jdbc_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1's JDBC upsert sink executed LIVE end-to-end (VERDICT r2 task 5):
    aggregate → MERGE into an embedded Derby database (derby-10.16 ships on
    Spark's classpath) → REPLAY the identical batch under a new batch id →
    read the table back through ``spark.read.jdbc``.

    A hash match proves three things at once: the ANSI MERGE statement the
    sink generates is executable SQL (not just unit-tested text), the
    upsert is idempotent under at-least-once replay (the replayed batch
    changed nothing — the reference's init_metrics.sql UNIQUE-constraint
    semantics, metrics_sink.py:30-41, done with a real merge instead of
    append+swallow), and values survive the JDBC type round-trip.  The same
    code path targets Postgres unchanged (dialect switches to ON CONFLICT
    on the URL).
    """
    from e_commerce_streaming_datapipeline_spark.operators.payment import with_payment_type
    from e_commerce_streaming_datapipeline_spark.streaming.sinks import jdbc_upsert_sink

    events = load_table(spark, "events", sf_dir).where(F.col("props").isNotNull())
    agg = (
        with_payment_type(events)
        # NULL payment_type cannot key the MERGE (NOT NULL PRIMARY KEY);
        # mirrored in the oracle's json_extract IS NOT NULL (r8 edge pin)
        .where(F.col("payment_type").isNotNull())
        .groupBy("payment_type")
        .agg(
            F.count("*").alias("n_events"),
            cents_sum_double(F.col("value")).alias("total_value"),
        )
    )
    # per-process database path: embedded Derby allows exactly one JVM per
    # database, so a shared per-SF path makes concurrent harness runs (or a
    # stale db.lck after a kill) fail with "Failed to start database"
    db_dir = os.path.join(
        tempfile.gettempdir(),
        "e_commerce_streaming_datapipeline_derby",
        f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    url = f"jdbc:derby:{db_dir};create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.execute("DROP TABLE payment_rollup_jdbc")
        except Exception:
            pass  # first run: table does not exist (Derby has no IF EXISTS)
        st.execute(
            "CREATE TABLE payment_rollup_jdbc (payment_type VARCHAR(32) NOT NULL "
            "PRIMARY KEY, n_events BIGINT, total_value DOUBLE)"
        )
        st.close()
    finally:
        conn.close()
    sink = jdbc_upsert_sink(url, "payment_rollup_jdbc", ["payment_type"])
    sink(agg, 0)
    sink(agg, 1)  # at-least-once replay: must converge, not duplicate
    back = spark.read.jdbc(url, "payment_rollup_jdbc")
    return back.toDF(*[c.lower() for c in back.columns])


@query(
    "warehouse_partitioned_roundtrip",
    oracle="""
SELECT
    CAST(date_trunc('day', ts) AS DATE) AS event_date,
    count(*)                            AS n_events,
    CAST(sum(round(coalesce(value, 0.0) * 100)::BIGINT) AS DOUBLE) / 100
                                        AS total_value
FROM events
GROUP BY 1
""",
)
def q_warehouse_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog DDL/DML surface: CREATE TABLE ... USING parquet PARTITIONED
    BY + INSERT OVERWRITE with DYNAMIC partition overwrite, read back
    through the catalog (``spark.table``) — every other IO path in the
    engine is path-based; this is the managed-warehouse lifecycle
    (CREATE/INSERT OVERWRITE/SELECT) a platform team actually operates.

    The second INSERT OVERWRITE rewrites only the partitions it touches
    (dynamic mode) with identical data, so the hash match ALSO proves
    partition-level overwrite idempotence — the batch-layer backfill
    primitive (recompute one day in place without disturbing the rest).

    At 100 TB the same statements run against a real metastore/catalog;
    partition pruning, retention-by-partition-drop, and the lambda batch
    layer all hang off this layout."""
    events = load_table(spark, "events", sf_dir)
    loc = scratch_dir("warehouse")
    events.createOrReplaceTempView("events_src_wh")
    spark.sql("DROP TABLE IF EXISTS events_wh")
    # dynamic overwrite as a TABLE option: builders share one session, so
    # its partitionOverwriteMode stays untouched
    spark.sql(
        "CREATE TABLE events_wh (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING, event_date DATE) "
        f"USING parquet PARTITIONED BY (event_date) LOCATION '{loc}' "
        "OPTIONS ('partitionOverwriteMode'='dynamic')"
    )
    insert = (
        "INSERT OVERWRITE TABLE events_wh PARTITION (event_date) "
        "SELECT event_id, ts, user_id, event_type, value, props, "
        "to_date(ts) AS event_date FROM events_src_wh"
    )
    spark.sql(insert)
    spark.sql(insert)  # partition-level overwrite idempotence
    return (
        spark.table("events_wh")
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            cents_sum_double(F.col("value")).alias("total_value"),
        )
    )


_DPP_SPIKE_VALUE = 320.0


@query(
    "dpp_partitioned_join",
    oracle=f"""
WITH spike_dates AS (
    SELECT DISTINCT CAST(ts AS DATE) AS event_date
    FROM events
    WHERE event_type = 'purchase' AND value >= {_DPP_SPIKE_VALUE}
)
SELECT e.event_date,
       count(*) AS n_events,
       CAST(sum(CAST(round(coalesce(e.value, 0.0) * 100) AS BIGINT)) AS DOUBLE)
           / 100 AS total_value
FROM (SELECT CAST(ts AS DATE) AS event_date, value FROM events) e
JOIN spike_dates d ON d.event_date = e.event_date
GROUP BY 1
""",
)
def q_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the join-driven twin of
    `partitioned_scan_counts`' static pruning: full-day activity rollup for
    exactly the days that saw a spike purchase (value >= 320).  The spike
    days are not knowable at planning time; Catalyst turns the broadcast
    dim into a runtime partition filter (`dynamicpruning` subquery reusing
    the broadcast), so the date-partitioned fact opens ONLY the matching
    daily partitions — at 100 TB that is the difference between scanning a
    handful of days and the whole corpus, with zero user-side plumbing.
    The plan shape (PartitionFilters carrying a dynamicpruning expression)
    is pinned by test."""
    part_dir = partitioned_events_dir(spark, sf_dir)
    fact = spark.read.parquet(part_dir)
    dim = (
        load_table(spark, "events", sf_dir)
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("value") >= _DPP_SPIKE_VALUE)
        )
        .select(F.to_date("ts").alias("event_date"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            cents_sum_double(F.col("value")).alias("total_value"),
        )
    )


@query(
    "xml_source_stats",
    oracle="""
SELECT
    event_type,
    count(*)                                    AS n_events,
    CAST(sum(round(coalesce(value, 0.0) * 100)::BIGINT) AS DOUBLE) / 100
                                                AS total_value,
    count(props)                                AS n_props
FROM events
GROUP BY 1
""",
)
def q_xml_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML batch source (Spark 4's built-in reader — no spark-xml jar),
    proven lossless like the CSV/ORC twins: write the events fixture as XML
    (one <event> element per row; the JSON props payload and its special
    characters ride through XML escaping) and read it back with an explicit
    schema + the same microsecond timestampFormat, then aggregate.  A hash
    match against the parquet-side oracle proves rows, doubles, timestamps,
    and NULL-vs-present props all survive the XML writer/reader pair — the
    door for the B2B/legacy-feed ingest XML still dominates.  Same
    multi-file parallel scan properties as CSV; schema is explicit so no
    inference job runs."""
    events = load_table(spark, "events", sf_dir)
    out_dir = scratch_dir("xml")
    (
        events.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .save(out_dir)
    )
    back = (
        spark.read.schema(_CSV_SCHEMA)
        .format("xml")
        .option("rowTag", "event")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .load(out_dir)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        cents_sum_double(F.col("value")).alias("total_value"),
        F.count("props").alias("n_props"),
    )


@query(
    "corrupt_dlq_roundtrip",
    oracle="""
WITH m AS (
    SELECT event_id, event_type,
        CASE WHEN event_id % 7 = 0 THEN substr(props, 2)
             WHEN event_id % 11 = 0 THEN replace(props, '"k"', '"x"')
             ELSE props END AS mp
    FROM events
), flagged AS (
    SELECT event_type,
        CASE WHEN mp IS NULL THEN 'null_payload'
             WHEN TRY_CAST(mp AS JSON) IS NULL THEN 'malformed_json'
             WHEN json_extract(TRY_CAST(mp AS JSON), '$.k') IS NULL
                 THEN 'missing_required_field'
        END AS reason
    FROM m
)
SELECT event_type,
    CAST(count(CASE WHEN reason IS NULL THEN 1 END) AS BIGINT) AS n_valid,
    CAST(count(reason) AS BIGINT)                              AS n_dlq,
    coalesce(string_agg(DISTINCT reason, ',' ORDER BY reason), '')
        AS dlq_reasons
FROM flagged
GROUP BY 1
""",
)
def q_corrupt_dlq_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue ingest split — the production completion of
    `corrupt_record_drop`'s counting: rows that fail the wire contract are
    not merely dropped, they are ROUTED to a DLQ sink with a machine-
    readable reason (`malformed_json` via the PERMISSIVE parser's
    _corrupt_record column, `missing_required_field` via the required-field
    probe, `null_payload`), the DLQ is persisted as parquet and READ BACK,
    and the returned accounting derives the DLQ side from the read-back
    relation — proving the error channel loses nothing.  Corruption is
    synthesized deterministically (every 7th event loses its brace, every
    11th loses its required key) since the fixture's props are well-formed.

    Scale shape: classification is map-side codegen (Jackson in the JVM);
    the DLQ write is a partitioned parquet append keyed however the ops
    team wants to triage (here: one directory per run); both aggregates are
    type-keyed hash aggs; the reasons string is a listagg over <=3 distinct
    values.  At 100 TB the DLQ is the cheap side by construction — it holds
    only the failure tail."""
    events = load_table(spark, "events", sf_dir)
    mangled = (
        F.when(F.col("event_id") % 7 == 0, F.expr("substring(props, 2)"))
        .when(
            F.col("event_id") % 11 == 0,
            F.regexp_replace(F.col("props"), F.lit('"k"'), F.lit('"x"')),
        )
        .otherwise(F.col("props"))
    )
    parsed = F.from_json(
        mangled,
        "k INT, _corrupt_record STRING",
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    reason = (
        F.when(mangled.isNull(), "null_payload")
        .when(parsed["_corrupt_record"].isNotNull(), "malformed_json")
        .when(parsed["k"].isNull(), "missing_required_field")
    )
    classified = events.select(
        "event_id", "event_type", mangled.alias("payload"), reason.alias("reason")
    )
    dlq_dir = scratch_dir("dlq")
    classified.where(F.col("reason").isNotNull()).write.mode("overwrite").parquet(
        dlq_dir
    )
    dlq = (
        spark.read.parquet(dlq_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_dlq"),
            F.expr(
                "listagg(DISTINCT reason, ',') WITHIN GROUP (ORDER BY reason)"
            ).alias("dlq_reasons"),
        )
    )
    valid = (
        classified.where(F.col("reason").isNull())
        .groupBy("event_type")
        .agg(F.count("*").alias("n_valid"))
    )
    # NULL-SAFE join key: a NULL event_type is a legitimate group on both
    # sides (the oracle's single-pass GROUP BY merges them); a plain
    # equi-join would silently split it into valid-with-zero-DLQ
    dlq = dlq.withColumnRenamed("event_type", "__dlq_type")
    return (
        valid.join(
            dlq, valid["event_type"].eqNullSafe(dlq["__dlq_type"]), "left"
        )
        .select(
            "event_type",
            "n_valid",
            F.coalesce(F.col("n_dlq"), F.lit(0)).alias("n_dlq"),
            F.coalesce(F.col("dlq_reasons"), F.lit("")).alias("dlq_reasons"),
        )
    )
