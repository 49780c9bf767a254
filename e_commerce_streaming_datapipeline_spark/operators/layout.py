"""Data-layout & scan-pruning operators — the 100 TB cost levers the
reference never needed at 333 events/s but a warehouse-scale deployment
lives or dies by.

Reference analog: the reference writes raw JSON to Kafka and appends to
Postgres (src/sinks/metrics_sink.py:30-41) with no layout control at all.
At 100 TB on object storage the dominant query cost is *bytes scanned*, and
the two standard levers are:

* **Clustering (Z-order)** — interleave the bits of two filter columns so
  one physical sort gives BOTH columns tight per-file min/max ranges;
  parquet footer stats then let the scan skip files for predicates on
  either column.  ``zorder_layout_stats`` quantifies that effect on the
  events table: it simulates a 64-file layout under natural (time) order
  vs Z-order and reports the per-file min/max span of each dimension plus
  how many files a point predicate would have to open.
* **Runtime filters (Bloom)** — before shuffling a 100 TB fact table into
  a join, broadcast a compact bitmap of the (small) build side's join keys
  and drop fact rows whose key cannot possibly match.  Spark's AQE injects
  these automatically for some shapes; ``bloom_filter_prejoin`` builds one
  explicitly from first principles (two universal-hash probes into an
  m-bit table expressed as an equi-join against the set positions) and
  reports the measured false-positive rate against the exact semi-join.

Plus ``equi_depth_histogram``: the optimizer-statistics building block
(equal-count buckets <=> quantile boundaries) as a query.

Scale notes per operator in the docstrings below.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.functions.hashing import universal_hash, universal_hash_sql
from e_commerce_streaming_datapipeline_spark.functions.rounding import cents, cents_sum, cents_sum_double, fround
from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
from e_commerce_streaming_datapipeline_spark.functions.scratch import scratch_dir
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

# ---------------------------------------------------------------------------
# Z-order clustering quality
# ---------------------------------------------------------------------------

_ZBITS = 8  # 8 bits per dimension -> 16-bit z-value
_ZFILES = 64
_PROBE_USER_BUCKET = 42


def _interleave_sql(u: str, t: str, *, dialect: str) -> str:
    """Bit-interleave two 8-bit ints into a 16-bit Morton (Z) code.

    Generated as a flat sum of shift/mask terms so the SAME arithmetic runs
    on both engines: Spark gets ``shiftleft/shiftright`` calls, DuckDB gets
    ``<< >>`` operators — identical integer semantics, identical z-values.
    Pure map-side expression work: at 100 TB this is free relative to the
    scan, and whole-stage codegen fuses all 16 terms into one pass.
    """
    terms = []
    for i in range(_ZBITS):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright({u}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({t}, {i}) & 1, {2 * i})")
        else:
            terms.append(f"((({u} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({t} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def zorder_layout_stats(events: DataFrame) -> DataFrame:
    """Compare per-file column-statistics tightness of a natural (event-time)
    layout vs a Z-order layout over (user bucket, minute bucket).

    For each of the two layouts the table is split into ``_ZFILES``
    equal-size files in layout order, and each file's min/max of both
    dimensions is taken — exactly the stats a parquet writer would put in
    the footer.  Output (one row per layout): the mean min/max *span* per
    dimension and how many files a ``user_bucket = 42`` point predicate
    must open (a file is opened iff min <= 42 <= max).  A good multi-column
    layout shows materially smaller user-span at modest time-span cost.

    Scale note: this diagnostic ranks rows globally (one rank per layout)
    to make file membership exact and oracle-checkable — realized as the
    two-phase distributed rank (``functions/ranks.py``), the SAME
    range-partition-then-local-sort mechanism
    ``df.repartitionByRange(n, "z").sortWithinPartitions("z").write``
    uses in the production layout path, so no single-partition sort touches
    the fact relation.  The min/max stats come from parquet footers in
    production; the aggregation shape here (groupBy(file) -> tiny
    groupBy(layout)) is scale-safe.
    """
    from e_commerce_streaming_datapipeline_spark.functions.ranks import global_row_number

    base = events.select(
        F.col("event_id"),
        F.col("ts"),
        F.pmod(F.col("user_id"), F.lit(1 << _ZBITS)).cast("long").alias("u8"),
        F.pmod(F.floor(F.unix_timestamp("ts") / 60), F.lit(1 << _ZBITS))
        .cast("long")
        .alias("t8"),
    ).withColumn("z", F.expr(_interleave_sql("u8", "t8", dialect="spark")))

    def layout(df: DataFrame, name: str, *order) -> DataFrame:
        return (
            # __rn widened to long BEFORE the *64 or the product wraps at
            # ~33.5M rows (2^31/64) and file ids go negative — the oracle's
            # BIGINT row_number would not, so parity would break exactly at
            # the scale this diagnostic targets.  Rank + total both come
            # from the two-phase distributed rank (no global window).
            global_row_number(df, list(order), rank_col="__rn_raw", total_col="__n")
            .withColumn("__rn", F.col("__rn_raw").cast("long"))
            .select(
                F.lit(name).alias("layout"),
                F.expr(f"(( __rn - 1) * {_ZFILES}) div __n").alias("file_id"),
                "u8",
                "t8",
            )
        )

    per_file = (
        # explicit NULLS LAST on every key: DuckDB's ORDER BY is NULLS LAST;
        # Spark ASC is NULLS FIRST — NULL ts/event_id rows would otherwise
        # occupy file 0 here and the last file in the oracle
        layout(
            base,
            "natural",
            F.col("ts").asc_nulls_last(),
            F.col("event_id").asc_nulls_last(),
        )
        .unionByName(
            layout(
                base,
                "zorder",
                F.col("z").asc_nulls_last(),
                F.col("event_id").asc_nulls_last(),
            )
        )
        .groupBy("layout", "file_id")
        .agg(
            F.min("u8").alias("min_u"),
            F.max("u8").alias("max_u"),
            F.min("t8").alias("min_t"),
            F.max("t8").alias("max_t"),
        )
    )
    probe = _PROBE_USER_BUCKET
    return (
        per_file.groupBy("layout")
        .agg(
            F.count("*").alias("n_files"),
            # exact scaled integers (`sum*10000 div n` BIGINT), same
            # discipline as revenue_gini / kmeans_lloyd_step.  HISTORY: the
            # r4-r6 driver hash mismatches on this query were ORACLE RESULT
            # TYPING — the oracle's uncast integer sum() came back as DuckDB
            # HUGEINT, which the driver's pandas canonicalizer widens to
            # float64 ("3.0" vs Spark's "3"); fixed r7 by CAST(... AS
            # BIGINT) in the oracle + the registry-wide dtype gate
            # (tests/test_oracle_dtypes.py).  The r6 rank-persist change in
            # functions/ranks.py was NOT the correctness fix — it is a
            # performance fix (eliminates a duplicate range exchange) and a
            # determinism hardening, and stays on its own merits.
            F.expr("(sum(max_u - min_u + 1) * 10000) div count(*)")
            .cast("long")
            .alias("avg_user_span_x10000"),
            F.expr("(sum(max_t - min_t + 1) * 10000) div count(*)")
            .cast("long")
            .alias("avg_minute_span_x10000"),
            F.sum(
                ((F.col("min_u") <= probe) & (F.col("max_u") >= probe)).cast("long")
            ).alias("probe_user_files_hit"),
        )
        .orderBy("layout")
    )


_ZORDER_ORACLE = f"""
WITH base AS (
    SELECT
        event_id, ts,
        user_id % {1 << _ZBITS} AS u8,
        CAST(floor(epoch(ts) / 60) AS BIGINT) % {1 << _ZBITS} AS t8
    FROM events
), z AS (
    SELECT *, {_interleave_sql("u8", "t8", dialect="duckdb")} AS zv FROM base
), ranked AS (
    SELECT
        'natural' AS layout,
        ((row_number() OVER (ORDER BY ts, event_id) - 1) * {_ZFILES})
            // count(*) OVER () AS file_id,
        u8, t8
    FROM z
    UNION ALL
    SELECT
        'zorder' AS layout,
        ((row_number() OVER (ORDER BY zv, event_id) - 1) * {_ZFILES})
            // count(*) OVER () AS file_id,
        u8, t8
    FROM z
), per_file AS (
    SELECT layout, file_id,
           min(u8) AS min_u, max(u8) AS max_u,
           min(t8) AS min_t, max(t8) AS max_t
    FROM ranked GROUP BY 1, 2
)
SELECT
    layout,
    count(*) AS n_files,
    CAST((sum(max_u - min_u + 1) * 10000) // count(*) AS BIGINT)
        AS avg_user_span_x10000,
    CAST((sum(max_t - min_t + 1) * 10000) // count(*) AS BIGINT)
        AS avg_minute_span_x10000,
    CAST(sum(CASE WHEN min_u <= {_PROBE_USER_BUCKET}
                   AND max_u >= {_PROBE_USER_BUCKET}
             THEN 1 ELSE 0 END) AS BIGINT) AS probe_user_files_hit
FROM per_file
GROUP BY layout
ORDER BY layout
"""


@query("zorder_layout_stats", oracle=_ZORDER_ORACLE)
def q_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs natural layout: per-file min/max tightness and files hit
    by a point predicate (data-skipping quality, simulated 64-file split)."""
    return zorder_layout_stats(load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# Hilbert-curve clustering (the locality upgrade over Z-order)
# ---------------------------------------------------------------------------


def _hilbert_levels(x: str, y: str, *, dialect: str) -> list[tuple[str, str]]:
    """Per-level column definitions for the Hilbert index of the 8-bit cell
    ``(x, y)`` — the classic xy2d walk (one quadrant decision per bit level,
    rotate/flip the frame, accumulate s²-sized strides), unrolled into
    ``4 * _ZBITS`` plain integer columns so the SAME arithmetic runs on
    both engines (property-tested bijection + unit-step adjacency in
    tests/test_round6_ops.py).  The XOR in the stride term is replaced by
    its arithmetic identity ``3*rx + ry - 2*rx*ry`` (DuckDB's ``^`` is
    POWER, not XOR — a classic cross-dialect trap).

    Returns ``[(col_name, expr_sql), ...]`` in dependency order; callers
    chain them as withColumns (Spark) or one CTE per level (DuckDB).
    """

    def bit(col: str, k: int) -> str:
        if dialect == "spark":
            return f"(shiftright({col}, {k}) & 1)"
        return f"(({col} >> {k}) & 1)"

    cols: list[tuple[str, str]] = [
        ("hx0", x),
        ("hy0", y),
        ("hd0", "CAST(0 AS BIGINT)"),
    ]
    lvl = 0
    for k in range(_ZBITS - 1, -1, -1):
        s = 1 << k
        px, py, pd = f"hx{lvl}", f"hy{lvl}", f"hd{lvl}"
        rx, ry = f"hrx{lvl + 1}", f"hry{lvl + 1}"
        cols.append((rx, bit(px, k)))
        cols.append((ry, bit(py, k)))
        cols.append(
            (f"hd{lvl + 1}", f"{pd} + {s * s} * (3*{rx} + {ry} - 2*{rx}*{ry})")
        )
        # rotate/flip the frame for the next level: when ry=0 the quadrant
        # is entered sideways — flip both axes if rx=1, then swap x/y
        cols.append(
            (
                f"hx{lvl + 1}",
                f"CASE WHEN {ry} = 0 THEN "
                f"(CASE WHEN {rx} = 1 THEN {s - 1} - {py} ELSE {py} END) "
                f"ELSE {px} END",
            )
        )
        cols.append(
            (
                f"hy{lvl + 1}",
                f"CASE WHEN {ry} = 0 THEN "
                f"(CASE WHEN {rx} = 1 THEN {s - 1} - {px} ELSE {px} END) "
                f"ELSE {py} END",
            )
        )
        lvl += 1
    return cols


def hilbert_layout_stats(events: DataFrame) -> DataFrame:
    """Z-order vs HILBERT clustering quality, same instrumentation as
    ``zorder_layout_stats`` (64 equal-count files, per-file min/max spans,
    point-predicate file hits): the Hilbert curve never takes the long
    diagonal jumps Morton order takes between quadrants, so at equal bit
    budget its per-file spans are tighter — this query MEASURES that
    standard claim (it is why Databricks liquid clustering and modern
    Iceberg layouts prefer Hilbert) instead of asserting it.

    Scale shape: identical to the Z-order diagnostic — the curve index is
    pure map-side integer work (32 unrolled columns, fused by whole-stage
    codegen), the global rank is the persisted two-phase rank, and the
    stats aggregate by (layout, file).  In the production write path the
    same index feeds ``repartitionByRange(h).sortWithinPartitions(h)``.
    """
    from e_commerce_streaming_datapipeline_spark.functions.ranks import global_row_number

    base = events.select(
        F.col("event_id"),
        F.pmod(F.col("user_id"), F.lit(1 << _ZBITS)).cast("long").alias("u8"),
        F.pmod(F.floor(F.unix_timestamp("ts") / 60), F.lit(1 << _ZBITS))
        .cast("long")
        .alias("t8"),
    ).withColumn("z", F.expr(_interleave_sql("u8", "t8", dialect="spark")))
    for name, expr in _hilbert_levels("u8", "t8", dialect="spark"):
        base = base.withColumn(name, F.expr(expr))
    base = base.select(
        "event_id", "u8", "t8", "z", F.col(f"hd{_ZBITS}").alias("h")
    )

    def layout(df: DataFrame, name: str, key: str) -> DataFrame:
        return (
            global_row_number(
                df,
                [F.col(key).asc_nulls_last(), F.col("event_id").asc_nulls_last()],
                rank_col="__rn_raw",
                total_col="__n",
            )
            .withColumn("__rn", F.col("__rn_raw").cast("long"))
            .select(
                F.lit(name).alias("layout"),
                F.expr(f"(( __rn - 1) * {_ZFILES}) div __n").alias("file_id"),
                "u8",
                "t8",
            )
        )

    per_file = (
        layout(base, "hilbert", "h")
        .unionByName(layout(base, "zorder", "z"))
        .groupBy("layout", "file_id")
        .agg(
            F.min("u8").alias("min_u"),
            F.max("u8").alias("max_u"),
            F.min("t8").alias("min_t"),
            F.max("t8").alias("max_t"),
        )
    )
    probe = _PROBE_USER_BUCKET
    return (
        per_file.groupBy("layout")
        .agg(
            F.count("*").alias("n_files"),
            F.expr("(sum(max_u - min_u + 1) * 10000) div count(*)")
            .cast("long")
            .alias("avg_user_span_x10000"),
            F.expr("(sum(max_t - min_t + 1) * 10000) div count(*)")
            .cast("long")
            .alias("avg_minute_span_x10000"),
            F.sum(
                ((F.col("min_u") <= probe) & (F.col("max_u") >= probe)).cast("long")
            ).alias("probe_user_files_hit"),
        )
        .orderBy("layout")
    )


def _hilbert_oracle() -> str:
    levels = _hilbert_levels("u8", "t8", dialect="duckdb")
    # fold the dependency-ordered column defs into chained CTEs, one per
    # Hilbert level (5 defs each after the 3 seeds; same-SELECT lateral
    # alias references are legal in DuckDB)
    seeds, rest = levels[:3], levels[3:]
    ctes = [
        "lvl0 AS (SELECT *, "
        + ", ".join(f"{e} AS {n}" for n, e in seeds)
        + " FROM z)"
    ]
    for i in range(0, len(rest), 5):
        group = rest[i : i + 5]
        n_lvl = i // 5 + 1
        ctes.append(
            f"lvl{n_lvl} AS (SELECT *, "
            + ", ".join(f"{e} AS {n}" for n, e in group)
            + f" FROM lvl{n_lvl - 1})"
        )
    return f"""
WITH base AS (
    SELECT
        event_id,
        user_id % {1 << _ZBITS} AS u8,
        CAST(floor(epoch(ts) / 60) AS BIGINT) % {1 << _ZBITS} AS t8
    FROM events
), z AS (
    SELECT *, {_interleave_sql("u8", "t8", dialect="duckdb")} AS zv FROM base
), {", ".join(ctes)}, keyed AS (
    SELECT event_id, u8, t8, zv, hd{_ZBITS} AS h FROM lvl{_ZBITS}
), ranked AS (
    SELECT
        'hilbert' AS layout,
        ((row_number() OVER (ORDER BY h, event_id) - 1) * {_ZFILES})
            // count(*) OVER () AS file_id,
        u8, t8
    FROM keyed
    UNION ALL
    SELECT
        'zorder' AS layout,
        ((row_number() OVER (ORDER BY zv, event_id) - 1) * {_ZFILES})
            // count(*) OVER () AS file_id,
        u8, t8
    FROM keyed
), per_file AS (
    SELECT layout, file_id,
           min(u8) AS min_u, max(u8) AS max_u,
           min(t8) AS min_t, max(t8) AS max_t
    FROM ranked GROUP BY 1, 2
)
SELECT
    layout,
    count(*) AS n_files,
    CAST((sum(max_u - min_u + 1) * 10000) // count(*) AS BIGINT)
        AS avg_user_span_x10000,
    CAST((sum(max_t - min_t + 1) * 10000) // count(*) AS BIGINT)
        AS avg_minute_span_x10000,
    CAST(sum(CASE WHEN min_u <= {_PROBE_USER_BUCKET}
                   AND max_u >= {_PROBE_USER_BUCKET}
             THEN 1 ELSE 0 END) AS BIGINT) AS probe_user_files_hit
FROM per_file
GROUP BY layout
ORDER BY layout
"""


@query("hilbert_layout_stats", oracle=_hilbert_oracle())
def q_hilbert_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert vs Z-order clustering quality under the same 64-file split:
    per-file min/max span per dimension and point-predicate file hits —
    the measured case for Hilbert layouts (liquid clustering)."""
    return hilbert_layout_stats(load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# Bloom-filter runtime pre-join filter
# ---------------------------------------------------------------------------

_BLOOM_M = 16384  # bits
# two universal hashes h_i(k) = ((a_i*k + b_i) mod P) mod M, P = 2^31 - 1.
# The prime intermediate modulus is what makes them independent: reducing
# the affine map directly mod M = 2^14 (odd a) is a BIJECTION of k mod 2^14,
# so both probe positions would be functions of k mod M alone and the k=2
# AND would degrade to a single-hash filter.
_BLOOM_H = [(2654435761, 97), (40503, 2654435769)]


def _bloom_pos(col: F.Column, h: int) -> F.Column:
    return F.pmod(universal_hash(col, *_BLOOM_H[h]), F.lit(_BLOOM_M))


def bloom_filter_prejoin(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Runtime Bloom-filter join pruning, measured against the exact semi-join.

    Build side: customers in nations 0-4 (the selective dimension subset).
    The "bitmap" is the distinct set of hash positions the build keys set —
    represented relationally as a tiny (<= m rows) position table that gets
    BROADCAST, so membership tests are map-side hash-lookups with zero
    shuffle of the fact table.  A fact row survives iff BOTH of its probe
    positions are set (the standard k-hash AND).

    Output: one row with the fact count, candidates passing the filter, true
    matches, false positives, and the measured false-positive rate over true
    negatives.  At 100 TB this is the filter you push below a shuffle join
    when the build side is too big to broadcast whole but its key *bitmap*
    is not: m bits of filter replaces shuffling the ~(1-sel) fraction of
    fact bytes that can never match.  Spark's AQE injects the same shape
    (InjectRuntimeFilter) for supported plans; building it explicitly keeps
    the technique available for shapes AQE misses (e.g. pre-aggregations
    feeding a join).
    """
    keys = (
        customer.where(F.col("c_nationkey") < 5)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    bits = (
        keys.select(_bloom_pos(F.col("k"), 0).alias("pos"))
        .unionByName(keys.select(_bloom_pos(F.col("k"), 1).alias("pos")))
        .distinct()
    )
    fact = orders.select(
        "o_custkey",
        _bloom_pos(F.col("o_custkey"), 0).alias("p0"),
        _bloom_pos(F.col("o_custkey"), 1).alias("p1"),
    )
    b0 = bits.select(F.col("pos").alias("pos0"), F.lit(1).alias("hit0"))
    b1 = bits.select(F.col("pos").alias("pos1"), F.lit(1).alias("hit1"))
    truth = keys.select(F.col("k").alias("tk"), F.lit(1).alias("is_true"))
    flagged = (
        fact.join(F.broadcast(b0), fact.p0 == b0.pos0, "left")
        .join(F.broadcast(b1), fact.p1 == b1.pos1, "left")
        .join(F.broadcast(truth), fact.o_custkey == truth.tk, "left")
        .select(
            (F.coalesce(F.col("hit0"), F.lit(0)) * F.coalesce(F.col("hit1"), F.lit(0)))
            .alias("passed"),
            F.coalesce(F.col("is_true"), F.lit(0)).alias("matched"),
        )
    )
    n_keys = keys.agg(F.count("*").alias("n_build_keys"))
    return (
        flagged.agg(
            F.count("*").alias("n_facts"),
            F.sum("passed").alias("n_candidates"),
            F.sum("matched").alias("n_true"),
            (F.sum("passed") - F.sum("matched")).alias("n_false_pos"),
            fround(
                (F.sum("passed") - F.sum("matched"))
                / (F.count("*") - F.sum("matched")),
                6,
            ).alias("false_pos_rate"),
        )
        .transform(lambda d: scalar_join(d, n_keys))
    )


def _bloom_oracle() -> str:
    def pos(expr: str, h: int) -> str:
        return f"({universal_hash_sql(expr, *_BLOOM_H[h])} % {_BLOOM_M})"

    return f"""
WITH keys AS (
    SELECT DISTINCT c_custkey AS k FROM customer WHERE c_nationkey < 5
), bits AS (
    SELECT DISTINCT pos FROM (
        SELECT {pos("k", 0)} AS pos FROM keys
        UNION ALL
        SELECT {pos("k", 1)} AS pos FROM keys
    )
), flagged AS (
    SELECT
        CASE WHEN {pos("o.o_custkey", 0)} IN (SELECT pos FROM bits)
              AND {pos("o.o_custkey", 1)} IN (SELECT pos FROM bits)
             THEN 1 ELSE 0 END AS passed,
        CASE WHEN o.o_custkey IN (SELECT k FROM keys) THEN 1 ELSE 0 END AS matched
    FROM orders o
)
SELECT
    count(*) AS n_facts,
    CAST(sum(passed) AS BIGINT) AS n_candidates,
    CAST(sum(matched) AS BIGINT) AS n_true,
    CAST(sum(passed) - sum(matched) AS BIGINT) AS n_false_pos,
    round(CAST(sum(passed) - sum(matched) AS DOUBLE)
          / (count(*) - sum(matched)) * 1000000) / 1000000 AS false_pos_rate,
    (SELECT count(*) FROM keys) AS n_build_keys
FROM flagged
"""


@query("bloom_filter_prejoin", oracle=_bloom_oracle())
def q_bloom_filter_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom runtime filter ahead of a fact-dim join, with measured
    false-positive rate vs the exact semi-join (m=16384, k=2)."""
    return bloom_filter_prejoin(
        load_table(spark, "orders", sf_dir), load_table(spark, "customer", sf_dir)
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (optimizer statistics building block)
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 16


def equi_depth_histogram(orders: DataFrame) -> DataFrame:
    """Equal-count (equi-depth) histogram of order totals — the statistic a
    cost-based optimizer keeps per column, as a first-class query.

    ``ntile`` over a fully-specified ordering (value, key tiebreak) makes
    bucket membership deterministic and oracle-checkable; sums use the
    fixed-point-cents pattern (see ``analytics.q_pricing_summary``) so the
    totals hash identically across engines.

    Scale note: exact equi-depth requires a global ordering — realized here
    as the two-phase distributed rank (``functions/ranks.py``:
    range-repartition + per-partition row_number + broadcast offsets +
    ``ntile_from_rank``), so the fact-proportional orders relation is never
    sorted on one task.  The sketch-based 100 TB alternative is
    ``approx_value_percentiles`` (GK: mergeable partials, one pass); this
    exact version is the ground truth it is audited against.
    """
    from e_commerce_streaming_datapipeline_spark.functions.ranks import (
        global_row_number,
        ntile_from_rank,
    )

    total_cents = cents_sum(F.col("o_totalprice"))
    return (
        global_row_number(
            orders,
            # explicit NULLS LAST: Spark ASC defaults to NULLS FIRST while
            # DuckDB's ORDER BY defaults NULLS LAST — NULL prices/keys would
            # otherwise shift every bucket boundary by the NULL count
            [
                F.col("o_totalprice").asc_nulls_last(),
                F.col("o_orderkey").asc_nulls_last(),
            ],
            rank_col="__rn",
            total_col="__n",
        )
        .withColumn("bucket", ntile_from_rank(F.col("__rn"), F.col("__n"), _HIST_BUCKETS))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            fround(F.min("o_totalprice"), 2).alias("lo"),
            fround(F.max("o_totalprice"), 2).alias("hi"),
            fround(total_cents / 100.0 / F.count("*"), 2).alias("avg_price"),
            (total_cents.cast("double") / 100.0).alias("total_price"),
        )
        .orderBy("bucket")
    )


_HIST_ORACLE = f"""
WITH bucketed AS (
    SELECT
        o_totalprice,
        ntile({_HIST_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
    FROM orders
)
SELECT
    bucket,
    count(*) AS n_orders,
    round(min(o_totalprice) * 100) / 100 AS lo,
    round(max(o_totalprice) * 100) / 100 AS hi,
    round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
          / 100.0 / count(*) * 100) / 100 AS avg_price,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        AS total_price
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


@query("equi_depth_histogram", oracle=_HIST_ORACLE)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bucket equal-count histogram of o_totalprice with exact fixed-point
    bucket totals (deterministic ntile tiebreak on o_orderkey)."""
    return equi_depth_histogram(load_table(spark, "orders", sf_dir))


# ---------------------------------------------------------------------------
# Manifest-committed snapshots (time travel without a table format)
# ---------------------------------------------------------------------------

_SNAPSHOT_ORACLE = """
SELECT
    CAST(o_orderdate AS DATE)                            AS order_day,
    o_orderstatus                                        AS status,
    count(*)                                             AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
                                                         AS day_revenue
FROM orders
GROUP BY 1, 2
"""


@query("manifest_time_travel", oracle=_SNAPSHOT_ORACLE)
def q_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse commit protocol from first principles — immutable data
    files + an atomically swapped MANIFEST naming the files of each version:
    v1 commits the full daily-revenue rollup, v2 commits a "correction"
    (finished orders only) as NEW files without touching v1's, and the
    reader here TIME-TRAVELS back to v1 after v2 became current — proving
    that a snapshot stays byte-stable under later commits (it is
    hash-checked against the v1 oracle while v2 is live).

    This is what Delta/Iceberg do under the hood, reduced to its invariant:
    readers never list directories (the manifest IS the file list, so
    eventual-consistency and half-written files are invisible), writers
    never mutate published files, and a commit is one JSON rename —
    O(#files) metadata, zero data rewrite, which is why table formats
    scale to 100 TB where directory-listing + overwrite cannot.  The test
    twin asserts v2 reads differently and that v1's files were untouched.
    """
    import json

    run_dir = scratch_dir("manifest")
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)

    orders = load_table(spark, "orders", sf_dir)
    rollup = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("order_day"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.count("*").alias("n_orders"),
        (cents_sum(F.col("o_totalprice")).cast("double") / 100).alias("day_revenue"),
    )

    def commit(version: int, df: DataFrame) -> None:
        vdir = os.path.join(data_dir, f"v{version}")
        df.write.parquet(vdir)
        files = sorted(
            os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".parquet")
        )
        staged = os.path.join(run_dir, f".manifest_v{version}.json.tmp")
        with open(staged, "w") as fh:
            json.dump({"version": version, "files": files}, fh)
        # the commit IS this atomic rename: readers see the old or the new
        # manifest, never a partial one
        os.replace(staged, os.path.join(run_dir, f"manifest_v{version}.json"))
        with open(os.path.join(run_dir, ".current.tmp"), "w") as fh:
            json.dump({"current": version}, fh)
        os.replace(
            os.path.join(run_dir, ".current.tmp"), os.path.join(run_dir, "CURRENT.json")
        )

    def read_version(version: int) -> DataFrame:
        with open(os.path.join(run_dir, f"manifest_v{version}.json")) as fh:
            manifest = json.load(fh)
        return spark.read.parquet(*manifest["files"])

    commit(1, rollup)
    commit(2, rollup.where(F.col("status") == "F"))  # the correction commit
    return read_version(1)  # time travel: v1 while CURRENT points at v2


# --------------------------------------------------------------------------
# Small-file compaction planner (cumulative-fill bin packing)
# --------------------------------------------------------------------------

_COMPACT_TARGET_BINS = 8


@query(
    "compaction_plan",
    oracle=f"""
WITH files AS (
    -- one "file" per ingest hour (the classic streaming small-files
    -- inventory); size proxy = row count
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS file_id,
           count(*) AS size_kb
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1
), target AS (
    SELECT CAST(ceil(CAST(sum(size_kb) AS DOUBLE) / {_COMPACT_TARGET_BINS})
                AS BIGINT) AS t
    FROM files
), filled AS (
    SELECT file_id, size_kb, t,
           sum(size_kb) OVER (
               ORDER BY size_kb DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS fill
    FROM files CROSS JOIN target
), binned AS (
    SELECT (fill - 1) // t AS bin, size_kb, t FROM filled
)
SELECT
    CAST(bin AS BIGINT)      AS bin,
    CAST(count(*) AS BIGINT) AS n_files,
    CAST(sum(size_kb) AS BIGINT) AS total_kb,
    round(CAST(sum(size_kb) AS DOUBLE) / max(t), 4) AS fill_ratio
FROM binned
GROUP BY 1
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the maintenance job every streaming
    ingest needs (each micro-batch lands a file; scans die by open() call
    count): the per-hour file inventory is packed into
    {_COMPACT_TARGET_BINS} merge groups by CUMULATIVE FILL — files ordered
    size-descending, running total, bin = (cumsum−1) DIV target — the
    deterministic one-pass relational form of first-fit-decreasing (every
    bin lands within one file of the target; no driver loop, no
    sequential bin state).

    Completes the storage-layout family: partition pruning
    (`partitioned_scan_counts`), clustering (`zorder_layout_stats`),
    stats (`equi_depth_histogram`), snapshots (`manifest_time_travel`),
    and now file-size hygiene.  Integer sizes end to end; the one ordered
    cumulative pass runs over the FILE INVENTORY (metadata-sized — at
    100 TB that is 10⁵ rows, not data), exactly like a table format's
    manifest-driven OPTIMIZE."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    files = events.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("file_id")
    ).agg(F.count("*").alias("size_kb"))
    target = files.agg(
        F.ceil(F.sum("size_kb").cast("double") / _COMPACT_TARGET_BINS)
        .cast("long")
        .alias("t")
    )
    w = Window.orderBy(F.col("size_kb").desc(), F.col("file_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filled = scalar_join(files, target).withColumn("fill", F.sum("size_kb").over(w))
    binned = filled.select(
        F.expr("(fill - 1) DIV t").alias("bin"), "size_kb", "t"
    )
    return binned.groupBy(F.col("bin").cast("long").alias("bin")).agg(
        F.count("*").alias("n_files"),
        F.sum("size_kb").alias("total_kb"),
        fround(F.sum("size_kb").cast("double") / F.max("t"), 4).alias("fill_ratio"),
    )


# --------------------------------------------------------------------------
# Skew-key diagnosis (the measurement behind salting / AQE skew-join)
# --------------------------------------------------------------------------


@query(
    "skew_key_diagnosis",
    oracle="""
WITH counts AS (
    SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1
), stats AS (
    SELECT count(*) AS n_keys, sum(n_rows) AS total,
           max(n_rows) AS max_rows
    FROM counts
), top AS (
    SELECT user_id, n_rows,
           row_number() OVER (
               ORDER BY n_rows DESC, user_id NULLS LAST
           ) AS rnk
    FROM counts
)
SELECT
    t.user_id,
    CAST(t.n_rows AS BIGINT)  AS n_rows,
    CAST(t.rnk AS INT)        AS rnk,
    round(CAST(t.n_rows AS DOUBLE) / s.total, 6)             AS share,
    round(CAST(s.max_rows * s.n_keys AS DOUBLE) / s.total, 4) AS skew_factor,
    CAST(ceil(CAST(s.max_rows * s.n_keys AS DOUBLE) / s.total)
         AS BIGINT)           AS recommended_salt
FROM top t CROSS JOIN stats s
WHERE t.rnk <= 10
ORDER BY t.rnk
""",
)
def q_skew_key_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis for the engine's canonical fact key
    (events.user_id): the 10 heaviest keys with their row share, the
    overall skew factor (max key count / mean key count — how many times
    its fair share the hottest key carries), and the derived salt fan-out
    a manual mitigation would use (`salted_priority_revenue` is the
    applied twin; AQE skew-join is the automatic one, pinned by
    `tests/test_round3_ops.py::TestAQESkewJoinSplits`).  Measure first,
    salt second — salting an unskewed key just adds a shuffle.

    Exact arithmetic: all inputs are integer counts; share/skew are single
    divisions at the edge.  One hash agg over the corpus; everything after
    runs on the per-key relation, and the top-10 is a rank-filtered window
    (TakeOrdered shape).  NULL keys diagnose like any other key — they ARE
    a classic skew source (every unattributed row hashes together)."""
    events = load_table(spark, "events", sf_dir)
    counts = events.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n_rows").alias("total"),
        F.max("n_rows").alias("max_rows"),
    )
    w = Window.orderBy(F.col("n_rows").desc(), F.col("user_id").asc_nulls_last())
    top = counts.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 10)
    skew = F.col("max_rows") * F.col("n_keys") / F.col("total")
    return (
        scalar_join(top, stats)
        .select(
            "user_id",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("rnk").cast("int").alias("rnk"),
            fround(F.col("n_rows").cast("double") / F.col("total"), 6).alias("share"),
            fround(skew, 4).alias("skew_factor"),
            F.ceil(skew).cast("long").alias("recommended_salt"),
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Merge-on-read deletion vectors (the lakehouse DELETE without rewrites)
# --------------------------------------------------------------------------

_DV_ERASE_MOD = 37  # users with user_id % 37 == 0 request erasure


@query(
    "deletion_vector_scan",
    oracle=f"""
WITH filed AS (
    SELECT *,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS file_id,
           row_number() OVER (
               PARTITION BY CAST(floor(epoch(ts) / 3600) AS BIGINT)
               -- explicit NULLS LAST + user tiebreak: Spark ASC is NULLS
               -- FIRST, DuckDB NULLS LAST, and the edge fixture's NULL
               -- event_ids would otherwise occupy different positions
               ORDER BY ts, event_id NULLS LAST, user_id NULLS LAST
           ) AS pos
    FROM events
    WHERE ts IS NOT NULL
), dv AS (
    SELECT file_id, pos FROM filed
    WHERE user_id IS NOT NULL AND user_id % {_DV_ERASE_MOD} = 0
), live AS (
    SELECT f.* FROM filed f
    ANTI JOIN dv ON f.file_id = dv.file_id AND f.pos = dv.pos
)
SELECT
    filed.file_id,
    CAST(count(*) AS BIGINT)                 AS n_rows,
    -- count the never-null join key, NOT event_id: a live row with a NULL
    -- event_id must still count as live
    CAST(count(*) - count(l.pos) AS BIGINT)  AS n_deleted,
    CAST(count(l.pos) AS BIGINT)             AS n_live,
    CAST(sum(CASE WHEN l.pos IS NOT NULL AND l.event_type = 'purchase'
                  THEN CAST(round(coalesce(l.value, 0.0) * 100) AS BIGINT)
                  ELSE 0 END) AS DOUBLE) / 100 AS live_revenue
FROM filed LEFT JOIN live l
  ON filed.file_id = l.file_id AND filed.pos = l.pos
GROUP BY 1
ORDER BY 1
""",
)
def q_deletion_vector_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletion vectors — how Delta/Iceberg v2 serve DELETE
    without rewriting data files: the erasure request (every user with
    ``user_id % {_DV_ERASE_MOD} == 0``) is materialized as a DELETION
    VECTOR — (file, position) pairs, the relational form of the per-file
    roaring bitmap — and the read path anti-joins the immutable base
    against it.  Files are simulated as hour buckets with positions
    assigned by the in-file sort (a PARTITIONED window — per-file, never
    global), matching how position deletes are defined against a frozen
    file layout.  Output per file: rows, deleted, live, and live revenue
    — hash-checked against the direct-predicate oracle, proving the DV
    indirection is lossless.

    Why it matters at 100 TB: copy-on-write DELETE rewrites every touched
    file (an erasure wave over a petabyte table rewrites the table);
    merge-on-read writes only the KB-sized vectors and defers the rewrite
    to the next compaction (`compaction_plan`), trading a per-scan
    anti-join — exactly this plan — for write amplification.  The DV
    anti-join shuffles only (file, pos) pairs of DELETED rows; the base
    side stays partition-local to its file, and in a real format the
    bitmap is applied inside the scan with zero shuffle at all.  With
    `user_erasure` (mark-and-audit) this completes the GDPR story:
    logical erasure immediately, physical erasure at compaction."""
    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    filed = events.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("file_id"),
        F.row_number()
        .over(
            Window.partitionBy(
                F.floor(F.unix_timestamp("ts") / 3600).cast("long")
            ).orderBy(
                F.col("ts").asc_nulls_last(),
                F.col("event_id").asc_nulls_last(),
                F.col("user_id").asc_nulls_last(),
            )
        )
        .alias("pos"),
    )
    dv = filed.where(
        F.col("user_id").isNotNull()
        & (F.pmod("user_id", F.lit(_DV_ERASE_MOD)) == 0)
    ).select("file_id", "pos")
    live = filed.join(dv, ["file_id", "pos"], "left_anti")
    tagged = filed.alias("f").join(
        live.select(
            F.col("file_id").alias("lf"),
            F.col("pos").alias("lp"),
            F.lit(1).alias("is_live"),
            F.col("event_type").alias("l_type"),
            F.col("value").alias("l_value"),
        ),
        (F.col("f.file_id") == F.col("lf")) & (F.col("f.pos") == F.col("lp")),
        "left",
    )
    return (
        tagged.groupBy(F.col("f.file_id").alias("file_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("is_live").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_deleted"),
            F.sum(F.coalesce(F.col("is_live"), F.lit(0))).cast("long").alias("n_live"),
            (
                F.sum(
                    F.when(
                        F.col("is_live").isNotNull()
                        & (F.col("l_type") == "purchase"),
                        cents(F.coalesce(F.col("l_value"), F.lit(0.0))),
                    ).otherwise(0)
                ).cast("double")
                / 100
            ).alias("live_revenue"),
        )
        .orderBy("file_id")
    )


# --------------------------------------------------------------------------
# Compaction EXECUTED: rewrite the small files into bins and prove lossless
# --------------------------------------------------------------------------


@query(
    "compaction_rewrite_roundtrip",
    oracle=f"""
WITH src AS (
    SELECT * FROM events WHERE ts IS NOT NULL
), files AS (
    -- 6-hour ingest chunks: enough fragmentation to make the rewrite real
    -- without paying 720 physical directory writes in the harness
    SELECT CAST(floor(epoch(ts) / 21600) AS BIGINT) AS file_id,
           count(*) AS size_kb
    FROM src GROUP BY 1
), target AS (
    SELECT CAST(ceil(CAST(sum(size_kb) AS DOUBLE) / {_COMPACT_TARGET_BINS})
                AS BIGINT) AS t
    FROM files
), filled AS (
    SELECT file_id, size_kb, t,
           sum(size_kb) OVER (
               ORDER BY size_kb DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS fill
    FROM files CROSS JOIN target
), binned AS (
    SELECT file_id, (fill - 1) // t AS bin FROM filled
)
SELECT
    CAST((SELECT count(*) FROM files) AS BIGINT)              AS n_source_files,
    CAST((SELECT count(DISTINCT bin) FROM binned) AS BIGINT)  AS n_bins,
    CAST(count(*) AS BIGINT)                                  AS n_rows,
    CAST(count(DISTINCT event_id) AS BIGINT)                  AS n_distinct_events,
    CAST(sum(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)) AS DOUBLE) / 100
                                                              AS total_value
FROM src
""",
)
def q_compaction_rewrite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction EXECUTED, not just planned: the events feed is first
    landed as per-hour small files (``partitionBy(file_id)`` — the
    streaming-ingest fragmentation `compaction_plan` diagnoses), then the
    planner's cumulative-fill bin assignment REWRITES them into
    {_COMPACT_TARGET_BINS} merge groups (`repartition(bin) +
    partitionBy(bin)` — one output file per bin), and the compacted copy
    is read back and aggregated.  The hash check against the source-table
    oracle proves the rewrite lost and duplicated nothing — the OPTIMIZE
    invariant — while n_source_files/n_bins quantify the open()-call
    reduction the maintenance job buys.

    Scale: the rewrite is ONE shuffle keyed by bin (each output task
    streams its bin's rows to one file); the bin assignment itself runs on
    the metadata-sized file inventory and reaches the data as a broadcast
    (file_id -> bin) map join, exactly like a table format's
    manifest-driven OPTIMIZE.  Source files stay immutable — in a real
    format the swap is a manifest commit (`manifest_time_travel`) and the
    old files become VACUUM candidates."""
    import os as _os

    run_dir = scratch_dir("compact")
    small_dir = _os.path.join(run_dir, "small")
    compact_dir = _os.path.join(run_dir, "compacted")

    events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    with_file = events.withColumn(
        "file_id", F.floor(F.unix_timestamp("ts") / 21600).cast("long")
    )
    # land the fragmented layout: one directory (≈one small file) per
    # 6-hour ingest chunk.  Shuffle by the partition column BEFORE the
    # partitioned write (guide §6: hash-distribute to the partition key) so
    # each chunk is written by ONE task — without it every scan task opens a
    # writer per chunk it sees (#scan_tasks × #chunks small files, measured
    # 232 at sf0.1) and the landing write dominates the query.  The
    # fragmentation the query demonstrates is the per-chunk layout itself,
    # which is unchanged (inventory counts ROWS per file_id, not files).
    with_file.repartition("file_id").write.partitionBy("file_id").parquet(small_dir)

    small = spark.read.parquet(small_dir)
    inventory = small.groupBy("file_id").agg(F.count("*").alias("size_kb"))
    target = inventory.agg(
        F.ceil(F.sum("size_kb").cast("double") / _COMPACT_TARGET_BINS)
        .cast("long")
        .alias("t")
    )
    w = Window.orderBy(F.col("size_kb").desc(), F.col("file_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    assignment = (
        scalar_join(inventory, target)
        .withColumn("fill", F.sum("size_kb").over(w))
        .select("file_id", F.expr("(fill - 1) DIV t").alias("bin"))
    )
    # the rewrite: metadata-sized broadcast of (file_id -> bin), one shuffle
    # keyed by bin, one output file per bin
    (
        small.join(F.broadcast(assignment), "file_id")
        .repartition("bin")
        .write.partitionBy("bin")
        .parquet(compact_dir)
    )

    back = spark.read.parquet(compact_dir)
    # the file counts come from the metadata-sized inventory and bin map (as
    # the oracle takes n_bins from `binned`), leaving the data aggregate one
    # distinct group: two would plan an Expand whose group order varies
    # between builds of the same code
    n_src = inventory.agg(F.count("*").cast("long").alias("n_source_files"))
    n_bins = assignment.agg(F.count_distinct("bin").cast("long").alias("n_bins"))
    stats = back.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("event_id").alias("n_distinct_events"),
        cents_sum_double(F.col("value")).alias("total_value"),
    )
    return scalar_join(scalar_join(stats, n_src), n_bins).select(
        "n_source_files", "n_bins", "n_rows", "n_distinct_events", "total_value"
    )


# --------------------------------------------------------------------------
# Shuffle/file sizing advisor (the spark.sql.shuffle.partitions homework)
# --------------------------------------------------------------------------

_ADVISOR_SHUFFLE_TARGET = 128 * 1024 * 1024  # bytes per shuffle partition
_ADVISOR_FILE_TARGET = 256 * 1024 * 1024     # bytes per output file


@query(
    "shuffle_sizing_advisor",
    oracle=f"""
WITH sized AS (
    SELECT
        -- fixed-width columns: event_id, user_id, value (8B each) + ts (8B)
        -- strlen() is DuckDB's BYTE length for VARCHAR (length() is
        -- characters); Spark's octet_length is the byte-width twin
        32
        + strlen(coalesce(event_type, ''))
        + strlen(coalesce(props, '')) AS row_bytes
    FROM events
), agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(row_bytes) AS BIGINT) AS est_bytes
    FROM sized
)
SELECT
    n_rows,
    est_bytes,
    CAST((est_bytes * 10) // n_rows AS BIGINT)       AS avg_row_bytes_x10,
    CAST((est_bytes + {_ADVISOR_SHUFFLE_TARGET - 1}) // {_ADVISOR_SHUFFLE_TARGET}
         AS BIGINT)                                  AS recommended_shuffle_partitions,
    CAST((est_bytes + {_ADVISOR_FILE_TARGET - 1}) // {_ADVISOR_FILE_TARGET}
         AS BIGINT)                                  AS recommended_output_files
FROM agg
""",
)
def q_shuffle_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIZING advisor — the fourth tuning advisor (with `compaction_plan`,
    `skew_key_diagnosis`, `lateness_watermark_profile`): estimate the fact
    relation's in-flight bytes from exact per-row column widths
    (fixed-width 8 B fields + actual string octet lengths — the UnsafeRow
    order of magnitude) and derive the two numbers every deployment tunes
    by hand: shuffle partition count at a {_ADVISOR_SHUFFLE_TARGET >> 20}
    MiB-per-partition target (the "partitions sized so sorts don't spill"
    rule SCALE.md's worksheet applies) and output file count at a
    {_ADVISOR_FILE_TARGET >> 20} MiB file target (the anti-small-files
    setting `compaction_plan` cleans up after when ignored).

    Everything is exact integer arithmetic over ONE aggregate (map-side
    partial sums of row widths), so the advisor costs a scan — in
    production you run it on one partition's sample or read the sizes
    straight from parquet footers; the recommendation formula is the
    point.  At the fixture's sf0.01 this recommends 1 partition — correct:
    a 3 MB relation should not be 200-way shuffled, which is exactly the
    argument for AQE coalescing or this advisor at any scale."""
    events = load_table(spark, "events", sf_dir)
    row_bytes = (
        F.lit(32)
        + F.octet_length(F.coalesce(F.col("event_type"), F.lit("")))
        + F.octet_length(F.coalesce(F.col("props"), F.lit("")))
    )
    agg = events.agg(
        F.count("*").alias("n_rows"),
        F.sum(row_bytes).cast("long").alias("est_bytes"),
    )
    return agg.select(
        "n_rows",
        "est_bytes",
        F.expr("(est_bytes * 10) div n_rows").alias("avg_row_bytes_x10"),
        F.expr(
            f"(est_bytes + {_ADVISOR_SHUFFLE_TARGET - 1}) div {_ADVISOR_SHUFFLE_TARGET}"
        ).alias("recommended_shuffle_partitions"),
        F.expr(
            f"(est_bytes + {_ADVISOR_FILE_TARGET - 1}) div {_ADVISOR_FILE_TARGET}"
        ).alias("recommended_output_files"),
    )


# --------------------------------------------------------------------------
# VACUUM: remove orphan files no manifest references (the cleanup half of
# the manifest commit protocol)
# --------------------------------------------------------------------------


@query(
    "vacuum_orphan_files",
    oracle="""
WITH v1 AS (
    SELECT CAST(o_orderdate AS DATE) AS d, o_orderstatus AS s
    FROM orders GROUP BY 1, 2
), v2 AS (
    SELECT CAST(o_orderdate AS DATE) AS d, o_orderstatus AS s
    FROM orders WHERE o_orderstatus = 'F' GROUP BY 1, 2
)
SELECT
    CAST(3 AS BIGINT) AS files_before,
    CAST(2 AS BIGINT) AS files_referenced,
    CAST(1 AS BIGINT) AS orphans_removed,
    CAST((SELECT count(*) FROM v1) AS BIGINT) AS v1_rows_after_vacuum,
    CAST((SELECT count(*) FROM v2) AS BIGINT) AS v2_rows_after_vacuum
""",
)
def q_vacuum_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — the cleanup half of the manifest commit protocol
    (`manifest_time_travel` is the write/read half): data files that NO
    manifest references are orphans (the debris of failed or abandoned
    commits, which the immutable-files + atomic-manifest-swap protocol
    guarantees are invisible to readers but still cost storage), and
    vacuum deletes exactly those.  The builder stages two committed
    snapshot versions plus one deliberately orphaned file (a "failed
    commit"), vacuums, and re-reads BOTH committed versions afterwards —
    the hash check proves vacuum removed only the orphan and neither
    snapshot lost a row (the invariant a buggy vacuum that trusts
    directory listings over manifests violates).

    Scale: vacuum is pure METADATA work — the referenced-file set is the
    union of live manifests (O(#files)), the candidate set is one storage
    listing, and the delete never reads data bytes; this is why table
    formats can reclaim petabytes in minutes.  Retention interacts with
    time travel: vacuuming only unreferenced files (as here) keeps every
    committed version readable; age-based retention that drops OLD
    manifests first is the production knob layered on top."""
    import json as _json

    run_dir = scratch_dir("vacuum")
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)

    orders = load_table(spark, "orders", sf_dir)
    v1_df = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderstatus").alias("s"),
    ).agg(F.count("*").alias("n"))
    v2_df = v1_df.where(F.col("s") == "F")

    def commit(version: int, df: DataFrame) -> None:
        vdir = os.path.join(data_dir, f"v{version}")
        df.coalesce(1).write.parquet(vdir)  # exactly one data file
        files = sorted(
            os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".parquet")
        )
        staged = os.path.join(run_dir, f".manifest_v{version}.json.tmp")
        with open(staged, "w") as fh:
            _json.dump({"version": version, "files": files}, fh)
        os.replace(staged, os.path.join(run_dir, f"manifest_v{version}.json"))

    commit(1, v1_df)
    commit(2, v2_df)
    # the failed commit: data landed, manifest swap never happened
    orphan_dir = os.path.join(data_dir, "orphan")
    v2_df.coalesce(1).write.parquet(orphan_dir)

    def parquet_files() -> list[str]:
        out = []
        for root, _dirs, files in os.walk(data_dir):
            out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
        return sorted(out)

    referenced: set[str] = set()
    for v in (1, 2):
        with open(os.path.join(run_dir, f"manifest_v{v}.json")) as fh:
            referenced |= set(_json.load(fh)["files"])

    before = parquet_files()
    orphans = [f for f in before if f not in referenced]
    for f in orphans:  # the vacuum: delete ONLY unreferenced data files
        os.remove(f)

    def read_version(version: int) -> DataFrame:
        with open(os.path.join(run_dir, f"manifest_v{version}.json")) as fh:
            return spark.read.parquet(*_json.load(fh)["files"])

    v1_rows = read_version(1).count()
    v2_rows = read_version(2).count()
    return spark.createDataFrame(
        [(len(before), len(referenced), len(orphans), v1_rows, v2_rows)],
        "files_before long, files_referenced long, orphans_removed long, "
        "v1_rows_after_vacuum long, v2_rows_after_vacuum long",
    )


# --------------------------------------------------------------------------
# Partition-spec evolution: two physical layouts, one logical table
# --------------------------------------------------------------------------


@query(
    "partition_evolution_scan",
    oracle="""
SELECT CAST(extract(day FROM ts) AS INT) AS day,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM events
WHERE ts IS NOT NULL AND event_type = 'purchase'
GROUP BY 1
ORDER BY 1
""",
)
def q_partition_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION — the table-format feature
    `manifest_time_travel` (commits) and `compaction_rewrite_roundtrip`
    (maintenance) don't cover: a table's physical partitioning changes
    mid-life WITHOUT rewriting history.  The month's first half commits
    under spec-1 (partitioned by day); the table then evolves and the
    second half commits under spec-2 (day, event_type).  One logical query
    (purchases per day) reads BOTH layouts: the spec-2 scan prunes on both
    partition keys (`event_type=purchase` directories only — visible as
    `PartitionFilters` in the plan), the spec-1 scan prunes on day alone
    and filters the rest row-wise — exactly how Iceberg serves a query
    across partition-spec generations.  The unioned result is hash-checked
    against the raw-events oracle, proving evolution is lossless.

    Scale: this is THE migration story at 100 TB — re-partitioning
    history costs a full rewrite, spec evolution costs zero bytes; new
    data gets the better pruning immediately and old data keeps its
    (coarser) pruning.  Per-spec scan work: spec-2 opens only the matching
    leaf dirs; spec-1 reads its day dirs and pays a row filter.  NULL ts
    rows are dropped explicitly on both engines (unpartitionable); NULL
    event_type lands in the Hive default partition and is excluded by the
    equality predicate, matching the oracle's NULL semantics."""
    run_dir = scratch_dir("partevo")
    v1_dir = os.path.join(run_dir, "spec1")
    v2_dir = os.path.join(run_dir, "spec2")

    ev = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    with_day = ev.select(
        F.dayofmonth("ts").alias("day"),
        "event_type",
        cents(F.coalesce(F.col("value"), F.lit(0.0))).alias("cents"),
    )
    # hash-distribute to the partition key before each partitioned write
    # (guide §6): one writer task per leaf directory instead of every scan
    # task opening a writer per partition value it happens to see —
    # #scan_tasks × #partitions small files and their open/commit overhead
    # (the same fix as compaction_rewrite_roundtrip's landing write)
    with_day.where(F.col("day") <= 15).repartition("day").write.partitionBy(
        "day"
    ).parquet(v1_dir)
    with_day.where(F.col("day") > 15).repartition("day", "event_type").write.partitionBy(
        "day", "event_type"
    ).parquet(v2_dir)

    # the evolved table: one logical relation over both physical specs.
    # The same predicate becomes a PartitionFilter on spec-2 and a row
    # filter on spec-1 — Catalyst plans each scan by its own layout.
    spec1 = spark.read.parquet(v1_dir).where(F.col("event_type") == "purchase")
    spec2 = spark.read.parquet(v2_dir).where(F.col("event_type") == "purchase")
    unioned = spec1.select("day", "cents").unionByName(
        spec2.select("day", "cents")
    )
    return (
        unioned.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(F.col("day").cast("int").alias("day"), "n_purchases", "cents")
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Column-encoding advisor: dictionary/RLE suitability from NDV + run counts
# --------------------------------------------------------------------------


@query(
    "encoding_advisor",
    oracle="""
WITH ordered AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, ts,
           coalesce(event_id, 4611686018427387904) AS oid,
           event_type, user_id, value
    FROM events WHERE ts IS NOT NULL
), stacked AS (
    SELECT day, ts, oid, 'event_type' AS col_name,
           event_type AS val FROM ordered
    UNION ALL
    SELECT day, ts, oid, 'user_id', CAST(user_id AS VARCHAR) FROM ordered
    UNION ALL
    -- stringify the QUANTIZED cents integer, not the raw double: Spark
    -- renders doubles >= 1e7 in Java scientific notation (1.0E7) where
    -- DuckDB renders 10000000.0, so raw-double strings diverge the moment
    -- a value leaves [1e-3, 1e7) (r8 ADVICE #2)
    SELECT day, ts, oid, 'value',
           CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) FROM ordered
), runs AS (
    SELECT col_name,
           count(*) AS n_rows,
           sum(CASE WHEN val IS DISTINCT FROM prev THEN 1 ELSE 0 END) AS n_runs,
           sum(coalesce(length(val), 0)) AS total_len
    FROM (
        SELECT col_name, val,
               lag(val) OVER (
                   PARTITION BY col_name, day
                   ORDER BY epoch_us(ts), oid, val NULLS LAST
               ) AS prev
        FROM stacked
    ) GROUP BY 1
), ndv AS (
    SELECT col_name, count(*) AS ndv
    FROM (SELECT DISTINCT col_name, val FROM stacked WHERE val IS NOT NULL)
    GROUP BY 1
)
SELECT
    r.col_name,
    CAST(r.n_rows AS BIGINT)                     AS n_rows,
    CAST(n.ndv AS BIGINT)                        AS ndv,
    CAST(r.n_runs AS BIGINT)                     AS n_runs,
    CAST(r.total_len * 100 // r.n_rows AS BIGINT) AS avg_len_x100,
    CASE WHEN r.n_runs * 10 <= r.n_rows THEN 'rle'
         WHEN n.ndv * 20 <= r.n_rows THEN 'dictionary'
         ELSE 'plain' END                        AS advice
FROM runs r JOIN ndv n USING (col_name)
ORDER BY r.col_name
""",
)
def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column ENCODING advisor — the physical-design twin of
    `shuffle_sizing_advisor`: for each fact column, exact NDV, the number
    of value RUNS under the table's natural layout order (day partition,
    then event time), and average encoded width, folded into an encoding
    recommendation (RLE when runs collapse 10:1 under the CURRENT sort
    order, dictionary when the value domain is <= 5% of rows, plain
    otherwise).  This is the evidence behind parquet encoding/row-group
    tuning and Z-order candidate selection: a column that would RLE under
    a different sort order shows up here as high-NDV-low-runs vs
    low-runs-after-reorder (`zorder_layout_stats`' before/after pairing).

    Exactness: runs compare via IS DISTINCT FROM (null-safe on both
    engines) under a fully deterministic order (epoch micros, id sentinel
    NULLS LAST, then the value itself NULLS LAST) so tied timestamps
    cannot flip run boundaries cross-engine; NULL-ts rows belong to no
    layout partition and drop on both sides.  The `value` column is
    stringified as its QUANTIZED cents integer (round(value*100) as
    BIGINT), never as a raw double: Spark renders doubles >= 1e7 in Java
    scientific notation while DuckDB renders plain decimal, so raw-double
    strings silently diverge outside [1e-3, 1e7) (r8 ADVICE #2) — and the
    cents width is the honest encoded width for a money column anyway.

    Scale shape: the column stack is a 3x row multiply feeding ONE
    (column, day)-partitioned window — the same per-partition-runs
    semantics parquet encoding actually sees (runs never span row groups)
    — then two bounded aggregates (per-column rollup + two-phase distinct
    for exact NDV, no COUNT-DISTINCT Expand).  Output is
    columns-sized."""
    ordered = (
        load_table(spark, "events", sf_dir)
        .where(F.col("ts").isNotNull())
        .select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "ts",
            F.coalesce(F.col("event_id"), F.lit(4611686018427387904)).alias("oid"),
            "event_type",
            "user_id",
            cents(F.col("value")).cast("string").alias("value"),
        )
    )
    stacked = ordered.select(
        "day",
        "ts",
        "oid",
        F.expr(
            "stack(3, 'event_type', event_type, "
            "'user_id', cast(user_id as string), 'value', value) "
            "AS (col_name, val)"
        ),
    )
    lw = Window.partitionBy("col_name", "day").orderBy(
        F.unix_micros("ts"), "oid", F.col("val").asc_nulls_last()
    )
    runs = (
        stacked.withColumn("prev", F.lag("val").over(lw))
        .groupBy("col_name")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.when(~F.col("val").eqNullSafe(F.col("prev")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_runs"),
            F.sum(F.coalesce(F.length("val"), F.lit(0)))
            .cast("long")
            .alias("total_len"),
        )
    )
    ndv = (
        stacked.where(F.col("val").isNotNull())
        .select("col_name", "val")
        .distinct()
        .groupBy("col_name")
        .agg(F.count("*").cast("long").alias("ndv"))
    )
    return (
        runs.join(ndv, "col_name")
        .select(
            "col_name",
            "n_rows",
            "ndv",
            "n_runs",
            F.expr("(total_len * 100) div n_rows").alias("avg_len_x100"),
            F.when(F.col("n_runs") * 10 <= F.col("n_rows"), "rle")
            .when(F.col("ndv") * 20 <= F.col("n_rows"), "dictionary")
            .otherwise("plain")
            .alias("advice"),
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# Branch merge with three-way conflict detection (catalog branching)
# --------------------------------------------------------------------------


@query(
    "branch_merge_conflicts",
    oracle="""
WITH base AS (
    SELECT o_orderkey AS k,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
), branched AS (
    SELECT k, cents,
           CASE WHEN k % 97 = 0 THEN 'delete'
                WHEN k % 11 = 0 THEN 'update' ELSE 'none' END AS change_a,
           CASE WHEN k % 89 = 0 THEN 'delete'
                WHEN k % 13 = 0 THEN 'update' ELSE 'none' END AS change_b,
           CASE WHEN k % 11 = 0 THEN cents + 500 END AS cents_a,
           CASE WHEN k % 13 = 0 THEN cents + 700 END AS cents_b
    FROM base
), classified AS (
    SELECT change_a, change_b,
           CASE WHEN change_a = 'none' AND change_b = 'none' THEN 'base'
                WHEN change_b = 'none' THEN 'take_a'
                WHEN change_a = 'none' THEN 'take_b'
                WHEN change_a = 'delete' AND change_b = 'delete' THEN 'agree'
                ELSE 'conflict' END AS resolution,
           CASE WHEN change_a = 'update' AND change_b = 'none' THEN cents_a - cents
                WHEN change_b = 'update' AND change_a = 'none' THEN cents_b - cents
                ELSE 0 END AS applied_delta
    FROM branched
)
SELECT change_a, change_b, resolution,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(applied_delta) AS BIGINT) AS merged_cents_delta
FROM classified
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
)
def q_branch_merge_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog BRANCH MERGE with three-way conflict detection — the
    Nessie/Iceberg-refs workflow: two branches diverge from a common base
    snapshot of the orders table (branch A re-prices every 11th key +$5
    and deletes every 97th; branch B re-prices every 13th +$7 and deletes
    every 89th), and the merge classifies every key three-way against the
    base: untouched keys keep base, keys changed on exactly one branch
    fast-forward, both-deleted keys agree, and any other double-change is
    a CONFLICT requiring human/policy resolution.  Output is the
    (change_a x change_b x resolution) decision grid with key counts and
    the cents delta the auto-merge would apply — the table a data-eng
    reviews before confirming a branch merge.

    Why relational: the three-way diff is two deterministic change maps
    FULL-joined by key against base — here fused into one scan because
    the changes are expression-derived; with real branch manifests it is
    a 3-way key equi-join, shuffle-partitioned by key, no driver state.
    Conflict volume is the overlap of the branches' change sets, so the
    output grid is bounded (<= 3x3 cells) however large the table.

    Exactness: all classification is integer modulo arithmetic and the
    deltas are exact cents; NULL-key/price rows cannot be versioned and
    are excluded on both engines (r8 edge pin)."""
    base = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderkey").isNotNull() & F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_orderkey").alias("k"),
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    change_a = (
        F.when(F.col("k") % 97 == 0, "delete")
        .when(F.col("k") % 11 == 0, "update")
        .otherwise("none")
    )
    change_b = (
        F.when(F.col("k") % 89 == 0, "delete")
        .when(F.col("k") % 13 == 0, "update")
        .otherwise("none")
    )
    branched = base.select(
        "k",
        "cents",
        change_a.alias("change_a"),
        change_b.alias("change_b"),
        F.when(F.col("k") % 11 == 0, F.col("cents") + 500).alias("cents_a"),
        F.when(F.col("k") % 13 == 0, F.col("cents") + 700).alias("cents_b"),
    )
    resolution = (
        F.when((F.col("change_a") == "none") & (F.col("change_b") == "none"), "base")
        .when(F.col("change_b") == "none", "take_a")
        .when(F.col("change_a") == "none", "take_b")
        .when((F.col("change_a") == "delete") & (F.col("change_b") == "delete"), "agree")
        .otherwise("conflict")
    )
    applied = (
        F.when(
            (F.col("change_a") == "update") & (F.col("change_b") == "none"),
            F.col("cents_a") - F.col("cents"),
        )
        .when(
            (F.col("change_b") == "update") & (F.col("change_a") == "none"),
            F.col("cents_b") - F.col("cents"),
        )
        .otherwise(0)
    )
    return (
        branched.select(
            "change_a", "change_b", resolution.alias("resolution"),
            applied.alias("applied_delta"),
        )
        .groupBy("change_a", "change_b", "resolution")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("applied_delta").cast("long").alias("merged_cents_delta"),
        )
        .orderBy("change_a", "change_b", "resolution")
    )


# --------------------------------------------------------------------------
# Write-Audit-Publish: staged commits pass a DQ gate before readers see them
# --------------------------------------------------------------------------


@query("wap_publish_gate", oracle=_SNAPSHOT_ORACLE)
def q_wap_publish_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH — the deployment discipline on top of
    `manifest_time_travel`'s commit protocol: candidate snapshots are
    STAGED (immutable files + manifest, invisible to readers), a
    declarative audit runs against the staged files (row count within 10%
    of the published baseline, zero NULL group keys, no negative
    revenue), and only a PASSING candidate's manifest is atomically
    promoted to CURRENT — a failing candidate stays quarantined with its
    audit verdict, costing readers nothing.  Exercised LIVE both ways: a
    good candidate (the full rollup) and a deliberately broken rewrite
    (a filter bug that loses ~90% of rows) are staged; the audit passes
    exactly one; the returned relation is what readers see after the
    gate — hash-checked against the oracle to prove the bad candidate
    never leaked.  The quarantine manifest + verdict are pinned by
    tests/test_round8_ops.py.

    At 100 TB this is how every table mutation ships (Iceberg WAP /
    Delta CDF + constraints): the audit is one aggregate over the staged
    snapshot (metadata-sized here, scan-sized at worst), and publish
    stays an O(1) manifest rename regardless of data volume."""
    import json

    run_dir = scratch_dir("wap")
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)

    orders = load_table(spark, "orders", sf_dir)
    rollup = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("order_day"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.count("*").alias("n_orders"),
        (cents_sum(F.col("o_totalprice")).cast("double") / 100).alias("day_revenue"),
    )
    baseline_rows = rollup.count()  # the published table's row count

    def stage(name: str, df: DataFrame) -> dict:
        vdir = os.path.join(data_dir, name)
        df.write.parquet(vdir)
        files = sorted(
            os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".parquet")
        )
        return {"name": name, "files": files}

    def audit(manifest: dict) -> dict:
        staged = spark.read.parquet(*manifest["files"])
        checks = staged.agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("status").isNull(), 1).otherwise(0)).alias(
                "null_keys"
            ),
            F.sum(F.when(F.col("day_revenue") < 0, 1).otherwise(0)).alias(
                "neg_revenue"
            ),
        ).collect()[0]
        failures = []
        if checks["n_rows"] * 10 < baseline_rows * 9:
            failures.append(f"row_count {checks['n_rows']} < 90% of {baseline_rows}")
        if checks["null_keys"]:
            failures.append(f"null group keys: {checks['null_keys']}")
        if checks["neg_revenue"]:
            failures.append(f"negative revenue rows: {checks['neg_revenue']}")
        return {"passed": not failures, "failures": failures}

    def publish_or_quarantine(manifest: dict, verdict: dict) -> None:
        record = {**manifest, "audit": verdict}
        kind = "manifest" if verdict["passed"] else "quarantine"
        staged_path = os.path.join(run_dir, f".{kind}_{manifest['name']}.tmp")
        with open(staged_path, "w") as fh:
            json.dump(record, fh)
        os.replace(
            staged_path, os.path.join(run_dir, f"{kind}_{manifest['name']}.json")
        )
        if verdict["passed"]:
            cur = os.path.join(run_dir, ".CURRENT.tmp")
            with open(cur, "w") as fh:
                json.dump({"current": manifest["name"]}, fh)
            os.replace(cur, os.path.join(run_dir, "CURRENT.json"))

    good = stage("good", rollup)
    # the broken rewrite a WAP gate exists to catch: silently loses rows
    bad = stage("bad", rollup.where(F.col("day_revenue") > 90000))
    for manifest in (bad, good):  # bad audited first: CURRENT must end good
        publish_or_quarantine(manifest, audit(manifest))

    import json as _json

    with open(os.path.join(run_dir, "CURRENT.json")) as fh:
        current = _json.load(fh)["current"]
    with open(os.path.join(run_dir, f"manifest_{current}.json")) as fh:
        manifest = _json.load(fh)
    return spark.read.parquet(*manifest["files"])


# --------------------------------------------------------------------------
# Streaming state-store sizing advisor (watermark-delay capacity planning)
# --------------------------------------------------------------------------

_STATE_DELAYS_MIN = (5, 10, 30)
# per-row state overhead: 8B key + 8B event-time + 8B value slot; the
# variable part is the payload (props) length
_STATE_FIXED_BYTES = 24


@query(
    "stream_state_size_advisor",
    oracle=f"""
WITH m AS (
    SELECT
        event_type,
        epoch_us(ts) // 60000000 AS minute,
        count(*) AS arrivals,
        CAST(sum({_STATE_FIXED_BYTES} + coalesce(len(props), 0)) AS BIGINT)
            AS arrival_bytes
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
), framed AS (
    SELECT event_type, minute, arrivals, arrival_bytes,
        {", ".join(
            f'''sum(arrivals) OVER (PARTITION BY event_type ORDER BY minute
                RANGE BETWEEN {d - 1} PRECEDING AND CURRENT ROW)
                AS rows_d{d},
            sum(arrival_bytes) OVER (PARTITION BY event_type ORDER BY minute
                RANGE BETWEEN {d - 1} PRECEDING AND CURRENT ROW)
                AS bytes_d{d}'''
            for d in _STATE_DELAYS_MIN)}
    FROM m
), u AS (
    {" UNION ALL ".join(
        f'''SELECT event_type, {d} AS delay_min,
               rows_d{d} AS state_rows, bytes_d{d} AS state_bytes
        FROM framed'''
        for d in _STATE_DELAYS_MIN)}
)
SELECT
    event_type,
    CAST(delay_min AS INT)                       AS delay_min,
    CAST(max(state_rows) AS BIGINT)              AS peak_state_rows,
    CAST(sum(state_rows) * 100 // count(*) AS BIGINT)
                                                 AS mean_state_rows_x100,
    CAST(max(state_bytes) AS BIGINT)             AS peak_state_bytes
FROM u
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_stream_state_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store sizing advisor — the capacity-planning
    companion to `lateness_watermark_profile` (which picks the watermark
    DELAY for completeness; this prices what that delay COSTS): a
    watermarked stateful operator retains every event younger than the
    delay, so projected state occupancy at minute t is exactly the
    trailing-delay arrival sum.  For each event type and each candidate
    delay (5 / 10 / 30 min — `_STATE_DELAYS_MIN`), reports
    peak and mean concurrent state rows plus peak state bytes (fixed
    24 B/row + exact payload lengths, `_STATE_FIXED_BYTES`) — the number that
    decides executor memory or the RocksDB switch BEFORE the stream is
    deployed, derived from the historical batch table.

    Plan shape: one fact scan → (type, minute) hash aggregate (the only
    data-proportional shuffle; the minute relation is calendar-bounded),
    then three VALUE-RANGE sliding windows partitioned by type — parallel,
    gap-correct (a quiet minute contributes nothing to any frame), never
    a global window — and a bounded ×3 UNION unpivot.  All arithmetic
    exact integers; mean is over ACTIVE minutes
    (state between arrivals only drains, so peaks are attained at arrival
    minutes and the mean excludes fully-idle minutes, documented here)."""
    e = (
        load_table(spark, "events", sf_dir)
        .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 60000000").alias("minute"),
            (
                F.lit(_STATE_FIXED_BYTES)
                + F.coalesce(F.length("props"), F.lit(0))
            ).alias("row_bytes"),
        )
    )
    m = e.groupBy("event_type", "minute").agg(
        F.count("*").alias("arrivals"),
        F.sum("row_bytes").cast("long").alias("arrival_bytes"),
    )
    framed = m
    for d in _STATE_DELAYS_MIN:
        w = (
            Window.partitionBy("event_type")
            .orderBy("minute")
            .rangeBetween(-(d - 1), Window.currentRow)
        )
        framed = framed.withColumn(
            f"rows_d{d}", F.sum("arrivals").over(w)
        ).withColumn(f"bytes_d{d}", F.sum("arrival_bytes").over(w))
    u = None
    for d in _STATE_DELAYS_MIN:
        part = framed.select(
            "event_type",
            F.lit(d).cast("int").alias("delay_min"),
            F.col(f"rows_d{d}").alias("state_rows"),
            F.col(f"bytes_d{d}").alias("state_bytes"),
        )
        u = part if u is None else u.unionAll(part)
    return (
        u.groupBy("event_type", "delay_min")
        .agg(
            F.max("state_rows").cast("long").alias("peak_state_rows"),
            F.expr("sum(state_rows) * 100 div count(*)")
            .cast("long")
            .alias("mean_state_rows_x100"),
            F.max("state_bytes").cast("long").alias("peak_state_bytes"),
        )
        .orderBy("event_type", "delay_min")
    )
