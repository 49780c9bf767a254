"""Local replica of the driver's DuckDB-oracle compare (SURVEY §5): run a
registered Spark query and its oracle SQL side by side, compare row count +
column names + an order-insensitive value hash with tolerant float/timestamp
normalization.  Used by tests and by ``python -m tests.oracle_compare`` for
fast iteration.  ``run_query`` also hands back what that one build and
execution produced (frame, rows, oracle frame), so tests can check more
contracts without running the query or its oracle a second time."""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import duckdb
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from e_commerce_streaming_datapipeline_spark.schemas import TESTDATA_TABLES


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table present in
    ``sf_dir`` — the catalog every oracle SQL text is written against."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v) -> str:
    import datetime

    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            # NaN hashes as NULL: the driver materializes BOTH sides
            # through pandas, where a float64 column represents SQL NULL
            # and genuine NaN identically (NaN), so the two classes are
            # indistinguishable at the driver and must hash equal locally
            # too (r7 ADVICE #4).  The semantic risk this conflation hides
            # is closed separately: compare_query FAILS any query whose
            # Spark result or oracle result contains a GENUINE NaN.
            return "␀"
        # driver-style value normalization: fixed decimal form kills
        # 1.0-vs-1 and 1e-? formatting drift
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        # widen DATE to midnight-timestamp form: DuckDB DATE materializes as
        # pandas datetime64 (midnight) through the driver's .df() path while
        # Spark returns datetime.date — empirically the driver hashes these
        # equal (manifest_time_travel, spark date vs oracle DATE, was
        # driver-green in r4), so the local harness must too
        return v.isoformat() + "T00:00:00"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _rows_signature(columns: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


_SPARK_INTEGRAL = ("tinyint", "smallint", "int", "bigint", "long", "integer",
                   "short", "byte")


def _oracle_df_rows(con, sql: str):
    """Materialize the oracle the way the DRIVER does: ``con.execute(sql)
    .df()`` (pandas).  The r4-r6 driver hash mismatches were all caused by
    this path — DuckDB HUGEINT/DECIMAL outputs become pandas float64, so an
    uncast integer ``sum()`` hashes ``"3.0"`` where Spark hashes ``"3"``.
    ``fetchall()`` (the pre-r7 local path) hid the class because HUGEINT
    becomes a Python int there.

    NaN policy (r7 ADVICE #4): pandas float64 represents SQL NULL and
    genuine NaN identically, so through this path the two classes are
    inherently conflated — exactly as they are at the driver.  Every
    pd.isna value maps to None here and ``_norm_cell`` hashes a Spark-side
    NaN as NULL too, keeping the local hash driver-faithful; the semantic
    blind spot (an expression that computes NaN on one engine and NULL on
    the other would hash equal) is closed by ``_genuine_oracle_nans`` +
    the Spark-side NaN gate in ``compare_query``, which FAIL any query
    that emits a genuine NaN at all.  Returns (columns, rows, dtypes,
    has_null)."""
    return _df_rows(con.execute(sql).df())


def _df_rows(df: pd.DataFrame):
    """``_oracle_df_rows`` on an already materialized oracle frame."""
    import numpy as np

    cols = list(df.columns)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if isinstance(v, np.ndarray):
                v = v.tolist()
            elif isinstance(v, np.generic):
                # np.bool_ is NOT a bool subclass; unwrap every numpy
                # scalar so _norm_cell's isinstance dispatch works
                v = v.item()
            if v is not None and not isinstance(v, (list, dict, str, bytes)):
                try:
                    if pd.isna(v):
                        # NULL ints materialize as NaN in pandas; map back
                        # to SQL NULL (the dtype-kind gate separately flags
                        # the int->float64 widening itself)
                        v = None
                except (TypeError, ValueError):
                    pass
            row.append(v)
        rows.append(tuple(row))
    dtypes = {c: str(df[c].dtype) for c in cols}
    has_null = {c: bool(df[c].isna().any()) for c in cols}
    return cols, rows, dtypes, has_null


def _genuine_oracle_nans(con, sql: str, suspect_cols: list[str]) -> list[str]:
    """Distinguish genuine NaN from SQL NULL on the oracle side: re-read
    the oracle through ``fetchall()``, which preserves the difference
    (NULL -> None, NaN -> float('nan')) that the driver's pandas path
    erases.  Only called when ``.df()`` showed NaNs in a float column, so
    the extra oracle execution is rare.  Returns the columns that contain
    at least one GENUINE NaN — an engine-discipline violation (safe
    division should have produced NULL/0) that the driver would silently
    conflate with NULL (r7 ADVICE #4)."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    idx = [i for i, c in enumerate(cols) if c in suspect_cols]
    bad: set[str] = set()
    for row in cur.fetchall():
        for i in idx:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                bad.add(cols[i])
    return sorted(bad)


def _dtype_kind_mismatches(
    sdf, oracle_dtypes: dict[str, str], oracle_has_null: dict[str, bool] | None = None
) -> list[str]:
    """Columns whose representation would DIVERGE between the two sides of
    the driver's pandas canonicalizer.  Our hash normalization renders 3.0
    and 3 identically, so without this check a HUGEINT->float64 oracle
    column passes locally yet hash-mismatches at the driver (the whole
    r4-r6 red-row class).

    A float64 oracle column that CONTAINS NULLs is NOT flagged when Spark
    is integral: NULL-able integer columns widen to float64 on BOTH sides
    of the driver's materialization (values match, so null positions
    match), and driver history proves the pair hashes equal
    (hybrid_rrf_fusion was r4-green with NULL int ranks at sf0.01).  The
    dangerous shape is INTRINSIC widening — float64 with no NULL in sight
    means DuckDB returned HUGEINT/DECIMAL, which widens the oracle side
    only."""
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    oracle_has_null = oracle_has_null or {}
    bad = []
    for col, odt in oracle_dtypes.items():
        st = spark_types.get(col, "")
        if (
            odt.startswith("float")
            and st in _SPARK_INTEGRAL
            and not oracle_has_null.get(col, False)
        ):
            bad.append(f"{col}: oracle={odt} spark={st}")
        if odt.startswith(("int", "uint")) and st in ("float", "double"):
            bad.append(f"{col}: oracle={odt} spark={st}")
    return bad


@dataclass
class QueryRun:
    """One build and one Spark action of a registered query, plus one
    oracle execution: the compare result and the objects it was made from."""

    result: CompareResult
    frame: DataFrame
    rows: list
    oracle_df: pd.DataFrame | None


def compare_query(spark: SparkSession, name: str, sf_dir: str) -> CompareResult:
    return run_query(spark, name, sf_dir).result


def run_query(spark: SparkSession, name: str, sf_dir: str) -> QueryRun:
    from e_commerce_streaming_datapipeline_spark.plans.registry import get_query

    q = get_query(name)
    sdf = q.builder(spark, sf_dir)
    spark_rows = sdf.collect()
    # the action has run; release any determinism persists the rank family
    # pinned during the build (functions/ranks.py) so a full-registry sweep
    # doesn't accumulate hundreds of cached copies
    from e_commerce_streaming_datapipeline_spark.functions.ranks import (
        release_rank_caches,
    )

    release_rank_caches()

    if q.oracle is None:
        result = CompareResult(name, True, len(spark_rows), -1, "rows-only (no oracle)")
        return QueryRun(result, sdf, spark_rows, None)

    con = oracle_connection(sf_dir)
    odf = con.execute(q.oracle).df()
    result = _compare(name, sdf, spark_rows, con, q.oracle, odf)
    return QueryRun(result, sdf, spark_rows, odf)


def _compare(name, sdf, spark_rows, con, oracle_sql, odf) -> CompareResult:
    spark_cols = sdf.columns
    oracle_cols, oracle_rows, oracle_dtypes, oracle_has_null = _df_rows(odf)

    # NaN gates (r7 ADVICE #4): the pandas canonicalizer conflates genuine
    # NaN with SQL NULL on both sides, so a query emitting NaN anywhere is
    # a latent cross-engine trap — fail it outright instead of letting the
    # conflation hide it.  Spark side: scan the collected rows.  Oracle
    # side: where .df() showed NaNs in a float column, re-read via
    # fetchall() (which preserves NULL-vs-NaN) and fail on genuine NaNs.
    spark_nan_cols = sorted({
        c for r in spark_rows
        for c, v in zip(spark_cols, r)
        if isinstance(v, float) and math.isnan(v)
    })
    if spark_nan_cols:
        return CompareResult(
            name, False, len(spark_rows), len(oracle_rows),
            f"spark result contains genuine NaN in {spark_nan_cols} "
            "(use safe division / coalesce; the driver conflates NaN with "
            "NULL so this would silently mask divergence)",
        )
    nan_suspects = [
        c for c in oracle_cols
        if oracle_dtypes.get(c, "").startswith("float") and oracle_has_null.get(c)
    ]
    if nan_suspects:
        genuine = _genuine_oracle_nans(con, oracle_sql, nan_suspects)
        if genuine:
            return CompareResult(
                name, False, len(spark_rows), len(oracle_rows),
                f"oracle result contains genuine NaN in {genuine} "
                "(fix the oracle expression; the driver conflates NaN with "
                "NULL so this would silently mask divergence)",
            )

    kind_bad = _dtype_kind_mismatches(sdf, oracle_dtypes, oracle_has_null)
    if kind_bad:
        return CompareResult(
            name, False, len(spark_rows), len(oracle_rows),
            f"dtype-kind mismatch (driver canonicalizer would hash-break): "
            f"{kind_bad}",
        )
    if sorted(spark_cols) != sorted(oracle_cols):
        return CompareResult(
            name, False, len(spark_rows), len(oracle_rows),
            f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}",
        )
    if len(spark_rows) != len(oracle_rows):
        return CompareResult(
            name, False, len(spark_rows), len(oracle_rows), "row count mismatch"
        )
    s_sig = _rows_signature(spark_cols, [tuple(r) for r in spark_rows])
    o_sig = _rows_signature(oracle_cols, oracle_rows)
    if s_sig != o_sig:
        diff = [(a, b) for a, b in zip(s_sig, o_sig) if a != b][:3]
        return CompareResult(
            name, False, len(spark_rows), len(oracle_rows),
            f"value mismatch, first diffs: {diff}",
        )
    return CompareResult(name, True, len(spark_rows), len(oracle_rows))


def main() -> None:
    import argparse

    from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries
    from e_commerce_streaming_datapipeline_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    spark = get_spark(app_name="oracle-compare", shuffle_partitions=8)
    names = args.names or list(all_queries())
    failed = []
    for name in names:
        try:
            res = compare_query(spark, name, args.sf_dir)
        except Exception as e:  # show and continue
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            failed.append(name)
            continue
        status = "ok" if res.ok else "FAIL"
        print(f"{status:4} {name}: spark={res.spark_rows} oracle={res.oracle_rows} {res.detail}")
        if not res.ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    if failed:
        print("failed:", ", ".join(failed))
        raise SystemExit(1)


if __name__ == "__main__":
    main()
