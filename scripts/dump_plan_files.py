"""Dump `.explain("formatted")` for registry queries to <out>/<q>_<tag>.txt.

Each query's DuckDB oracle SQL, when it has one, goes beside its plan in
<out>/<q>_<tag>.sql with ``--`` comments stripped and whitespace collapsed
(runs of whitespace become one space; none is kept next to a parenthesis
or a comma), so the same ``diff -r`` checks both plans and oracles.

Usage:
    python scripts/dump_plan_files.py before q1 q2 ...
    python scripts/dump_plan_files.py after  q1 q2 ...
    python scripts/dump_plan_files.py cmp --out /path/dir      # every query

With no query names, every registered query is dumped (in registry
order).  The default output directory is plans/<SPARK_GRAFT_PLANS_ROUND>
(r10 when unset); ``--out`` writes elsewhere.  Streaming/side-effecting
builders are dumped as their returned relation's plan (the batch-visible
part).

Plans are normalized before they are written, so two builds of the same
code give the same text: expression ids (``#123``), ``plan_id=...``, RDD
ids and call sites (``MapPartitionsRDD[12] at ...``), lambda-variable
counters (``x_12``), uuids, hex hashes, ``/tmp/...`` paths and this
checkout's own path are replaced by fixed tokens.  A plan-identity check
between two checkouts is then

    (cd A && SPARK_GRAFT_SF_DIR=<sf0.001> python scripts/dump_plan_files.py cmp --out /some/a)
    (cd B && SPARK_GRAFT_SF_DIR=<sf0.001> python scripts/dump_plan_files.py cmp --out /some/b)
    diff -r /some/a /some/b

``dataset_profile`` differs between two builds of the same code: its
multi-distinct aggregate (the one-pass design its docstring gives) plans an
Expand whose group order follows the JVM's expression-id counter.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = REPO / "plans" / os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r10")

_NORMALIZE = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/<path>"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\] at (\w+) at [^,]+"), r"RDD[] at \1"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@<hash>"),
    (re.compile(r"\b0x[0-9a-f]+\b"), "0x<hash>"),
]


def normalize_plan(plan: str) -> str:
    """Replace every build-dependent token of a plan text with a fixed one."""
    plan = plan.replace(str(REPO), "<repo>")
    for pattern, token in _NORMALIZE:
        plan = pattern.sub(token, plan)
    return plan


_SQL_COMMENT = re.compile(r"--[^\n]*")
_SQL_SPACE_AROUND = re.compile(r"\s*([(),])\s*")


def normalize_sql(sql: str) -> str:
    """An oracle's text without comments and with whitespace collapsed."""
    sql = " ".join(_SQL_COMMENT.sub("", sql).split())
    return _SQL_SPACE_AROUND.sub(r"\1", sql) + "\n"


def main() -> None:
    from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries
    from e_commerce_streaming_datapipeline_spark.session import get_spark
    from e_commerce_streaming_datapipeline_spark.functions.ranks import (
        release_rank_caches,
    )

    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("tag")
    parser.add_argument("names", nargs="*")
    parser.add_argument("--out", type=Path, default=OUT_DIR)
    args = parser.parse_args()

    args.out.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="dump-plan-files", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in args.names or list(registry):
        if registry[name].oracle is not None:
            sql_path = args.out / f"{name}_{args.tag}.sql"
            sql_path.write_text(normalize_sql(registry[name].oracle))
        df = registry[name].builder(spark, SF_DIR)
        plan = normalize_plan(df._jdf.queryExecution().explainString(mode))
        path = args.out / f"{name}_{args.tag}.txt"
        path.write_text(plan)
        n_lines = plan.count("\n")
        n_exch = plan.count("Exchange")
        print(f"{name}: {n_lines} lines, {n_exch} Exchange -> {path}")
        release_rank_caches()
    spark.stop()


if __name__ == "__main__":
    main()
