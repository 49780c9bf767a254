"""Regenerate PLANS.md: the formatted physical plan of every bench headline
query at $SPARK_GRAFT_SF_DIR (default sf0.1).

Run:  python scripts/dump_plans.py

The artifact makes plan-shape review part of the repo: broadcasts on dim
joins, PushedFilters/ReadSchema at the scans, WholeStageCodegen spans, and
the absence of CartesianProduct/BroadcastNestedLoopJoin (also enforced
repo-wide by tests/test_engine.py's plan lint).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import bench
    from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries
    from e_commerce_streaming_datapipeline_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    out = [
        "# PLANS — physical plans of the bench headline queries",
        "",
        f"Auto-generated by `python scripts/dump_plans.py` at `{SF_DIR}`.",
        "Streaming queries are omitted (their plans are per-micro-batch);",
        "see SCALE.md §Streaming for their shapes.",
        "",
    ]
    extra = [
        "embedding_topk_lsh_multiprobe",
        "lsh_multiprobe_recall_audit",
        "bpe_pair_counts",
        "hard_negative_mining",
    ]
    # jdbc/lambda/observe builders execute side effects (Derby DDL, a
    # streaming run, a noop pass) before returning the result relation —
    # their interesting plans are documented in SCALE.md, not here
    side_effecting = {"jdbc_upsert_roundtrip", "lambda_unified_gmv",
                      "observed_quality_metrics"}
    for name in bench.SECTION_QUERIES + extra:
        if name.endswith("_stream") or "_stream_" in name or name == "gmv_stream_minutely":
            continue
        if name in side_effecting:
            continue
        df = registry[name].builder(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", "```", buf.getvalue().rstrip(), "```", ""]

    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out)
    )
    print(f"wrote PLANS.md ({len(out)} lines of source)")
    spark.stop()


if __name__ == "__main__":
    main()
