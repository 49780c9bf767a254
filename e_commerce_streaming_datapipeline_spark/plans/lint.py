"""Physical-plan linting as a library: the scale-regression checks the test
suite runs on every registered query's executed plan (the oracle parity
sweep, tests/test_oracle_parity.py), exposed so pipelines can
gate their own plans in CI — ``lint_plan(df)`` returns findings instead of
assertions.

What it catches (each one is a silent O(n·m) or O(n²) regression that only
explodes at 100 TB):

* ``CartesianProduct`` — a dropped join condition.
* ``BroadcastNestedLoopJoin`` — a non-equi predicate demoted from hash join
  (legitimate only for deliberate 1-row scalar cross joins; allow those
  explicitly).
* ``Expand`` from COUNT(DISTINCT) rewrites — doubles shuffled rows; the
  engine's convention is two-stage dedup-then-count (SCALE.md).
* Unbounded per-group ``collect_list``/``collect_set`` without a bounding
  ``slice`` in the same plan.
* **Global windows**: a ``Window`` fed by an ``Exchange SinglePartition``
  — ``row_number()/count(*) OVER (ORDER BY ...)`` with no PARTITION BY
  funnels the whole relation through one task's sort.  The sanctioned
  replacement is the two-phase distributed rank
  (``functions/ranks.py::global_row_number``); its own offsets window
  sorts the ``__rank_pid`` relation (bounded by the shuffle-partition
  count, not by data) and is recognized by column name.  Windows over
  other provably bounded relations (a 50-bin histogram, a dim-sized
  segment grid) opt out via ``allow_global_window``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Finding:
    rule: str
    detail: str

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"[{self.rule}] {self.detail}"


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def _global_window_findings(plan: str) -> list[Finding]:
    """Single-partition windows: a ``Window`` node whose next
    partition-establishing child (the first Exchange/Scan below it) is
    ``Exchange SinglePartition``.  The two-phase rank's offsets window is
    exempt by construction: it sorts the ``__rank_pid`` relation, whose
    cardinality is the shuffle-partition count (functions/ranks.py)."""
    lines = plan.splitlines()
    findings: list[Finding] = []
    for i, ln in enumerate(lines):
        if not re.search(r"\bWindow\b", ln):  # excludes WindowGroupLimit
            continue
        if "__rank_pid" in ln:
            continue  # documented bounded offsets window (two-phase rank)
        # scan down to the window's first partition-establishing child —
        # NO fixed lookahead cap (a deep Project/Filter/codegen chain must
        # not hide the exchange), and a ReusedExchange that reuses a
        # SinglePartition exchange counts as one (its toString inlines the
        # reused child's description)
        for nxt in lines[i + 1 :]:
            if "WindowGroupLimit" in nxt:
                # rank-filter top-k pushdown: each map partition pre-limits
                # to k rows, so the single-partition exchange below carries
                # k x #partitions rows, not the relation — bounded
                break
            if "SinglePartition" in nxt and (
                "Exchange" in nxt or "ReusedExchange" in nxt
            ):
                findings.append(
                    Finding(
                        "global-window",
                        "unpartitioned Window over Exchange SinglePartition "
                        "(global sort on one task; use the two-phase rank "
                        "in functions/ranks.py or allow_global_window for "
                        "bounded relations)",
                    )
                )
                break
            # any other exchange / scan / reuse establishes a different
            # (parallel) partitioning for this window's input
            if re.search(r"Exchange |Scan |ReusedExchange|BroadcastExchange", nxt):
                break
    return findings


def lint_plan(
    df: DataFrame,
    *,
    allow_nested_loop: bool = False,
    allow_expand: bool = False,
    allow_global_window: bool = False,
) -> list[Finding]:
    """Lint a DataFrame's physical plan for scale anti-patterns.

    ``allow_nested_loop`` — set for deliberate 1-row scalar broadcasts
    (threshold / query-vector cross joins), where a nested-loop over one
    row is the intended plan.
    ``allow_expand`` — set for intentional CUBE/ROLLUP/GROUPING SETS plans
    (their single Expand is the point); leave unset elsewhere so sneaky
    COUNT(DISTINCT) rewrites surface.
    ``allow_global_window`` — set only when every unpartitioned window in
    the plan runs over a relation whose size is bounded by something other
    than the data (histogram bins, dim tables, spine days); document the
    bound at the call site.
    """
    plan = physical_plan(df)
    findings: list[Finding] = []
    if "CartesianProduct" in plan:
        findings.append(
            Finding("cartesian", "plan contains CartesianProduct (dropped join condition?)")
        )
    if not allow_nested_loop and "BroadcastNestedLoopJoin" in plan:
        findings.append(
            Finding(
                "nested-loop",
                "plan contains BroadcastNestedLoopJoin (non-equi join demoted "
                "from hash join?)",
            )
        )
    if not allow_expand and "Expand" in plan:
        findings.append(
            Finding(
                "distinct-expand",
                "plan contains Expand (COUNT DISTINCT rewrite doubles shuffle "
                "volume; use dedup-then-count)",
            )
        )
    # the slice must actually WRAP a collect (possibly through sort_array
    # etc.) — a stray slice() elsewhere in the plan, or a column merely named
    # *slice*, must not silence the rule for an unrelated unbounded collect
    has_collect = re.search(r"collect_(?:list|set)", plan)
    bounded = re.search(r"slice\((?:[a-z_]+\()*collect_(?:list|set)", plan)
    if has_collect and not bounded:
        findings.append(
            Finding(
                "unbounded-collect",
                "collect_list/collect_set not wrapped by a bounding slice "
                "(unbounded per-group arrays)",
            )
        )
    if not allow_global_window:
        findings.extend(_global_window_findings(plan))
    return findings
