"""Dashboard-panel completeness audit (VERDICT r3 task #7).

Extracts EVERY SQL surface the reference exposes to an operator —
Grafana panel ``rawSql`` (infrastructure/grafana/dashboards/*.json),
Makefile ``psql -c "SELECT ..."`` inspection targets, and the Postgres
views + retention function in infrastructure/postgres/init_metrics.sql —
and asserts each one maps to a registered query in this repo, so "every
query a reference user runs today" is a generated fact, not a hand audit.

The mapping itself is declared here (panel/view -> registry name) and the
script FAILS if (a) the reference grows a SQL surface with no mapping,
(b) a mapped registry name is not actually registered, or (c) the
technical dashboard unexpectedly grows a SQL panel (it is pure Prometheus
``expr`` today — its analogue is streaming/monitoring.py, not a query).

The extracted surfaces are committed in tests/dashboard_surfaces.json, so
the audit runs without a reference checkout; ``--refresh`` re-extracts that
inventory from one (default path below, or the directory given after it).

Usage:
    python scripts/dashboard_panel_audit.py            # print table, exit 1 on gaps
    python scripts/dashboard_panel_audit.py --write    # also refresh QUERIES.md appendix
    python scripts/dashboard_panel_audit.py --refresh [REF_DIR]  # re-extract inventory
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF = "/root/reference"
INVENTORY = os.path.join(REPO, "tests", "dashboard_surfaces.json")

BEGIN = "<!-- dashboard-audit:begin -->"
END = "<!-- dashboard-audit:end -->"

# reference SQL surface -> (registry query, note).  Keys are stable panel
# titles / FROM-table targets / view names, checked against the extracted
# set below.
MAPPING: dict[str, tuple[str, str]] = {
    # Grafana ecommerce-streaming.json panels (panel title)
    "panel:Total Orders (Last Hour)": (
        "stats_rollup",
        "scalar SUM over funnel windows; 1h filter = retention_filter's TTL shape",
    ),
    "panel:GMV (Last Hour)": (
        "stats_rollup",
        "scalar SUM over GMV windows",
    ),
    "panel:Real-Time Funnel - Order Journey": (
        "latest_gmv_windows",
        "latest-N windows time series (funnel flavor of V1)",
    ),
    "panel:GMV Over Time": (
        "latest_gmv_windows",
        "latest-N windows time series",
    ),
    "panel:🚨 Drop-Off Alerts (Last Hour)": (
        "active_alerts",
        "alert_triggered filter + SUM (V4 feed, scalarized)",
    ),
    "panel:Payment Method Distribution": (
        "payment_rollup",
        "per-payment-type re-rollup (V3)",
    ),
    "panel:Drop-Off by Status": (
        "status_flags",
        "GROUP BY status + BOOL_OR(alert_triggered) (V6)",
    ),
    # Makefile db-latest / db-funnel psql targets (FROM table)
    "make:real_time_funnel": ("funnel_hourly", "A1 funnel aggregate"),
    "make:gmv_metrics": ("gmv_minutely", "A2 GMV aggregate"),
    "make:drop_off_analysis": ("dropoff_hourly", "A3 drop-off aggregate"),
    "make:payment_metrics": ("payment_hourly", "A4 payment aggregate"),
    "make:v_complete_funnel": ("complete_funnel", "V2 join view"),
    # init_metrics.sql views + retention function
    "view:v_latest_funnel": ("latest_gmv_windows", "V1 latest-windows top-N"),
    "view:v_complete_funnel": ("complete_funnel", "V2 funnel x gmv x payment join"),
    "view:v_payment_performance": ("payment_rollup", "V3 payment re-rollup"),
    "view:v_active_alerts": ("active_alerts", "V4 alert feed"),
    "function:cleanup_old_metrics": ("retention_filter", "V7 retention TTL"),
}


def extract_grafana(path: str) -> list[tuple[str, str]]:
    """(panel title, rawSql) pairs from a Grafana dashboard JSON."""
    out: list[tuple[str, str]] = []

    def walk(node, title):
        if isinstance(node, dict):
            title = node.get("title", title) or title
            if "rawSql" in node:
                out.append((title, node["rawSql"]))
            for v in node.values():
                walk(v, title)
        elif isinstance(node, list):
            for v in node:
                walk(v, title)

    walk(json.load(open(path)), "")
    return out


def extract_makefile(path: str) -> list[str]:
    """FROM targets of every psql -c "SELECT ..." in the Makefile."""
    text = open(path).read()
    tables = []
    for sql in re.findall(r'-c \\\n\s*"(SELECT[^"]+)"', text):
        m = re.search(r"FROM\s+([a-zA-Z_]+)", sql)
        if m:
            tables.append(m.group(1))
    return tables


def extract_views(path: str) -> list[str]:
    text = open(path).read()
    views = re.findall(r"CREATE OR REPLACE VIEW\s+(\w+)", text)
    funcs = re.findall(r"CREATE OR REPLACE FUNCTION\s+(\w+)", text)
    return [f"view:{v}" for v in views] + [f"function:{f}" for f in funcs]


def extract_inventory(ref: str) -> dict[str, list[str]]:
    """Every SQL surface of a reference checkout, keyed by where it lives."""
    dash = os.path.join(ref, "infrastructure/grafana/dashboards")
    return {
        "streaming_panels": [
            f"panel:{title}"
            for title, _ in extract_grafana(os.path.join(dash, "ecommerce-streaming.json"))
        ],
        "technical_panels": [
            f"panel:{title}"
            for title, _ in extract_grafana(os.path.join(dash, "ecommerce-technical.json"))
        ],
        "makefile_targets": [
            f"make:{t}"
            for t in dict.fromkeys(extract_makefile(os.path.join(ref, "Makefile")))
        ],
        "views_and_functions": extract_views(
            os.path.join(ref, "infrastructure/postgres/init_metrics.sql")
        ),
    }


def main() -> int:
    sys.path.insert(0, REPO)
    from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries

    registry = set(all_queries())

    if "--refresh" in sys.argv:
        rest = sys.argv[sys.argv.index("--refresh") + 1 :]
        ref = rest[0] if rest and not rest[0].startswith("--") else REF
        with open(INVENTORY, "w") as f:
            json.dump(extract_inventory(ref), f, indent=1, ensure_ascii=False)
            f.write("\n")
        print(f"wrote inventory to {INVENTORY}")
    with open(INVENTORY) as f:
        inventory = json.load(f)

    surfaces: list[str] = (
        inventory["streaming_panels"]
        + inventory["makefile_targets"]
        + inventory["views_and_functions"]
    )

    rows = []
    problems = [
        f"technical dashboard grew a rawSql panel — map it: {t}"
        for t in inventory["technical_panels"]
    ]
    for key in surfaces:
        if key not in MAPPING:
            problems.append(f"UNMAPPED reference surface: {key}")
            continue
        qname, note = MAPPING[key]
        if qname not in registry:
            problems.append(f"{key} maps to unregistered query {qname!r}")
            continue
        rows.append((key, qname, note))
    for key in MAPPING:
        if key not in surfaces:
            problems.append(f"stale mapping (no longer in reference): {key}")

    lines = [
        "| Reference SQL surface | Registry query | Note |",
        "|---|---|---|",
        *[f"| `{k}` | `{q}` | {n} |" for k, q, n in rows],
    ]
    table = "\n".join(lines)
    print(table)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    print(f"\n{len(rows)} surfaces mapped, 0 unmapped (technical dashboard: "
          "pure Prometheus expr, listener analogue streaming/monitoring.py)")

    if "--write" in sys.argv:
        qpath = os.path.join(REPO, "QUERIES.md")
        text = open(qpath).read()
        block = (
            f"{BEGIN}\n"
            "Generated by `scripts/dashboard_panel_audit.py` — every SQL\n"
            "surface the reference exposes (Grafana rawSql panels, Makefile\n"
            "psql targets, Postgres views + retention function) and the\n"
            "registry query that answers it.  The script exits non-zero on\n"
            "any unmapped surface.\n\n"
            f"{table}\n{END}"
        )
        if BEGIN in text:
            text = re.sub(
                re.escape(BEGIN) + ".*?" + re.escape(END), block, text, flags=re.S
            )
        else:
            text += f"\n\n## Appendix: reference dashboard-panel mapping\n\n{block}\n"
        open(qpath, "w").write(text)
        print(f"wrote appendix to {qpath}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
