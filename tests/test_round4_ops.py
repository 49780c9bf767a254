"""Round-4 contract pins: the dashboard-panel completeness audit and the
distributed-rank helpers' registry integration."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dashboard_panel_audit_maps_every_reference_surface():
    """Every SQL surface the reference exposes (Grafana rawSql, Makefile
    psql targets, Postgres views + retention function; committed in
    tests/dashboard_surfaces.json) must map to a registered query — the
    audit script exits non-zero on any gap, stale mapping, or a new
    technical-dashboard SQL panel."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "dashboard_panel_audit.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "0 unmapped" in proc.stdout


def test_queries_md_appendix_is_current():
    """The committed QUERIES.md appendix must match what the audit script
    generates today (regenerate with --write after reference or mapping
    changes)."""
    from scripts.dashboard_panel_audit import BEGIN, END

    text = open(os.path.join(REPO, "QUERIES.md")).read()
    assert BEGIN in text and END in text
    block = text.split(BEGIN)[1].split(END)[0]
    # one row per mapped surface, no unmapped marker
    assert block.count("| `") >= 17


class TestStarComponents:
    """Large-star/small-star must label crafted graphs exactly: chains
    (worst case for propagation — diameter n, log n star rounds), cliques,
    isolated nodes, and two separated components in one edge list."""

    def test_crafted_graphs(self, spark):
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.graph import (
            star_component_labels,
        )

        # chain 1-2-3-...-9, clique {20,21,22,23}, pair {30,31},
        # isolated nodes 40 and 41
        chain = [(i + 1, i) for i in range(1, 9)]
        clique = [(b, a) for a in range(20, 24) for b in range(a + 1, 24)]
        pair = [(31, 30)]
        edges = spark.createDataFrame(chain + clique + pair, "u long, v long")
        nodes = spark.createDataFrame(
            [(n,) for n in list(range(1, 10)) + list(range(20, 24))
             + [30, 31, 40, 41]],
            "node long",
        )
        labels = {
            r.node: r.label
            for r in star_component_labels(edges, nodes).collect()
        }
        assert {labels[n] for n in range(1, 10)} == {1}
        assert {labels[n] for n in range(20, 24)} == {20}
        assert labels[30] == 30 and labels[31] == 30
        assert labels[40] == 40 and labels[41] == 41

    def test_matches_propagation_on_fixture(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.graph import (
            q_supplier_components,
            q_supplier_components_star,
        )

        prop = sorted(map(tuple, q_supplier_components(spark, sf_dir).collect()))
        star = sorted(map(tuple, q_supplier_components_star(spark, sf_dir).collect()))
        assert prop == star


def test_bpe_survives_fully_collapsed_words(spark, sf_dir, tmp_path):
    """A frequent 2-char word collapses to ONE symbol after its pair wins a
    merge round; Spark's sequence(1, 0) is the descending [1, 0] (not empty
    like DuckDB's generate_series), so the next round's pair census must
    exclude collapsed words or it indexes past the array (ANSI
    INVALID_ARRAY_INDEX) / emits NULL pairs that beat the argmax.  Pins the
    round-4 review fix with a corpus built to collapse 'to' in round 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_compare import compare_query

    tmp = tmp_path / "collapse_sf"
    tmp.mkdir()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            os.symlink(os.path.join(sf_dir, f), tmp / f)
    os.unlink(tmp / "documents.parquet")
    texts = ["to to to to to be or not to be", "to be to be to", "or to"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["t"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        tmp / "documents.parquet",
    )
    res = compare_query(spark, "bpe_learn_merges", str(tmp))
    assert res.ok, f"{res.detail} spark={res.spark_rows} oracle={res.oracle_rows}"


def test_bpe_merge_exhaustion_emits_partial_table(spark, sf_dir, tmp_path):
    """When every word fully collapses before the 5th round, later rounds
    have an EMPTY argmax: the Spark loop's scalar_join against an empty
    1-row relation must empty the corpus (and emit no further merges)
    exactly like the oracle's cross join with an empty best CTE — both
    engines return the same <5-row merge table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_compare import compare_query

    tmp = tmp_path / "exhaust_sf"
    tmp.mkdir()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            os.symlink(os.path.join(sf_dir, f), tmp / f)
    os.unlink(tmp / "documents.parquet")
    texts = ["to to to", "to"]  # one 2-char word: exhausted after 1 merge
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["t"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        tmp / "documents.parquet",
    )
    res = compare_query(spark, "bpe_learn_merges", str(tmp))
    assert res.ok, f"{res.detail} spark={res.spark_rows} oracle={res.oracle_rows}"
    assert res.spark_rows == 1  # only (t, o) is learnable from this corpus
