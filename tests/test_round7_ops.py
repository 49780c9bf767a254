"""Round-7 pins: the oracle result-typing fix class, the rank-cache
release hook, scratch-dir cleanup, and structural invariants of the new
policy-sweep operators."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries
from tests.conftest import SF_DIR


class TestDtypeKindGate:
    """The r4-r6 driver hash mismatches were oracle columns that pandas
    widens to float64 while Spark stays integral.  The local compare must
    flag that class (it is invisible to the value hash — our float
    normalization renders 3.0 and 3 identically)."""

    def test_mismatch_flagged(self, spark):
        from tests.oracle_compare import _dtype_kind_mismatches

        sdf = spark.range(1).select(F.lit(3).cast("bigint").alias("n"))
        bad = _dtype_kind_mismatches(sdf, {"n": "float64"}, {"n": False})
        assert bad == ["n: oracle=float64 spark=bigint"]
        # both-float and both-int are fine
        assert _dtype_kind_mismatches(sdf, {"n": "int64"}, {"n": False}) == []
        sdf2 = spark.range(1).select(F.lit(3.0).alias("x"))
        assert _dtype_kind_mismatches(sdf2, {"x": "float64"}, {"x": False}) == []
        # a float64 oracle column that carries NULLs is the NULL-widening
        # shape: BOTH driver sides widen together, so it must NOT flag
        assert _dtype_kind_mismatches(sdf, {"n": "float64"}, {"n": True}) == []

    def test_oracle_materializes_via_pandas(self):
        """The local oracle path must be the DRIVER's path (.df()), not
        fetchall(): DuckDB HUGEINT comes back float64 through pandas and
        Python int through fetchall — the difference that hid the r4-r6
        class for three rounds."""
        import duckdb

        from tests.oracle_compare import _oracle_df_rows

        con = duckdb.connect()
        cols, rows, dtypes, has_null = _oracle_df_rows(
            con, "SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)"
        )
        assert cols == ["s"]
        assert dtypes["s"] == "float64"  # HUGEINT -> pandas float64
        assert has_null["s"] is False  # intrinsic widening, no NULL around
        assert rows[0][0] == 3.0 and isinstance(rows[0][0], float)

    def test_numpy_scalars_unwrapped(self):
        import duckdb

        from tests.oracle_compare import _oracle_df_rows

        con = duckdb.connect()
        _, rows, _, _ = _oracle_df_rows(
            con,
            "SELECT true AS b, CAST(1 AS BIGINT) AS i, 'x' AS s, "
            "CAST(NULL AS BIGINT) AS n",
        )
        b, i, s, n = rows[0]
        assert b is True and type(b) is bool  # np.bool_ is NOT a bool
        assert i == 1 and isinstance(i, int)
        assert s == "x"
        assert n is None  # NULL int -> NaN -> None


class TestRankCacheRelease:
    """r6 ADVICE #2: every global_row_number call pins a MEMORY_AND_DISK
    copy of its input; harnesses must be able to release them between
    queries or a 300+-query sweep accumulates unbounded storage."""

    def test_persist_registered_and_released(self, spark):
        from e_commerce_streaming_datapipeline_spark.functions import ranks

        ranks.release_rank_caches()  # clean slate
        df = spark.range(100).select(F.col("id").alias("k"))
        ranked = ranks.global_row_number(df, [F.col("k")], rank_col="r")
        assert len(ranks._LIVE_RANK_CACHES) == 1
        assert ranked.count() == 100  # action runs with the cache alive
        assert ranks.release_rank_caches() == 1
        assert ranks._LIVE_RANK_CACHES == []
        # Post-release re-execution re-plans the range exchange and may
        # re-SAMPLE partition boundaries (r7 ADVICE #3), so assert the full
        # per-row rank assignment — not just a sum invariant, which any
        # permutation of ranks would satisfy.  On a duplicate-free total
        # order the rank is unique regardless of boundary placement, so
        # this must hold even across a re-sample; a boundary-drift bug
        # (double-counted or skipped boundary row) breaks it.
        assignment = {r["k"]: r["r"] for r in ranked.collect()}
        assert assignment == {k: k + 1 for k in range(100)}


class TestScratchDirs:
    def test_created_registered_removed(self):
        from e_commerce_streaming_datapipeline_spark.functions import scratch

        d = scratch.scratch_dir("round7test")
        assert os.path.isdir(d)
        assert d in scratch._SCRATCH_DIRS
        assert scratch.cleanup_scratch_dirs() >= 1
        assert not os.path.exists(d)
        assert scratch._SCRATCH_DIRS == []


@pytest.fixture(scope="module")
def r7(spark):
    """Collected outputs of the round-7 sweep queries at sf0.001."""
    reg = all_queries()

    def run(name):
        return {tuple(sorted(r.asDict().items())): r
                for r in reg[name].builder(spark, SF_DIR).collect()}

    return {
        "jac": sorted(
            (r.threshold_x100, r.n_dup_pairs, r.n_docs_removed)
            for r in all_queries()["jaccard_threshold_sweep"]
            .builder(spark, SF_DIR).collect()
        ),
        "pack": sorted(
            (r.budget, r.n_bins, r.total_tokens, r.fill_x1e6)
            for r in all_queries()["packing_efficiency_sweep"]
            .builder(spark, SF_DIR).collect()
        ),
        "conv": sorted(
            (r.window_s, r.n_views, r.n_converted)
            for r in all_queries()["conversion_window_sweep"]
            .builder(spark, SF_DIR).collect()
        ),
        "benford": sorted(
            (r.digit, r.n_orders, r.observed_x1e6, r.benford_x1e6)
            for r in all_queries()["benford_revenue_audit"]
            .builder(spark, SF_DIR).collect()
        ),
        "kanon": sorted(
            (r.level, r.n_cells, r.n_violating_cells, r.k_achieved)
            for r in all_queries()["kanon_generalization_ladder"]
            .builder(spark, SF_DIR).collect()
        ),
    }


class TestSweepInvariants:
    """Structural truths of the tuning curves — independent of the oracle,
    these catch sign/direction bugs the hash compare cannot name."""

    def test_jaccard_sweep_monotone(self, r7):
        rows = r7["jac"]
        assert [t for t, *_ in rows] == [50, 60, 70, 80, 90]
        pairs = [p for _, p, _ in rows]
        docs = [d for _, _, d in rows]
        assert pairs == sorted(pairs, reverse=True)  # stricter -> fewer pairs
        assert docs == sorted(docs, reverse=True)
        assert all(d <= p for p, d in zip(pairs, docs))  # each pair removes <= 1 doc

    def test_packing_sweep_monotone(self, r7):
        rows = r7["pack"]
        tokens = {t for _, _, t, _ in rows}
        assert len(tokens) == 1  # the corpus does not change with the budget
        bins = [b for _, b, _, _ in rows]
        assert bins == sorted(bins, reverse=True)  # bigger budget -> fewer bins

    def test_conversion_sweep_monotone(self, r7):
        rows = r7["conv"]
        assert [w for w, *_ in rows] == [3600, 21600, 86400]
        views = {v for _, v, _ in rows}
        assert len(views) == 1  # denominator is window-independent
        conv = [c for _, _, c in rows]
        assert conv == sorted(conv)  # longer window -> more conversions

    def test_benford_shares_partition_unity(self, r7):
        rows = r7["benford"]
        assert [d for d, *_ in rows] == list(range(1, 10))
        total_obs = sum(o for _, _, o, _ in rows)
        assert 999991 <= total_obs <= 1000000  # floor-division slack only
        assert sum(e for *_, e in rows) == 1000000  # literal table pins

    def test_kanon_ladder_monotone(self, r7):
        rows = r7["kanon"]
        assert [lv for lv, *_ in rows] == [0, 1, 2, 3]
        cells = [c for _, c, _, _ in rows]
        assert cells == sorted(cells, reverse=True)  # coarser -> fewer cells
        k = [x for *_, x in rows]
        assert k == sorted(k)  # coarser -> larger minimum group
