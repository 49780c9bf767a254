"""Round-3 additions: registry proof-prefix contract and regression pins for
the round-2 ADVICE fixes (offset-safe Arrow list read, empty-graph triangle
census, fixed-point source-stats sums)."""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from e_commerce_streaming_datapipeline_spark.plans import registry

REPO_ROOT = Path(__file__).resolve().parent.parent


class TestProofPrefix:
    """The external driver hashes the first 50 entries of ``queries()``.
    These pins make sure the curated prefix stays intact: exactly the
    driver's window size, every name registered, and at least one proof
    query per SURVEY §2 family and per LLM-pipeline family."""

    # family -> representative queries that MUST sit inside the driver window
    # (round-10 rotation, VERDICT r9 task #8: 15 SURVEY §2 flagship keepers
    # + 35 never-witnessed slots.  The r9 window went 50/50 green, so no
    # keepers-by-exception carry into r10.  Families whose r9 witness
    # rotated out are re-witnessed by never-seen siblings where one exists;
    # retrieval has none left, so its witness is the r4-witnessed flagship
    # bm25_topk, which took the J_joins second slot)
    FAMILY_WITNESSES = {
        "A_gmv": {"gmv_minutely"},
        "A_funnel": {"funnel_hourly"},
        "A_dropoff": {"dropoff_hourly"},
        "A_payment": {"payment_hourly"},
        "P_row_ops": {"enrich_lineitem"},
        "V_views_A6": {"payment_rollup"},
        "J_joins": {"complete_funnel"},
        "D_dedup": {"dedup_events"},
        "approx": {"approx_unique_users_hourly"},
        "S_sources": {"kafka_payload_roundtrip"},
        "K_jdbc_sink": {"jdbc_upsert_roundtrip"},
        "UDF_surface": {"variant_props_stats"},
        "llm_dedup": {"minhash_near_dups", "minhash_audit",
                      "incremental_minhash_dedup", "symspell_typo_linkage"},
        "llm_ann": {"lsh_recall_audit", "embedding_topk_sq",
                    "matryoshka_recall_audit"},
        "llm_text": {"top_terms", "vocab_oov_rates", "dup_ngram_coverage"},
        "llm_curation": {"weighted_doc_sample", "kfold_assignment",
                         "user_erasure"},
        "llm_multimodal": {"multimodal_asset_stats"},
        # the r10 streaming slots: the never-witnessed tail — stateful
        # monitors, sketch stores, state-store readers, changelog replay,
        # asymmetric watermarks
        "streaming": {"gmv_stream_minutely", "user_stats_stream",
                      "segment_revenue_stream",
                      "unattributed_purchases_stream",
                      "unattributed_asym_watermark_stream",
                      "session_dynamic_stream", "unique_buyers_bitmap_stream",
                      "histogram_stream_quantiles", "heavy_hitters_cms_stream",
                      "state_store_inspect", "changelog_replay_stream",
                      "agg_state_inspect", "column_stats_stream"},
        "tpch": {"nation_trade_volume", "late_ship_priority", "top_supplier"},
        "analytics": {"revenue_cusum_changepoints", "bootstrap_revenue_ci"},
        "graph": {"supplier_link_prediction"},
        "retrieval": {"bm25_topk"},
        "drift_eval": {"revenue_acf", "chi2_independence"},
        "layout_lakehouse": {"wap_publish_gate", "ivm_retract_merge"},
    }

    def test_prefix_is_driver_window_sized(self):
        assert len(registry._PROOF_PREFIX) == 50
        assert len(set(registry._PROOF_PREFIX)) == 50

    def test_prefix_names_are_registered_and_lead_iteration_order(self):
        qs = list(registry.all_queries())
        assert tuple(qs[:50]) == registry._PROOF_PREFIX

    def test_every_family_witnessed_inside_window(self):
        window = set(list(registry.all_queries())[:50])
        for family, witnesses in self.FAMILY_WITNESSES.items():
            assert witnesses <= window, f"family {family} missing {witnesses - window}"

    def test_rotation_adds_never_witnessed_queries(self):
        """Rotation contract (VERDICT r3 task #2, tightened by VERDICT r7
        task #1 and again by r8 task #1 — registry growth was outpacing
        driver-window throughput): the current window must witness >= 35
        queries that never had a driver CORRECTNESS row in any earlier
        round.  The earlier rounds' witnesses are the keys of every committed
        ``CORRECTNESS_r*.json`` except the current window's own run (the
        file whose key order is the proof prefix)."""
        window = registry._PROOF_PREFIX
        runs = [
            json.loads(p.read_text())
            for p in sorted(REPO_ROOT.glob("CORRECTNESS_r*.json"))
        ]
        witnessed = set().union(*(run for run in runs if tuple(run) != window))
        fresh = set(window) - witnessed
        assert len(fresh) >= 35, sorted(fresh)

    def test_reorder_loses_no_queries(self):
        qs = registry.all_queries()
        assert len(qs) == len(set(qs)) >= 206


class TestArrowOffsetSafety:
    """embedding_centroids_arrow reads list columns via ``flatten()``;
    ``.values`` ignores a non-zero offset on a sliced array and silently
    reads the wrong rows.  Pin the difference on an actual sliced array."""

    def test_flatten_respects_slice_offset(self):
        arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])
        sliced = arr.slice(1)  # offset=1: rows [3,4],[5,6]
        assert sliced.flatten().to_pylist() == [3.0, 4.0, 5.0, 6.0]
        # .values on the sliced array still exposes the FULL buffer —
        # exactly the silent-wrong-rows hazard the fix removes
        assert sliced.values.to_pylist() == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]


class TestEmptyGraphTriangles:
    """supplier_triangles on a fixture whose l_quantity >= 49 filter leaves
    no wedges must emit n_triangles = 0 (not NULL), matching the oracle's
    COUNT(*) over an empty relation."""

    @pytest.fixture()
    def empty_wedge_lineitem(self, spark):
        # two suppliers sharing no part above the quantity threshold:
        # edge relation is empty -> wedge relation is empty
        return spark.createDataFrame(
            [(1, 10, 100, 1.0), (2, 20, 200, 1.0)],
            "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double",
        )

    def test_triangles_zero_not_null(self, spark, empty_wedge_lineitem):
        from e_commerce_streaming_datapipeline_spark.operators.graph import supplier_triangles

        row = supplier_triangles(empty_wedge_lineitem).collect()[0]
        assert row["n_triangles"] == 0
        assert row["n_triangles"] is not None


class TestAQESkewJoinSplits:
    """AQE skew handling is config the engine relies on at 100 TB
    (session.py enables spark.sql.adaptive.skewJoin); this pins that it
    actually FIRES: a join with one dominant key, run with test-scoped
    thresholds, must show skew=true partition splitting in the final
    adaptive plan.  (salted_priority_revenue is the manual-salting sibling
    for when keys are known-hot ahead of time.)"""

    def test_skew_join_marked_and_split(self, spark):
        import pyspark.sql.functions as F

        from tests.conftest import SF_DIR_T2
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        # repartition first: AQE splits a skewed reduce partition at MAPPER
        # granularity, so a single-mapper shuffle (one small parquet file)
        # has nothing to split regardless of thresholds
        events = load_table(spark, "events", SF_DIR_T2).repartition(16)
        # 1 hot key (~75% of rows) + uniform tail
        skewed = events.select(
            F.when(F.pmod(F.col("event_id"), 4) != 0, F.lit(0))
            .otherwise(F.pmod(F.col("event_id"), 1000))
            .alias("k"),
            "value",
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        confs = {
            # force a shuffle join and make the hot partition count as skewed
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            joined = skewed.join(dim, "k").agg(F.sum(F.col("value") * F.col("w")))
            joined.collect()
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert "skew=true" in plan, f"AQE skew split did not fire:\n{plan[:2000]}"


class TestScalarJoin:
    """functions/scalars.scalar_join now carries ~20 queries' threshold
    attachments; pin its contract: row count preserved (even when the key
    expression's input column is entirely NULL — xxhash64 hashes NULL to
    the seed, never to NULL), scalar columns attached, and the plan is a
    broadcast HASH join, not a nested loop."""

    def test_preserves_rows_attaches_columns_null_safe(self, spark):
        import pyspark.sql.functions as F

        from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join

        df = spark.createDataFrame(
            [(None, 1.0), (None, 2.0), (None, 3.0)], "a string, v double"
        )
        scalar = df.agg(F.sum("v").alias("total"))
        out = scalar_join(df, scalar)
        rows = out.collect()
        assert len(rows) == 3
        assert all(r["total"] == 6.0 for r in rows)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestLintCatchesBadPlans:
    """Negative self-test of plans/lint.py: the registry-wide lint is only
    worth its green checkmark if it actually FIRES on the anti-patterns it
    claims to catch."""

    def test_flags_cartesian_product(self, spark):
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        a = spark.range(0, 100)
        b = spark.range(0, 100).withColumnRenamed("id", "id2")
        # force a true cartesian (no condition, both sides too big to B-NLJ
        # under a disabled broadcast threshold)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            findings = lint_plan(a.crossJoin(b))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert any(f.rule == "cartesian" for f in findings), findings

    def test_flags_nested_loop_unless_allowed(self, spark):
        import pyspark.sql.functions as F

        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        a = spark.range(0, 1000)
        b = spark.range(0, 100).withColumnRenamed("id", "id2")
        nl = a.join(F.broadcast(b), F.col("id") > F.col("id2"))  # non-equi
        findings = lint_plan(nl)
        assert any(f.rule == "nested-loop" for f in findings), findings
        assert not lint_plan(nl, allow_nested_loop=True)

    def test_flags_distinct_expand(self, spark):
        import pyspark.sql.functions as F

        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        df = spark.range(0, 1000).select(
            (F.col("id") % 10).alias("k"),
            (F.col("id") % 7).alias("v"),
            (F.col("id") % 3).alias("w"),
        )
        # a SINGLE distinct rewrites to two-phase aggregation without Expand;
        # it takes multiple distincts over different columns to force it
        agg = df.groupBy("k").agg(
            F.count_distinct("v").alias("d1"), F.count_distinct("w").alias("d2")
        )
        findings = lint_plan(agg)
        assert any(f.rule == "distinct-expand" for f in findings), findings
        assert not lint_plan(agg, allow_expand=True)


class TestLateRound3Queries:
    """Pins for the late-round-3 additions: CUSUM's unrolled recurrence,
    the n-gram miner's top-k plan, LOO encoding's broadcast + singleton
    semantics, k-fold append stability, and the recursive-CTE BFS."""

    def test_cusum_matches_textbook_recurrence(self, spark, sf_dir):
        """The windowed form (cum - min(0, running_min(cum))) must equal the
        textbook fold s_i = max(0, s_{i-1} + dev_i) — recomputed here in
        exact scaled-integer arithmetic."""
        from e_commerce_streaming_datapipeline_spark.operators.statistics import (
            q_revenue_cusum_changepoints,
        )

        rows = sorted(
            q_revenue_cusum_changepoints(spark, sf_dir).collect(),
            key=lambda r: r.day_num,
        )
        cents = [round(r.revenue * 100) for r in rows]
        n, t = len(cents), sum(cents)
        s = 0
        for r, c in zip(rows, cents):
            s = max(0, s + (c * n - t))  # scaled by n: stays integer
            assert r.cusum_excess == round(s / n / 100, 2)
            assert r.changepoint == (4 * s > t)
        assert any(r.changepoint for r in rows) and not all(
            r.changepoint for r in rows
        ), "threshold should discriminate on the fixture"

    def test_event_path_ngrams_plans_takeordered(self, spark, sf_dir):
        """Top-k must be TakeOrderedAndProject (per-partition heaps), not a
        global sort; the path build must be ONE aggregation (no per-event
        window pass)."""
        from e_commerce_streaming_datapipeline_spark.operators.analytics import (
            q_event_path_ngrams,
        )

        df = q_event_path_ngrams(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan
        out = df.collect()
        assert 0 < len(out) <= 15
        assert all(len(r.gram) == 3 for r in out)
        # descending count, gram-lexicographic tiebreak
        keys = [(-r.n_paths, r.gram) for r in out]
        assert keys == sorted(keys)

    def test_target_encoding_loo_broadcast_and_singletons(self, spark, sf_dir):
        """Group stats attach via broadcast hash join (fact never shuffles),
        and a singleton category encodes as NULL, not a leaked self-mean."""
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.curation import (
            q_target_encoding_loo,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        df = q_target_encoding_loo(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

        docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "n_chars")
        singleton = docs.withColumn("lang", F.concat(F.lit("solo_"), F.col("doc_id")))
        singleton.createOrReplaceTempView("_loo_singletons")
        per = singleton.groupBy("lang").agg(
            F.sum("n_chars").alias("s"), F.count("n_chars").alias("c")
        )
        enc = singleton.join(per, "lang").select(
            F.when((F.col("c") > 1) & F.col("n_chars").isNotNull(), F.lit(0.0)).alias("e")
        )
        assert enc.where(F.col("e").isNotNull()).count() == 0

    def test_kfold_assignment_is_append_stable(self, spark, sf_dir):
        """A document's fold depends only on its id — appending rows must
        not move any existing assignment (the property randomSplit lacks)."""
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.sampling import hash_bucket
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        docs = load_table(spark, "documents", sf_dir).select("doc_id")
        full = docs.select("doc_id", hash_bucket(F.col("doc_id"), 5).alias("fold"))
        subset = docs.where(F.col("doc_id") % 3 == 0).select(
            "doc_id", hash_bucket(F.col("doc_id"), 5).alias("fold")
        )
        moved = subset.alias("s").join(full.alias("f"), "doc_id").where(
            F.col("s.fold") != F.col("f.fold")
        )
        assert moved.count() == 0
        folds = {r.fold for r in full.select("fold").distinct().collect()}
        assert folds <= set(range(5))

    def test_recursive_reachability_unionloop_and_bfs_invariants(self, spark, sf_dir):
        """The plan must carry Spark 4's recursive-CTE execution node, the
        seed must sit at hop 0, and hop counts stay within the depth bound."""
        from e_commerce_streaming_datapipeline_spark.operators.graph import (
            q_recursive_reachability,
        )

        df = q_recursive_reachability(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "UnionLoop" in plan
        rows = df.collect()
        seeds = [r for r in rows if r.hops == 0]
        # the edge list is symmetric, so min(u) (the seed rule) == min node
        assert len(seeds) == 1
        assert seeds[0].suppkey == min(r.suppkey for r in rows)
        assert all(0 <= r.hops <= 3 and r.n_walks >= 1 for r in rows)


class TestSegmentationQueries:
    """Semantic pins for the segmentation module (RFM, Pareto deciles,
    inter-purchase survival): invariants that must hold on ANY fixture, plus
    plan shapes (scalar anchors broadcast; the lag window stays partitioned)."""

    def test_rfm_segment_grid_is_exhaustive_and_conserves_customers(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.segmentation import (
            q_rfm_segments,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_rfm_segments(spark, sf_dir).collect()
        # scores stay in 1..4 and every customer lands in exactly one cell
        assert all(1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4
                   for r in rows)
        n_cust = (
            load_table(spark, "orders", sf_dir)
            .select("o_custkey").distinct().count()
        )
        assert sum(r.customers for r in rows) == n_cust
        # NTILE quartiles are balanced per axis: each axis's marginal is
        # n_cust/4 +/- 1 ... exactly floor/ceil of n/4
        per_r = {}
        for r in rows:
            per_r[r.r_score] = per_r.get(r.r_score, 0) + r.customers
        assert set(per_r) == {1, 2, 3, 4}
        assert max(per_r.values()) - min(per_r.values()) <= 1
        assert all(r.avg_recency_days >= 0 and r.total_revenue > 0 for r in rows)

    def test_clv_pareto_monotone_and_sums_to_one(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.segmentation import (
            q_clv_pareto_deciles,
        )

        rows = q_clv_pareto_deciles(spark, sf_dir).collect()
        assert [r.decile for r in rows] == list(range(1, 11))
        # decile 1 holds the top spenders: shares weakly decrease
        shares = [r.revenue_share for r in rows]
        assert all(a >= b - 1e-9 for a, b in zip(shares, shares[1:]))
        cums = [r.cum_revenue_share for r in rows]
        assert all(a <= b + 1e-9 for a, b in zip(cums, cums[1:]))
        assert abs(cums[-1] - 1.0) < 1e-6
        # concentration sanity: top decile out-earns the bottom decile
        assert shares[0] > shares[-1]

    def test_survival_curve_monotone_and_bounded(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.segmentation import (
            q_interpurchase_survival,
        )

        rows = q_interpurchase_survival(spark, sf_dir).collect()
        assert [r.threshold_days for r in rows] == [7, 30, 60, 90]
        # one total, shared by every row; survival decreases with threshold
        assert len({r.total_gaps for r in rows}) == 1
        rates = [r.survival_rate for r in rows]
        assert all(0.0 <= x <= 1.0 for x in rates)
        assert all(a >= b - 1e-9 for a, b in zip(rates, rates[1:]))
        assert all(r.surviving_gaps <= r.total_gaps for r in rows)

    def test_segmentation_plan_shapes(self, spark, sf_dir):
        """Anchor/total scalars attach via broadcast on a constant key (no
        cartesian), the survival lag window is partitioned by custkey (never
        single-partition), and the only global sorts are dim-sized NTILEs."""
        from e_commerce_streaming_datapipeline_spark.operators.segmentation import (
            q_interpurchase_survival,
            q_rfm_segments,
        )
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        rfm = q_rfm_segments(spark, sf_dir)
        assert lint_plan(rfm) == []
        plan = rfm._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan

        surv = q_interpurchase_survival(spark, sf_dir)
        assert lint_plan(surv) == []
        splan = surv._jdf.queryExecution().executedPlan().toString()
        # the per-customer lag window keeps its partitioning key
        assert "o_custkey" in splan


class TestTextCollocationQueries:
    """Pins for the PMI collocation and lang-ID confusion queries."""

    def test_pmi_lift_definition_and_support_floor(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.text import (
            _PMI_MIN_SUPPORT,
            _PMI_TOPK,
            q_bigram_pmi_topk,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_bigram_pmi_topk(spark, sf_dir).collect()
        assert 0 < len(rows) <= _PMI_TOPK
        assert all(r.c12 >= _PMI_MIN_SUPPORT for r in rows)
        # lift recomputes from the row's own exact counts and the corpus
        # totals — spot-check one row end to end
        docs = (
            load_table(spark, "documents", sf_dir)
            .where(F.col("text").isNotNull())
            .select(F.split("text", " ").alias("t"))
            .where(F.size("t") >= 2)
        )
        n_tokens = docs.select(F.explode("t")).count()
        n_bigrams = docs.select((F.size("t") - 1).alias("nb")).agg(F.sum("nb")).first()[0]
        r = rows[0]
        expect = r.c12 * n_tokens * n_tokens / n_bigrams / r.c1 / r.c2
        assert abs(r.pmi_lift - expect) < 1e-3
        # descending by lift with (w1, w2) tiebreaks
        lifts = [r.pmi_lift for r in rows]
        assert lifts == sorted(lifts, reverse=True)

    def test_pmi_plan_bigrams_never_shuffle_whole_and_vocab_broadcasts(
        self, spark, sf_dir
    ):
        from e_commerce_streaming_datapipeline_spark.operators.text import (
            q_bigram_pmi_topk,
        )
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        df = q_bigram_pmi_topk(spark, sf_dir)
        assert lint_plan(df) == []
        plan = df._jdf.queryExecution().executedPlan().toString()
        # unigram side attaches via broadcast; final top-k is TakeOrdered
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan

    def test_lang_confusion_conserves_docs_and_rates_sum_to_one(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.text import (
            q_lang_confusion_matrix,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_lang_confusion_matrix(spark, sf_dir).collect()
        n_docs = load_table(spark, "documents", sf_dir).count()
        assert sum(r.docs for r in rows) == n_docs
        per_label: dict[str, float] = {}
        per_label_docs: dict[str, int] = {}
        for r in rows:
            per_label[r.labeled_lang] = per_label.get(r.labeled_lang, 0.0) + r.rate
            per_label_docs[r.labeled_lang] = (
                per_label_docs.get(r.labeled_lang, 0) + r.docs
            )
            assert r.docs <= r.label_total
        for lang, s in per_label.items():
            assert abs(s - 1.0) < 1e-3, (lang, s)
        # label_total really is the label's marginal
        totals = {r.labeled_lang: r.label_total for r in rows}
        assert totals == per_label_docs


class TestIncrementalMinhashDedup:
    """The cross-index admission gate: batch docs probe the index's band
    buckets; results must agree with the full-corpus near-dup pass."""

    def test_pairs_span_the_split_and_match_full_pass(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.dedup import (
            JACCARD_THRESHOLD,
            q_incremental_minhash_dedup,
            q_minhash_near_dups,
        )

        inc = q_incremental_minhash_dedup(spark, sf_dir).collect()
        assert all(r.doc_new % 10 == 0 and r.doc_index % 10 != 0 for r in inc)
        assert all(r.jaccard >= JACCARD_THRESHOLD - 5e-5 for r in inc)
        # every incremental hit is exactly a full-pass near-dup pair that
        # spans the split (as (min, max)), and vice versa
        full = q_minhash_near_dups(spark, sf_dir).collect()
        spanning = {
            (max(r.doc_a, r.doc_b), min(r.doc_a, r.doc_b))
            if r.doc_a % 10 != 0
            else (r.doc_a, r.doc_b)
            for r in full
            if (r.doc_a % 10 == 0) != (r.doc_b % 10 == 0)
        }
        assert {(r.doc_new, r.doc_index) for r in inc} == spanning

    def test_probe_is_bucket_equi_join_not_self_join(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.dedup import (
            q_incremental_minhash_dedup,
        )
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        df = q_incremental_minhash_dedup(spark, sf_dir)
        assert lint_plan(df) == []
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "band_sig" in plan  # candidates come from the band-key join
        assert "CartesianProduct" not in plan


class TestSourceUnigramDivergence:
    """TV divergence between per-source unigram distributions: metric axioms
    on the real fixture, plan shape (token equi-join + broadcast scaffold,
    no nested loop), and the zero-overlap completeness guarantee."""

    def test_tv_axioms_and_pair_completeness(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.text import (
            q_source_unigram_divergence,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_source_unigram_divergence(spark, sf_dir).collect()
        sources = sorted(
            r.source
            for r in load_table(spark, "documents", sf_dir)
            .where(F.col("text").isNotNull())
            .select("source")
            .distinct()
            .collect()
        )
        n = len(sources)
        assert len(rows) == n * (n - 1) // 2  # every unordered pair, exactly once
        assert all(r.source_a < r.source_b for r in rows)
        assert all(0.0 <= r.tv_distance <= 1.0 for r in rows)
        assert all(r.shared_tokens >= 0 for r in rows)
        # zero shared vocabulary would mean maximal divergence; the synthetic
        # sources share the vocab, so every pair overlaps and tv < 1
        assert all(r.shared_tokens > 0 and r.tv_distance < 1.0 for r in rows)

    def test_identical_distributions_have_zero_tv(self, spark, sf_dir):
        """Feeding the SAME source as both sides of the fold must yield 0 —
        checked by recomputing the fold's terms for a: d_abs = 0 and
        sum(c*n) = n^2 when a == b."""
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        docs = load_table(spark, "documents", sf_dir).where(F.col("text").isNotNull())
        uni = (
            docs.select("source", F.explode(F.split("text", " ")).alias("w"))
            .groupBy("source", "w")
            .agg(F.count("*").alias("c"))
        )
        tot = uni.groupBy("source").agg(F.sum("c").alias("n"))
        self_stats = (
            uni.join(tot, "source")
            .groupBy("source")
            .agg(F.sum(F.col("c") * F.col("n")).alias("s"), F.max("n").alias("n"))
            .select((F.col("s") - F.col("n") * F.col("n")).alias("zero"))
            .collect()
        )
        assert all(r.zero == 0 for r in self_stats)

    def test_plan_no_nested_loop_and_token_join(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.text import (
            q_source_unigram_divergence,
        )
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        df = q_source_unigram_divergence(spark, sf_dir)
        assert lint_plan(df) == []
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


class TestBootstrapRevenueCI:
    """Percentile-bootstrap CI: interval brackets the point estimate, order
    statistics are sane, and the plan has no nested loop (spine-sized
    explode + one agg per replicate)."""

    def test_interval_brackets_point_estimate(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.statistics import (
            _BOOT_B,
            q_bootstrap_revenue_ci,
        )

        row = q_bootstrap_revenue_ci(spark, sf_dir).first()
        assert row.n_reps == _BOOT_B
        assert row.ci_lo <= row.ci_hi
        # with 200 resamples of thousands of days the CI must bracket the
        # sample mean (percentile bootstrap is centered by construction)
        assert row.ci_lo <= row.mean_daily_revenue <= row.ci_hi
        # and be non-degenerate but far tighter than the mean itself
        width = row.ci_hi - row.ci_lo
        assert 0 < width < row.mean_daily_revenue

    def test_plan_is_lint_clean(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.statistics import (
            q_bootstrap_revenue_ci,
        )
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        # allow_global_window: the only unpartitioned window ranks the 200
        # bootstrap replicate means (B-bounded, not data-bounded) — same
        # carve-out as the registry-wide lint whitelist
        assert (
            lint_plan(q_bootstrap_revenue_ci(spark, sf_dir), allow_global_window=True)
            == []
        )


class TestDynamicPartitionPruning:
    """The join-driven pruning twin: the broadcast dim must become a runtime
    partition filter on the date-partitioned fact scan."""

    def test_dpp_expression_in_scan_and_output_is_spike_days_only(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.connectors import (
            _DPP_SPIKE_VALUE,
            q_dpp_partitioned_join,
        )
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        df = q_dpp_partitioned_join(spark, sf_dir)
        assert lint_plan(df) == []
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruningexpression" in plan
        assert "SubqueryBroadcast" in plan or "SubqueryAdaptiveBroadcast" in plan

        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        events = load_table(spark, "events", sf_dir)
        spike_days = {
            r.d
            for r in events.where(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= _DPP_SPIKE_VALUE)
            )
            .select(F.to_date("ts").alias("d"))
            .distinct()
            .collect()
        }
        all_days = events.select(F.to_date("ts")).distinct().count()
        rows = df.collect()
        assert {r.event_date for r in rows} == spike_days
        # the filter must be selective on this fixture, else the demo is vacuous
        assert len(spike_days) < all_days


class TestMinhashAdmissionStream:
    """Streaming twin of the incremental near-dup gate: per-micro-batch
    verdicts must equal the batch gate's, including under a genuinely
    multi-batch chunked replay (the gate is stateless by design)."""

    def test_multi_batch_replay_equals_batch_gate(self, spark, sf_dir, tmp_path):
        import pyarrow.parquet as pq

        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.dedup import (
            minhash_admission_pairs,
            minhash_index,
            q_incremental_minhash_dedup,
        )
        from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
            run_stream,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table
        from e_commerce_streaming_datapipeline_spark.sources.streaming import (
            FEED_GLOB,
            append_feed,
            read_file_stream,
        )

        # chunk the documents fixture into 4 files so availableNow +
        # maxFilesPerTrigger=1 replays as 4 REAL micro-batches
        import os

        docs_tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        n = docs_tbl.num_rows
        chunk_dir = str(tmp_path / "docs_chunks")
        step = (n + 3) // 4
        append_feed(chunk_dir, [docs_tbl.slice(i * step, step) for i in range(4)])

        docs = load_table(spark, "documents", sf_dir)
        index_sets, index_bands = minhash_index(
            docs.where((F.col("doc_id") % 10) != 0)
        )
        accepted: list = []
        batches: list = []

        def admit(batch_df, batch_id):
            new = batch_df.where((F.col("doc_id") % 10) == 0)
            rows = minhash_admission_pairs(new, index_sets, index_bands).collect()
            batches.append(len(rows))
            accepted.extend(rows)

        stream = read_file_stream(spark, chunk_dir, FEED_GLOB, max_files_per_trigger=1)
        run_stream(spark, stream, "admission_mb", output_mode="append", sink=admit)

        assert len(batches) >= 4  # it really ran multi-batch
        got = {(r.doc_new, r.doc_index) for r in accepted}
        want = {
            (r.doc_new, r.doc_index)
            for r in q_incremental_minhash_dedup(spark, sf_dir).collect()
        }
        assert got == want


class TestLocalTzDaily:
    """Local-calendar rollup: conservation vs the UTC twin, and the named-zone
    conversion really shifts days (the query is not a UTC rollup in disguise)."""

    def test_conserves_purchases_and_shifts_days(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.analytics import (
            q_gmv_local_tz_daily,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_gmv_local_tz_daily(spark, sf_dir).collect()
        purchases = load_table(spark, "events", sf_dir).where(
            F.col("event_type") == "purchase"
        )
        assert sum(r.n_purchases for r in rows) == purchases.count()
        # the 00:00-03:00 UTC window exists in the fixture, so at least one
        # purchase must land on a DIFFERENT local day than its UTC day
        moved = purchases.where(
            F.to_date(F.from_utc_timestamp("ts", "America/Sao_Paulo"))
            != F.to_date("ts")
        ).count()
        assert moved > 0
        # and the named-zone conversion equals the fixed -3h offset over the
        # 2024 fixture (Brazil has no DST since 2019) — the oracle's premise
        mismatch = purchases.where(
            F.from_utc_timestamp("ts", "America/Sao_Paulo")
            != F.col("ts") - F.expr("INTERVAL 3 HOURS")
        ).count()
        assert mismatch == 0


class TestDedupRewriteDocs:
    """The rewrite must agree with the audit (`chunk_dedup_retention`) chunk
    for chunk, rebuild text in original order, and keep fully-boilerplate
    docs as empty rows rather than dropping them."""

    def test_agrees_with_audit_and_rebuilds_in_order(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.operators.dedup import (
            q_chunk_dedup_retention,
            q_dedup_rewrite_docs,
        )
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        df = q_dedup_rewrite_docs(spark, sf_dir)
        assert lint_plan(df) == []  # listagg: no collected array anywhere
        rewrite = {r.doc_id: r for r in df.collect()}
        audit = {r.doc_id: r for r in q_chunk_dedup_retention(spark, sf_dir).collect()}
        assert set(rewrite) == set(audit)
        docs = {
            r.doc_id: r.text
            for r in load_table(spark, "documents", sf_dir)
            .where(F.col("text").isNotNull())
            .collect()
        }
        for doc_id, r in rewrite.items():
            a = audit[doc_id]
            assert r.n_chunks == a.n_chunks
            assert r.n_kept == a.n_chunks - a.n_shared_chunks
            # kept chunks appear in clean_text in original relative order
            if r.n_kept == r.n_chunks:
                # nothing dropped => the rebuild must reproduce the document
                # exactly up to the trailing partial chunk's word join
                assert r.clean_text == docs[doc_id]
            if r.n_kept == 0:
                assert r.clean_text == ""
            # every kept doc's clean_text tokens are a subsequence of the
            # original tokens
            orig = docs[doc_id].split(" ")
            clean = r.clean_text.split(" ") if r.clean_text else []
            it = iter(orig)
            assert all(tok in it for tok in clean)
        # the fixture's duplicated docs guarantee both regimes appear
        assert any(r.n_kept == 0 for r in rewrite.values())
        assert any(0 < r.n_kept < r.n_chunks for r in rewrite.values())


class TestParameterizedSQL:
    """Named parameter markers must bind as typed plan-time literals: the
    date bound reaches the parquet scan as a pushed filter, and a hostile
    string bind stays a value, never SQL."""

    def test_bounds_push_down_and_binds_are_values(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.analytics import (
            q_parameterized_revenue_window,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import register_views

        df = q_parameterized_revenue_window(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed, not post-scan
        # injection attempt: the marker is a VALUE, so this is just an
        # impossible priority string, not a rewritten query
        register_views(spark, sf_dir)
        hostile = spark.sql(
            "SELECT count(*) AS n FROM orders WHERE o_orderpriority = :p",
            args={"p": "' OR '1'='1"},
        ).first()
        assert hostile.n == 0


class TestLateralTopLineitems:
    """The correlated LATERAL LIMIT must decorrelate: WindowGroupLimit + one
    hash join, never a per-row nested loop; and per-order row counts obey
    the LIMIT."""

    def test_decorrelated_plan_and_limit_semantics(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.analytics import (
            q_lateral_top_lineitems,
        )
        from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan

        df = q_lateral_top_lineitems(spark, sf_dir)
        assert lint_plan(df) == []
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        rows = df.collect()
        per_order: dict[int, int] = {}
        for r in rows:
            per_order[r.o_orderkey] = per_order.get(r.o_orderkey, 0) + 1
        assert max(per_order.values()) <= 2


class TestScd2StreamMerge:
    """Incremental SCD2 maintenance (foreachBatch CDC merge) must equal the
    one-shot batch build, and must actually run as a multi-batch stream —
    one micro-batch per year chunk — or the merge path is vacuous."""

    def test_stream_store_equals_batch_build_and_is_multibatch(self, spark, sf_dir):
        import glob
        import os
        import tempfile

        from e_commerce_streaming_datapipeline_spark.operators.analytics import (
            q_scd2_priority_history,
        )
        from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
            q_scd2_stream_merge,
        )

        before = set(
            glob.glob(
                os.path.join(
                    tempfile.gettempdir(), "e_commerce_streaming_datapipeline_scd2", "*"
                )
            )
        )
        streamed = {tuple(r) for r in q_scd2_stream_merge(spark, sf_dir).collect()}
        batch = {tuple(r) for r in q_scd2_priority_history(spark, sf_dir).collect()}
        assert streamed == batch
        run_dirs = [
            d
            for d in glob.glob(
                os.path.join(
                    tempfile.gettempdir(), "e_commerce_streaming_datapipeline_scd2", "*"
                )
            )
            if d not in before
        ]
        assert len(run_dirs) == 1
        versions = glob.glob(os.path.join(run_dirs[0], "store_v*"))
        # one store version per micro-batch; the fixture spans >1 order-year
        assert len(versions) > 1


class TestRetrieval:
    """BM25 + RRF hybrid fusion semantic properties (the oracle pins the
    values; these pin the *retrieval* meaning of the output)."""

    def test_bm25_topk_docs_contain_query_terms_and_ranks_are_dense(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.retrieval import (
            QUERY_TERMS,
            q_bm25_topk,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_bm25_topk(spark, sf_dir).collect()
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.bm25 for r in rows]
        assert scores == sorted(scores, reverse=True)
        texts = {
            r.doc_id: r.text
            for r in load_table(spark, "documents", sf_dir)
            .where(F.col("doc_id").isin([r.doc_id for r in rows]))
            .collect()
        }
        for r in rows:
            assert any(t in texts[r.doc_id].split(" ") for t in QUERY_TERMS)

    def test_rrf_score_recomputes_from_ranks_and_excludes_query_doc(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.retrieval import (
            QUERY_VEC_ID,
            RRF_K,
            q_hybrid_rrf_fusion,
        )

        rows = q_hybrid_rrf_fusion(spark, sf_dir).collect()
        assert all(r.doc_id != QUERY_VEC_ID for r in rows)
        for r in rows:
            expect = (1.0 / (RRF_K + r.rank_lex) if r.rank_lex else 0.0) + (
                1.0 / (RRF_K + r.rank_vec) if r.rank_vec else 0.0
            )
            assert abs(r.rrf - expect) < 5e-7  # rrf is rounded to 6dp
        # fusion is only meaningful if at least one doc is ranked by both legs
        assert any(r.rank_lex is not None and r.rank_vec is not None for r in rows)


class TestStateStoreReader:
    """The statestore-reader query must reflect the dedup operator's REAL
    state: one state row per distinct event_id."""

    def test_state_rows_equal_distinct_keys(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
            q_state_store_inspect,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_state_store_inspect(spark, sf_dir).collect()
        n_state = sum(r.state_rows for r in rows)
        n_distinct = (
            load_table(spark, "events", sf_dir).select("event_id").distinct().count()
        )
        assert n_state == n_distinct


class TestCheckpointResume:
    """The restart query must really run TWO separate stream starts against
    one checkpoint and suppress the cross-phase replay via recovered state."""

    def test_two_phases_one_copy_of_every_event(self, spark, sf_dir):
        import glob
        import os
        import tempfile

        from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
            q_checkpoint_resume_stream,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        pattern = os.path.join(
            tempfile.gettempdir(), "e_commerce_streaming_datapipeline_resume", "*"
        )
        before = set(glob.glob(pattern))
        agg = {r.event_type: r.n_events for r in q_checkpoint_resume_stream(spark, sf_dir).collect()}
        run_dirs = [d for d in glob.glob(pattern) if d not in before]
        assert len(run_dirs) == 1
        out = os.path.join(run_dirs[0], "out")
        sink = spark.read.parquet(out)
        # exactly one copy of every event despite the chunk-2 replay slice
        assert sink.count() == sink.select("event_id").distinct().count()
        total = load_table(spark, "events", sf_dir).count()
        assert sum(agg.values()) == total
        # the commit log must show more than one batch => a real restart ran
        commits = glob.glob(os.path.join(run_dirs[0], "ckpt", "commits", "*"))
        batches = [c for c in commits if not c.endswith(".crc")]
        assert len(batches) >= 2


class TestBinnedIntervalJoin:
    """The keyless interval join must plan as an EQUI join on the hour bin
    (range predicate as residual), never as a nested loop — the whole point
    of the bin expansion."""

    def test_plans_as_hash_join_on_bin_with_range_residual(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.joins import (
            q_promo_window_attribution,
        )

        plan = (
            q_promo_window_attribution(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin [bin" in plan
        assert "NestedLoop" not in plan and "Cartesian" not in plan

    def test_multi_bin_windows_count_each_event_once(self, spark, sf_dir):
        """A 90-minute window spans 2-3 hour bins; the probe side keeps one
        bin per event, so no event may be attributed twice to one window."""
        from e_commerce_streaming_datapipeline_spark.operators.joins import (
            q_promo_window_attribution,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_promo_window_attribution(spark, sf_dir).collect()
        events = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
        for r in rows[:3]:  # spot-check the top windows
            lo = r.window_peak - __import__("datetime").timedelta(minutes=45)
            hi = r.window_peak + __import__("datetime").timedelta(minutes=45)
            n = events.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))).count()
            assert n == r.n_events


class TestDqExpectations:
    """The DQ gate's verdict semantics: the pristine fixture publishes clean
    (every constraint passes), and each constraint name appears exactly once."""

    def test_pristine_fixture_publishes_clean(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.quality import (
            q_dq_expectations,
        )

        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = q_dq_expectations(spark, sf_dir).collect()
        assert len(rows) == 9
        assert len({r.constraint_name for r in rows}) == 9
        bad = {r.constraint_name: r.violations for r in rows if r.violations != 0}
        # the gate CAUGHT a real defect in the synthetic fixture: the
        # generator does not keep (l_orderkey, l_linenumber) unique —
        # everything else publishes clean
        assert set(bad) == {"unique_orderkey_linenumber"}, bad
        li = load_table(spark, "lineitem", sf_dir)
        expected_dups = li.count() - li.select("l_orderkey", "l_linenumber").distinct().count()
        assert bad["unique_orderkey_linenumber"] == expected_dups
        assert all(
            r.pass_rate == 1.0
            for r in rows
            if r.constraint_name != "unique_orderkey_linenumber"
        )


class TestChangelogReplay:
    """The update-mode changelog must contain REAL supersessions (a window
    re-emitted across batches) or the last-writer-wins replay is vacuous."""

    def test_changelog_supersedes_across_batches(self, spark, sf_dir):
        import glob
        import os
        import tempfile

        from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
            q_changelog_replay_stream,
        )

        pattern = os.path.join(
            tempfile.gettempdir(), "e_commerce_streaming_datapipeline_changelog", "*"
        )
        before = set(glob.glob(pattern))
        final = q_changelog_replay_stream(spark, sf_dir)
        n_windows = final.count()
        run_dirs = [d for d in glob.glob(pattern) if d not in before]
        assert len(run_dirs) == 1
        log = spark.read.parquet(os.path.join(run_dirs[0], "changelog"))
        assert log.count() > n_windows  # at least one window emitted twice
        assert log.select("batch_id").distinct().count() > 1
        # a superseded emission must carry a DIFFERENT (partial) value than
        # the final one — i.e. update mode re-emits the full new aggregate
        from pyspark.sql import functions as SF

        per_window = (
            log.groupBy("window_start")
            .agg(
                SF.count("*").alias("emissions"),
                SF.count_distinct("item_count").alias("distinct_counts"),
            )
            .where(SF.col("emissions") > 1)
        )
        assert per_window.count() > 0
        assert per_window.where(SF.col("distinct_counts") > 1).count() > 0


class TestManifestTimeTravel:
    """Snapshot-isolation invariants of the manifest commit protocol: v2 is
    CURRENT and reads differently, v1's files are untouched by the v2
    commit, and the returned relation is the v1 snapshot."""

    def test_v1_stable_under_v2_commit(self, spark, sf_dir):
        import glob
        import json
        import os
        import tempfile

        from e_commerce_streaming_datapipeline_spark.operators.layout import (
            q_manifest_time_travel,
        )

        pattern = os.path.join(
            tempfile.gettempdir(), "e_commerce_streaming_datapipeline_manifest", "*"
        )
        before = set(glob.glob(pattern))
        v1 = q_manifest_time_travel(spark, sf_dir)
        run_dirs = [d for d in glob.glob(pattern) if d not in before]
        assert len(run_dirs) == 1
        run = run_dirs[0]
        current = json.load(open(os.path.join(run, "CURRENT.json")))
        assert current["current"] == 2
        m1 = json.load(open(os.path.join(run, "manifest_v1.json")))
        m2 = json.load(open(os.path.join(run, "manifest_v2.json")))
        assert set(m1["files"]).isdisjoint(m2["files"])  # immutable commits
        assert all(os.path.exists(f) for f in m1["files"])  # v2 touched nothing
        v2 = spark.read.parquet(*m2["files"])
        statuses_v1 = {r.status for r in v1.select("status").distinct().collect()}
        statuses_v2 = {r.status for r in v2.select("status").distinct().collect()}
        assert statuses_v2 == {"F"} and statuses_v1 > statuses_v2


class TestSupplierComponents:
    """Label propagation must converge to a true fixed point: every edge's
    endpoints share a component, and each component id is its min member."""

    def test_fixed_point_properties(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators.graph import (
            q_supplier_components,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        comps = q_supplier_components(spark, sf_dir)
        rows = comps.collect()
        # component id is the minimum member: id <= max member, and sizes sum
        # to the node count of the edge-rule graph
        assert all(r.component_id <= r.max_suppkey for r in rows)
        li = load_table(spark, "lineitem", sf_dir)
        nodes = (
            li.where(F.col("l_quantity") >= 49)
            .select("l_suppkey")
            .distinct()
            .count()
        )
        assert sum(r.n_suppliers for r in rows) == nodes


class TestWatermarkEvictionViaStateReader:
    """The statestore READER must show watermark eviction directly: after a
    chunked in-order replay, a watermarked dedup's surviving state keys are
    a small suffix of the feed (only events above the final watermark),
    while the unwatermarked twin in state_store_inspect holds every key."""

    def test_watermarked_dedup_state_is_evicted_suffix(self, spark, sf_dir):
        import os
        import tempfile
        import uuid

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark.sql import functions as SF

        from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
            _epoch_days,
        )
        from e_commerce_streaming_datapipeline_spark.sources.streaming import (
            FEED_GLOB,
            append_feed,
            read_file_stream,
            split_by_key,
        )

        run = os.path.join(tempfile.gettempdir(), "evict_probe", uuid.uuid4().hex)
        feed = os.path.join(run, "feed")
        tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        valid = tbl.filter(pc.is_valid(tbl["ts"]))
        days = _epoch_days(valid["ts"])
        uniq = sorted(pc.unique(days).to_pylist())
        append_feed(feed, split_by_key(valid, days))

        deduped = (
            read_file_stream(spark, feed, FEED_GLOB, max_files_per_trigger=1)
            .where(SF.col("event_id").isNotNull())
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        ckpt = os.path.join(run, "ckpt")
        q = (
            deduped.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state = spark.read.format("statestore").load(ckpt)
        n_state = state.count()
        n_keys = tbl.num_rows
        # eviction really happened: surviving state is a small suffix (the
        # last day or two above the final watermark), not the whole feed
        assert 0 < n_state < n_keys / 5, (n_state, n_keys)
        # and every surviving key's event sits in the feed's final stretch
        min_surviving_ts = (
            state.select(SF.col("key.event_id").alias("event_id"))
            .join(spark.read.parquet(*[os.path.join(feed, f) for f in os.listdir(feed)]), "event_id")
            .agg(SF.min("ts"))
            .collect()[0][0]
        )
        last_day_start = uniq[-2] * 86400  # epoch seconds of the penultimate day
        import datetime

        assert min_surviving_ts >= datetime.datetime.utcfromtimestamp(last_day_start)


class TestLinearAttribution:
    """attribution_linear_cents: the largest-remainder split must balance
    the books — per purchase, attributed cents sum back to the purchase's
    cents exactly, and remainder cents go to the earliest touches."""

    def test_attribution_sums_back_exactly(self, spark, sf_dir):
        res = registry.get_query("attribution_linear_cents").builder(spark, sf_dir)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        purchases = ev.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        ).select(
            F.col("event_id").alias("purchase_id"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        per = res.groupBy("purchase_id").agg(
            F.sum("attributed_cents").alias("total"),
            F.max("n_touches").alias("n"),
            F.count("*").alias("rows"),
        )
        joined = per.join(purchases, "purchase_id").collect()
        assert joined, "fixture produced no attributed purchases"
        for r in joined:
            assert r["total"] == r["cents"], r
            assert r["rows"] == r["n"], r

    def test_remainder_goes_to_earliest_touches(self, spark, sf_dir):
        res = registry.get_query("attribution_linear_cents").builder(spark, sf_dir)
        rows = res.collect()
        by_purchase = {}
        for r in rows:
            by_purchase.setdefault(r["purchase_id"], []).append(r)
        multi = [v for v in by_purchase.values() if len(v) > 1]
        for touches in multi:
            touches.sort(key=lambda r: r["touch_rank"])
            base = min(t["attributed_cents"] for t in touches)
            seen_base = False
            for t in touches:
                assert t["attributed_cents"] in (base, base + 1)
                if t["attributed_cents"] == base:
                    seen_base = True
                else:
                    # a +1 touch can never follow a base touch
                    assert not seen_base, touches


class TestMarkovAttribution:
    """markov_attribution: per-graph mass must stay conserved through the
    integer-rounded iteration, and the credit shares must sum to ~1."""

    def test_shares_and_mass_conservation(self, spark, sf_dir):
        res = registry.get_query("markov_attribution").builder(spark, sf_dir)
        rows = res.collect()
        assert len(rows) == 4
        base = rows[0]["base_conv"]
        for r in rows:
            assert r["base_conv"] == base
            # removing a channel can only lose conversion mass (up to
            # per-step rounding of ±1 micro per state)
            assert r["removal_conv"] <= base + 1e-4
            assert 0.0 <= r["attribution_share"] <= 1.0
        total_share = sum(r["attribution_share"] for r in rows)
        assert abs(total_share - 1.0) < 1e-4, total_share


class TestDegeneratePurchaseFreeCorpus:
    """Forecast backtests on a corpus with ZERO purchases must emit zero
    rows on BOTH engines (the Holt recursion has no base row; Spark's fold
    must not leak its zero-state init as a phantom row)."""

    @pytest.fixture(scope="class")
    def purchase_free_dir(self, sf_dir, tmp_path_factory):
        import os
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tmp = tmp_path_factory.mktemp("purchase_free")
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet") and f != "events.parquet":
                os.symlink(os.path.join(sf_dir, f), tmp / f)
        ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        nop = ev.filter(
            pc.not_equal(pc.fill_null(ev["event_type"], ""), "purchase")
        )
        pq.write_table(nop, tmp / "events.parquet")
        return str(tmp)

    @pytest.mark.parametrize(
        "name", ["holt_forecast_backtest", "quantile_pinball_backtest",
                 "forecast_backtest_snaive"]
    )
    def test_zero_purchases_zero_rows(self, spark, purchase_free_dir, name):
        from tests.oracle_compare import compare_query

        res = compare_query(spark, name, purchase_free_dir)
        assert res.ok, res.detail
        assert res.spark_rows == 0
