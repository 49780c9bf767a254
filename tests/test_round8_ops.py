"""Round-8 additions: property pins for the twelve new operators (SymSpell
linkage, golden-record survivorship batch + stream, revenue ACF, decision
stump, encoding advisor, 2-D heatmap, signed-delta IVM, branch merge,
group k-fold, WAP gate, session-gap sweep), the commit-lint guard's
regexes, and the bench harness's no-silent-caps contract (sections + tail
must cover the whole registry)."""

from __future__ import annotations

import os

import pytest

from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def reg():
    return all_queries()


class TestSymspellLinkage:
    def test_candidate_generation_is_exhaustive(self, spark, reg):
        """SymSpell's deletion-neighborhood index is EXHAUSTIVE for one
        deletion: every dirty record's true clean parent is always a
        candidate, so every dirty record RESOLVES.  Recall is NOT 1.0,
        and that is the operator's honest finding: leading-zero digit
        strings make some dirty strings genuinely ambiguous (deleting a
        zero from 000000012 and the trailing digit from 000000120 both
        yield 00000012), every neighborhood candidate sits at edit
        distance exactly 1, and the deterministic (distance, key)
        tie-break then picks the smallest key — so ambiguous records
        resolve to one consistent parent and the recall metric measures
        the ambiguity rate.  Pin: full resolution, recall in [0.5, 1],
        candidate volume >= dirty volume."""
        rows = reg["symspell_typo_linkage"].builder(spark, SF_DIR).collect()
        assert rows, "linkage produced no nations"
        total_dirty = sum(r["n_dirty"] for r in rows)
        total_correct = sum(r["n_correct"] for r in rows)
        assert all(r["n_resolved"] == r["n_dirty"] for r in rows)
        assert total_dirty >= 100
        assert 0.5 * total_dirty <= total_correct <= total_dirty
        assert all(r["n_candidate_pairs"] >= r["n_dirty"] for r in rows)


class TestGoldenRecord:
    def test_only_real_clusters_and_valid_survivors(self, spark, reg):
        df = reg["golden_record_survivorship"].builder(spark, SF_DIR)
        rows = df.collect()
        assert rows, "no duplicate clusters at fixture scale"
        assert all(r["n_dupes"] >= 2 for r in rows)
        # field-completeness tallies are bounded by the cluster size
        assert all(r["n_valued"] <= r["n_dupes"] for r in rows)
        assert all(r["n_props"] <= r["n_dupes"] for r in rows)


class TestRevenueAcf:
    def test_lags_and_bounds(self, spark, reg):
        rows = {r["lag"]: r for r in reg["revenue_acf"].builder(spark, SF_DIR).collect()}
        assert sorted(rows) == [1, 2, 3, 4, 5, 6, 7]
        # |r_k| <= 1 up to micros quantization; pair counts shrink with lag
        for k, r in rows.items():
            assert abs(r["acf_x1e6"]) <= 1_000_001, (k, r)
        assert rows[1]["n_pairs"] >= rows[7]["n_pairs"]


class TestDecisionStump:
    def test_topk_ordering_and_partition_counts(self, spark, reg):
        rows = reg["decision_stump_train"].builder(spark, SF_DIR).collect()
        assert len(rows) == 5
        gains = [r["gini_gain_x1e6"] for r in rows]
        assert gains == sorted(gains, reverse=True)
        n = rows[0]["n_left"] + rows[0]["n_right"]
        for r in rows:
            assert r["n_left"] + r["n_right"] == n
            assert 0 <= r["pos_left"] <= r["n_left"]
            assert 0 <= r["pos_right"] <= r["n_right"]
            assert r["n_right"] >= 1  # the max value never splits


class TestEncodingAdvisor:
    def test_advice_domain_and_event_type_dictionary(self, spark, reg):
        rows = {r["col_name"]: r for r in
                reg["encoding_advisor"].builder(spark, SF_DIR).collect()}
        assert set(rows) == {"event_type", "user_id", "value"}
        assert all(r["advice"] in ("rle", "dictionary", "plain")
                   for r in rows.values())
        # 5 event types over thousands of rows: must not advise plain
        et = rows["event_type"]
        assert et["ndv"] <= 10
        assert et["advice"] in ("dictionary", "rle")
        assert all(1 <= r["n_runs"] <= r["n_rows"] for r in rows.values())


class TestHourValueHeatmap:
    def test_shares_sum_per_hour(self, spark, reg):
        rows = reg["hour_value_heatmap"].builder(spark, SF_DIR).collect()
        assert rows
        by_hour: dict[int, list] = {}
        for r in rows:
            by_hour.setdefault(r["hour_of_day"], []).append(r)
        for hour, cells in by_hour.items():
            share = sum(c["hour_share_x1e6"] for c in cells)
            # integer-floor division loses < 1 micro-unit per cell
            assert 1_000_000 - len(cells) < share <= 1_000_000, hour
            # -1 = unpriced (NULL) sentinel, -2 = negative-value (refund)
            # bracket (r8 ADVICE #3)
            assert all(0 <= c["value_decade"] <= 10
                       or c["value_decade"] in (-1, -2)
                       for c in cells)


class TestCommitLint:
    def test_dangling_endings_flagged(self):
        from scripts.commit_lint import _DANGLING

        for bad in ("registry 326 -> 331... wait", "refactor and",
                    "fix the", "add cold times,", "todo", "see (unclosed"):
            assert _DANGLING.search(bad) or bad.count("(") > bad.count(")"), bad
        for good in ("Add the round-8 window rotation.",
                     "Fix NaN policy in the oracle compare",
                     "registry 326 -> 343"):
            assert not _DANGLING.search(good), good

    def test_count_claim_extraction(self):
        from scripts.commit_lint import _COUNT_CLAIM

        m = _COUNT_CLAIM.search("rotate window (registry 326 -> 343)")
        assert m and int(m.group(1) or m.group(2)) == 343
        m = _COUNT_CLAIM.search("now 349 registered queries total")
        assert m and int(m.group(1) or m.group(2)) == 349
        assert not _COUNT_CLAIM.search("no counts here")
        # a bare "N queries" is a subset description, not a registry claim
        # (the r8 false positive: "tail 188 s across 173 queries")
        assert not _COUNT_CLAIM.search("registry tail 188 s across 173 queries")

    def test_clean_history_passes(self):
        """Truncation findings only: the registry-count check is excluded
        here because a suite collected BEFORE a commit lands caches the
        old registry length and would race any concurrent commit whose
        message states the new count (observed in the r8 run); the close
        checklist runs scripts/commit_lint.py in a fresh process where
        both sides are current."""
        from scripts.commit_lint import lint

        findings = [f for f in lint("HEAD~1") if "registry-count" not in f]
        assert findings == []


class TestBenchCoverageContract:
    def test_sections_plus_tail_cover_registry(self, reg):
        """The no-silent-caps rule bound to the harness itself (r7 VERDICT
        task #2): every frozen bench section names only registered queries,
        and bench.py's registry tail covers everything else by
        construction — so sections ∪ (registry − sections) == registry."""
        import bench

        sections = bench.SECTION_QUERIES
        assert len(sections) == len(set(sections)), "duplicate section entry"
        unknown = set(sections) - set(reg)
        assert not unknown, f"bench sections name unregistered queries: {unknown}"

    def test_bench_local_has_no_unbenched(self):
        """Machine-readable cap check: once bench.py has run, BENCH_LOCAL
        must record zero unbenched and zero erroring queries."""
        import json

        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_LOCAL.json")
        if not os.path.exists(path):
            pytest.skip("bench has not run yet")
        data = json.load(open(path))
        if "unbenched" not in data:
            pytest.skip("pre-r8 BENCH_LOCAL format")
        assert data["unbenched"] == []
        assert data["tail_errors"] == {}


class TestWapPublishGate:
    def test_bad_candidate_quarantined_good_published(self, spark, reg):
        """The WAP gate's whole point: the broken rewrite must be
        quarantined with its audit verdict while the good candidate is
        published — and the published manifest must be the good one."""
        import glob
        import json

        df = reg["wap_publish_gate"].builder(spark, SF_DIR)
        assert df.count() > 0  # forces the stage/audit/publish side effects
        # the builder's scratch dir is the newest wap* dir
        from e_commerce_streaming_datapipeline_spark.functions import scratch

        run_dirs = [d for d in scratch._SCRATCH_DIRS
                    if "e_commerce_streaming_datapipeline_wap" in d]
        assert run_dirs, "wap scratch dir not registered"
        run_dir = run_dirs[-1]
        quarantined = glob.glob(os.path.join(run_dir, "quarantine_*.json"))
        assert len(quarantined) == 1
        verdict = json.load(open(quarantined[0]))
        assert verdict["name"] == "bad"
        assert not verdict["audit"]["passed"]
        assert any("row_count" in f for f in verdict["audit"]["failures"])
        current = json.load(open(os.path.join(run_dir, "CURRENT.json")))
        assert current["current"] == "good"


class TestSessionGapSensitivity:
    def test_monotone_in_gap(self, spark, reg):
        """A larger inactivity gap can only MERGE sessions: n_sessions must
        be non-increasing in the gap, bounded below by n_users' sessions
        and above by n_events; mean session length non-decreasing."""
        rows = sorted(
            reg["session_gap_sensitivity"].builder(spark, SF_DIR).collect(),
            key=lambda r: r["gap_minutes"],
        )
        assert [r["gap_minutes"] for r in rows] == [10, 30, 60]
        sessions = [r["n_sessions"] for r in rows]
        assert sessions == sorted(sessions, reverse=True)
        lengths = [r["events_per_session_x100"] for r in rows]
        assert lengths == sorted(lengths)
        for r in rows:
            assert 1 <= r["n_sessions"] <= r["n_events"]


class TestKaplanMeier:
    def test_km_invariants(self, spark, reg):
        """Survival starts <= 1, is strictly non-increasing over event
        days, n_risk is non-increasing, and every step has >= 1 event."""
        rows = sorted(reg["kaplan_meier_conversion"].builder(spark, SF_DIR).collect(),
                      key=lambda r: r["day"])
        assert rows
        surv = [r["survival_x1e6"] for r in rows]
        assert all(0 <= s <= 1_000_000 for s in surv)
        assert surv == sorted(surv, reverse=True)
        risks = [r["n_risk"] for r in rows]
        assert risks == sorted(risks, reverse=True)
        assert all(r["n_events"] >= 1 for r in rows)


class TestLinkPrediction:
    def test_jaccard_bounds_and_ordering(self, spark, reg):
        rows = reg["supplier_link_prediction"].builder(spark, SF_DIR).collect()
        assert 1 <= len(rows) <= 20
        for r in rows:
            assert r["s_a"] < r["s_b"]
            assert 1 <= r["common_parts"] <= min(r["deg_a"], r["deg_b"])
            assert 0 < r["jaccard_x1e6"] <= 1_000_000
        js = [r["jaccard_x1e6"] for r in rows]
        assert js == sorted(js, reverse=True)


class TestDsarExport:
    def test_bundle_tallies(self, spark, reg):
        rows = reg["dsar_access_export"].builder(spark, SF_DIR).collect()
        assert len(rows) == 10
        for r in rows:
            assert r["n_views"] + r["n_clicks"] + r["n_purchases"] <= r["n_events"]
            assert r["first_ts"] <= r["last_ts"]
            assert r["n_with_payload"] <= r["n_events"]


class TestNanGates:
    """r7 ADVICE #4: the pandas canonicalizer conflates genuine NaN with
    SQL NULL, so the compare (a) hashes NaN as NULL on both sides —
    driver-faithful — and (b) FAILS any query that emits a genuine NaN at
    all.  Pin both halves so the gates stay armed."""

    def test_norm_cell_conflates_nan_with_null(self):
        from tests.oracle_compare import _norm_cell

        assert _norm_cell(float("nan")) == _norm_cell(None) == "␀"

    def test_genuine_oracle_nan_detected_vs_null(self):
        import duckdb

        from tests.oracle_compare import _genuine_oracle_nans, _oracle_df_rows

        con = duckdb.connect()
        sql = ("SELECT CAST('nan' AS DOUBLE) AS a, CAST(NULL AS DOUBLE) AS b, "
               "1.5 AS c")
        cols, rows, dtypes, has_null = _oracle_df_rows(con, sql)
        # through .df() both a and b look like NULL...
        assert rows[0][0] is None and rows[0][1] is None
        # ...but the fetchall re-read distinguishes the genuine NaN
        assert _genuine_oracle_nans(con, sql, ["a", "b", "c"]) == ["a"]


class TestPurgedTimeseriesFolds:
    def test_embargo_holds_and_partition_is_complete(self, spark, reg):
        """The whole point of the purge: no training day may sit within
        the embargo of its fold's test span, every fold's day partition
        (test + embargo + train) must cover the same day census, and the
        test spans must tile the timeline in fold order."""
        from e_commerce_streaming_datapipeline_spark.operators.curation import (
            _PURGE_EMBARGO,
            _PURGE_K,
        )

        rows = reg["purged_timeseries_folds"].builder(spark, SF_DIR).collect()
        assert len(rows) == _PURGE_K
        n_days = {r["n_test_days"] + r["n_embargo_days"] + r["n_train_days"]
                  for r in rows}
        assert len(n_days) == 1, "folds disagree on the day census"
        for r in rows:
            assert r["min_train_gap_days"] > _PURGE_EMBARGO
            assert r["n_test_days"] >= 1 and r["n_train_days"] >= 1
        spans = sorted((r["test_lo_day"], r["test_hi_day"]) for r in rows)
        for (lo_a, hi_a), (lo_b, _) in zip(spans, spans[1:]):
            assert lo_a <= hi_a < lo_b, "test spans must be ordered/disjoint"


class TestSortedNeighborhoodPairs:
    def test_candidate_economy_and_recall_bounds(self, spark, reg):
        """SNM generates O(n*w) candidates — at w=5 that is at most
        (w-1)*n pairs total — and found pairs are bounded by truth pairs
        (a candidate can only 'find' a pair the interval join also sees),
        so recall_bp lives in [0, 10000]."""
        from e_commerce_streaming_datapipeline_spark.operators.dedup import _SNM_WINDOW

        rows = reg["sorted_neighborhood_pairs"].builder(spark, SF_DIR).collect()
        assert rows, "no type pairs"
        # derive n from the fixture under the query's own non-null filter —
        # a hardcoded sf0.001 count asserts the wrong bound whenever
        # SPARK_GRAFT_TEST_SF_DIR points elsewhere (r8 ADVICE #5)
        n_events = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .where(
                "event_id IS NOT NULL AND user_id IS NOT NULL "
                "AND event_type IS NOT NULL AND ts IS NOT NULL"
            )
            .count()
        )
        total_cand = sum(r["n_candidates"] for r in rows)
        assert 0 < total_cand <= (_SNM_WINDOW - 1) * n_events
        for r in rows:
            assert 0 <= r["n_found_pairs"] <= r["n_truth_pairs"]
            if r["n_truth_pairs"] > 0:
                assert 0 <= r["recall_bp"] <= 10000
            else:
                assert r["recall_bp"] is None


class TestStratifiedUplift:
    def test_weighted_contrib_reconstructs_adjusted_ate(self, spark, reg):
        """The per-stratum rows must reassemble into the adjusted ATE:
        sum(weighted_contrib) / sum(n_orders) equals the n-weighted mean
        of stratum effects, and every stratum must carry both legs at
        fixture scale (orders are ~40/60 split by priority)."""
        rows = reg["stratified_uplift_ipw"].builder(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r["n_treated"] + r["n_control"] == r["n_orders"]
            assert r["n_treated"] > 0 and r["n_control"] > 0
            assert (r["stratum_ate_c100"]
                    == r["mean_treated_c100"] - r["mean_control_c100"])
            assert (r["weighted_contrib_c100"]
                    == r["n_orders"] * r["stratum_ate_c100"])


class TestLabelPropagation:
    def test_partition_of_nodes_with_min_labels(self, spark, reg):
        """LPA output must partition the node set: sizes sum to the node
        census, each community id is one of its own members' ids only if
        it survived as a label (the id is a NODE id by construction), and
        member spans bracket the id."""
        rows = reg["label_propagation_communities"].builder(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert 1 <= r["n_members"]
            assert r["min_member"] <= r["max_member"]
        # node census from the same edge rule
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        ps = (
            load_table(spark, "lineitem", SF_DIR)
            .where(F.col("l_quantity") >= 49)
            .select("l_partkey", "l_suppkey")
            .distinct()
        )
        deg = (
            ps.alias("a")
            .join(ps.alias("b"), "l_partkey")
            .where(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
            .select(F.col("a.l_suppkey").alias("n"))
            .distinct()
            .count()
        )
        assert sum(r["n_members"] for r in rows) == deg


class TestRakeKeyphrases:
    def test_phrase_cap_and_score_floor(self, spark, reg):
        """Every emitted keyphrase obeys the candidate cap, contains no
        stopword (stopwords DELIMIT phrases), and scores at least
        n_words * 1e6 micro-units — each word's degree/freq ratio is >= 1
        because degree counts the word's own occurrences too."""
        from e_commerce_streaming_datapipeline_spark.operators.text import (
            _RAKE_MAX_WORDS,
            _RAKE_TOPK,
        )

        rows = reg["rake_keyphrases"].builder(spark, SF_DIR).collect()
        assert 0 < len(rows) <= _RAKE_TOPK
        for r in rows:
            words = r["phrase"].split(" ")
            assert 1 <= len(words) <= _RAKE_MAX_WORDS
            assert len(words) == r["n_words"]
            assert "the" not in words and "a" not in words
            assert r["n_occurrences"] >= 1
            assert r["score_x1e6"] >= r["n_words"] * 1_000_000


class TestParetoFrontier:
    def test_no_frontier_row_is_dominated(self, spark, reg):
        """Skyline soundness, checked exhaustively at fixture scale: no
        emitted supplier may be dominated by ANY same-nation supplier
        (>= both metrics, > one), and per nation at least one supplier
        (the volume max) is always on the frontier."""
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = reg["supplier_pareto_frontier"].builder(spark, SF_DIR).collect()
        assert rows
        m = (
            load_table(spark, "supplier", SF_DIR)
            .where(F.col("s_acctbal").isNotNull())
            .select(
                F.col("s_nationkey").alias("nk"),
                F.col("s_suppkey").alias("sk"),
                F.round(F.col("s_acctbal") * 100).cast("long").alias("bal"),
            )
            .join(
                load_table(spark, "lineitem", SF_DIR)
                .where(F.col("l_quantity").isNotNull())
                .select(
                    F.col("l_suppkey").alias("sk"),
                    F.round("l_quantity").cast("long").alias("q"),
                ),
                "sk",
            )
            .groupBy("nk", "sk", "bal")
            .agg(F.sum("q").alias("vol"))
            .collect()
        )
        by_nation = {}
        for r in m:
            by_nation.setdefault(r["nk"], []).append((r["vol"], r["bal"], r["sk"]))
        for f in rows:
            vol, bal = f["volume"], round(f["acctbal"] * 100)
            for v2, b2, sk2 in by_nation[f["nationkey"]]:
                dominated = (v2 >= vol and b2 >= bal
                             and (v2 > vol or b2 > bal))
                assert not dominated, (
                    f"frontier supplier {f['suppkey']} dominated by {sk2}")
        emitted = {(f["nationkey"], f["suppkey"]) for f in rows}
        for nk, members in by_nation.items():
            top = max(members)
            assert (nk, top[2]) in emitted or any(
                (v, b) >= (top[0], top[1]) and s != top[2]
                for v, b, s in members if (nk, s) in emitted
            ), f"nation {nk} volume-max supplier missing from frontier"


class TestStreamStateAdvisor:
    def test_monotone_in_delay_and_bounded_by_totals(self, spark, reg):
        """A longer watermark delay can only retain MORE state: peak and
        mean rows/bytes must be non-decreasing in delay_min per type, and
        every projection is bounded by the type's total arrivals."""
        from collections import defaultdict

        rows = reg["stream_state_size_advisor"].builder(spark, SF_DIR).collect()
        assert rows
        per_type = defaultdict(list)
        for r in rows:
            per_type[r["event_type"]].append(r)
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        totals = dict(
            load_table(spark, "events", SF_DIR)
            .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
            .groupBy("event_type")
            .count()
            .collect()
        )
        for t, rs in per_type.items():
            rs.sort(key=lambda r: r["delay_min"])
            assert [r["delay_min"] for r in rs] == [5, 10, 30]
            for a, b in zip(rs, rs[1:]):
                assert b["peak_state_rows"] >= a["peak_state_rows"]
                assert b["mean_state_rows_x100"] >= a["mean_state_rows_x100"]
                assert b["peak_state_bytes"] >= a["peak_state_bytes"]
            for r in rs:
                assert 1 <= r["peak_state_rows"] <= totals[t]
                assert r["peak_state_bytes"] >= 24 * r["peak_state_rows"]


class TestBurstDetection:
    def test_episodes_are_maximal_and_above_threshold(self, spark, reg):
        """Every episode's peak hour must actually clear the integer
        threshold, episodes of one type must not touch (maximality of the
        islands merge), and hours/events tallies must be consistent."""
        from collections import defaultdict

        rows = reg["event_burst_detection"].builder(spark, SF_DIR).collect()
        assert rows
        per_type = defaultdict(list)
        for r in rows:
            per_type[r["event_type"]].append(r)
            assert r["start_hour"] <= r["end_hour"]
            assert r["n_bursty_hours"] <= r["end_hour"] - r["start_hour"] + 1
            assert r["peak_hour_events"] <= r["episode_events"]
        for t, rs in per_type.items():
            rs.sort(key=lambda r: r["start_hour"])
            for a, b in zip(rs, rs[1:]):
                assert b["start_hour"] > a["end_hour"] + 1, (
                    f"{t}: adjacent episodes should have merged")


class TestSrmCheck:
    def test_healthy_split_does_not_flag(self, spark, reg):
        """The fixture's hash split is genuinely ~50/50, so the guardrail
        must NOT fire (the null behaving as a null), and the statistic
        must reassemble from the reported arm sizes."""
        rows = reg["ab_srm_check"].builder(spark, SF_DIR).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["delta"] == r["n_a"] - r["n_b"]
        n = r["n_a"] + r["n_b"]
        assert r["srm_chi2_x1e6"] == (r["delta"] * r["delta"] * 1_000_000) // n
        assert r["srm_detected"] is False


class TestBooleanAndSearch:
    def test_conjunction_is_sound_and_complete(self, spark, reg):
        """Every hit must contain all three query terms (tf >= 1 each and
        tf_total reassembles), and the hit set must equal the brute-force
        intersection of the three per-term match sets."""
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = reg["boolean_and_search"].builder(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r["tf_join"] >= 1 and r["tf_stream"] >= 1 and r["tf_window"] >= 1
            assert r["tf_total"] == r["tf_join"] + r["tf_stream"] + r["tf_window"]
        docs = load_table(spark, "documents", SF_DIR).where(
            F.col("text").isNotNull()
        )
        brute = None
        for t in ("join", "stream", "window"):
            s = {
                r["doc_id"]
                for r in docs.where(
                    F.array_contains(F.split("text", " "), t)
                ).select("doc_id").collect()
            }
            brute = s if brute is None else brute & s
        assert {r["doc_id"] for r in rows} == brute


class TestKcoreDecomposition:
    def test_core_property_holds(self, spark, reg):
        """Every surviving node keeps core_degree >= k, its neighbors in
        the output are themselves survivors (closure), and at fixture
        scale the peel converges within the unrolled rounds."""
        from e_commerce_streaming_datapipeline_spark.operators.graph import _KCORE_K

        rows = reg["kcore_decomposition"].builder(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r["core_degree"] >= _KCORE_K
            assert r["converged"] is True


class TestPeakConcurrentSessions:
    def test_peak_bounds_and_segment_consistency(self, spark, reg):
        """The peak is at least 1 and at most the day's segment count,
        and the day census matches the fixture's 30-day event span."""
        rows = reg["peak_concurrent_sessions"].builder(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert 1 <= r["peak_concurrent"] <= r["n_segments"]
        days = [r["day_num"] for r in rows]
        assert days == sorted(days)
        assert len(days) >= 28  # the fixture spans ~a month


class TestHoltWinters:
    def test_state_reassembly_and_seasonality(self, spark, reg):
        """The fold must consume every day exactly once (n_days == the
        day census), the error metrics must be finite and consistent,
        and the weekly seasonal array must have learned a non-zero
        amplitude on a month of data."""
        from pyspark.sql import functions as F

        from e_commerce_streaming_datapipeline_spark.sources.batch import load_table

        rows = reg["holt_winters_backtest"].builder(spark, SF_DIR).collect()
        assert len(rows) == 1
        r = rows[0]
        n_days = (
            load_table(spark, "events", SF_DIR)
            .where(
                (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
            )
            .select(F.floor(F.unix_timestamp("ts") / 86400))
            .distinct()
            .count()
        )
        assert r["n_days"] == n_days
        assert r["mae"] >= 0 and 0 <= r["wmape"] < 1
        assert r["seasonal_amplitude"] > 0


class TestBurstStreamTwin:
    def test_stream_store_merge_equals_batch(self, spark, reg):
        """Cross-batch mergeability: the streaming store's episodes must
        equal the batch twin's rows exactly, however the feed chunked."""
        batch = {
            tuple(r) for r in reg["event_burst_detection"].builder(spark, SF_DIR).collect()
        }
        stream = {
            tuple(r) for r in reg["burst_detection_stream"].builder(spark, SF_DIR).collect()
        }
        assert batch == stream
