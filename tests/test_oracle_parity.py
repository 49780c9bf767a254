"""The main correctness gate: every registered query hash-matches its DuckDB
oracle at sf0.001 (the driver does the same at sf0.01 — run
``python -m tests.oracle_compare --sf-dir /root/testdata/sf0.01`` before
claiming an operator done).

``test_query_matches_oracle`` is the suite's only pass that builds and runs
the whole registry: one build, one Spark action and one oracle execution per
query.  Besides hash parity it checks, on those same objects
(``driver_contract_findings``): a scalar-only output schema, the plan lint of
``plans/lint.py`` on the executed plan (allowances below, each with its
bound), and the driver's pandas sort-and-factorize on both results.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, MapType, StructType

from e_commerce_streaming_datapipeline_spark.plans.lint import lint_plan
from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries
from tests.oracle_compare import compare_query, run_query

QUERY_NAMES = sorted(all_queries())

# Deliberate nested-loop joins that remain after the round-3 whitelist
# trim (1-row THRESHOLD attachments now go through
# functions/scalars.scalar_join, a broadcast HASH join, and need no
# allowance).  What's left is genuinely non-equi or small-grid fan-out:
SCALAR_CROSS = {
    "embedding_topk",         # query-vector x corpus fan-out (Q x N scan)
    "ngram_jaccard_topk",     # query document x corpus fan-out
    "lsh_recall_audit",       # inherits embedding_topk's query-vector cross join
    "lsh_multiprobe_recall_audit",  # ditto + 5-row probe-levels cross join
    "hard_negative_mining",   # anchor-sample broadcast, label-mismatch predicate
    "embedding_topk_sq",      # query-vector broadcast (quantized candidate scan)
    "matryoshka_recall_audit",  # inherits embedding_topk's query-vector cross join
    "knn_label_accuracy",     # ditto (brute-force pairs feed the vote)
    "pr_curve_thresholds",    # 9-threshold x bounded score-grid range join
    "mmr_diversified_topk",   # query-vector fan-out feeding the MMR kernel
    "kmeans_lloyd_step",      # K-row centroid-table broadcast (Lloyd assignment)
    "trained_ivf_topk",       # same K-row centroid broadcast, x3 (train/assign/probe)
    "embedding_topk_ivf_adc", # inherits the K-row centroid crossJoin (ivf_assign)
    "ivf_probe_recall_audit", # ditto + 3-row nprobe-levels cross join
    "source_fuzzy_pairs",     # 20-row distinct-key self-join, length-banded
    "revenue_theilsen_trend", # daily-aggregate pair expansion (n_days^2/2)
    "locf_value_15min",       # spine x |event types| tiny-relation grid
    "sql_udf_revenue",        # 4-row discount-band table function, range-joined
    "decontam_threshold_sweep",  # 4-row threshold grid x per-doc hit counts
}

# Single-partition windows allowed ONLY over relations whose size is
# bounded by something other than the data (the round-4 global-window
# rule; unbounded ones were rewired onto functions/ranks.py —
# ngram_zipf_slope, conversion_latency_stats, revenue_gini,
# rfm_segments, clv (deciling), equi_depth_histogram,
# source_quantile_normalize, zorder_layout_stats).  Each entry names
# its bound:
BOUNDED_GLOBAL_WINDOW = {
    "approx_topk_event_types",   # exploded approx_top_k sketch: <= 5 rows
    "auc_quality_langid",        # 2dp score grid: <= ~10^4 distinct scores
    "decision_stump_train",      # split tallies over the n_chars NDV grid
    "kaplan_meier_conversion",   # KM chain over the day-grain (horizon-
                                 # bounded) step relation
    "bootstrap_revenue_ci",      # 200 bootstrap replicate means
    "calibration_bins",          # 10 reliability bins
    "chi2_independence",         # lang x source contingency grid
    "clv_pareto_deciles",        # cum-share window over the 10 deciles
    "compaction_plan",           # file manifest (metadata, not rows)
    "compaction_rewrite_roundtrip",  # same manifest-sized inventory window
    "daily_revenue_ma",          # daily spine (#days)
    "forecast_backtest_snaive",  # daily spine
    "gmv_pattern_topk",          # minutely spine (#minutes in range)
    "kfold_auc",                 # k=5 per-fold summary rows
    "knn_label_accuracy",        # N_QUERIES query rows
    "lateness_watermark_profile",  # bucket-summary relation (id-range/512)
    "leaderboard_stream",        # complete-mode top-10 sink: <= 10 rows
    "locf_value_15min",          # 15-min spine x |event types| grid
    "markov_attribution",        # <= 51-row transition matrix
    "neyman_allocation_sample",  # largest-remainder rank over <= |langs| strata
    "matryoshka_recall_audit",   # N_QUERIES rows
    "popularity_rec_hitrate",    # segment x top-5 recommendation grid
    "psi_drift_stream",          # fixed PSI bins (psi_value_drift's extractor)
    "psi_value_drift",           # fixed PSI bins
    "quantile_pinball_backtest", # decile grid x daily spine
    "residual_anomaly_days",     # daily spine
    "retrieval_eval_mrr",        # N_QUERIES rows
    "revenue_cusum_changepoints",  # daily spine
    "revenue_dod",               # daily spine
    "revenue_rolling_7d",        # daily spine
    "revenue_theilsen_trend",    # daily-pair slopes (n_days^2/2)
    "running_revenue",           # daily spine
    "seasonal_decompose_daily",  # daily spine
    "top_supplier",              # supplier-dim relation (one skinny row
                                 # per supplier; see its docstring)
}


def driver_contract_findings(
    name: str, frame: DataFrame, rows: list, oracle_df: pd.DataFrame | None
) -> list[str]:
    """Driver-safety findings for one query from its collected frame (so the
    plan is the executed one), its rows and its oracle's ``.df()``."""
    findings = [
        f"complex-typed output column {f.name}: {f.dataType.simpleString()}"
        for f in frame.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    findings += [
        str(f)
        for f in lint_plan(
            frame,
            allow_nested_loop=name in SCALAR_CROSS,
            allow_expand=True,  # cube/rollup/grouping-sets Expands are intended
            allow_global_window=name in BOUNDED_GLOBAL_WINDOW,
        )
        if f.rule != "unbounded-collect"
    ]
    spark_pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=frame.columns)
    for side, pdf in (("spark", spark_pdf), ("oracle", oracle_df)):
        # the driver's canonical form: full row sort, then factorize every
        # column (round 1's only driver error crashed here on an ArrayType
        # column: unhashable type 'list', CORRECTNESS_r01.json)
        if pdf is None:
            continue
        cols = sorted(pdf.columns)
        try:
            out = pdf[cols].sort_values(by=cols, kind="mergesort", na_position="last")
            for c in cols:
                pd.factorize(out[c])
        except Exception as exc:  # noqa: BLE001 - any crash is the finding
            findings.append(f"driver canonicalization ({side}): {type(exc).__name__}: {exc}")
    return findings


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    run = run_query(spark, name, sf_dir)
    res = run.result
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows}, oracle={res.oracle_rows})"
    findings = driver_contract_findings(name, run.frame, run.rows, run.oracle_df)
    assert not findings, f"{name}: {findings}"


class TestDriverContractCatchesPlantedFaults:
    """Each folded check must fail on a synthetic frame carrying its fault."""

    def _findings(self, df, name="synthetic", oracle_df=None):
        return driver_contract_findings(name, df, df.collect(), oracle_df)

    def test_clean_frame_passes(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, None)], "k int, v string")
        assert self._findings(df, oracle_df=df.toPandas()) == []

    def test_array_output_column(self, spark):
        df = spark.createDataFrame([(1, [1, 2]), (2, [3])], "k int, v array<int>")
        found = self._findings(df)
        assert any("complex-typed output column v" in f for f in found), found

    def test_nested_loop_join_outside_allowances(self, spark):
        a = spark.range(5).withColumnRenamed("id", "a")
        b = spark.range(3).withColumnRenamed("id", "b")
        df = a.join(b, a["a"] < b["b"])
        assert any("[nested-loop]" in f for f in self._findings(df))
        assert self._findings(df, name=sorted(SCALAR_CROSS)[0]) == []

    def test_result_that_crashes_factorize(self, spark):
        df = spark.createDataFrame([(1,), (2,)], "k int")
        oracle = pd.DataFrame({"k": [1, 2], "v": [[1], [2]]})
        found = self._findings(df, oracle_df=oracle)
        assert any("driver canonicalization (oracle): TypeError" in f for f in found), found


def test_registry_contract():
    queries = all_queries()
    assert len(queries) >= 40
    # driver contract: every oracle key has a query; every query has a doc
    for name, q in queries.items():
        assert q.builder is not None
        assert q.doc, f"{name} is missing a docstring"


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


def _edge_copy(sf_dir, tmp_path_factory, name):
    """A temp fixture dir whose parquet tables symlink the shipped ones."""
    tmp = tmp_path_factory.mktemp(name)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            os.symlink(os.path.join(sf_dir, f), tmp / f)
    return tmp


def _append_edits(sf_dir, tmp, table, edits):
    """Replace ``table`` in ``tmp`` by the shipped table plus one row per
    edit: the i-th shipped row with the edit's columns overwritten."""
    t = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    rows = [{**b, **e} for b, e in zip(t.slice(0, len(edits)).to_pylist(), edits)]
    (tmp / f"{table}.parquet").unlink()
    pq.write_table(pa.concat_tables([t, pa.Table.from_pylist(rows, schema=t.schema)]),
                   tmp / f"{table}.parquet")


_EDGE_QUERIES = ["snapshot_diff", "text_normalize", "doc_chunks_udtf", "doc_chunks",
                 # r10 rotation pins: NULL/degenerate docs must flow through
                 # the sampled-truth audit, the materialized dup-gram grain,
                 # and the vocabulary/top-term tiers without divergence
                 "minhash_audit", "dup_ngram_coverage", "top_terms",
                 "vocab_oov_rates",
                 "text_stats", "pii_redaction", "dedup_docs_exact",
                 # NULL payload must flow through every Arrow kernel as NULL
                 # metadata, not a bytes(None) crash (round-3 review)
                 "multimodal_decode", "multimodal_asset_stats", "multimodal_resize",
                 "multimodal_frame_sample", "multimodal_features", "multimodal_dedup",
                 # round-3 late additions over documents
                 "bigram_pmi_topk", "lang_confusion_matrix", "incremental_minhash_dedup",
                 "source_unigram_divergence", "dedup_rewrite_docs",
                 # doc-metadata NULLs (lang/source/n_chars) over the
                 # sampling/stats/export tier
                 "lang_quality_stats", "stratified_doc_sample", "source_mixture_sample",
                 "weighted_doc_sample", "source_id_stats", "group_sample_topk",
                 "dataset_profile", "corpus_quality_filter", "train_test_split",
                 "training_shard_assignment", "target_encoding_loo", "kfold_assignment",
                 "k_anonymity_audit",
                 # DP release: NULL lang drops before counting on both sides
                 "dp_noisy_lang_counts",
                 # Neyman: NULL lang/n_chars drop from moments AND membership
                 "neyman_allocation_sample",
                 # retrieval tier: NULL/empty/stopword-only text must not
                 # perturb postings, document length or the fused ranking
                 "bm25_topk", "hybrid_rrf_fusion",
                 # polymorphic UDTF: NULL text yields no grams on both sides
                 "ngram_udtf_topk",
                 # BPE trainer: NULL text yields no words, empty/1-char words
                 # drop below the pair census on both engines
                 "bpe_learn_merges",
                 # quantile normalization: NULL text drops, NULL source is
                 # its own rank partition on both engines
                 "source_quantile_normalize",
                 # exact AUC: NULL text drops, NULL lang counts as negative
                 "auc_quality_langid",
                 # retrieval eval: NULL/empty text contributes no postings,
                 # no labels and no grades on either engine
                 "retrieval_eval_mrr", "retrieval_eval_ndcg",
                 # calibration: NULL text drops, NULL lang is a negative
                 "calibration_bins",
                 # inverted index: NULL text posts nothing; the empty-string
                 # doc posts the '' term identically on both engines
                 "term_postings",
                 # r9 window pins — conjunctive search: NULL/empty text
                 # yields no postings, so the HAVING-count intersection is
                 # unperturbed; RAKE: NULL text explodes no phrases and the
                 # empty-string doc trims to zero candidates on both engines
                 "boolean_and_search", "rake_keyphrases",
                 # per-fold AUC: NULL text drops, NULL lang is a negative,
                 # fold hash is NULL-free (doc_id non-null)
                 "kfold_auc",
                 # contingency test: NULL lang/source are their own margin
                 # categories, counted into dof on both engines
                 "chi2_independence",
                 # threshold sweep: NULL text drops, NULL lang is negative
                 "pr_curve_thresholds",
                 # two-phase distributed rank over the vocab relation: NULL
                 # text drops before tokenize on both engines
                 "ngram_zipf_slope",
                 # r5 window pins: NULL text shingles nothing (minhash),
                 # clusters nothing (dup_clusters), contributes no bigrams
                 # (perplexity) and no tf-idf terms on either engine
                 "minhash_near_dups", "dup_clusters", "bigram_perplexity",
                 "tfidf_top_terms",
                 # r5 additions: NULL text adds no words to the BPE
                 # vocabulary (train AND encode), and DSIR's NULL-source
                 # doc lands in the raw pool (null-safe target membership)
                 "bpe_encode_tokens", "dsir_importance_sample",
                 # the ingest gate: NULL text/source rows flow through the
                 # per-batch scorer with the same NULL-safe semantics
                 "dsir_admission_stream",
                 # r6 window pins: the fused quality->pii->dedup pipeline and
                 # the streaming minhash gate must treat NULL/empty/stopword
                 # docs exactly as their batch oracles do
                 "curation_pipeline", "minhash_admission_stream",
                 # PPJoin: NULL/short docs shingle nothing, so they index no
                 # prefix and pair with nothing on either engine
                 "prefix_filter_simjoin",
                 # mixture weights: NULL text/source rows are out of the
                 # census; empty-token docs count 0 tokens on both engines
                 "temperature_mixture_weights",
                 # index IVM: NULL text posts nothing on either side of the
                 # base/delta split; merge stays pure term arithmetic
                 "index_delta_merge",
                 # tombstone subtraction: an erased NULL-text doc subtracts
                 # nothing; zero-df terms leave the vocabulary identically
                 "index_tombstone_merge",
                 # threshold sweep: NULL/short docs emit no n-grams, so they
                 # are out of the training pool denominator on both engines
                 "decontam_threshold_sweep",
                 # r7: NULL/short docs emit no trigrams; the all-stopword
                 # doc's repeated 'the a the' grams must count identically
                 "intra_doc_repetition_audit",
                 # r7: NULL text/doc_id rows are outside every corpus
                 # prefix, so the growth curve ignores them on both engines
                 "vocabulary_growth_curve",
                 # r7 policy curves over documents: NULL text shingles/
                 # tokenizes to nothing on both engines; NULL source is out
                 # of the leakage matrix
                 "jaccard_threshold_sweep", "packing_efficiency_sweep",
                 "cross_source_leakage_matrix",
                 # r8: NULL n_chars docs are unsplittable and drop on both
                 # engines; NULL lang counts as a negative label
                 "decision_stump_train"]


@pytest.fixture(scope="module")
def edge_sf_dir(sf_dir, tmp_path_factory):
    """The shipped fixture with adversarial document rows appended: NULL
    text, NULL n_chars, an all-stopword doc, and an empty-string doc —
    the real-corpus degenerate rows the synthetic fixture happens to lack.
    Round-3 review found three queries that diverged from their oracles
    (or crashed) exactly here: md5(NULL) misclassified present docs as
    'added' in snapshot_diff, DuckDB's array_to_string(empty) IS NULL broke
    text_normalize on all-stopword docs, and the UDTF chunker died on
    int(None).  This fixture keeps those paths pinned."""
    tmp = _edge_copy(sf_dir, tmp_path_factory, "edge_sf")
    edits = [
        {"doc_id": 100000, "text": None},
        {"doc_id": 100001, "text": "hello world text here", "n_chars": None},
        {"doc_id": 100002, "text": "the a the"},
        {"doc_id": 100003, "text": ""},
        # metadata NULLs: grouping/sampling keys and the weight column
        {"doc_id": 100004, "lang": None},
        {"doc_id": 100005, "source": None},
        {"doc_id": 100006, "n_chars": None},
        # NULL doc_id with real tokens: any doc_id-ordered window (the
        # packer) or doc_id-keyed relation must exclude/place it the same
        # way on both engines — Spark's ASC default is NULLS FIRST,
        # DuckDB's NULLS LAST (r7 ADVICE #1)
        {"doc_id": None, "text": "null id doc with live tokens"},
    ]
    _append_edits(sf_dir, tmp, "documents", edits)
    return str(tmp)


@pytest.mark.parametrize("name", _EDGE_QUERIES)
def test_null_and_degenerate_docs_keep_oracle_parity(spark, edge_sf_dir, name):
    res = compare_query(spark, name, edge_sf_dir)
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows}, oracle={res.oracle_rows})"


_ORDERS_EDGE_QUERIES = ["rfm_segments", "clv_pareto_deciles", "interpurchase_survival",
                        "bootstrap_revenue_ci", "parameterized_revenue_window",
                        # NULL orderdate/totalprice must group/sum identically
                        # through the committed snapshot files
                        "manifest_time_travel",
                        # order statistics: NULL totalprice drops on both
                        # sides; NULL custkey groups and sorts NULLS LAST
                        "conformal_interval", "revenue_gini",
                        # vacuum: NULL orderdate groups ride inside both
                        # committed snapshots and must survive the cleanup
                        "vacuum_orphan_files",
                        # IVM merge: NULL orderdate is its own view group,
                        # NULL totalprice sums as NULL-skipped cents on both
                        # sides of the delta split
                        "ivm_delta_merge",
                        # shared-dialect GROUP BY ALL: NULL status/priority
                        # are their own inferred groups on both engines
                        "group_by_all_revenue",
                        # r6 window pin: a NULL o_custkey probes NULL bloom
                        # positions -> both hash hits NULL-coalesce to 0 and
                        # the row counts as a filtered true-negative on both
                        # engines
                        "bloom_filter_prejoin",
                        # recommender eval: NULL orderdate/custkey orders
                        # are out of scope on both engines
                        "popularity_rec_hitrate",
                        # two-phase ntile: NULL totalprice/orderkey must land
                        # in the same bucket as DuckDB's NTILE ordering
                        "equi_depth_histogram",
                        # r7: NULL totalprice is excluded from the digit
                        # census by the explicit IS NOT NULL on both engines
                        "benford_revenue_audit",
                        # r8 IVM retraction: NULL-key orders match no CDC
                        # predicate and ride through unchanged; NULL price
                        # counts but sums nothing on both engines
                        "ivm_retract_merge",
                        # r8 branch merge: NULL key/price rows cannot be
                        # versioned and are out of the 3-way diff
                        "branch_merge_conflicts",
                        # r8 stratified uplift: NULL custkey drops at the
                        # dim join; NULL priority is control; a NULL price
                        # counts in n but adds no cents on both engines
                        "stratified_uplift_ipw",
                        # r8 WAP: the NULL-orderdate group must survive the
                        # stage->audit->publish roundtrip byte-stable (the
                        # audit gates on NULL STATUS keys and row counts;
                        # a NULL day is a legitimate group)
                        "wap_publish_gate"]


@pytest.fixture(scope="module")
def edge_orders_sf_dir(sf_dir, tmp_path_factory):
    """The shipped fixture with adversarial ORDER rows appended: NULL
    custkey (two rows, so the NULL partition has a real gap), a NULL
    orderdate inside an existing customer's history, and a NULL totalprice.
    Spark's ASC sort default is NULLS FIRST while DuckDB's is NULLS LAST —
    without explicit ``asc_nulls_last`` on every NTILE/lag ordering key the
    segmentation queries diverge exactly (and only) on rows like these."""
    import datetime

    tmp = _edge_copy(sf_dir, tmp_path_factory, "edge_orders_sf")
    some_custkey = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"), columns=["o_custkey"]
    )["o_custkey"][0].as_py()
    edits = [
        {"o_orderkey": 9000001, "o_custkey": None,
         "o_orderdate": datetime.datetime(1997, 3, 1)},
        {"o_orderkey": 9000002, "o_custkey": None,
         "o_orderdate": datetime.datetime(1997, 4, 15)},
        {"o_orderkey": 9000003, "o_custkey": some_custkey, "o_orderdate": None},
        {"o_orderkey": 9000004, "o_custkey": some_custkey, "o_totalprice": None},
    ]
    _append_edits(sf_dir, tmp, "orders", edits)
    return str(tmp)


@pytest.mark.parametrize("name", _ORDERS_EDGE_QUERIES)
def test_null_order_rows_keep_oracle_parity(spark, edge_orders_sf_dir, name):
    res = compare_query(spark, name, edge_orders_sf_dir)
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows}, oracle={res.oracle_rows})"


_EVENTS_EDGE_QUERIES = [
    "gmv_minutely", "gmv_hourly", "gmv_sliding", "funnel_hourly",
    "dropoff_hourly", "payment_hourly", "dedup_events", "user_sessions",
    "event_transition_matrix", "gmv_local_tz_daily", "dpp_partitioned_join",
    "value_histogram", "csv_source_stats", "event_value_moments",
    "retention_filter", "user_activity_1h", "kafka_payload_roundtrip",
    "event_path_ngrams", "active_alerts",
    # streaming twins: the ingest-stage event-time policy must hold through
    # the watermark/stateful machinery, not just the batch helpers
    "gmv_stream_minutely", "dedup_stream_counts", "funnel_stream_hourly",
    "session_stream", "session_dynamic_stream", "session_window_stats",
    "session_dynamic_gap_stats", "unique_buyers_stream",
    "corrupt_dlq_roundtrip",
    # keyless binned interval join: NULL ts must not bin, NULL value must
    # not perturb the peak-minute ranking or the attributed revenue
    "promo_window_attribution",
    # statestore/restart queries: NULL event_ids flow through dedup state
    "state_store_inspect", "checkpoint_resume_stream",
    # r10 rotation pins: the never-witnessed streaming tail must hold the
    # same NULL policies through stateful monitors, sketch stores and the
    # asymmetric-watermark joins...
    "user_stats_stream", "segment_revenue_stream",
    "unattributed_purchases_stream", "unattributed_asym_watermark_stream",
    "unique_buyers_bitmap_stream", "histogram_stream_quantiles",
    "heavy_hitters_cms_stream",
    # ...and the batch-side rotation pins: CUSUM over the daily rollup
    # (NULL ts/value rows excluded identically) and the GDPR erasure
    # export (NULL user ids are nobody's data — dropped on both engines)
    "revenue_cusum_changepoints", "user_erasure",
    # update-mode changelog: NULL-ts rows must drop on BOTH sides of the
    # capture/replay roundtrip
    "changelog_replay_stream",
    # backtest scoring: NULL ts drops, NULL value defaults to 0 cents
    "forecast_backtest_snaive", "quantile_pinball_backtest",
    "holt_forecast_backtest", "seasonal_decompose_daily",
    "residual_anomaly_days",
    # agg-state reader: NULL-ts purchases form a NULL-key state row that
    # must match the oracle's NULL group
    "agg_state_inspect",
    # privacy pair: NULL hour/type form their own QI cells on both engines
    "l_diversity_audit",
    # drift monitor: NULL ts/value rows are excluded from BOTH halves
    # (batch and streaming twins share one oracle)
    "psi_value_drift", "psi_drift_stream",
    # largest-remainder split: NULL-value purchases drop; NULL click ids
    # tie-break identically (asc_nulls_last) inside the touch ranking
    "attribution_linear_cents",
    # t-closeness: NULL hour is its own QI cell, NULL event_type its own
    # sensitive value (null-safe joins on both engines)
    "t_closeness_audit",
    # markov journeys: NULL user/ts/type rows are out of scope on both
    # sides; NULL event_id tie-breaks nulls-last in the sequencing
    "markov_attribution",
    # experimentation ladder: NULL users drop, NULL ts purchases belong to
    # neither period, NULL values count 0 cents on both engines
    "cuped_did_lift",
    # compaction: NULL-ts rows belong to no file on either engine
    "compaction_plan",
    # skew diagnosis: the NULL key is a diagnosable key, nulls-last ties
    "skew_key_diagnosis",
    # shrinkage: NULL users are out of the population on both engines
    "eb_rate_shrinkage",
    # complete-mode board: NULL users drop, NULL values count 0 cents,
    # NULL-ts purchases still count (no event-time involvement)
    "leaderboard_stream",
    # lambda splice: both layers drop NULL-ts, sum scaled-long cents; the
    # NULL-value purchase counts with 0 gmv on both engines
    "lambda_unified_gmv",
    # two-phase rank paths over events: NULL ts/user must flow through the
    # range-repartition + local-rank machinery as the oracle orders them
    # (hilbert shares zorder's NULLS LAST layout-ordering discipline)
    "conversion_latency_stats", "zorder_layout_stats", "hilbert_layout_stats",
    # r7 window pin: GD steps — NULL user/ts/value rows leave the feature
    # matrix and the label identically on both engines
    "logreg_sgd_step",
    # r5 window pins over events: the funnel join + payment re-rollup
    # (NULL type/user/ts groups), the HLL sketch (bounds-oracle since r9:
    # exact leg + envelope boolean hash-check; NULL ts drops, NULL users
    # leave both the exact and approx distinct counts), the Derby MERGE
    # roundtrip, the Variant JSON path (NULL
    # props), the DataSource feed (reads no fixture table — invariance
    # pin), CDC latest-per-key and LOCF gap fill (NULL ts/value), the
    # three-way watermarked stream join, and the MATCH_RECOGNIZE-style
    # pattern top-k (NULL ts/type rows leave every journey unchanged)
    "payment_rollup", "complete_funnel", "approx_unique_users_hourly",
    # r9 bounds-oracle conversions (verdict task #7): the merged-HLL
    # monthly rollup and the GK percentile audit — NULL value groups
    # yield NULL estimates, defined TRUE via coalesce on both engines
    "hll_users_daily_to_monthly", "approx_value_percentiles",
    "jdbc_upsert_roundtrip", "python_datasource_feed", "variant_props_stats",
    "cdc_apply_latest", "locf_value_15min", "journey_stream_join",
    "gmv_pattern_topk",
    # agg->agg->join streaming chain: NULL-ts rows drop before the window,
    # NULL values skip the cents sum, on both engines
    "complete_funnel_stream",
    # r6 window pin: the ORC roundtrip must carry NULL value/ts/type rows
    # through the writer/reader pair byte-identically to the parquet oracle
    "orc_source_stats",
    # KMV sketch: NULL users are out of every set; ties at the k-th hash
    # break on user_id identically on both engines
    "kmv_set_overlap",
    # watermark advisor: NULL ts/event_id rows are unprofileable and drop
    # identically before the prefix-max on both engines
    "lateness_watermark_profile",
    # user-level DP: NULL users/ts are out of scope, NULL value clips as 0
    "dp_user_day_revenue",
    # PIT assembly: NULL user/ts rows are unassemblable and drop; a NULL
    # value purchase labels 0 cents and feeds 0 into later revenue frames
    "pit_feature_assembly",
    # deletion vectors: NULL-ts rows belong to no file; NULL users never
    # request erasure; positions stay dense per file on both engines
    "deletion_vector_scan",
    # executed compaction: NULL-ts rows never land in a source file, NULL
    # event_ids skip the distinct census, NULL values compact as 0 cents
    "compaction_rewrite_roundtrip",
    # sizing advisor: NULL strings size as 0 bytes on both engines
    "shuffle_sizing_advisor",
    # double-fire audit: NULL id/user/type/ts rows are unpairable and drop
    # identically before the bucketed self-join
    "telemetry_double_fire_audit",
    # per-batch refreshed dimension: NULL ts drops at chunking, NULL type
    # drops at the dim join, NULL value counts 0 cents on both engines
    "dim_refresh_stream",
    # r7 additions: in-session funnel (NULL user/ts unsessionizable; the
    # tied NULL-event_id purchase must sequence NULLS LAST) and the LTV
    # triangle (NULL user/ts out of cohort scope, NULL value = 0 cents)
    "session_funnel_conversion", "cohort_ltv_triangle",
    # r7 events-table policy/audit queries: NULL ts drops before windows/
    # partitions; NULL event_type is its own QI cell (kanon) and the Hive
    # default partition excluded by the purchase predicate (evolution);
    # NULL value clips to 0 cents; NULL user drops from conversion scope
    "kanon_generalization_ladder", "conversion_window_sweep",
    "partition_evolution_scan", "schema_drift_audit",
    # per-batch monitor: NULL ts drops at the chunker; NULL user/type/value
    # count into the right batch's null tallies on both engines
    "column_stats_stream",
    # schema census: NULL props fingerprint as the NULL shape; NULL
    # event_type is its own census group on both engines
    "props_schema_census",
    # power advisor: NULL user/ts units are out of the randomization
    # population on both engines (same gate as conversion_rate_ci)
    "experiment_power_advisor",
    # HHI: NULL user/ts purchases are out of scope; the NULL-value purchase
    # sums 0 cents and is excluded as a zero-share buyer on both engines
    "revenue_concentration_hhi",
    # r8 survivorship: NULL user/type/ts rows are unclusterable and drop;
    # the tied NULL-event_id member tie-breaks via the 2^62 sentinel
    "golden_record_survivorship",
    # r8 ACF: NULL-ts purchases are out of the daily series; NULL values
    # count 0 cents on both engines
    "revenue_acf",
    # r8 advisor: NULL-ts rows belong to no layout partition; NULL values
    # length 0 and IS-DISTINCT-FROM run comparison are null-safe both sides
    "encoding_advisor",
    # r8 heatmap: NULL-ts rows unbinnable; NULL value is its own -1 bracket
    "hour_value_heatmap",
    # r8 group folds: NULL users belong to no entity and are excluded;
    # NULL values count 0 cents on both engines
    "group_kfold_assignment",
    # r8 streaming MDM store: the same cluster/survivor policy as the
    # batch twin must hold through the multi-batch partial merge
    "golden_record_stream",
    # r8 gap sweep: NULL user/ts rows are unsessionizable and drop; the
    # tied NULL-id row breaks via the 2^62 sentinel on both engines
    "session_gap_sensitivity",
    # r8 KM: NULL user/ts rows are out of the population; a NULL-value
    # purchase still converts (the event is the purchase, not its amount)
    "kaplan_meier_conversion",
    # r8 DSAR: NULL users belong to no data subject on both engines;
    # NULL values/props count into the bundle's tallies identically
    "dsar_access_export",
    # r8 purged folds: NULL-ts events are out of the day series on both
    # engines; NULL values count 0 cents in either split
    "purged_timeseries_folds",
    # r8 SNM blocking: NULL id/user/type/ts rows are unsortable/unpairable
    # and drop before the rank on both engines
    "sorted_neighborhood_pairs",
    # r8 state advisor: NULL ts/type rows join no minute cell; a NULL
    # props payload counts the fixed row overhead only on both engines
    "stream_state_size_advisor",
    # r8 burst episodes: NULL ts/type rows belong to no hour cell
    "event_burst_detection",
    # r8 SRM: NULL users are outside the randomization population
    "ab_srm_check",
    # r8 sweep-line: NULL user/ts rows are nobody's session interval
    "peak_concurrent_sessions",
    # r8 Holt-Winters: NULL-ts purchases are out of the daily series,
    # NULL values fold as 0 cents — same policy as the Holt twin
    "holt_winters_backtest",
    # r8 streaming burst twin: NULL-ts rows never enter the feed (they
    # belong to no day file) and the batch oracle drops them identically;
    # NULL event_type rows are filtered in the per-batch fold
    "burst_detection_stream",
    # r9 window pins — the streaming rotation: every stream twin must
    # carry the NULL-ts/user/type/value/props rows through its file feed,
    # watermarked state and (for the join family) both join sides exactly
    # as the batch oracle drops or groups them
    "cart_abandonment_stream", "funnel_completion_stream",
    "multi_metric_stream", "gmv_cascade_stream", "attribution_stream_join",
    "click_purchase_full_outer_stream", "attributed_clicks_semi_stream",
    "gmv_sliding_stream",
    # r9 DataSource sink roundtrip: reads no fixture table — invariance
    # pin (same class as python_datasource_feed above)
    "python_datasource_sink_roundtrip",
]


@pytest.fixture(scope="module")
def edge_events_sf_dir(sf_dir, tmp_path_factory):
    """The shipped fixture with adversarial EVENT rows appended: NULL value,
    NULL user_id, NULL event_type, NULL props, and a NULL timestamp.  The
    NULL-ts row is the sharp one: Spark's ``window()`` silently drops it
    while ``date_trunc(NULL)`` in an oracle would keep a NULL-window group,
    and NULL ordering positions differ per engine inside lag/lead windows —
    the whole event-time family now drops unwindowable rows EXPLICITLY on
    both sides (functions/windows.py policy), which this fixture pins."""
    tmp = _edge_copy(sf_dir, tmp_path_factory, "edge_events_sf")
    edits = [
        # the EMPTY JSON object: a valid payload whose key set is empty —
        # the '' shape, distinct from the NULL/malformed shape (r7 ADVICE
        # #2: DuckDB's array_to_string(empty) is NULL, Spark's array_join
        # is '', so props_schema_census diverged on exactly this payload)
        {"event_id": 900000, "props": "{}"},
        {"event_id": 900001, "value": None},
        {"event_id": 900002, "user_id": None},
        {"event_id": 900003, "event_type": None},
        {"event_id": 900004, "props": None},
        {"event_id": 900005, "ts": None},
        # keyless messages: the wire contract (kafka_payload_roundtrip)
        # drops them on BOTH sides; everything else groups NULL ids
        {"event_id": None},
        {"event_id": None, "user_id": None},
        # a keyless PURCHASE tied on (user, ts) with a real row: Spark's
        # default ASC is NULLS FIRST, DuckDB's NULLS LAST, so any window
        # ordered by (ts, event_id) that feeds cumulative features/lags
        # diverges on exactly this row unless both engines pin NULLS LAST
        # (r6 ADVICE #1 — pit_feature_assembly's tie was previously
        # untriggered because no tied NULL-id row was a purchase)
        {"event_id": None, "event_type": "purchase", "value": 37.5},
    ]
    _append_edits(sf_dir, tmp, "events", edits)
    return str(tmp)


@pytest.mark.parametrize("name", _EVENTS_EDGE_QUERIES)
def test_null_event_rows_keep_oracle_parity(spark, edge_events_sf_dir, name):
    res = compare_query(spark, name, edge_events_sf_dir)
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows}, oracle={res.oracle_rows})"


_LINEITEM_EDGE_QUERIES = [
    "pricing_summary", "top_customers", "top_orders_per_customer",
    "order_details", "shipping_priority", "order_priority_check",
    "returned_item_ranking", "large_volume_customers", "bracket_revenue",
    "region_revenue", "enrich_lineitem", "min_cost_supplier",
    "discount_revenue_potential", "nation_market_share", "product_type_profit",
    "important_part_values", "customer_order_distribution", "top_supplier",
    "small_qty_order_revenue", "dominant_part_suppliers", "late_sole_supplier",
    # r10 rotation pin: NULL ship/commit dates must not count as late
    "late_ship_priority",
    "idle_rich_customers", "window_shoppers", "above_avg_orders",
    "orders_vs_customer_avg", "big_spender_nations", "supplier_triangles",
    "copurchase_pairs", "salted_priority_revenue", "bucketed_order_join",
    # NULL part/supplier attributes ride the same fixture
    "supplier_part_variety", "nation_trade_volume", "local_supplier_volume",
    "promo_revenue", "scd2_pit_lookup",
    # the DQ gate: NULL keys/values must hit exactly one constraint each
    "dq_expectations",
    # two-phase rank at fact grain: NULL prices filter identically before
    # the range repartition on both engines
    "exact_price_percentiles",
    # NULL supp/part keys must drop from edges but keep their NULL node
    "supplier_components",
    "supplier_components_star",
    # r6 window pin: recursive CTE walk — NULL supp/part keys form no edge,
    # so the frontier expansion is NULL-free on both engines
    "recursive_reachability",
    # r5 window pins: the lateral top-N per order (NULL keys/prices rank
    # nulls-last identically) and the salted-join rewrite (NULL keys salt
    # and group like any other key on both engines)
    "lateral_top_lineitems",
    "salted_join_rewrite",
    # r8 record linkage: NULL c_name/c_custkey rows produce NULL dirty
    # strings and variants, which the equi-join drops on both engines
    "symspell_typo_linkage",
    # r8 link prediction: NULL supp/part keys form no incidence edge
    "supplier_link_prediction",
    # r8 LPA communities: NULL supp/part keys form no edge, so the label
    # rounds run over a NULL-free adjacency on both engines
    "label_propagation_communities",
    # r8 skyline: NULL quantity rows add no volume units; NULL suppkey
    # lineitems match no supplier on either engine
    "supplier_pareto_frontier",
    # r8 k-core: NULL supp/part keys form no edge, so every peel round
    # runs over a NULL-free adjacency on both engines
    "kcore_decomposition",
]


@pytest.fixture(scope="module")
def edge_lineitem_sf_dir(sf_dir, tmp_path_factory):
    """The shipped fixture with adversarial LINEITEM and CUSTOMER rows:
    NULL order/part/supp keys (join keys that must drop consistently), NULL
    quantity/price/discount+tax (the money-discipline inputs), NULL custkey/
    name/acctbal.  Found one real bug on first run: `order_details`'
    aggregate-then-join counted a NULL-partkey group where COUNT(DISTINCT)
    skips NULLs — this fixture keeps the whole TPC-H family pinned."""
    tmp = _edge_copy(sf_dir, tmp_path_factory, "edge_li_sf")
    ledits = [
        {"l_orderkey": None}, {"l_partkey": None}, {"l_suppkey": None},
        {"l_quantity": None}, {"l_extendedprice": None},
        {"l_discount": None, "l_tax": None},
    ]
    _append_edits(sf_dir, tmp, "lineitem", [
        dict(e, l_linenumber=90 + i)  # keep (orderkey, linenumber) unique
        for i, e in enumerate(ledits)
    ])
    _append_edits(sf_dir, tmp, "customer",
                  [{"c_custkey": None}, {"c_name": None}, {"c_acctbal": None}])
    _append_edits(sf_dir, tmp, "part",
                  [{"p_type": None}, {"p_brand": None}, {"p_retailprice": None}])
    _append_edits(sf_dir, tmp, "supplier", [{"s_nationkey": None}, {"s_name": None}])
    return str(tmp)


@pytest.mark.parametrize("name", _LINEITEM_EDGE_QUERIES)
def test_null_lineitem_rows_keep_oracle_parity(spark, edge_lineitem_sf_dir, name):
    res = compare_query(spark, name, edge_lineitem_sf_dir)
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows}, oracle={res.oracle_rows})"


_EMBEDDINGS_EDGE_QUERIES = [
    # drift monitor: NULL/ragged vectors drop at the shared gate
    "embedding_drift_centroid",
    # r7 outlier audit: NULL/ragged vectors drop at the same gate before
    # the per-dim moments or the scoring fold ever see them
    "embedding_outlier_topk",
    # Fisher audit: NULL/ragged vectors and NULL labels drop identically
    "fisher_discriminative_dims",
    "embedding_topk", "embedding_topk_pandas", "embedding_topk_ivf",
    "embedding_topk_lsh", "embedding_topk_lsh_multiprobe", "embedding_topk_sq",
    "lsh_recall_audit", "lsh_multiprobe_recall_audit", "embedding_norms_arrow",
    "embedding_centroids", "embedding_centroids_arrow", "embedding_quantize",
    "embedding_near_dups", "kmeans_lloyd_step", "hard_negative_mining",
    "trained_ivf_topk", "hybrid_rrf_fusion", "matryoshka_recall_audit",
    "knn_label_accuracy", "mmr_diversified_topk",
    "embedding_top_pc", "semantic_dedup", "semantic_dedup_autoblock",
    # PQ: the NULL/ragged rows must drop at the load gate in BOTH engines
    # before subspace slicing ever sees them (the stream twin gates inline)
    "embedding_topk_pq", "embedding_topk_pq_rerank", "pq_encode_stream",
    # the composed IVF-ADC + the probe audit share the load gate for BOTH
    # indexes (NULL/ragged vectors must drop before either codebook trains)
    "embedding_topk_ivf_adc", "ivf_probe_recall_audit",
    "training_record_export", "cogrouped_doc_vec_profile", "negative_samples",
    # NULL orderdate also rides this fixture (calendar-frame policy)
    "daily_revenue_ma",
]


@pytest.fixture(scope="module")
def edge_embeddings_sf_dir(sf_dir, tmp_path_factory):
    """The shipped fixture with adversarial EMBEDDING rows (NULL vector,
    NULL label, EMPTY vector) plus a NULL-orderdate / NULL-totalprice order.
    Before the `load_valid_embeddings` gate, the empty vector was a
    job-killing ANSI DIVIDE_BY_ZERO inside the cosine kernels, the Arrow
    kernels crashed reshaping the ragged batch, and the DuckDB oracles
    errored outright on NULL vectors — the gate drops invalid vectors
    explicitly on both sides, once, for the whole family."""
    tmp = _edge_copy(sf_dir, tmp_path_factory, "edge_emb_sf")
    eedits = [
        {"vec_id": 800001, "embedding": None},
        {"vec_id": 800002, "label": None},
        {"vec_id": 800003, "embedding": []},
    ]
    _append_edits(sf_dir, tmp, "embeddings", eedits)
    oedits = [
        {"o_orderkey": 9100001, "o_orderdate": None},
        {"o_orderkey": 9100002, "o_totalprice": None},
    ]
    _append_edits(sf_dir, tmp, "orders", oedits)
    return str(tmp)


@pytest.mark.parametrize("name", _EMBEDDINGS_EDGE_QUERIES)
def test_null_embedding_rows_keep_oracle_parity(spark, edge_embeddings_sf_dir, name):
    res = compare_query(spark, name, edge_embeddings_sf_dir)
    assert res.ok, f"{name}: {res.detail} (spark={res.spark_rows}, oracle={res.oracle_rows})"
