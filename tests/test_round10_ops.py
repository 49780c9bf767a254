"""Round-10 additions: regression pins for the second optimization round —
the reliable-checkpoint toggle (r9 ADVICE #3), the _gen_arrow overflow guard
(#1), the EXTRA_CONF malformed-entry warning (#4), the Arrow sink writer's
byte-identity with the row path (r9 VERDICT #1), the aggregate-argmin ANN
assignment (#3), and the partitioned scd2 stream store (#4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


class TestRoundCheckpoint:
    def test_local_default_truncates_lineage(self, spark, monkeypatch):
        from e_commerce_streaming_datapipeline_spark.functions.checkpoints import (
            round_checkpoint,
        )

        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
        df = round_checkpoint(spark.range(100).withColumn("x", F.col("id") * 2))
        assert df.count() == 100
        # lineage truncated: the materialized plan is a scan, not a Range
        assert "Range" not in df._jdf.queryExecution().optimizedPlan().toString()

    def test_env_toggle_uses_reliable_checkpoint(self, spark, tmp_path, monkeypatch):
        from e_commerce_streaming_datapipeline_spark.functions.checkpoints import (
            round_checkpoint,
        )

        ckdir = str(tmp_path / "ck")
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
        df = round_checkpoint(spark.range(50))
        assert df.count() == 50
        # a reliable checkpoint writes RDD blocks under the configured dir
        found = [
            os.path.join(r, f)
            for r, _, files in os.walk(ckdir)
            for f in files
        ]
        assert found, "reliable checkpoint() wrote nothing under the dir"
        # get_spark reaps unreferenced reliable checkpoints
        conf = spark.sparkContext.getConf()
        assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_gen_arrow_overflow_guard_raises():
    """A raise, not an ``assert``, so ``python -O`` keeps the guard."""
    from e_commerce_streaming_datapipeline_spark.sources.python_datasource import (
        _RangePartition,
        _gen_arrow,
    )

    with pytest.raises(OverflowError, match="overflow"):
        list(_gen_arrow(_RangePartition(0, 2**60, 1)))


def test_gen_arrow_matches_gen_rowwise():
    """The vectorized reader and the row-path stream reader must agree
    value-for-value inside the guarded range."""
    from e_commerce_streaming_datapipeline_spark.sources.python_datasource import (
        _RangePartition,
        _gen,
        _gen_arrow,
    )

    part = _RangePartition(3, 500, 7)
    (batch,) = list(_gen_arrow(part))
    assert batch.to_pylist() == [
        dict(zip(["event_id", "user_id", "event_type", "amount_cents"], t))
        for t in _gen(part)
    ]


def test_extra_conf_malformed_entry_warns(spark):
    """A typo'd ``SPARK_GRAFT_EXTRA_CONF`` entry warns and is dropped; the
    check parses the list without building a session, so the shared test
    session keeps its conf."""
    import warnings

    from e_commerce_streaming_datapipeline_spark import session as sess

    before = spark.conf.getAll
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert sess.parse_extra_conf("spark.foo=1;oops-no-equals") == {"spark.foo": "1"}
    assert any("oops-no-equals" in str(w.message) for w in caught)
    assert spark.conf.getAll == before


def test_arrow_stage_bytes_identical_to_row_stage(spark, tmp_path):
    """The batch writer's Arrow staging path must produce byte-identical
    JSONL to the row path (same dict key order, same value formatting) —
    the sink's published bytes are part of the roundtrip's hash-checked
    contract."""
    from e_commerce_streaming_datapipeline_spark.sources import (
        python_datasource as pds,
    )

    pds.register(spark)
    pds.register_sink(spark)
    out = str(tmp_path / "arrow_sink")
    feed = spark.read.format("ecommerce_replay").option("n", 400).load()
    feed.write.format("ecommerce_jsonl").option("path", out).mode("append").save()
    files, total = pds.read_manifest_files(out)
    assert total == 400
    lines = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == 400
    # byte-identity with the row path's json.dumps(row.asDict())
    got = sorted(lines)
    expected = sorted(
        json.dumps(r.asDict()) for r in feed.collect()
    )
    assert got == expected


class TestAggregateArgminAssignment:
    def test_ivf_assign_plan_has_no_window(self, spark, sf_dir):
        """r9 VERDICT #3 acceptance: the assignment plan shows the broadcast
        codebook join plus a single aggregate — no per-vector row_number
        Window over the N×K scored rows."""
        from e_commerce_streaming_datapipeline_spark.operators import (
            similarity as sim,
        )

        emb = sim.ivf_input(spark, sf_dir)
        plan = sim.ivf_assign(emb, sim.ivf_centroids(emb))._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Window" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_pq_assign_plan_has_no_window(self, spark, sf_dir):
        from e_commerce_streaming_datapipeline_spark.operators import (
            similarity as sim,
        )
        from e_commerce_streaming_datapipeline_spark.sources.batch import (
            load_valid_embeddings,
        )

        subv = sim.pq_subvectors(load_valid_embeddings(spark, sf_dir))
        seeded = subv.withColumn("lab", F.col("vec_id") % sim._PQ_K)
        plan = sim._pq_assign(subv, sim._pq_centroids(seeded))._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Window" not in plan
        assert "BroadcastHashJoin" in plan

    def test_ivf_assign_top2_ranks_match_row_number_semantics(self, spark, sf_dir):
        """top>1 output must carry the same probe ranks the former window
        produced: rn = 1..top in (d, c_label) order, per vector."""
        from e_commerce_streaming_datapipeline_spark.operators import (
            similarity as sim,
        )

        emb = sim.ivf_input(spark, sf_dir).where(F.col("vec_id") < 8)
        cents = sim.ivf_centroids(sim.ivf_input(spark, sf_dir))
        rows = sim.ivf_assign(emb, cents, top=2).select(
            "vec_id", "c_label", "d", "rn"
        ).collect()
        by_vec: dict[int, list] = {}
        for r in rows:
            by_vec.setdefault(r["vec_id"], []).append(r)
        for vid, rs in by_vec.items():
            rs.sort(key=lambda r: r["rn"])
            assert [r["rn"] for r in rs] == [1, 2]
            assert (rs[0]["d"], rs[0]["c_label"]) <= (rs[1]["d"], rs[1]["c_label"])


def test_scd2_stream_store_closed_partitions_append_only(spark, sf_dir):
    """The partitioned stream store's contract: closed rows land once and
    are never rewritten — the union of closed partitions plus the final
    current partition is exactly the batch-built SCD2 history."""
    from e_commerce_streaming_datapipeline_spark.operators.analytics import (
        q_scd2_priority_history,
    )
    from e_commerce_streaming_datapipeline_spark.operators.streaming_queries import (
        q_scd2_stream_merge,
    )

    streamed = {tuple(r) for r in q_scd2_stream_merge(spark, sf_dir).collect()}
    batch = {tuple(r) for r in q_scd2_priority_history(spark, sf_dir).collect()}
    assert streamed == batch


def test_hash_half_splits_consecutive_ids(spark):
    """The two-way sample/arm split is the Knuth hash's HIGH bit: a clone
    at id+1 can land on its source's side (the low bit is ``id % 2`` and
    always separates them; the golden-ratio step keeps ~2/phi - 1 = 23.6 %
    of consecutive pairs together), both sides hold about half the
    ids, and the DuckDB twin agrees row-for-row, also past ~3.47e9 where an
    unreduced multiply wraps int64 in Spark."""
    import duckdb

    from e_commerce_streaming_datapipeline_spark.functions.hashing import (
        hash_half,
        hash_half_sql,
    )

    ids = list(range(1000)) + [3_500_000_000 + i for i in range(50)] + [2**40 + 7]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = dict(df.select("id", hash_half(F.col("id"))).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(?::BIGINT[]) AS id", [ids])
    assert dict(con.execute(f"SELECT id, {hash_half_sql('id')} FROM t").fetchall()) == got
    assert set(got.values()) == {0, 1}
    assert 400 < sum(got[i] for i in range(1000)) < 600
    together = sum(got[i] == got[i + 1] for i in range(999))
    assert 150 < together < 850, together


def test_hash_bucket_spreads_consecutive_ids_past_int64_wrap(spark):
    """Bucketed samples, shards and folds take the Knuth hash's HIGH bits:
    with the low bits, an even bucket count gives bucket parity ==
    ``id % 2``.  All 100 buckets fill about evenly, bucket parity is
    independent of id parity, and Spark equals the DuckDB twin row for row
    (the full 32-bit hash too), also past ~3.47e9 where an unreduced
    multiply wraps int64 in Spark.  The same keys drive the two other
    hashed keys of oracle-checked queries: ``weighted_doc_sample``'s
    uniform is ``hash32(doc_id)``, and ``negative_samples``' candidate hash
    takes the id as both customer and part key."""
    import duckdb

    from e_commerce_streaming_datapipeline_spark.functions.hashing import (
        hash32,
        hash32_sql,
        hash_bucket,
        hash_bucket_sql,
    )
    from e_commerce_streaming_datapipeline_spark.operators.curation import (
        neg_candidate_hash,
        neg_candidate_hash_sql,
    )

    ids = list(range(10_000)) + [3_500_000_000 + i for i in range(50)] + [2**40 + 7]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in df.select(
            "id",
            hash_bucket(F.col("id"), 100),
            hash32(F.col("id")),
            neg_candidate_hash(F.col("id"), F.col("id"), F.lit(2)),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(?::BIGINT[]) AS id", [ids])
    oracle = con.execute(
        f"SELECT id, {hash_bucket_sql('id', 100)}, {hash32_sql('id')},"
        f" {neg_candidate_hash_sql('id', 'id', '2')} FROM t"
    ).fetchall()
    assert {r[0]: (r[1], r[2], r[3]) for r in oracle} == got
    assert all(0 <= v[2] < 2**32 for v in got.values())
    buckets = [got[i][0] for i in range(10_000)]
    assert set(buckets) == set(range(100))
    assert max(buckets.count(b) for b in range(100)) < 200
    same_parity = sum(b % 2 == i % 2 for i, b in enumerate(buckets))
    assert 4_000 < same_parity < 6_000, same_parity
    with pytest.raises(ValueError):
        hash_bucket(F.col("id"), 2**31)
