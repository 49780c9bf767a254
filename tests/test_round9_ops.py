"""Round-9 additions: the round-delta ledger gate (VERDICT r8 task #2 —
ROUND_DELTAS.jsonl went stale for two rounds even though the script worked),
the machine-measured bench noise band (task #3), and regression pins for the
r8 ADVICE fixes and the bounds-oracle sketch conversions (task #7)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent


class TestRoundDeltaLedger:
    def test_ledger_covers_every_driver_round(self):
        """Every round that has a driver CORRECTNESS/BENCH file must have a
        line in ROUND_DELTAS.jsonl — the r7/r8 lines existed only as README
        prose until r9 backfilled them; this gate makes a missing line a
        test failure at close instead of a judge finding."""
        import re

        rounds = set()
        for p in REPO.glob("CORRECTNESS_r*.json"):
            m = re.search(r"_r(\d+)\.json$", p.name)
            if m:
                rounds.add(int(m.group(1)))
        for p in REPO.glob("BENCH_r*.json"):
            m = re.search(r"_r(\d+)\.json$", p.name)
            if m:
                rounds.add(int(m.group(1)))
        assert rounds, "no driver round files found"
        ledger = REPO / "ROUND_DELTAS.jsonl"
        assert ledger.exists(), "ROUND_DELTAS.jsonl missing"
        recorded = {
            json.loads(ln)["round"]
            for ln in ledger.read_text().splitlines()
            if ln.strip()
        }
        missing = sorted(rounds - recorded)
        assert not missing, (
            f"ROUND_DELTAS.jsonl lacks lines for driver rounds {missing}: "
            "run python scripts/round_delta.py --round N"
        )

    def test_ledger_one_line_per_round_sorted(self):
        lines = [
            json.loads(ln)
            for ln in (REPO / "ROUND_DELTAS.jsonl").read_text().splitlines()
            if ln.strip()
        ]
        rounds = [ln["round"] for ln in lines]
        assert rounds == sorted(set(rounds)), rounds


class TestNoiseBandClassification:
    """bench.py (r9+) emits noise_band_pct; round_delta.py classifies warm
    deltas against max(10%, band) while cold deltas keep the plain 10%
    threshold.  Unit-tested on synthetic bench files so the logic is pinned
    without a 3-minute bench run."""

    def _delta(self, tmp_path, prev: dict, cur: dict) -> dict:
        sys.path.insert(0, str(REPO / "scripts"))
        try:
            import round_delta
        finally:
            sys.path.pop(0)
        p1 = tmp_path / "BENCH_r97.json"
        p2 = tmp_path / "BENCH_r98.json"
        p1.write_text(json.dumps(prev))
        p2.write_text(json.dumps(cur))
        return round_delta.bench_delta(str(p1), str(p2))

    def test_warm_delta_inside_band_is_not_structural(self, tmp_path):
        out = self._delta(
            tmp_path,
            {"value": 10.0, "queries": {"q": 1.0}, "noise_band_pct": 0.0},
            {"value": 12.0, "queries": {"q": 1.2}, "noise_band_pct": 25.0},
        )
        assert out["warm_threshold_pct"] == 25.0
        assert out["warm_regressions_gt_band"] == {}
        assert "q" in out["warm_within_noise_band"]
        assert out["warm_within_noise_band"]["q"]["pct"] == 20.0

    def test_warm_delta_beyond_band_is_structural(self, tmp_path):
        out = self._delta(
            tmp_path,
            {"value": 10.0, "queries": {"q": 1.0}, "noise_band_pct": 5.0},
            {"value": 14.0, "queries": {"q": 1.4}, "noise_band_pct": 15.0},
        )
        assert out["warm_threshold_pct"] == 15.0
        assert "q" in out["warm_regressions_gt_band"]

    def test_band_floor_is_10pct_and_cold_keeps_plain_threshold(self, tmp_path):
        # band smaller than the floor -> floor holds; cold regressions are
        # judged at 10% regardless of the warm band
        out = self._delta(
            tmp_path,
            {"value": 10.0, "queries": {"q": 1.0}, "cold": {"q": 2.0},
             "noise_band_pct": 2.0},
            {"value": 10.0, "queries": {"q": 1.05}, "cold": {"q": 2.5},
             "noise_band_pct": 3.0},
        )
        assert out["warm_threshold_pct"] == 10.0
        assert out["warm_regressions_gt_band"] == {}
        assert "q" in out["cold_regressions_gt_10pct"]

    def test_pre_band_rounds_fall_back_to_floor(self, tmp_path):
        # r7/r8 files carry no noise_band_pct: the scan degrades to the
        # plain 10% threshold instead of crashing
        out = self._delta(
            tmp_path,
            {"value": 10.0, "queries": {"q": 1.0}},
            {"value": 12.0, "queries": {"q": 1.2}},
        )
        assert out["warm_threshold_pct"] == 10.0
        assert "q" in out["warm_regressions_gt_band"]


class TestBoundsOracleSketches:
    """The three approx sketches are hash-checked bounds-oracles since r9
    (VERDICT r8 task #7): exact twin + envelope boolean.  Pin that the
    envelope booleans actually hold on the fixture (the oracle asserts
    literal TRUE, so a FALSE here is a driver hash mismatch)."""

    @pytest.fixture(scope="class")
    def reg(self):
        from e_commerce_streaming_datapipeline_spark.plans.registry import all_queries

        return all_queries()

    def test_hll_hourly_envelope_true(self, spark, reg):
        rows = reg["approx_unique_users_hourly"].builder(spark, SF_DIR).collect()
        assert rows
        assert all(r["hll_within_envelope"] for r in rows)
        assert all(r["n_users_exact"] >= 0 for r in rows)

    def test_hll_monthly_merge_envelope_true(self, spark, reg):
        rows = reg["hll_users_daily_to_monthly"].builder(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r["merged_within_envelope"]
            assert r["events"] >= r["n_users_exact"]

    def test_gk_percentile_brackets_true(self, spark, reg):
        rows = reg["approx_value_percentiles"].builder(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r["p50_in_bracket"] and r["p90_in_bracket"] and r["p99_in_bracket"]
