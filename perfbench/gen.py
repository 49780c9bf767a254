"""Seeded input generator for the benchmark (numpy + pyarrow, no downloads).

Every table is written with the fixture schemas and value domains that the
registry queries and their DuckDB oracles expect (see FIXTURES.md part B):
five event types, ``props`` as ``{"k": int}``, a 30-day ``ts`` span and the
TPC-H-ish keys.  The generator varies the input properties the engine reacts
to: ``user_id`` skew, the duplicate-``event_id`` share and the in-watermark
out-of-order share.  One seed always gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
FIXTURE_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000
MINUTE_US = 60_000_000

# The sf0.1 fixture sizes ("~sf0.1-sized star schema").
SF01_ROWS = {
    "events": 100_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
}

_TPCH_EPOCH_US = 788_918_400_000_000  # 1995-01-01
_ORDER_DAYS = 2_404  # 1995-01-01 .. 2001-08-01
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "cold", "hot", "large", "old", "small", "red", "new")
_PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "widget", "spring", "nut")


@dataclass(frozen=True)
class EventShape:
    """The engine-visible properties of an event table."""

    n_users: int = 1_500  # the sf0.1 fixture's: one user per ~67 events
    zipf_a: float = 1.2  # user_id skew: Zipf exponent over ranked users ...
    skew_share: float = 0.6  # ... for this share of events, the rest uniform
    dup_share: float = 0.02  # rows re-using an earlier row's event_id
    ooo_share: float = 0.05  # rows displaced back in event time
    ooo_max_us: int = 5 * MINUTE_US  # displacement bound, inside the 10-min watermark
    sweep_every: int = 0  # >0: every Nth row visits users round-robin


def _write(table: pa.Table, path: str) -> None:
    # no pandas metadata and no creation timestamps: byte-identical per seed
    pq.write_table(table, path, compression="snappy", store_schema=False)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def event_columns(
    rng: np.random.Generator,
    n: int,
    start_us: int,
    span_us: int,
    shape: EventShape,
    first_id: int = 0,
    floor_us: int | None = None,
) -> dict[str, np.ndarray]:
    """Events in file order: ``ts`` ascending except for the out-of-order
    share, which is moved back by at most ``shape.ooo_max_us`` but not
    before ``floor_us`` (default ``start_us``)."""
    ts = start_us + np.sort(rng.integers(0, span_us, n))
    late = rng.random(n) < shape.ooo_share
    ts = np.where(late, ts - rng.integers(0, shape.ooo_max_us, n), ts)
    ts = np.maximum(ts, start_us if floor_us is None else floor_us)
    rank_perm = rng.permutation(shape.n_users)
    zipf = np.minimum(rng.zipf(shape.zipf_a, n) - 1, shape.n_users - 1)
    users = np.where(
        rng.random(n) < shape.skew_share,
        rank_perm[zipf],
        rng.integers(0, shape.n_users, n),
    )
    if shape.sweep_every:
        idx = np.arange(n)
        sweep = idx % shape.sweep_every == 0
        users = np.where(sweep, (first_id + idx) // shape.sweep_every % shape.n_users, users)
    event_id = first_id + np.arange(n, dtype=np.int64)
    dup = rng.random(n) < shape.dup_share
    dup[0] = False
    event_id = np.where(dup, np.maximum(event_id - rng.integers(1, 50, n), first_id), event_id)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = rng.gamma(2.0, 30.0, n)
    value = np.round(np.minimum(value, 560.0) * 100) / 100
    k = rng.integers(0, 100, n)
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": users.astype(np.int64),
        "event_type": etype,
        "value": value,
        "k": k,
    }


def events_table(cols: dict[str, np.ndarray]) -> pa.Table:
    etypes = np.array(EVENT_TYPES, dtype=object)
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": _ts(cols["ts"]),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(etypes[cols["event_type"]], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in cols["k"]], pa.string()),
        }
    )


def write_events(out_dir: str, seed: int, n: int = SF01_ROWS["events"]) -> None:
    rng = np.random.default_rng([seed, 1])
    cols = event_columns(rng, n, FIXTURE_EPOCH_US, 30 * DAY_US, EventShape())
    _write(events_table(cols), os.path.join(out_dir, "events.parquet"))


def write_star_schema(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """orders, lineitem, customer, supplier, part, nation, region."""
    rng = np.random.default_rng([seed, 2])
    n_ord = int(SF01_ROWS["orders"] * scale)
    n_li = int(SF01_ROWS["lineitem"] * scale)
    n_cust = int(SF01_ROWS["customer"] * scale)
    n_supp = int(SF01_ROWS["supplier"] * scale)
    n_part = int(SF01_ROWS["part"] * scale)
    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                  "r_name": pa.array(_REGIONS, pa.string())}),
        os.path.join(out_dir, "region.parquet"),
    )
    _write(
        pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                  "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                  "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        os.path.join(out_dir, "nation.parquet"),
    )
    _write(_customer_table(rng, n_cust), os.path.join(out_dir, "customer.parquet"))
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp), pa.float64()),
        }),
        os.path.join(out_dir, "supplier.parquet"),
    )
    adj = np.array(_PART_ADJ, dtype=object)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN, dtype=object)[rng.integers(0, len(_PART_NOUN), n_part)]
    _write(
        pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(np.array(_PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)], pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(_cents(rng, 900.0, 999.9, n_part), pa.float64()),
        }),
        os.path.join(out_dir, "part.parquet"),
    )
    _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(("F", "O", "P"), dtype=object)[rng.integers(0, 3, n_ord)], pa.string()),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord), pa.float64()),
            "o_orderdate": _ts(_TPCH_EPOCH_US + rng.integers(0, _ORDER_DAYS, n_ord) * DAY_US),
            "o_orderpriority": pa.array(np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)], pa.string()),
        }),
        os.path.join(out_dir, "orders.parquet"),
    )
    returnflag = np.array(("A", "N", "R"), dtype=object)[rng.integers(0, 3, n_li)]
    _write(
        pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_li), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
            "l_returnflag": pa.array(returnflag, pa.string()),
            "l_linestatus": pa.array(np.array(("F", "O"), dtype=object)[rng.integers(0, 2, n_li)], pa.string()),
            "l_shipdate": _ts(_TPCH_EPOCH_US + (1 + rng.integers(0, _ORDER_DAYS + 95, n_li)) * DAY_US),
        }),
        os.path.join(out_dir, "lineitem.parquet"),
    )


def _customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n), pa.float64()),
        "c_mktsegment": pa.array(np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n)], pa.string()),
    })


@dataclass(frozen=True)
class StreamPlan:
    """The frozen open-loop schedule of ``stream_ingest``.

    One file is dropped every ``file_interval_s`` wall seconds and carries
    ``events_per_file`` events.  Event time runs ``compression`` times faster
    than wall time, so one file spans ``file_interval_s * compression``
    seconds of event time: 1-minute GMV windows close every few files, the
    1-hour funnel windows close within the run, and their state is evicted.
    Each streaming query triggers every ``trigger_s`` seconds.  The first
    ``warmup_files`` of the fixed-rate phase warm the three queries up and
    are not sampled.  After the fixed-rate phase comes one burst of
    ``burst_files`` files, dropped at once.  Every ``sweep_every``-th event
    visits the users round-robin, so each user is seen at least every
    ``n_users * sweep_every / events_per_file * file_interval_s *
    compression`` event
    seconds — far inside the one-hour idle timeout of
    ``streaming_user_stats``, whose eviction would otherwise reset a user's
    counters by design.

    Where each value comes from is in NOTES.md ("Frozen stream
    parameters"); ``trigger_s`` and ``shape.n_users`` depart from the
    reference's traffic.
    """

    # 1,000 events/s: the reference's ingest bound of ~333 events/s per
    # topic over its three topics
    file_interval_s: float = 0.25
    events_per_file: int = 250
    compression: int = 600
    warmup_files: int = 24
    trigger_s: float = 6.0
    # 30,000 events: one reference trigger's cap over its three topics
    burst_files: int = 120
    shape: EventShape = EventShape(n_users=50, sweep_every=5)

    @property
    def file_span_us(self) -> int:
        return int(self.file_interval_s * self.compression * 1_000_000)

    def fixed_files(self, seconds: float) -> int:
        return int(round(seconds / self.file_interval_s))


# The legs of a traced stream run (untraced, traced, and the local[1] leg)
# follow this shorter schedule, the same in each so their figures compare:
# no warm-up files and a 10,000-event burst, so the run's three legs end
# inside its time limit.
TRACE_PLAN = StreamPlan(warmup_files=0, burst_files=40)


def write_stream_files(stage_dir: str, seed: int, n_files: int, plan: StreamPlan) -> list[str]:
    """Stage ``n_files`` event files; file ``i`` covers event time
    ``[epoch + i * span, epoch + (i + 1) * span)`` apart from its
    out-of-order rows, which reach back at most ``shape.ooo_max_us`` — less
    than the 10-minute watermark, so no row is ever too late."""
    names = []
    for i in range(n_files):
        rng = np.random.default_rng([seed, 5, i])
        cols = event_columns(
            rng,
            plan.events_per_file,
            FIXTURE_EPOCH_US + i * plan.file_span_us,
            plan.file_span_us,
            plan.shape,
            first_id=i * plan.events_per_file,
            floor_us=FIXTURE_EPOCH_US,
        )
        name = f"ev-{i:05d}.parquet"
        _write(events_table(cols), os.path.join(stage_dir, name))
        names.append(name)
    return names
