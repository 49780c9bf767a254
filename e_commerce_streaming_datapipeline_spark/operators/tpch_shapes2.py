"""TPC-H shapes, part 2: the ten query families not covered by
``tpch_shapes.py`` (Q2/Q6/Q8/Q9/Q11/Q13/Q15/Q17/Q20/Q21 analogs).

SURVEY.md §2.4 records the reference has no Spark-layer joins at all (the
only joins live in Postgres views, ``infrastructure/postgres/init_metrics.sql:
175-209``); §7 Phase 1 item 5 mandates the full join/subquery family.  This
module completes the classic shapes, each exercising a distinct plan family:

- Q2  per-group argmin over a derived cost relation (window-min-then-join)
- Q6  pure scan-filter-agg (the pushdown litmus test: zero joins, zero shuffle
      beyond the final 1-row agg)
- Q8  market-share: conditional-sum ratio inside one aggregate over a 6-relation
      snowflake
- Q9  profit decomposition with a LIKE-filtered dim and two-term exact money math
- Q11 group-value vs scalar-total threshold (scalar subquery as broadcast)
- Q13 LEFT OUTER join with a join-side residual predicate + double aggregation
      (distribution-of-counts)
- Q15 argmax against a reused derived relation (view + scalar max)
- Q17 per-group average threshold applied back to the detail rows
      (aggregate-then-rejoin, the decorrelated correlated-scalar-subquery)
- Q20 part-share dominance: two-level quantity rollup + fraction threshold +
      semi join chain
- Q21 sole-blame detection: per-order multi-distinct aggregate replacing the
      spec's EXISTS/NOT-EXISTS self-join pair

The fixture lacks partsupp/l_commitdate/l_receiptdate/shipmode/containers, so
predicates are re-targeted (lineitem stands in for partsupp as the
part-supplier link; ship-60-days-after-order stands in for receipt>commit;
``p_type``/``p_name`` stand in for container/name-prefix filters).  Shapes,
not spec literals, are the point.  All money/quantity comparisons run in
scaled-long cents so the DuckDB oracle hashes bit-identically (see
tpch_shapes.py rationale); ratios divide one exact long by another, which is
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from e_commerce_streaming_datapipeline_spark.functions.scalars import scalar_join
from e_commerce_streaming_datapipeline_spark.plans.registry import query
from e_commerce_streaming_datapipeline_spark.sources.batch import load_table


from e_commerce_streaming_datapipeline_spark.functions.rounding import (
    cents as _cents,
    cents_sum as _cents_sum,
)
from e_commerce_streaming_datapipeline_spark.operators.tpch_shapes import (
    _revenue_cents,
)


@query(
    "min_cost_supplier",
    oracle="""
WITH costs AS (
    SELECT
        l.l_partkey AS partkey,
        l.l_suppkey AS suppkey,
        min(round(l.l_extendedprice * 100)::BIGINT) AS cost_cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey
    JOIN nation  n ON n.n_nationkey = s.s_nationkey
    JOIN region  r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    JOIN part    p ON p.p_partkey   = l.l_partkey
    WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'SMALL'
    GROUP BY 1, 2
)
SELECT
    c.partkey,
    c.suppkey,
    CAST(c.cost_cents AS DOUBLE) / 100 AS min_cost
FROM costs c
JOIN (SELECT partkey, min(cost_cents) AS best FROM costs GROUP BY 1) b
  ON b.partkey = c.partkey AND c.cost_cents = b.best
""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (lineitem as the part-supplier cost link): for each
    small mid-size part, the European supplier(s) offering it cheapest.

    The correlated ``= (SELECT min(..))`` subquery decorrelates into a
    per-part argmin: build the (part, supplier) -> min-price relation once,
    take the per-part min, join back on equality.  Both sides of that final
    join come from the SAME shuffled relation, so Spark reuses the exchange
    (one lineitem shuffle total).  Part and the Europe supplier list prune
    before the fact join and broadcast.  Ties keep all argmin suppliers —
    deterministic, no arbitrary ``first()``."""
    part = load_table(spark, "part", sf_dir).where(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).where(F.col("r_name") == "EUROPE")
    euro_supp = (
        load_table(spark, "supplier", sf_dir)
        .join(
            broadcast(nation.join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    lineitem = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    costs = (
        lineitem.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(euro_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
        )
        .agg(F.min(_cents(F.col("l_extendedprice"))).alias("cost_cents"))
    )
    best = costs.groupBy("partkey").agg(F.min("cost_cents").alias("best"))
    return (
        costs.withColumnRenamed("partkey", "c_partkey")
        .join(
            broadcast(best),
            (F.col("c_partkey") == F.col("partkey"))
            & (F.col("cost_cents") == F.col("best")),
        )
        .select(
            "partkey",
            "suppkey",
            (F.col("cost_cents").cast("double") / 100).alias("min_cost"),
        )
    )


@query(
    "discount_revenue_potential",
    oracle="""
SELECT
    CAST(sum(round(l_extendedprice * l_discount * 100)::BIGINT) AS DOUBLE) / 100
        AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_discount_revenue_potential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue that would be gained by eliminating mid-range
    discounts on small-quantity 1996 shipments.

    The pushdown litmus test: no joins, three conjunctive predicates that
    must ALL reach the parquet scan as PushedFilters, column pruning down to
    4 of 11 lineitem columns, then a single partial+final agg to one row —
    at 100 TB this is a pure scan-rate benchmark, zero shuffle traffic
    beyond 32 partial-agg rows."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                _cents_sum(F.col("l_extendedprice") * F.col("l_discount")).cast("double")
                / 100
            ).alias("revenue")
        )
    )


@query(
    "nation_market_share",
    oracle="""
SELECT
    CAST(year(o.o_orderdate) AS INT) AS o_year,
    CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                  THEN round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT
                  ELSE 0 END) AS DOUBLE)
      / sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT)
        AS mkt_share
FROM lineitem l
JOIN part     p ON p.p_partkey    = l.l_partkey AND p.p_type = 'LARGE'
JOIN supplier s ON s.s_suppkey    = l.l_suppkey
JOIN nation  n2 ON n2.n_nationkey = s.s_nationkey
JOIN orders   o ON o.o_orderkey   = l.l_orderkey
JOIN customer c ON c.c_custkey    = o.o_custkey
JOIN nation  n1 ON n1.n_nationkey = c.c_nationkey
JOIN region   r ON r.r_regionkey  = n1.n_regionkey AND r.r_name = 'ASIA'
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
""",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of the Asian market for LARGE parts,
    per order year.

    The ratio lives INSIDE one aggregate — a conditional cents-sum over a
    total cents-sum, so no second pass and no join of two aggregates.  Both
    sums are exact longs; long/long division is bit-identical across
    engines.  Of the 6 joins, only lineitem⋈orders moves big data (one
    shuffle on orderkey); part, supplier+nation, customer+nation+region all
    prune then broadcast.  At 100 TB the ASIA-customer side prunes ~80% of
    orders before the fact shuffle."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).where(F.col("p_type") == "LARGE").select(
        "p_partkey"
    )
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).where(F.col("r_name") == "ASIA")
    supplier = (
        load_table(spark, "supplier", sf_dir)
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    asia_cust = (
        load_table(spark, "customer", sf_dir)
        .join(
            broadcast(
                nation.select("n_nationkey", "n_regionkey").join(
                    broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .join(broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    vol = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        lineitem.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0))
                ).cast("double")
                / F.sum(vol)
            ).alias("mkt_share")
        )
    )


@query(
    "product_type_profit",
    oracle="""
SELECT
    n.n_name AS nation,
    CAST(year(o.o_orderdate) AS INT) AS o_year,
    CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT
             - round(p.p_retailprice * l.l_quantity * 20)::BIGINT) AS DOUBLE) / 100
        AS profit
FROM lineitem l
JOIN part     p ON p.p_partkey   = l.l_partkey AND p.p_name LIKE '%widget%'
JOIN supplier s ON s.s_suppkey   = l.l_suppkey
JOIN nation   n ON n.n_nationkey = s.s_nationkey
JOIN orders   o ON o.o_orderkey  = l.l_orderkey
GROUP BY 1, 2
""",
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on widget-family parts per supplier nation and
    year.  The fixture has no partsupp.ps_supplycost, so unit cost is a
    deterministic stand-in — 20% of part retail price (``p_retailprice *
    l_quantity * 0.2``), which preserves the two-term profit expression the
    spec exercises.

    Both terms round to cents separately BEFORE the subtraction so Spark and
    DuckDB accumulate identical longs.  The LIKE filter prunes part before
    its broadcast; lineitem shuffles once on orderkey to meet orders (year
    is needed from the order side), supplier/nation ride along broadcast."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = (
        load_table(spark, "part", sf_dir)
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    nation = load_table(spark, "nation", sf_dir)
    supplier = (
        load_table(spark, "supplier", sf_dir)
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    amount = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))) - F.round(
        F.col("p_retailprice") * F.col("l_quantity") * 20, 0
    ).cast("long")
    return (
        lineitem.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((F.sum(amount).cast("double") / 100).alias("profit"))
    )


@query(
    "important_part_values",
    oracle="""
WITH vals AS (
    SELECT
        l.l_partkey AS partkey,
        sum(round(l.l_extendedprice * 100)::BIGINT) AS val_cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation   n ON n.n_nationkey = s.s_nationkey
    JOIN region   r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    GROUP BY 1
)
SELECT
    partkey,
    CAST(val_cents AS DOUBLE) / 100 AS total_value
FROM vals
WHERE val_cents * 1000 > (SELECT sum(val_cents) FROM vals)
""",
)
def q_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem as the stock-value link): parts whose
    Europe-supplied value exceeds 0.1% of the region's total.

    The scalar subquery total is a 1-row aggregate OVER THE SAME derived
    relation as the group values — computed once, cross-joined broadcast.
    The fraction threshold compares ``val_cents * 1000 > total_cents`` in
    pure long arithmetic: no float epsilon can flip a group in one engine
    and not the other.  At 100 TB: the region filter prunes suppliers before
    the fact join; one shuffle on partkey; the total reuses the grouped
    exchange, not a second scan."""
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).where(F.col("r_name") == "EUROPE")
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(
            broadcast(
                nation.join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    lineitem = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey", "l_extendedprice")
    vals = (
        lineitem.join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(_cents_sum(F.col("l_extendedprice")).alias("val_cents"))
    )
    total = vals.agg(F.sum("val_cents").alias("total_cents"))
    return (
        scalar_join(vals, total)
        .where(F.col("val_cents") * 1000 > F.col("total_cents"))
        .select(
            "partkey", (F.col("val_cents").cast("double") / 100).alias("total_value")
        )
    )


@query(
    "customer_order_distribution",
    oracle="""
SELECT
    c_count,
    count(*) AS custdist
FROM (
    SELECT
        c.c_custkey,
        count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
    GROUP BY 1
) per_cust
GROUP BY 1
""",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, excluding
    low-priority orders (standing in for the spec's NOT-LIKE comment filter)
    — customers with zero qualifying orders must appear in the c_count=0
    bucket, which is exactly what LEFT OUTER + count(non-null key) gives.

    The priority predicate is a JOIN-side residual, not a WHERE — moving it
    to WHERE would silently drop the zero bucket (the classic outer-join
    filter bug; the oracle pins the correct placement).  Two aggregations:
    the first shuffles on custkey, the second on the tiny count domain —
    AQE collapses it to a handful of partitions."""
    customer = load_table(spark, "customer", sf_dir).select("c_custkey")
    orders = load_table(spark, "orders", sf_dir).select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        customer.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "top_supplier",
    oracle="""
WITH rev AS (
    SELECT
        l_suppkey AS suppkey,
        sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS rev_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY 1
)
SELECT
    s.s_suppkey AS suppkey,
    s.s_name    AS name,
    CAST(r.rev_cents AS DOUBLE) / 100 AS total_revenue
FROM rev r
JOIN supplier s ON s.s_suppkey = r.suppkey
WHERE r.rev_cents = (SELECT max(rev_cents) FROM rev)
""",
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum revenue in 1996Q1.

    The spec phrases this as a view used twice (once grouped, once for the
    scalar max).  An agg-then-cross-join would plan TWO lineitem scans (the
    branches pick up different pushed isnotnull filters, canonicalize
    differently, and defeat exchange reuse), so the scalar max is instead
    an empty-frame window over the per-supplier aggregate — ONE fact scan,
    one shuffle.  The single-partition window funnels only the
    supplier-cardinality relation (one skinny row per supplier, ~16 MB even
    at 1M suppliers), never fact rows.  Equality against the exact cents
    max keeps ties (the spec's semantics) instead of an arbitrary
    limit-1."""
    from pyspark.sql.window import Window

    rev = (
        load_table(spark, "lineitem", sf_dir)
        .where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(_revenue_cents().alias("rev_cents"))
    )
    supplier = load_table(spark, "supplier", sf_dir)
    return (
        rev.withColumn("best_cents", F.max("rev_cents").over(Window.partitionBy()))
        .where(F.col("rev_cents") == F.col("best_cents"))
        .join(broadcast(supplier), F.col("suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            (F.col("rev_cents").cast("double") / 100).alias("total_revenue"),
        )
    )


@query(
    "small_qty_order_revenue",
    oracle="""
WITH stats AS (
    SELECT
        l_partkey AS partkey,
        sum(round(l_quantity * 100)::BIGINT) AS qty_cents,
        count(*) AS cnt
    FROM lineitem
    GROUP BY 1
)
SELECT
    CAST(sum(round(l.l_extendedprice * 100)::BIGINT) AS DOUBLE) / 100 / 7
        AS avg_yearly
FROM lineitem l
JOIN part  p ON p.p_partkey = l.l_partkey
           AND p.p_brand = 'Brand#3' AND p.p_type = 'ECONOMY'
JOIN stats t ON t.partkey = l.l_partkey
WHERE round(l.l_quantity * 100)::BIGINT * 5 * t.cnt < t.qty_cents
""",
)
def q_small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if orders below 20% of a
    part's average quantity were not taken (Brand#3 ECONOMY parts).

    The correlated scalar subquery (``0.2 * avg(l_quantity) where same
    part``) decorrelates into aggregate-then-rejoin on partkey.  The 20%
    threshold is long-exact: ``qty*5*cnt < sum_qty`` avoids the avg's float
    division entirely.  Note the per-part stats intentionally cover ALL
    lineitems (spec semantics) while the revenue side filters to the brand —
    the filter prunes the probe side only.  Final output divides one exact
    long by 100 then 7 in double space — same two operations, same order,
    both engines."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = (
        load_table(spark, "part", sf_dir)
        .where((F.col("p_brand") == "Brand#3") & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey")
    )
    stats = lineitem.groupBy(F.col("l_partkey").alias("partkey")).agg(
        _cents_sum(F.col("l_quantity")).alias("qty_cents"),
        F.count("*").alias("cnt"),
    )
    return (
        lineitem.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(stats, F.col("l_partkey") == F.col("partkey"))
        .where(_cents(F.col("l_quantity")) * 5 * F.col("cnt") < F.col("qty_cents"))
        .agg(
            (_cents_sum(F.col("l_extendedprice")).cast("double") / 100 / 7).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "dominant_part_suppliers",
    oracle="""
WITH shipped AS (
    SELECT
        l_partkey AS partkey,
        l_suppkey AS suppkey,
        sum(round(l_quantity * 100)::BIGINT) AS sp_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1, 2
),
totals AS (
    SELECT partkey, sum(sp_cents) AS part_cents FROM shipped GROUP BY 1
)
SELECT DISTINCT
    s.s_suppkey AS suppkey,
    s.s_name    AS name
FROM shipped sh
JOIN totals  t ON t.partkey = sh.partkey
JOIN part    p ON p.p_partkey = sh.partkey AND p.p_name LIKE '%bolt%'
JOIN supplier s ON s.s_suppkey = sh.suppkey
JOIN nation   n ON n.n_nationkey = s.s_nationkey
JOIN region   r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
WHERE sh.sp_cents * 10 > t.part_cents * 3
""",
)
def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: Asian suppliers who shipped more than 30% of 1996's
    total volume of some bolt-family part (availqty>half-shipped re-targeted
    to a share-of-shipments dominance test; lineitem stands in for partsupp).

    The per-part total is a window sum OVER the (part,supplier) aggregate —
    not a second aggregation joined back, which would scan lineitem twice
    (the two branches pick up different pushed isnotnull filters and defeat
    exchange reuse).  One fact scan, one agg shuffle on (part,supplier),
    one partkey window shuffle of the already-reduced relation.  The 30%
    fraction compares ``sp*10 > total*3`` in longs.  DISTINCT collapses a
    supplier dominating several parts — the spec's semi-join semantics
    ("there exists such a part") without an EXISTS."""
    from pyspark.sql.window import Window

    lineitem = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    shipped = lineitem.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(_cents_sum(F.col("l_quantity")).alias("sp_cents"))
    part = (
        load_table(spark, "part", sf_dir)
        .where(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).where(F.col("r_name") == "ASIA")
    asia_supp = (
        load_table(spark, "supplier", sf_dir)
        .join(
            broadcast(
                nation.join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        shipped.withColumn(
            "part_cents", F.sum("sp_cents").over(Window.partitionBy("partkey"))
        )
        .where(F.col("sp_cents") * 10 > F.col("part_cents") * 3)
        .join(broadcast(part), F.col("partkey") == F.col("p_partkey"))
        .join(broadcast(asia_supp), F.col("suppkey") == F.col("s_suppkey"))
        .select(F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("name"))
        .distinct()
    )


@query(
    "late_sole_supplier",
    oracle="""
WITH lines AS (
    SELECT
        l.l_orderkey AS orderkey,
        l.l_suppkey  AS suppkey,
        l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS is_late
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
),
per_order AS (
    SELECT
        orderkey,
        count(DISTINCT suppkey) AS n_supp,
        count(DISTINCT CASE WHEN is_late THEN suppkey END) AS n_late,
        max(CASE WHEN is_late THEN suppkey END) AS sole_late
    FROM lines
    GROUP BY 1
)
SELECT
    s.s_name AS name,
    count(*) AS numwait
FROM per_order po
JOIN supplier s ON s.s_suppkey = po.sole_late
WHERE po.n_supp > 1 AND po.n_late = 1
GROUP BY 1
""",
)
def q_late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely to blame for holding up finished
    multi-supplier orders (ship >60 days after order date stands in for the
    missing receipt/commit dates).

    The spec's EXISTS + NOT-EXISTS pair of correlated self-joins collapses
    into per-order aggregates: each (order, supplier) pair first folds to
    ``any_late``, then per order a plain count gives the suppliers, a count
    of ``when(any_late, suppkey)`` the late suppliers (NULL supplier keys
    count in neither, as in COUNT(DISTINCT)), and (when exactly one is
    late) that supplier's key via ``max(when(any_late, suppkey))`` —
    deterministic because n_late=1 means the max ranges over a single
    value.  This replaces two extra shuffles of the fact with one, the
    decisive rewrite at 100 TB.  Late-ness needs o_orderdate, so
    lineitem⋈orders shuffles on orderkey first — the same key as both
    aggregates, so Catalyst plans one exchange for all three.  No distinct
    aggregate, so no Expand: its group order would follow the JVM's
    expression-id counter and change the plan text between builds."""
    orders = load_table(spark, "orders", sf_dir).where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    lineitem = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(is_late).alias("any_late"))
        .groupBy("l_orderkey")
        .agg(
            F.count("l_suppkey").alias("n_supp"),
            F.count(F.when(F.col("any_late"), F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(F.col("any_late"), F.col("l_suppkey"))).alias("sole_late"),
        )
    )
    supplier = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (
        per_order.where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(broadcast(supplier), F.col("sole_late") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count("*").alias("numwait"))
    )
