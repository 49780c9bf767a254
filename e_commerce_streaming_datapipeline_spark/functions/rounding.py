"""Cross-engine deterministic rounding and the fixed-point money kernel.

Spark's ``round(x, n)`` is decimal-correct (BigDecimal HALF_UP over the
double's exact value); DuckDB's is ``std::round(x * 10^n) / 10^n``.  For
exact-half decimals (avg = 52.755) the two disagree by a cent.  ``fround``
reproduces DuckDB's mechanism with Spark built-ins — identical IEEE ops on
both engines ⇒ identical bits ⇒ stable value hashes (SURVEY §7 hard-part 2).

Use ``fround`` for every oracle-checked rounded column; plain ``F.round`` is
fine for display-only output.

Fixed point.  Oracle-checked sums (and integer kernels) over doubles run in
scaled longs: ``cents(x, scale)`` is ``round(x * scale, 0)`` cast to long,
summed as an integer (exact and order-independent, where a double sum's
order differs across engines and flips rounding on half-cent sums) and
divided back once at the edge.  This module is the only place the package
spells that expression; the oracle twin is ``CAST(round(x * scale) AS
BIGINT)``, written out in each oracle's SQL.

- Scales in use: 10^2 (money and quantities, the default), 10^3 (a
  windowed average of cents), 10^4 (discounted price, embedding components
  and norms), 10^6 (charge, BM25 and cosine scores, statistical terms,
  credit weights, feature values).
- ``scale`` is a Python ``int``, so the literal is an integer: ``d * 100``
  keeps a DECIMAL ``d`` decimal, while ``d * 100.0`` would turn it into a
  double and change the plan.
- Nulls: ``cents_sum(x)`` is ``sum(cents(x))`` and stays NULL for an
  all-null group; ``cents_sum_double(x)`` coalesces each value to 0.0 first,
  so an all-null group sums to 0.0.  A site whose oracle does not coalesce
  keeps ``cents_sum``.
- Headroom: 9.2e18 scaled units per sum (int64).  At 10^4 that is ~9e12
  sf-scale lineitem prices per group; a sum that could pass it switches to
  ``decimal(38, n)`` (same semantics, ~6x slower in Spark).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fround(col: Column, n: int = 2) -> Column:
    factor = float(10**n)
    return F.round(col * factor, 0) / factor


def cents(col: Column, scale: int = 100) -> Column:
    """``col`` in scaled-long fixed point: ``round(col * scale, 0)`` as long."""
    return F.round(col * scale, 0).cast("long")


def cents_sum(col: Column) -> Column:
    """Exact order-independent money sum in scaled-long cents, to be divided
    back to currency once at the edge; NULL for an all-null group."""
    return F.sum(cents(col))


def cents_sum_double(col: Column) -> Column:
    """Exact money sum as a double, nulls counted as 0.0 (oracle twin:
    ``CAST(sum(round(coalesce(x,0.0)*100)::BIGINT) AS DOUBLE)/100``)."""
    return F.sum(cents(F.coalesce(col, F.lit(0.0)))).cast("double") / 100


def decimal_avg(col: Column, count_expr: Column) -> Column:
    """Exact-decimal mean: sum as DECIMAL(18,2) (exact), cast once to
    double, divide by the given count — both engines then divide the
    IDENTICAL double, where a plain double avg can land a knife-edge
    half-cent whose rounding depends on engine-specific summation order.
    Callers wrap with ``fround``.  One definition shared by the GMV,
    payment-metrics and payment-rollup aggregate sets."""
    return F.sum(col.cast("decimal(18,2)")).cast("double") / count_expr
