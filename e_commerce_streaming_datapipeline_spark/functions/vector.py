"""Vector math over ``array<float>`` embedding columns — JVM-side only.

Everything here compiles to Catalyst higher-order functions
(``transform``/``zip_with``/``aggregate``), so the hot path stays inside
whole-stage codegen — no Python round-trip.  A Pandas-UDF variant exists in
``operators/similarity.py`` for comparison, but built-ins win below ~1k dims.

Determinism: all math is done in DOUBLE with left-to-right summation so the
DuckDB oracle (same element order, DOUBLE[] casts) agrees to ~1e-15; results
are rounded before ranking so cross-engine top-k is stable.  ``norm_sql``
and ``cosine6_sql`` are the oracles' DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def norm_sql(e: str) -> str:
    """``norm_expr`` as DuckDB SQL text over a DOUBLE[] expression."""
    return f"sqrt(list_inner_product({e}, {e}))"


def cosine6_sql(a: str, b: str) -> str:
    """``fround(cosine_similarity_expr(a, b), 6)`` as DuckDB SQL text."""
    return f"round(list_inner_product({a}, {b}) / ({norm_sql(a)} * {norm_sql(b)}), 6)"
