"""Knuth multiplicative hashing (2654435761 mod 2^32) for deterministic
samples, splits and experiment arms: plain 64-bit integer arithmetic that
DuckDB evaluates bit-identically, so every query built on it stays
hash-checkable (operators/sampling.py has the determinism rationale).
Registry-free, so any operator module can import it without changing the
query registration order."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH = 2654435761  # golden-ratio multiplicative hash constant
MOD = 2**32


def hash_bucket(key: Column, buckets: int) -> Column:
    """Deterministic pseudo-random bucket in [0, buckets) from an integer
    key — identical arithmetic on any engine (no RNG, no engine hash)."""
    return (key * F.lit(KNUTH)) % F.lit(MOD) % F.lit(buckets)


def hash_half(key: Column) -> Column:
    """Deterministic 0/1 two-way split from a non-negative integer key: the
    HIGH bit of the 32-bit Knuth hash.  ``hash_bucket(key, 2)`` keeps the
    low bit, which for an odd multiplier is just ``key % 2`` — consecutive
    ids (a clone at id+1) always land on opposite sides.  The key is
    reduced mod 2^31 before the multiply so the product stays under 2^63:
    Spark wraps int64 where DuckDB promotes, so an unreduced multiply
    diverges past key ~3.47e9.  SQL twin: ``hash_half_sql``."""
    return F.shiftright((key % F.lit(2**31)) * F.lit(KNUTH) % F.lit(MOD), 31)


def hash_half_sql(key: str) -> str:
    """``hash_half`` as DuckDB SQL text, for oracles."""
    return f"(((({key}) % 2147483648) * 2654435761) % 4294967296 >> 31)"
