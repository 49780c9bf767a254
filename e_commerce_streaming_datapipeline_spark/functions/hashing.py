"""Knuth multiplicative hashing (2654435761 mod 2^32) for deterministic
samples, splits and experiment arms, and the universal hash family mod the
Mersenne prime 2^31 - 1 that the sketches (count-min, KMV, Bloom) draw
from: plain 64-bit integer arithmetic that DuckDB evaluates bit-identically,
so every query built on it stays hash-checkable (operators/sampling.py has
the determinism rationale).  Registry-free, so any operator module can
import it without changing the query registration order."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH = 2654435761  # golden-ratio multiplicative hash constant
MOD = 2**32
PRIME = 2**31 - 1  # Mersenne prime: the universal-hash modulus


def hash32(key: Column) -> Column:
    """The 32-bit Knuth hash of a non-negative integer key, in [0, 2^32).
    The key is reduced mod 2^31 before the multiply so the product stays
    under 2^63: Spark wraps int64 where DuckDB promotes, so an unreduced
    multiply diverges past key ~3.47e9.  The full hash is a sort key for
    pseudo-random order.  SQL twin: ``hash32_sql``."""
    return (key % F.lit(2**31)) * F.lit(KNUTH) % F.lit(MOD)


def hash32_sql(key: str) -> str:
    """``hash32`` as DuckDB SQL text, for oracles."""
    return f"((({key}) % 2147483648) * 2654435761) % 4294967296"


def _check_buckets(buckets: int) -> None:
    # hash32 * buckets must stay under 2^63
    if not 1 <= buckets < 2**31:
        raise ValueError(f"buckets must be in [1, 2^31), got {buckets}")


def hash_bucket(key: Column, buckets: int) -> Column:
    """Deterministic pseudo-random bucket in [0, buckets) from a non-negative
    integer key — identical arithmetic on any engine (no RNG, no engine
    hash).  The bucket is taken from the HIGH bits of ``hash32``
    (``hash32 * buckets >> 32``): ``hash32 % buckets`` keeps the low bits,
    and for an even bucket count its parity is just ``key % 2``, so
    consecutive ids never share a bucket.  SQL twin: ``hash_bucket_sql``."""
    _check_buckets(buckets)
    return F.shiftright(hash32(key) * F.lit(buckets), 32)


def hash_bucket_sql(key: str, buckets: int) -> str:
    """``hash_bucket`` as DuckDB SQL text, for oracles."""
    _check_buckets(buckets)
    return f"(({hash32_sql(key)} * {buckets}) >> 32)"


def hash_half(key: Column) -> Column:
    """Deterministic 0/1 two-way split from a non-negative integer key: the
    HIGH bit of ``hash32``, equal to ``hash_bucket(key, 2)``.  The low bit
    is, for an odd multiplier, just ``key % 2`` — consecutive ids (a clone
    at id+1) would always land on opposite sides.  SQL twin:
    ``hash_half_sql``."""
    return F.shiftright(hash32(key), 31)


def hash_half_sql(key: str) -> str:
    """``hash_half`` as DuckDB SQL text, for oracles."""
    return f"({hash32_sql(key)} >> 31)"


def universal_hash(key: Column, a: int, b: int) -> Column:
    """The universal hash ``((key mod P) * a + b) mod P`` of an integer key,
    P = 2^31 - 1, in [0, P).  The key is reduced first so the product stays
    below (P - 1) * a < 2^63 for any a < 2^32: an unreduced multiply wraps
    int64 in Spark (DuckDB promotes) once key * a passes 2^63.  Keys in
    [0, P) hash to ``(key * a + b) mod P``.  SQL twin:
    ``universal_hash_sql``."""
    return F.pmod(F.pmod(key, F.lit(PRIME)) * F.lit(a) + F.lit(b), F.lit(PRIME))


def universal_hash_sql(key: str, a: int | str, b: int | str) -> str:
    """``universal_hash`` as DuckDB SQL text, for oracles.  ``key`` is a
    column name or a parenthesized expression; ``a`` and ``b`` may be
    column names."""
    return f"((({key} % {PRIME}) * {a} + {b}) % {PRIME})"
