"""Portable deterministic hashing for dedup / fingerprint operators.

Spark's built-in `hash()` (Murmur3) has no DuckDB twin, so every operator
that must be oracle-checkable derives integers from **md5**, which both
engines implement identically: take the first 15 hex digits (60 bits —
always a positive BIGINT) and parse as base-16.

Spark:   conv(substring(md5(s), 1, 15), 16, 10)::LONG
DuckDB:  ('0x' || substr(md5(s), 1, 15))::BIGINT

Seeded hash families (MinHash needs k independent functions) prepend the
seed: md5(concat(seed, ':', s)).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 60-bit hash space (15 hex digits).
HASH_BITS = 60


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT (portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def seeded_md5_long(col: Column, seed: int) -> Column:
    """k-th member of a portable seeded hash family."""
    return md5_long(F.concat(F.lit(f"{seed}:"), col))


def md5_long_hi(col: Column) -> Column:
    """Hex digits 16..30 of md5 as a second non-negative BIGINT — paired
    with md5_long it widens a key to 120 bits for operators whose hash
    collisions would DESTROY data instead of merely perturbing a
    statistic (span dedup cuts the matched tokens). At 120 bits the
    expected collision count over n keys is n²/2^121: ~2e-20 at the
    sf100 gram volume (2.4e8), and still ~5e-13 at a trillion grams —
    the documented residual false-positive cut rate."""
    return F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("long")


#: affine family modulus (Mersenne prime 2^31-1) — small enough that
#: a·h stays well inside int64 (a < 2^31, h < 2^31 ⇒ a·h < 2^62).
AFFINE_MOD = 2_147_483_647
_AFFINE_MULT = 2_654_435_761  # Knuth multiplicative constant


def affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th affine hash — identical ints on
    any engine (pure arithmetic, no RNG)."""
    a = (_AFFINE_MULT * (i + 1)) % AFFINE_MOD
    if a == 0:
        a = 1
    b = (40_503 * (i + 7)) % AFFINE_MOD
    return a, b


def affine_hash(h: Column, i: int) -> Column:
    """i-th member of the affine family over a base hash column:
    (a·(h mod p) + b) mod p. ONE md5 per value feeds the whole family —
    16× fewer md5 evaluations than seeded_md5_long for a 16-wide MinHash,
    and the arithmetic is exact int64 on every engine."""
    a, b = affine_params(i)
    return (F.lit(a) * (h % F.lit(AFFINE_MOD)) + F.lit(b)) % F.lit(AFFINE_MOD)


def affine_hash_sql(expr: str, i: int) -> str:
    """DuckDB twin of affine_hash; `expr` must be the base-hash SQL."""
    a, b = affine_params(i)
    return f"(({a} * (({expr}) % {AFFINE_MOD}) + {b}) % {AFFINE_MOD})"


def md5_long_sql(expr: str) -> str:
    """DuckDB twin of md5_long for oracle SQL composition."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"
