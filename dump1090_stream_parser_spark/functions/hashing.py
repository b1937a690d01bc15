"""Portable deterministic hashing.

MinHash / SimHash / fingerprinting need a hash function that produces the
SAME value in Spark and in the DuckDB oracle, or correctness can't be
cross-checked. Spark's ``hash``/``xxhash64`` and DuckDB's ``hash`` are
different algorithms, so we build a 60-bit integer hash from ``md5`` --
identical, standardized output in both engines:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)::long
    DuckDB: CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)

15 hex digits = 60 bits, always non-negative, no overflow in a signed 64.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus for derived hash families (largest prime < 2^31).
MERSENNE31 = 2147483647


def portable_hash64(col: Column) -> Column:
    """60-bit non-negative integer hash of a string column (md5-based)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB SQL producing the identical value as :func:`portable_hash64`."""
    return f"CAST('0x' || substring(md5(CAST(({expr}) AS VARCHAR)), 1, 15) AS BIGINT)"


def portable_hash4_hi(col: Column) -> Column:
    """4 extra hash bits, independent of :func:`portable_hash64`: hex
    digit 16 of the same md5 (digits 1-15 feed the 60-bit hash). Lets a
    64-bit signature (e.g. SimHash) draw all its bits from one md5 run."""
    return F.conv(F.substring(F.md5(col.cast("string")), 16, 1), 16, 10).cast("long")


def portable_hash4_hi_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`portable_hash4_hi`."""
    return f"CAST('0x' || substring(md5(CAST(({expr}) AS VARCHAR)), 16, 1) AS BIGINT)"


def portable_unit_float(col: Column) -> Column:
    """Deterministic pseudo-random float in [-1, 1) from a string column.

    Used to generate random-hyperplane components identically in Spark
    and SQL: hash -> [0, 2^31) -> scale to [-1, 1).
    """
    return (portable_hash64(col) % MERSENNE31) / F.lit(MERSENNE31 / 2.0) - 1.0


def portable_unit_float_sql(expr: str) -> str:
    return (
        f"(({portable_hash64_sql(expr)}) % {MERSENNE31})"
        f" / {MERSENNE31 / 2.0} - 1.0"
    )
