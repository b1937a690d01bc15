"""Exact (scaled-integer) aggregation helpers.

Cross-engine value parity rule: a SUM of doubles depends on FP
association order, which differs between Spark's partial+final
aggregation and a single-threaded engine -- and ``round()`` can't repair
it because engines disagree on decimal-boundary halves. Money columns in
this schema are exact 2-decimal values, so the deterministic form is:
scale to integer units, sum exactly (long), divide once at the end.
The single final division is bit-identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def scaled_int(col: Column, scale: int = 100) -> Column:
    """Exact integer representation of a fixed-decimal double column."""
    return F.round(col * scale, 0).cast("long")


def scaled_int_sql(expr: str, scale: int = 100) -> str:
    return f"CAST(round(({expr}) * {scale}) AS BIGINT)"
