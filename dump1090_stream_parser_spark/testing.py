"""Cross-engine comparison utilities (local mimic of the driver's gate).

The driver compares row-count + schema + order-insensitive value-hash
between each ``queries()`` entry and its ``oracle_sql()`` twin, with both
result sets canonicalized THROUGH PANDAS. That detail bites: DuckDB types
a raw ``SUM`` of an integer expression as HUGEINT, which pandas converts
to float64, so the driver hashes ``252685.0`` against Spark's int64
``252685`` and fails even though the values are equal. ``compare`` here
is therefore deliberately dtype-strict -- both sides go through pandas
and every numeric cell is tagged with its column's dtype kind, so an
int64-vs-float64 drift fails locally before the driver ever sees it.
(Round-1 lesson: six driver hash-fails, all this class.)
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from .tables import TABLES


def canon(v) -> str:
    """Canonical string for one cell of unknown dtype (object columns)."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return _canon_float(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _canon_float(v: float) -> str:
    if v == int(v) and abs(v) < 1e15:
        return f"{int(v)}.0"
    return repr(round(v, 9))


def _canon_cell(v, kind: str) -> str:
    """Dtype-tagged canonical form: the same number in an int column and
    a float column canonicalizes differently, mirroring the driver."""
    is_na = v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v))
    if kind in "iu":
        return "NULL" if is_na else f"i:{int(v)}"
    if kind == "f":
        return "NULL" if is_na else f"f:{_canon_float(float(v))}"
    if kind == "b":
        return f"b:{int(bool(v))}"
    if is_na:
        return "NULL"
    if hasattr(v, "item"):  # numpy scalar inside an object column
        v = v.item()
    if hasattr(v, "tolist"):  # numpy array cell (DuckDB lists)
        v = v.tolist()
    return canon(v)


def _pdf_multiset(pdf: pd.DataFrame) -> list[str]:
    cols = sorted(pdf.columns)
    kinds = {c: pdf[c].dtype.kind for c in pdf.columns}
    return sorted(
        "|".join(_canon_cell(v, kinds[c]) for c, v in zip(cols, row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def duckdb_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the testdata views the driver registers."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Return a list of mismatch descriptions (empty = parity).

    Both sides are converted to pandas first -- the same path the driver
    takes -- so dtype drift (DuckDB HUGEINT -> float64 vs Spark int64)
    fails here exactly as it would there.
    """
    s_pdf = spark_df.toPandas()
    d_pdf = con.execute(sql).df()

    problems: list[str] = []
    if sorted(s_pdf.columns) != sorted(d_pdf.columns):
        problems.append(
            f"cols spark={sorted(s_pdf.columns)} duck={sorted(d_pdf.columns)}"
        )
    if len(s_pdf) != len(d_pdf):
        problems.append(f"rowcount spark={len(s_pdf)} duck={len(d_pdf)}")
    if not problems:
        for c in s_pdf.columns:
            kinds = {s_pdf[c].dtype.kind, d_pdf[c].dtype.kind}
            # the driver hashes what pandas materializes: int-vs-float
            # on the same column is exactly the HUGEINT failure class
            if kinds in ({"i", "f"}, {"u", "f"}):
                problems.append(
                    f"dtype drift on '{c}': spark={s_pdf[c].dtype} "
                    f"duck={d_pdf[c].dtype} (HUGEINT leak? CAST the "
                    f"oracle aggregate AS BIGINT)"
                )
    if not problems:
        sm, dm = _pdf_multiset(s_pdf), _pdf_multiset(d_pdf)
        if sm != dm:
            diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
            problems.append(f"values differ, first diffs: {diff}")
    return problems
