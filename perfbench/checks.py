"""Correctness checks, run after the system process has exited.

Queries are compared with their DuckDB oracle through the program's own
``testing.compare`` / ``testing.duckdb_oracle``. Ingest is checked for
exactly-once delivery against an independent DuckDB parse of the bytes
the generator sent, and the reader's final answer against DuckDB over
the final table. Each function returns ``(attempted, failed, problems)``.
"""

from __future__ import annotations

import pickle
from pathlib import Path

import duckdb
import pyarrow as pa

#: Silver columns with the DuckDB types the parse yields
#: (mirrors sources.sbs1.SBS1_FIELDS).
SBS1_FIELDS = (
    ("message_type", "VARCHAR"), ("transmission_type", "INTEGER"),
    ("session_id", "INTEGER"), ("aircraft_id", "INTEGER"),
    ("hex_ident", "VARCHAR"), ("flight_id", "INTEGER"),
    ("generated_date", "VARCHAR"), ("generated_time", "VARCHAR"),
    ("logged_date", "VARCHAR"), ("logged_time", "VARCHAR"),
    ("callsign", "VARCHAR"), ("altitude", "INTEGER"),
    ("ground_speed", "DOUBLE"), ("track", "DOUBLE"), ("lat", "DOUBLE"),
    ("lon", "DOUBLE"), ("vertical_rate", "DOUBLE"), ("squawk", "VARCHAR"),
    ("alert", "INTEGER"), ("emergency", "INTEGER"), ("spi", "INTEGER"),
    ("is_on_ground", "INTEGER"),
)
COLS = ", ".join(n for n, _ in SBS1_FIELDS) + ", generated_ts"

#: DuckDB twin of the reader's query over the final table.
READER_ORACLE = """
SELECT hex_ident,
       COUNT(*) AS n_msgs,
       CAST(MAX(generated_ts) AS TIMESTAMP) AS last_seen,
       MAX(CASE WHEN lat IS NOT NULL THEN struct_pack(t := generated_ts, a := lat, o := lon) END).a AS lat,
       MAX(CASE WHEN lat IS NOT NULL THEN struct_pack(t := generated_ts, a := lat, o := lon) END).o AS lon
FROM silver
GROUP BY hex_ident
"""


class Frozen:
    """A collected answer standing in for a DataFrame in ``compare``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def check_queries(names, results: Path, data: Path, answer_errors: dict):
    """Each query's collected answer against its DuckDB oracle."""
    from dump1090_stream_parser_spark import operators
    from dump1090_stream_parser_spark.testing import compare, duckdb_oracle

    oracle = operators.oracle_sql_map()
    con = duckdb_oracle(str(data))
    problems: dict[str, list[str]] = {}
    for q in names:
        if q in answer_errors:
            problems[q] = [f"raised: {answer_errors[q]}"]
            continue
        with open(results / f"{q}.pkl", "rb") as f:
            got = pickle.load(f)
        diff = compare(Frozen(got), con, oracle[q])
        if diff:
            problems[q] = diff
    con.close()
    return len(names), len(problems), problems


def sent_lines(gen_dir: Path) -> pa.Table:
    """Every line the generator handed to the kernel, per connection."""
    lines: list[str] = []
    for path in sorted(gen_dir.glob("sent_*.txt")):
        text = path.read_bytes().decode()
        lines.extend(text.split("\n")[:-1] if text else [])
    return pa.table({"line": pa.array(lines, type=pa.string())})


def ingest_connection(gen_dir: Path, sink_dir: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB with ``expected`` (independent parse of the sent lines),
    ``bad`` (sent lines of arity != 22), ``silver`` and ``dead``."""
    con = sent_connection(gen_dir)
    squitters = sink_dir / "squitters"
    con.execute(
        "CREATE VIEW silver AS SELECT * REPLACE (CAST(generated_ts AS TIMESTAMP) AS generated_ts)"
        f" FROM read_parquet('{squitters}/**/*.parquet', hive_partitioning = true)"
    )
    dead = sink_dir / "dead_letter"
    if any(dead.glob("**/*.parquet")):
        con.execute(
            f"CREATE VIEW dead AS SELECT raw_line FROM read_parquet('{dead}/**/*.parquet')"
        )
    else:
        con.execute("CREATE VIEW dead AS SELECT NULL::VARCHAR AS raw_line WHERE false")
    return con


def sent_connection(gen_dir: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB with the ``expected`` and ``bad`` views of the sent lines."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("sent_arrow", sent_lines(gen_dir))
    con.execute(
        "CREATE TABLE sent AS SELECT rtrim(line, chr(13)) AS line,"
        " string_split(rtrim(line, chr(13)), ',') AS f FROM sent_arrow"
    )
    typed = ", ".join(
        f"TRY_CAST(NULLIF(f[{i + 1}], '') AS {t}) AS {n}"
        for i, (n, t) in enumerate(SBS1_FIELDS)
    )
    con.execute(
        f"CREATE VIEW expected AS SELECT {typed},"
        " try_strptime(f[7] || ' ' || f[8], '%Y/%m/%d %H:%M:%S.%g') AS generated_ts"
        " FROM sent WHERE len(f) = 22"
    )
    con.execute("CREATE VIEW bad AS SELECT line AS raw_line FROM sent WHERE len(f) <> 22")
    return con


def check_ingest(con: duckdb.DuckDBPyConnection):
    """Exactly-once delivery: every sent line is in silver or the dead
    letter exactly once, with the values an independent parse gives."""
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    n_sent = one("SELECT count(*) FROM sent")
    missing = one(f"SELECT count(*) FROM (SELECT {COLS} FROM expected EXCEPT ALL SELECT {COLS} FROM silver)")
    extra = one(f"SELECT count(*) FROM (SELECT {COLS} FROM silver EXCEPT ALL SELECT {COLS} FROM expected)")
    dead_missing = one("SELECT count(*) FROM (SELECT raw_line FROM bad EXCEPT ALL SELECT raw_line FROM dead)")
    dead_extra = one("SELECT count(*) FROM (SELECT raw_line FROM dead EXCEPT ALL SELECT raw_line FROM bad)")
    problems = {}
    for name, n in (
        ("silver rows lost or wrong", missing),
        ("silver rows duplicated or wrong", extra),
        ("dead-letter rows lost", dead_missing),
        ("dead-letter rows unexpected", dead_extra),
    ):
        if n:
            problems[name] = n
    # a wrong row counts twice: once missing, once extra
    return n_sent, min(n_sent, missing + extra + dead_missing + dead_extra), problems


def check_reader(con: duckdb.DuckDBPyConnection, final_pkl: Path):
    """The reader's query after the stream stopped against DuckDB."""
    from dump1090_stream_parser_spark.testing import compare

    with open(final_pkl, "rb") as f:
        got = pickle.load(f)
    diff = compare(Frozen(got), con, READER_ORACLE)
    return 1, int(bool(diff)), ({"reader final answer": diff} if diff else {})
