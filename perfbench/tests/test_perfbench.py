"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import analyze  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
import gen_sbs1  # noqa: E402
from spans import Span, Tracer, blocking_path, gap_outside, percentile, union_length  # noqa: E402
from statusstore import parse_size  # noqa: E402

# ------------------------------------------------------------- generator


def test_generator_is_deterministic_for_a_seed():
    a = gen_sbs1.simulated_lines(gen_sbs1.Traffic(11, 3000), 3000)
    b = gen_sbs1.simulated_lines(gen_sbs1.Traffic(11, 3000), 3000)
    c = gen_sbs1.simulated_lines(gen_sbs1.Traffic(12, 3000), 3000)
    assert a == b
    assert a != c


def test_generator_traffic_shape():
    lines = gen_sbs1.simulated_lines(gen_sbs1.Traffic(5, 20000), 20000)
    fields = [ln.rstrip("\r\n").split(",") for ln in lines]
    good = [f for f in fields if len(f) == 22]
    # every MSG type appears, each filling exactly its population-matrix fields
    assert {int(f[1]) for f in good} == set(range(1, 9))
    for f in good:
        filled = {
            name for name, v in zip(gen_sbs1.PAYLOAD, f[10:]) if v != ""
        }
        assert filled == gen_sbs1.POPULATION[int(f[1])]
    bad_share = 1 - len(good) / len(fields)
    crlf_share = sum(ln.endswith("\r\n") for ln in lines) / len(lines)
    assert 0.002 < bad_share < 0.01
    assert 0.01 < crlf_share < 0.03
    # Zipf skew: the busiest aircraft sends far more than the median one
    counts = pd.Series([f[4] for f in good]).value_counts()
    assert counts.iloc[0] > 20 * counts.median()


def test_generator_population_matches_the_parser():
    from dump1090_stream_parser_spark.sources.sbs1 import POPULATION_MATRIX

    assert gen_sbs1.POPULATION == POPULATION_MATRIX


def test_type_mix_follows_the_transmission_rates():
    mix = gen_sbs1.TYPE_MIX
    assert set(mix) == set(range(1, 9)) and abs(sum(mix.values()) - 1) < 1e-12
    # position and velocity squitters at the same rate, ten times identification
    assert mix[3] == mix[4] and abs(mix[3] / mix[1] - 10 * 0.95) < 1e-9


def test_query_mix_runs_a_fixed_number_of_passes():
    import system

    assert [system.timed_passes(s) for s in (1, 8, 20, 60)] == [2, 2, 5, 15]


def test_stamp_is_sbs1_utc_milliseconds():
    assert gen_sbs1.stamp(1_767_225_600_123) == (
        "2026/01/01,00:00:00.123,2026/01/01,00:00:00.123"
    )


def test_datagen_is_deterministic_for_a_seed():
    a, b = datagen.make_tables(3), datagen.make_tables(3)
    assert all(a[k].equals(b[k]) for k in a)
    assert not datagen.make_tables(4)["lineitem"].equals(a["lineitem"])


# ------------------------------------------------------- span arithmetic


def _span(i, start, end, parent=None, name="x:y"):
    return Span(i, name, start, end, parent, "t")


def test_union_of_job_intervals():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0
    # the driver gap: wall time not covered by any job
    assert gap_outside((0, 10), [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5.0)


def test_self_time_and_blocking_path_add_up_to_wall_time():
    root = _span(0, 0.0, 10.0, name="query:q")
    build = _span(1, 0.0, 4.0, 0, "operators:build")
    load = _span(2, 0.5, 1.5, 1, "tables:load_table")
    action = _span(3, 4.0, 10.0, 0, "driver:action")
    job_a = _span(4, 5.0, 8.0, 3, "exec:job")
    job_b = _span(5, 7.0, 9.0, 3, "exec:job")  # overlaps job_a
    spans = [root, build, load, action, job_a, job_b]
    path = blocking_path(spans, root)
    assert path == pytest.approx(
        {"operators": 3.0, "tables": 1.0, "driver": 2.0, "exec": 4.0}
    )
    assert sum(path.values()) == pytest.approx(root.duration)


def test_e2q_is_commit_minus_due_time():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE TABLE silver AS SELECT * FROM (VALUES"
        " (0, TIMESTAMP '2026-01-01 00:00:00.000'),"
        " (0, TIMESTAMP '2026-01-01 00:00:00.500'),"
        " (1, TIMESTAMP '2026-01-01 00:00:01.000')) v(batch_id, generated_ts)"
    )
    t0 = 1_767_225_600_000.0
    con.execute(
        f"CREATE TABLE commits AS SELECT * FROM (VALUES (0, {t0 + 2000.0}), (1, {t0 + 2250.0})) v(batch_id, t_ms)"
    )
    e2q = sorted(r[0] for r in con.execute(
        "SELECT CAST(t_ms AS DOUBLE) - epoch_ms(generated_ts) FROM silver JOIN commits USING (batch_id)"
    ).fetchall())
    assert e2q == [1250.0, 1500.0, 2000.0]
    assert percentile(e2q, 50) == 1500.0
    assert percentile(e2q, 90) == pytest.approx(1900.0)


def test_cpu_between_interpolates_cumulative_samples():
    series = [(0.0, 10.0), (1.0, 12.0), (2.0, 16.0)]
    assert analyze.cpu_between(series, 0.5, 1.5) == pytest.approx(3.0)


def test_backlog_is_sent_minus_committed():
    gen = {"t_steady_first_due": 0.0, "timeline": [(0.5, 100), (1.5, 300), (2.5, 300)]}
    batches = [{"sink": (0.0, 1.0), "rows": 100}, {"sink": (1.0, 2.0), "rows": 200}]
    assert analyze.backlog_max(gen, batches) == 200.0


def test_tracer_nests_spans_per_thread():
    tr = Tracer(True)
    with tr.span("query:a", trace="p0:a") as root:
        with tr.span("operators:build") as child:
            pass
    assert child.parent == root.id and child.trace == "p0:a"
    assert not Tracer(False).spans


def test_parse_size_reads_the_total():
    assert parse_size("8.0 MiB") == 8 << 20
    assert parse_size("total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 0.5 KiB)") == 1536


# ---------------------------------------------------------------- checks


def test_oracle_check_rejects_a_wrong_answer(tmp_path):
    from dump1090_stream_parser_spark import operators
    from dump1090_stream_parser_spark.testing import duckdb_oracle

    data = datagen.write_tables(tmp_path / "data", 2)
    results = tmp_path / "results"
    results.mkdir()
    right = duckdb_oracle(str(data)).execute(
        operators.oracle_sql_map()["q_group_topk"]
    ).df()
    right.to_pickle(results / "q_group_topk.pkl")
    assert checks.check_queries(["q_group_topk"], results, data, {})[:2] == (1, 0)
    right.iloc[1:].to_pickle(results / "q_group_topk.pkl")  # a row short
    attempted, failed, problems = checks.check_queries(["q_group_topk"], results, data, {})
    assert (attempted, failed) == (1, 1) and "q_group_topk" in problems
    raised = checks.check_queries(["q_group_topk"], results, data, {"q_group_topk": "boom"})
    assert raised[1] == 1


def test_ingest_check_finds_lost_duplicated_and_dead_letter_rows(tmp_path):
    gen, sink = tmp_path / "gen", tmp_path / "out"
    gen.mkdir()
    lines = gen_sbs1.simulated_lines(gen_sbs1.Traffic(9, 400), 400)
    (gen / "sent_0.txt").write_text("".join(lines))
    con = checks.sent_connection(gen)
    expected = con.execute(f"SELECT {checks.COLS} FROM expected").df()
    bad = con.execute("SELECT raw_line FROM bad").df()
    con.close()

    def write(silver: pd.DataFrame, dead: pd.DataFrame):
        import shutil

        shutil.rmtree(sink, ignore_errors=True)
        (sink / "squitters" / "batch_id=0").mkdir(parents=True)
        (sink / "dead_letter" / "batch_id=0").mkdir(parents=True)
        silver.to_parquet(sink / "squitters" / "batch_id=0" / "part-0.parquet")
        if len(dead):
            dead.to_parquet(sink / "dead_letter" / "batch_id=0" / "part-0.parquet")
        return checks.check_ingest(checks.ingest_connection(gen, sink))

    n, failed, problems = write(expected, bad)
    assert (n, failed, problems) == (400, 0, {})
    n, failed, problems = write(expected.iloc[1:], bad)  # one row lost
    assert failed == 1 and "silver rows lost or wrong" in problems
    n, failed, problems = write(pd.concat([expected, expected.iloc[:2]]), bad)  # duplicated
    assert failed == 2 and "silver rows duplicated or wrong" in problems
    n, failed, problems = write(expected, bad.iloc[1:])  # dead-letter row lost
    assert failed == 1 and "dead-letter rows lost" in problems


def test_benchmark_json_lists_the_metrics_the_runs_report():
    import json

    import run

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.E2E_UNITS.values())
    assert [m["name"] for m in spec["per_layer"]] == list(analyze.PER_LAYER_UNITS)
    assert [m["unit"] for m in spec["per_layer"]] == list(analyze.PER_LAYER_UNITS.values())
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
