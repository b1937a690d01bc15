"""Turns one run's raw observations into metrics and spans.

Inputs are what the system process recorded (``system.json`` and its
in-process spans), what ``run.py`` sampled from ``/proc`` (memory and
CPU of the system's process tree) and the generator's report. The
status-store jobs and stages of a traced run become child spans of the
query or micro-batch they ran in, matched by time: the queries run one
after another on one thread, and stream jobs carry the query's run id
as their job group.
"""

from __future__ import annotations

import math
import os
from pathlib import Path

from spans import Span, Tracer, blocking_path, children_of, gap_outside, median, percentile, subtree

#: The per-batch phases of a micro-batch in execution order
#: (StreamingQueryProgress.durationMs keys).
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

EXEC_KEYS = (
    "jobs", "stages", "tasks", "driver_gap_s", "task_run_s", "task_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "python_bytes",
)

#: Every per-layer metric name, with its unit, in report order.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "operators.build_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.loop_checkpoint_calls": "count",
    "tables.loop_checkpoint_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.python_bytes": "bytes",
    "source.latest_offset_ms": "ms",
    "source.rows_per_batch": "rows",
    "source.backlog_rows_max": "rows",
    "stream.batches": "count",
    "stream.planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "sink.write_ms": "ms",
    "sink.jobs_per_batch": "count",
    "sink.files_per_batch": "count",
    "sink.bytes_per_row": "bytes",
    "sink.dead_letter_ratio": "ratio",
    "fresh.query_s_p50": "s",
    "fresh.files_listed": "count",
    "gen.late_ms_p99": "ms",
    "trace.overhead_pct": "%",
    "trace.path_coverage": "ratio",
}


def _stage_index(stages: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in stages:
        if s.get("status") == "COMPLETE":
            out.setdefault(s["stageId"], []).append(s)
    return out


def _job_interval(job: dict) -> tuple[float, float] | None:
    if job.get("submissionTime") is None or job.get("completionTime") is None:
        return None
    return job["submissionTime"] / 1000.0, job["completionTime"] / 1000.0


def exec_totals(jobs: list[dict], stage_index: dict, window, python_bytes: int) -> dict:
    """Engine counters of the jobs that ran in ``window``."""
    intervals = [iv for iv in (_job_interval(j) for j in jobs) if iv]
    stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
    attempts = [a for sid in stage_ids for a in stage_index.get(sid, [])]
    return {
        "jobs": len(jobs),
        "stages": len(attempts),
        "tasks": sum(a["numCompleteTasks"] for a in attempts),
        "driver_gap_s": gap_outside(window, intervals),
        "task_run_s": sum(a["executorRunTime"] for a in attempts) / 1e3,
        "task_cpu_s": sum(a["executorCpuTime"] for a in attempts) / 1e9,
        "gc_s": sum(a["jvmGcTime"] for a in attempts) / 1e3,
        "shuffle_write_bytes": sum(a["shuffleWriteBytes"] for a in attempts),
        "shuffle_read_bytes": sum(a["shuffleReadBytes"] for a in attempts),
        "spill_bytes": sum(a["diskBytesSpilled"] for a in attempts),
        "input_bytes": sum(a["inputBytes"] for a in attempts),
        "python_bytes": python_bytes,
    }


def _jobs_in(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    return [
        j for j in jobs
        if j.get("submissionTime") is not None and lo <= j["submissionTime"] / 1000.0 <= hi
    ]


def _bytes_in(executions: list, lo: float, hi: float) -> int:
    """Python bytes of the SQL executions submitted inside ``[lo, hi]``."""
    return sum(b for t, b in executions if lo <= t / 1000.0 <= hi)


def _add_job_spans(tracer: Tracer, parent: Span, jobs: list[dict], holders: list[Span]):
    """Each job becomes a child of the holder span it was submitted in."""
    for j in jobs:
        iv = _job_interval(j)
        if iv is None:
            continue
        owner = next((h for h in holders if h.start <= iv[0] <= h.end), parent)
        tracer.add("exec:job", iv[0], min(iv[1], owner.end), owner, job=j["jobId"])


def cpu_between(series: list[tuple[float, float]], lo: float, hi: float) -> float:
    """CPU seconds of the sampled tree between two instants (linear
    interpolation between samples of its cumulative CPU time)."""

    def at(t: float) -> float:
        prev = None
        for s in series:
            if s[0] >= t:
                if prev is None:
                    return s[1]
                f = (t - prev[0]) / (s[0] - prev[0]) if s[0] > prev[0] else 1.0
                return prev[1] + f * (s[1] - prev[1])
            prev = s
        return series[-1][1] if series else 0.0

    return max(0.0, at(hi) - at(lo))


def _zero_layers() -> dict[str, float]:
    return {k: 0.0 for k in PER_LAYER_UNITS}


# ---------------------------------------------------------------- queries


def query_metrics(obs: dict, cpu, peak_pss_mb, launch) -> dict:
    """End-to-end metrics of the timed passes, and their latencies as
    detail. The latency unit is one pass: the analyst's whole mix. A
    single query's time depends on which query it is far more than on
    the system, so a percentile over single executions would measure the
    mix's shape; per-query times are detail too."""
    execs = obs["execs"]
    ok = [e for e in execs if e["ok"]]
    lat = [(e["t2"] - e["t0"]) * 1000.0 for e in ok]
    window = obs["t_last_op"] - obs["t_first_op"]
    untraced = [p for p in obs["passes"] if not p["traced"]]
    pass_ms = [(p["t1"] - p["t0"]) * 1000.0 for p in (untraced or obs["passes"])]
    n_ops = len(ok)
    e2e = {
        "setup_s": obs["t_first_op"] - launch,
        "cpu_ms_per_op": 1000.0 * cpu_between(cpu, obs["t_first_op"], obs["t_last_op"]) / max(1, n_ops),
        "peak_pss_mb": peak_pss_mb,
    }
    detail = {
        "passes": len(obs["passes"]),
        "queries_per_s": n_ops / window,
        "query_executions": len(execs),
        "pass_s": median(pass_ms) / 1000.0,
        "pass_s_each": [(p["t1"] - p["t0"]) for p in obs["passes"]],
        "query_s_p50": median(lat) / 1000.0,
        "query_s_p90": percentile(lat, 90) / 1000.0,
        "query_s": {q: median([(e["t2"] - e["t0"]) for e in ok if e["q"] == q])
                    for q in sorted({e["q"] for e in execs})},
        "query_s_each": {q: [e["t2"] - e["t0"] for e in ok if e["q"] == q]
                         for q in sorted({e["q"] for e in execs})},
        "pass_steal_s_each": [p["steal_s"] for p in obs["passes"]],
        "warmup_query_s": obs["warmup_s"],
        "session_start_s": obs["session_start_s"],
    }
    return {"e2e": e2e, "detail": detail}


def query_layers(obs: dict, tracer: Tracer) -> dict:
    """Per-layer metrics (per traced pass, median over traced passes),
    per-query ``exec.*`` detail, job spans and the blocking path."""
    by_id = {s.id: s for s in tracer.spans}
    kids = children_of(tracer.spans)
    per_pass: list[dict] = []
    per_query: dict[str, list[dict]] = {}
    path: dict[str, float] = {}
    walls = 0.0
    traced = [p for p in obs["passes"] if p["traced"]]
    for ps in traced:
        index = _stage_index(ps["stages"])
        totals = {k: 0.0 for k in EXEC_KEYS}
        layer = {k: 0.0 for k in (
            "operators.build_s", "tables.load_calls", "tables.load_s",
            "tables.loop_checkpoint_calls", "tables.loop_checkpoint_s")}
        for e in (e for e in obs["execs"] if e["pass"] == ps["pass"]):
            root = by_id[e["span"]]
            jobs = _jobs_in(ps["jobs"], e["t0"], e["t2"])
            ex = exec_totals(jobs, index, (e["t0"], e["t2"]), _bytes_in(ps["python_bytes"], e["t0"], e["t2"]))
            for k in EXEC_KEYS:
                totals[k] += ex[k]
            per_query.setdefault(e["q"], []).append(ex)
            holders = kids.get(root.id, [])
            _add_job_spans(tracer, root, jobs, holders)
            sub = subtree(tracer.spans, root)
            for s in sub:
                if s.name == "operators:build":
                    layer["operators.build_s"] += s.duration
                elif s.name == "tables:load_table":
                    layer["tables.load_calls"] += 1
                    layer["tables.load_s"] += s.duration
                elif s.name == "tables:checkpoint_partitioned":
                    layer["tables.loop_checkpoint_calls"] += 1
                    layer["tables.loop_checkpoint_s"] += s.duration
            for k, v in blocking_path(sub, root).items():
                path[k] = path.get(k, 0.0) + v
            walls += root.duration
        per_pass.append({**{f"exec.{k}": v for k, v in totals.items()}, **layer})
    out = _zero_layers()
    for k in per_pass[0]:
        out[k] = median([p[k] for p in per_pass])
    out["session.start_s"] = obs["session_start_s"]
    tp = [p["t1"] - p["t0"] for p in traced]
    up = [p["t1"] - p["t0"] for p in obs["passes"] if not p["traced"]]
    out["trace.overhead_pct"] = 100.0 * (median(tp) / median(up) - 1.0) if up else math.nan
    # the traced passes' wall time the queries' blocking paths account for
    # (the rest is the benchmark's own bookkeeping between queries)
    out["trace.path_coverage"] = sum(path.values()) / sum(tp) if tp else math.nan
    detail = {
        "per_query_exec": {
            q: {k: median([r[k] for r in rows]) for k in EXEC_KEYS}
            for q, rows in sorted(per_query.items())
        },
        "blocking_path_s": {k: v / len(traced) for k, v in sorted(path.items())},
        "blocking_path_wall_s": walls / len(traced),
        "traced_pass_s": median(tp),
        "untraced_pass_s": median(up) if up else math.nan,
    }
    return {"per_layer": out, "detail": detail}


# ----------------------------------------------------------------- ingest


def sink_files(sink_dir: Path, batch_id: int) -> tuple[int, int]:
    """(parquet files, bytes) the sink wrote for one batch."""
    n = size = 0
    for sub in ("squitters", "dead_letter"):
        for d, _s, files in os.walk(sink_dir / sub / f"batch_id={batch_id}"):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
    return n, size


def ingest_metrics(obs, gen, e2q_ms, cpu, peak_pss_mb, launch) -> dict:
    """End-to-end metrics of the open loop: rows, CPU and time from the
    first due line to the last commit; and as detail each row's latency
    from its due time to the return of the foreachBatch call that wrote
    it."""
    timed = [b for b in obs["batches"] if b["timed"]]
    rows = sum(b["rows"] for b in timed)
    t0 = gen["t_steady_first_due"]
    t_end = max(b["sink"][1] for b in timed)
    e2e = {
        "setup_s": t0 - launch,
        "cpu_ms_per_op": 1000.0 * cpu_between(cpu, t0, t_end) / max(1, rows),
        "peak_pss_mb": peak_pss_mb,
    }
    reader = obs["reader"]
    detail = {
        "batches": len(timed),
        "warmup_batches": len(obs["batches"]) - len(timed),
        "rows": rows,
        "ingest_rows_per_s": rows / (t_end - t0),
        "ingest_cpu_s_per_mrow": e2e["cpu_ms_per_op"] * 1000.0,
        "e2q_ms_p50": percentile(e2q_ms, 50),
        "e2q_ms_p90": percentile(e2q_ms, 90),
        "e2q_rows": len(e2q_ms),
        "fresh_query_s_p50": median([r["t1"] - r["t0"] for r in reader if r["ok"]]),
        "reader_queries": len(reader),
    }
    return {"e2e": e2e, "detail": detail}


def backlog_max(gen: dict, batches: list[dict]) -> float:
    """Most rows sent but not yet committed at any generator sample of
    the open loop."""
    commits = sorted((b["sink"][1], b["rows"]) for b in batches)
    t_first = gen["t_steady_first_due"]
    worst, done, i = 0, 0, 0
    for t, sent in gen.get("timeline", []):
        if t < t_first:
            continue
        while i < len(commits) and commits[i][0] <= t:
            done += commits[i][1]
            i += 1
        worst = max(worst, sent - done)
    return float(worst)


def ingest_layers(obs, gen, sink_dir: Path, tracer: Tracer) -> dict:
    """Per-batch medians over the open loop's micro-batches, with a span
    tree for each."""
    batches = [b for b in obs["batches"] if b["timed"]]
    jobs, index = obs["jobs"], _stage_index(obs["stages"])
    reader_group = "perfbench-reader"
    stream_jobs = [j for j in jobs if j.get("jobGroup") != reader_group]
    reader_jobs = [j for j in jobs if j.get("jobGroup") == reader_group]
    per_batch, path, walls = [], {}, 0.0
    for b in batches:
        d = b["durations"]
        start = b["trigger_start"]
        end = start + d.get("triggerExecution", 0) / 1000.0
        end = max(end, b["sink"][1])
        root = tracer.add("stream:trigger", start, end, None, trace=f"b{b['id']}", batch=b["id"])
        t = start
        phase_spans = []
        for ph in PHASES:
            ms = d.get(ph, 0) / 1000.0
            if ph == "addBatch":
                lo, hi = max(t, b["sink"][1] - ms), b["sink"][1]
                lo = min(lo, b["sink"][0])
            else:
                lo, hi = t, min(end, t + ms)
            layer = "source" if ph in ("latestOffset", "getBatch") else "stream"
            phase_spans.append(tracer.add(f"{layer}:{ph}", lo, hi, root))
            t = hi
        add = next(s for s in phase_spans if s.name.endswith("addBatch"))
        sink = tracer.add("sink:foreachBatch", b["sink"][0], b["sink"][1], add)
        bjobs = _jobs_in(stream_jobs, start, end)
        sink_jobs = _jobs_in(stream_jobs, *b["sink"])
        _add_job_spans(tracer, root, bjobs, [sink] + phase_spans)
        files, size = sink_files(sink_dir, b["id"])
        ex = exec_totals(bjobs, index, (start, end), _bytes_in(obs["python_bytes"], start, end))
        per_batch.append({
            **{f"exec.{k}": v for k, v in ex.items()},
            "source.latest_offset_ms": d.get("latestOffset", 0),
            "source.rows_per_batch": b["rows"],
            # numInputRows counts every re-read of the batch by the sink
            "_input_rows": b["input_rows"],
            "stream.planning_ms": d.get("queryPlanning", 0),
            "stream.add_batch_ms": d.get("addBatch", 0),
            "stream.commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "sink.write_ms": (b["sink"][1] - b["sink"][0]) * 1000.0,
            "sink.jobs_per_batch": len(sink_jobs),
            "sink.files_per_batch": files,
            "_bytes": size,
        })
        sub = subtree(tracer.spans, root)
        for k, v in blocking_path(sub, root).items():
            path[k] = path.get(k, 0.0) + v
        walls += root.duration
    for r in obs.get("reader", []):
        if r.get("span") is None:
            continue
        root = next(s for s in tracer.spans if s.id == r["span"])
        _add_job_spans(tracer, root, _jobs_in(reader_jobs, r["t0"], r["t1"]), [])
    out = _zero_layers()
    for k in per_batch[0]:
        if not k.startswith("_"):
            out[k] = median([p[k] for p in per_batch])
    rows = sum(b["rows"] for b in batches)
    out["session.start_s"] = obs["session_start_s"]
    out["stream.batches"] = float(len(batches))
    out["source.backlog_rows_max"] = backlog_max(gen, obs["batches"])
    out["sink.bytes_per_row"] = sum(p["_bytes"] for p in per_batch) / max(1, rows)
    all_rows = sum(b["rows"] for b in obs["batches"])
    out["sink.dead_letter_ratio"] = obs.get("dead_rows", 0) / max(1, all_rows)
    reader = [r for r in obs.get("reader", []) if r["ok"]]
    if reader:
        out["fresh.query_s_p50"] = median([r["t1"] - r["t0"] for r in reader])
        out["fresh.files_listed"] = median([r["files"] for r in reader])
    if gen.get("late_ms"):
        out["gen.late_ms_p99"] = percentile(gen["late_ms"], 99)
    # in-loop instrumentation is identical in traced and untraced runs:
    # the status store is read once, after the stream has stopped
    out["trace.overhead_pct"] = 0.0
    # the open loop's wall time (first due line or trigger to last commit)
    # that the batches' blocking paths account for; the rest is the stream
    # idling between triggers
    t0 = min(gen["t_steady_first_due"], min(b["trigger_start"] for b in batches))
    t1 = max(b["sink"][1] for b in batches)
    out["trace.path_coverage"] = sum(path.values()) / (t1 - t0)
    detail = {
        "per_batch": per_batch,
        "blocking_path_s": {k: v for k, v in sorted(path.items())},
        "blocking_path_wall_s": walls,
        "reader_jobs": len(reader_jobs),
    }
    return {"per_layer": out, "detail": detail}
