"""The benchmark's side of the system process: runs one workload.

``run.py`` starts this file as its own process, with the working
directory and ``PYTHONPATH`` set to a private copy of the program and
every scratch location (``TMPDIR``, ``SPARK_LOCAL_DIRS``, checkpoints,
sink output, warehouse) inside the run directory. The process tree it
roots -- this interpreter, the Spark JVM and its Python workers -- is
the system whose memory and CPU ``run.py`` samples.

Everything here times the benchmark's own calls into the program's
public functions (``session.get_spark``, the registered ``q_*``
builders, ``tables.load_table`` / ``checkpoint_partitioned``,
``streaming.pipeline``) and reads Spark's status stores and streaming
progress from outside; no program file is changed. Raw observations go
to ``RUN/system.json``; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import re
import sys
import threading
import time
from datetime import datetime, timezone
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from statusstore import StatusStore  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Reference top query: latest position and message count per aircraft.
READER_SQL = """
SELECT hex_ident,
       COUNT(*) AS n_msgs,
       MAX(generated_ts) AS last_seen,
       MAX(CASE WHEN lat IS NOT NULL THEN struct(generated_ts, lat, lon) END).lat AS lat,
       MAX(CASE WHEN lat IS NOT NULL THEN struct(generated_ts, lat, lon) END).lon AS lon
FROM squitters
GROUP BY hex_ident
"""
READER_PAUSE_S = 0.5
#: Untimed passes of ``query_mix`` before the timed ones.
WARMUP_PASSES = 2


def _session(run: Path, tracer: Tracer):
    from dump1090_stream_parser_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(run / "warehouse"),
        # no perf-data file: the JVM would write it to /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run / 'tmp'} -XX:-UsePerfData",
    }
    t0 = time.time()
    with tracer.span("session:get_spark", trace="setup"):
        spark = get_spark(master="local[4]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t0


# ---------------------------------------------------------------- queries


class _Wrapped:
    """Swaps a public ``tables`` function for a spanning wrapper in every
    loaded program module that imported it, and back."""

    def __init__(self, tracer: Tracer, name: str, span: str):
        import dump1090_stream_parser_spark.tables as tables

        self.name, self.orig = name, getattr(tables, name)
        self.mods = [
            m for k, m in list(sys.modules.items())
            if k.startswith("dump1090_stream_parser_spark") and m is not None
            and getattr(m, name, None) is self.orig
        ]
        orig = self.orig

        def wrapper(*a, **kw):
            with tracer.span(span):
                return orig(*a, **kw)

        self.wrapper = wrapper

    def install(self) -> None:
        for m in self.mods:
            setattr(m, self.name, self.wrapper)

    def remove(self) -> None:
        for m in self.mods:
            setattr(m, self.name, self.orig)


def timed_passes(seconds: float) -> int:
    """Timed passes of ``query_mix``: one per 4 s of ``--seconds``, at
    least two, so that the median rests on more than one sample."""
    return max(2, round(seconds / 4))


def host_steal_s() -> float:
    """CPU time the hypervisor has given to other guests, all CPUs, so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_queries(spark, args, tracer: Tracer, out: dict) -> None:
    from dump1090_stream_parser_spark import operators

    names = WORKLOADS[args.workload]["queries"]
    registry = operators.queries_map()
    sf = str(Path(args.run_dir) / "data")
    # warm-up, untimed. The first pass, in fixed order, fills caches and
    # build-once layouts, compiles the plans and collects every answer
    # for the oracle check run.py makes afterwards. The JIT compiler is
    # still busiest in the pass after it (a first timed pass read about
    # 30 % slower, and its compiler threads used about twice the CPU of
    # the passes after it), so WARMUP_PASSES - 1 more passes write to the
    # noop sink as the timed ones do.
    results = Path(args.run_dir) / "results"
    results.mkdir()
    errors: dict[str, str] = {}
    out["warmup_s"] = {}
    rng = random.Random(args.seed)
    for w in range(WARMUP_PASSES):
        order = names[:]
        if w:
            rng.shuffle(order)
        for q in order:
            t0 = time.time()
            try:
                if w == 0:
                    with open(results / f"{q}.pkl", "wb") as f:
                        pickle.dump(registry[q](spark, sf).toPandas(), f)
                elif q not in errors:
                    _noop(registry[q](spark, sf))
            except Exception as exc:  # a failing query is a counted failure
                errors[q] = repr(exc)[:500]
            out["warmup_s"].setdefault(q, []).append(time.time() - t0)
    out["answer_errors"] = errors

    store = StatusStore(spark) if tracer.enabled else None
    wrappers = [
        _Wrapped(tracer, "load_table", "tables:load_table"),
        _Wrapped(tracer, "checkpoint_partitioned", "tables:checkpoint_partitioned"),
    ] if tracer.enabled else []
    execs, passes = [], []
    out["t_first_op"] = time.time()
    untraced = Tracer(False)
    # a fixed number of whole passes, however fast they run, so the
    # sample count does not change with the speed measured; a traced run
    # alternates traced and untraced passes
    for p in range(timed_passes(args.seconds)):
        traced = tracer.enabled and p % 2 == 0
        order = names[:]
        rng.shuffle(order)
        for w in wrappers if traced else []:
            w.install()
        steal0, p0 = host_steal_s(), time.time()
        for q in order:
            rec = {"q": q, "pass": p, "traced": traced, "ok": True}
            tr = tracer if traced else untraced
            with tr.span(f"query:{q}", trace=f"p{p}:{q}") as root:
                rec["t0"] = time.time()
                try:
                    with tr.span("operators:build"):
                        df = registry[q](spark, sf)
                    rec["t1"] = time.time()
                    with tr.span("driver:action"):
                        _noop(df)
                except Exception as exc:
                    rec["ok"], rec["error"] = False, repr(exc)[:500]
                rec["t2"] = time.time()
            rec["span"] = root.id if root is not None else None
            execs.append(rec)
        p1 = time.time()
        for w in wrappers if traced else []:
            w.remove()
        ps = {"pass": p, "traced": traced, "t0": p0, "t1": p1, "steal_s": host_steal_s() - steal0}
        if traced:
            store.drain()
            since = p0 * 1000.0 - 1
            ps["jobs"], ps["stages"] = store.jobs(since), store.stages(since)
            ps["python_bytes"] = store.python_bytes(since)
        passes.append(ps)
    out["t_last_op"] = time.time()
    out["execs"], out["passes"] = execs, passes


# ----------------------------------------------------------------- ingest


def _progress_ts(text: str) -> float:
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _lines(progress: dict) -> int:
    """Lines the source has delivered up to this batch: the sum of its
    per-receiver line-count offsets. (``numInputRows`` counts each
    re-read of the batch, and the sink reads it more than once.)"""
    end = progress["sources"][0]["endOffset"]
    if isinstance(end, dict):
        return sum(int(v) for v in end.values())
    return sum(int(v) for v in re.findall(r":\s*(\d+)", str(end)))


def _count_files(root: Path) -> int:
    return sum(
        1 for _d, _s, files in os.walk(root)
        for f in files if f.endswith(".parquet")
    )


class _Reader(threading.Thread):
    """Closed-loop reader of the ingested table: the reference's top
    query, a fixed pause between queries."""

    def __init__(self, spark, table: Path, tracer: Tracer):
        super().__init__(daemon=True, name="perfbench-reader")
        self.spark, self.table, self.tracer = spark, table, tracer
        self.stop_event = threading.Event()
        self.records: list[dict] = []

    def query(self):
        self.spark.read.parquet(str(self.table)).createOrReplaceTempView("squitters")
        return self.spark.sql(READER_SQL)

    def run(self) -> None:
        # the job group tells the reader's jobs from the stream's
        self.spark.sparkContext.setJobGroup("perfbench-reader", "fresh reader")
        i = 0
        while not self.stop_event.is_set():
            rec = {"i": i, "files": _count_files(self.table), "ok": True}
            with self.tracer.span("fresh:query", trace=f"r{i}") as root:
                rec["t0"] = time.time()
                try:
                    self.query().collect()
                except Exception as exc:
                    rec["ok"], rec["error"] = False, repr(exc)[:500]
                rec["t1"] = time.time()
            rec["span"] = root.id if root is not None else None
            self.records.append(rec)
            i += 1
            self.stop_event.wait(READER_PAUSE_S)


def run_ingest(spark, args, tracer: Tracer, out: dict) -> None:
    from dump1090_stream_parser_spark.streaming.pipeline import (
        bronze_from_sbs1_multi,
        silver_batch_writer,
        silver_stream,
    )

    run = Path(args.run_dir)
    gen = run / "gen"
    sink_dir, ckpt = run / "out", run / "out" / "_checkpoint"
    ports = json.loads((gen / "ports.json").read_text())
    writer = silver_batch_writer(str(sink_dir))
    sink_calls: dict[int, tuple[float, float]] = {}

    def write_batch(batch, batch_id):
        t0 = time.time()
        writer(batch, batch_id)
        sink_calls[batch_id] = (t0, time.time())

    bronze = bronze_from_sbs1_multi(
        spark,
        [("127.0.0.1", p) for p in ports],
        buffer_size=65536,
        connect_attempt_limit=10,
        connect_attempt_delay=5.0,
    )
    query = (
        silver_stream(bronze)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    spec = WORKLOADS[args.workload]
    reader = _Reader(spark, sink_dir / "squitters", tracer)
    progress: dict[int, dict] = {}
    t_go = None
    try:
        report_path = gen / "report.json"
        deadline = time.time() + args.seconds + 120
        total = None
        while True:
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            for pr in query.recentProgress:
                if pr["numInputRows"] > 0:
                    progress[pr["batchId"]] = pr
            done = max((_lines(pr) for pr in progress.values()), default=0)
            settled = all(b in sink_calls for b in progress)
            if t_go is None and done >= spec["warmup_lines"] and settled:
                # the warm-up is queryable: start the open loop and the reader
                t_go = time.time()
                (gen / "go_steady").touch()
                reader.start()
            if total is None and report_path.exists():
                total = sum(json.loads(report_path.read_text())["lines_sent"])
                reader.stop_event.set()
            if total is not None and done >= total and settled:
                break
            if time.time() > deadline:
                raise TimeoutError(f"ingested {done} of {total} lines in time")
            time.sleep(0.02)
    finally:
        reader.stop_event.set()
        if reader.is_alive():
            reader.join(60)
        query.stop()
    out["t_go"] = t_go
    out["batches"], prev = [], 0
    for b, pr in sorted(progress.items()):
        start = sink_calls[b][0]
        out["batches"].append({
            "id": b,
            "rows": _lines(pr) - prev,
            "input_rows": pr["numInputRows"],
            "trigger_start": _progress_ts(pr["timestamp"]),
            "durations": pr["durationMs"],
            "sink": sink_calls[b],
            "timed": start >= t_go,
        })
        prev = _lines(pr)
    out["reader"] = reader.records
    final = reader.query().toPandas()
    with open(run / "reader_final.pkl", "wb") as f:
        pickle.dump(final, f)
    if tracer.enabled:
        store = StatusStore(spark)
        store.drain()
        since = t_go * 1000.0 - 1
        out["jobs"], out["stages"] = store.jobs(since), store.stages(since)
        out["python_bytes"] = store.python_bytes(since)


def _heap_mb(spark) -> dict:
    """The driver JVM's heap at the end of the run, from JMX: committed,
    and the sum of the heap pools' peak use (garbage included)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peak = sum(
        pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    )
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    return {"committed": committed / 2**20, "pools_peak_used": peak / 2**20}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()
    tracer = Tracer(bool(args.trace))
    out: dict = {"pid": os.getpid(), "t_main": time.time()}
    spark, out["session_start_s"] = _session(Path(args.run_dir), tracer)
    try:
        if WORKLOADS[args.workload]["kind"] == "query":
            run_queries(spark, args, tracer, out)
        else:
            run_ingest(spark, args, tracer, out)
        out["spark_version"] = spark.version
        out["jvm_heap_mb"] = _heap_mb(spark)
        out["java_version"] = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        spark.stop()
    if tracer.enabled:
        tracer.write_jsonl(Path(args.run_dir) / "spans_system.jsonl")
    (Path(args.run_dir) / "system.json").write_text(json.dumps(out))


if __name__ == "__main__":
    main()
