"""Benchmark for the query and SBS-1 ingest paths.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Each run is hermetic. It copies the program's source files into a
private run directory under ``.perfbench_work/`` and runs it from there,
so build-once layouts, checkpoints, sink output, ``TMPDIR`` and
``SPARK_LOCAL_DIRS`` never outlive the run. It makes the workload's
inputs from ``--seed``. It starts the system process (``system.py``:
the program on ``local[4]``, its Spark JVM and Python workers) and, for
ingest, the SBS-1 generator (``gen_sbs1.py``) as a separate process.
While they run it samples the memory and CPU of the system's process
tree. Afterwards it checks the outputs (``checks.py``), computes the
metrics (``analyze.py``), prints each one with its unit and, last, one
JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones and writes the spans and a per-layer table next to the run's
result file in ``.perfbench_work/results/``. The run fails
(``correct: false``) if the checkout's files change while it runs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import analyze  # noqa: E402
import spans as spans_mod  # noqa: E402
from system import host_steal_s  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "dump1090_stream_parser_spark"
WORK = ROOT / ".perfbench_work"
DRIVER_MEMORY = "2g"
RUN_TIMEOUT_S = 170.0
#: Directories never copied into a run or watched for changes.
SKIP_DIRS = {".git", ".perfbench_work", ".bench_build", "__pycache__", HERE.name}

E2E_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "peak_pss_mb": "MB",
}


# ------------------------------------------------------------ the checkout


def _in_git() -> bool:
    return (ROOT / ".git").exists() and shutil.which("git") is not None


def source_files() -> list[str]:
    """The checkout's files as git would commit them: tracked plus
    untracked-not-ignored in a git work tree. A checkout that is not a
    git work tree is taken to hold only such files already (an export
    of the tree), so every file of it is a source file."""
    if _in_git():
        out = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=ROOT, capture_output=True, check=True,
        ).stdout.decode()
        files = [f for f in out.split("\0") if f]
    else:
        files = [
            os.path.relpath(os.path.join(d, n), ROOT)
            for d, _dirs, names in os.walk(ROOT) for n in names
        ]
    return [
        f for f in files
        if not (set(Path(f).parts) & SKIP_DIRS) and (ROOT / f).is_file()
    ]


def checkout_state() -> str:
    """What must not change during a run: ``git status --porcelain``
    in a git work tree, else a listing of every file with size and
    modification time."""
    if _in_git():
        return subprocess.run(
            ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, check=True
        ).stdout.decode()
    rows = []
    for d, dirs, names in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS - {HERE.name}]
        for n in names:
            st = os.stat(os.path.join(d, n))
            rows.append(f"{os.path.join(d, n)} {st.st_size} {st.st_mtime_ns}")
    return "\n".join(sorted(rows))


def copy_program(dest: Path) -> str:
    """Copy the source files; return a content hash of the copy."""
    h = hashlib.sha256()
    for rel in sorted(source_files()):
        src, dst = ROOT / rel, dest / rel
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(src, dst)
        h.update(rel.encode() + b"\0" + src.read_bytes())
    return h.hexdigest()


def git_commit() -> tuple[str | None, bool | None]:
    if not _in_git():
        return None, None
    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True)
    dirty = subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
        capture_output=True,
    )
    return head.stdout.decode().strip() or None, bool(dirty.stdout.strip())


def environment(args, program_sha: str) -> dict:
    commit, dirty = git_commit()
    mem_kb = next(
        int(ln.split()[1]) for ln in open("/proc/meminfo") if ln.startswith("MemTotal:")
    )
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 1024 / 1024, 2),
        "python": platform.python_version(),
        "git_commit": commit,
        "git_dirty": dirty,
        "program_sha256": program_sha,
        "driver_memory": DRIVER_MEMORY,
        "master": "local[4]",
        "seed": args.seed,
        "seconds": args.seconds,
        "workload": args.workload,
        "trace": args.trace,
    }


# ------------------------------------------------------ process sampling


class TreeSampler(threading.Thread):
    """Samples a process and all its descendants: cumulative CPU (user +
    sys, own plus reaped children) every 0.1 s, and proportional resident
    memory (PSS: a page shared by n processes counts 1/n to each, so the
    forked Python workers' shared pages count once) every 0.5 s."""

    PERIOD_S = 0.1
    MEMORY_EVERY = 5

    def __init__(self, pid: int):
        super().__init__(daemon=True, name="perfbench-sampler")
        self.pid = pid
        self.cpu: list[tuple[float, float]] = []  # (t, cumulative cpu s)
        self.pss: list[tuple[float, float]] = []  # (t, MB)
        self.seen: set[int] = set()
        self.stop_event = threading.Event()
        self.steal_s = 0.0
        self._tick = os.sysconf("SC_CLK_TCK")

    def _tree(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
        tree, frontier = [self.pid], [self.pid]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def sample(self, memory: bool) -> None:
        cpu = pss_kb = 0.0
        tree = self._tree()
        self.seen.update(tree)
        for pid in tree:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                # fields[11:15] = utime stime cutime cstime
                cpu += sum(int(x) for x in fields[11:15]) / self._tick
                if memory:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        pss_kb += next(
                            int(ln.split()[1]) for ln in f if ln.startswith("Pss:")
                        )
            except (OSError, IndexError, ValueError, StopIteration):
                continue  # the process ended between listing and reading
        self.cpu.append((time.time(), cpu))
        if memory:
            self.pss.append((time.time(), pss_kb / 1024.0))

    def run(self) -> None:
        steal0 = host_steal_s()
        i = 0
        while not self.stop_event.is_set():
            self.sample(memory=i % self.MEMORY_EVERY == 0)
            i += 1
            self.stop_event.wait(self.PERIOD_S)
        self.steal_s = host_steal_s() - steal0

    @property
    def peak_pss_mb(self) -> float:
        return max((mb for _t, mb in self.pss), default=0.0)

    def wait_all_gone(self, timeout: float) -> None:
        """Wait until every process ever seen in the tree has ended (the
        JVM and Python workers outlive the system process briefly);
        SIGKILL whatever is left at the deadline."""
        deadline = time.time() + timeout
        while True:
            alive = [p for p in self.seen if _running(p)]
            if not alive:
                return
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 5
            time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _kill_tree(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


# ------------------------------------------------------------------ a run


def _start_generator(run: Path, args, spec: dict, env: dict) -> subprocess.Popen:
    gen = run / "gen"
    gen.mkdir()
    cmd = [
        sys.executable, str(HERE / "gen_sbs1.py"), "--out", str(gen),
        "--seed", str(args.seed), "--connections", str(min(4, os.cpu_count() or 1)),
        "--warmup", str(spec["warmup_lines"]),
        "--rate", str(spec["rate"]), "--seconds", str(args.seconds),
    ]
    with open(run / "gen.log", "wb") as log:
        proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.DEVNULL,
            stderr=log, env=env, start_new_session=True,
        )
    deadline = time.time() + 60
    while not (gen / "ports.json").exists():
        if proc.poll() is not None or time.time() > deadline:
            _kill_tree(proc)
            raise RuntimeError(f"generator did not start: {(run / 'gen.log').read_text()[-2000:]}")
        time.sleep(0.02)
    return proc


def _stop_generator(proc: subprocess.Popen | None) -> None:
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=10)
    except (subprocess.TimeoutExpired, BrokenPipeError):
        _kill_tree(proc)


def run_once(args) -> dict:
    spec = WORKLOADS[args.workload]
    WORK.mkdir(exist_ok=True)
    (WORK / "results").mkdir(exist_ok=True)
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run = WORK / f"run-{stamp}"
    src = run / "src"
    for d in ("src", "tmp", "local", "warehouse"):
        (run / d).mkdir(parents=True)
    before = checkout_state()
    t_begin = time.time()
    env = dict(
        os.environ,
        PYTHONPATH=str(src),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=str(run / "tmp"),
        SPARK_LOCAL_DIRS=str(run / "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    gen_proc = system = None
    try:
        program_sha = copy_program(src)
        if spec["kind"] == "query":
            import datagen

            datagen.write_tables(run / "data", args.seed)
        else:
            gen_proc = _start_generator(run, args, spec, env)
        launch = time.time()
        with open(run / "system.log", "wb") as log:
            system = subprocess.Popen(
                [sys.executable, str(HERE / "system.py"), "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--run-dir", str(run)],
                cwd=src, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
        sampler = TreeSampler(system.pid)
        sampler.start()
        try:
            system.wait(timeout=max(10.0, RUN_TIMEOUT_S - (time.time() - t_begin)))
        except subprocess.TimeoutExpired:
            _kill_tree(system)
            raise RuntimeError("system process timed out")
        finally:
            sampler.stop_event.set()
            sampler.join()
            sampler.wait_all_gone(timeout=30)
        _stop_generator(gen_proc)
        gen_proc = None
        if system.returncode != 0:
            log = (run / "system.log").read_text(errors="replace")
            raise RuntimeError(f"system process failed ({system.returncode}):\n{log[-4000:]}")
        obs = json.loads((run / "system.json").read_text())
        result, tracer = evaluate(args, spec, run, obs, sampler, launch)
        result["environment"] = {
            **environment(args, program_sha),
            "spark": obs.get("spark_version"),
            "java": obs.get("java_version"),
        }
        result["results_file"] = str((WORK / "results" / f"{stamp}.json").relative_to(ROOT))
        if args.trace:
            write_trace_outputs(stamp, result, tracer)
        (WORK / "results" / f"{stamp}.json").write_text(json.dumps(result, indent=1, default=str))
    finally:
        _stop_generator(gen_proc)
        if system is not None and system.poll() is None:
            _kill_tree(system)
        shutil.rmtree(run, ignore_errors=True)
    if checkout_state() != before:
        result["correct"] = False
        result["problems"]["checkout"] = "the checkout's files changed during the run"
    return result


def evaluate(args, spec, run: Path, obs: dict, sampler: TreeSampler, launch: float) -> dict:
    import checks

    sys.path.insert(0, str(run / "src"))
    tracer = spans_mod.Tracer(True)
    if args.trace and (run / "spans_system.jsonl").exists():
        for ln in (run / "spans_system.jsonl").read_text().splitlines():
            tracer.spans.append(spans_mod.Span(**json.loads(ln)))
    peak = sampler.peak_pss_mb
    problems: dict = {}
    if spec["kind"] == "query":
        attempted, failed, problems = checks.check_queries(
            spec["queries"], run / "results", run / "data", obs["answer_errors"]
        )
        bad_execs = [e for e in obs["execs"] if not e["ok"]]
        if bad_execs:
            problems["timed executions raised"] = [e["error"] for e in bad_execs[:5]]
        attempted += len(obs["execs"])
        failed += len(bad_execs)
        m = analyze.query_metrics(obs, sampler.cpu, peak, launch)
        layers = analyze.query_layers(obs, tracer) if args.trace else None
    else:
        gen = json.loads((run / "gen" / "report.json").read_text())
        con = checks.ingest_connection(run / "gen", run / "out")
        attempted, failed, problems = checks.check_ingest(con)
        steady = [b for b in obs["batches"] if b["timed"]]
        commits = ",".join(f"({b['id']}, {b['sink'][1] * 1000.0!r})" for b in steady)
        con.execute(f"CREATE TABLE commits AS SELECT * FROM (VALUES {commits}) v(batch_id, t_ms)")
        e2q = [r[0] for r in con.execute(
            "SELECT CAST(t_ms AS DOUBLE) - epoch_ms(generated_ts)"
            " FROM silver JOIN commits USING (batch_id)"
        ).fetchall()]
        obs["dead_rows"] = con.execute("SELECT count(*) FROM dead").fetchone()[0]
        reader = obs["reader"]
        bad = [r for r in reader if not r["ok"]]
        if bad:
            problems["reader queries raised"] = [r["error"] for r in bad[:5]]
        a, f, p = checks.check_reader(con, run / "reader_final.pkl")
        attempted += len(reader) + a
        failed += len(bad) + f
        problems.update(p)
        m = analyze.ingest_metrics(obs, gen, e2q, sampler.cpu, peak, launch)
        layers = analyze.ingest_layers(obs, gen, run / "out", tracer) if args.trace else None
        con.close()
    m["detail"]["jvm_heap_committed_mb"] = obs["jvm_heap_mb"]["committed"]
    m["detail"]["jvm_heap_pools_peak_used_mb"] = obs["jvm_heap_mb"]["pools_peak_used"]
    m["detail"]["host_steal_s"] = sampler.steal_s
    m["detail"]["pss_mb_timeline"] = [(round(t - launch, 2), round(mb)) for t, mb in sampler.pss]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / max(1, attempted),
        "problems": problems,
        "end_to_end": m["e2e"],
        "detail": m["detail"],
    }
    if layers is not None:
        result["per_layer"] = layers["per_layer"]
        result["layer_detail"] = layers["detail"]
    return result, tracer


def write_trace_outputs(stamp: str, result: dict, tracer) -> None:
    """Spans as JSON lines and the per-layer table, beside the result."""
    out = WORK / "results"
    tracer.write_jsonl(out / f"{stamp}.spans.jsonl")
    lines = [
        f"# per-layer metrics: {stamp}",
        "",
        "| metric | value | unit |",
        "| --- | --- | --- |",
    ]
    for k, v in result["per_layer"].items():
        lines.append(f"| {k} | {v:.6g} | {analyze.PER_LAYER_UNITS[k]} |")
    lines += ["", "blocking path (s per traced pass or over all batches):", ""]
    for k, v in result["layer_detail"]["blocking_path_s"].items():
        lines.append(f"- {k}: {v:.4f}")
    per_query = result["layer_detail"].get("per_query_exec")
    if per_query:
        keys = analyze.EXEC_KEYS
        lines += ["", "| query | " + " | ".join(keys) + " |",
                  "| --- |" + " --- |" * len(keys)]
        for q, row in per_query.items():
            lines.append(f"| {q} | " + " | ".join(f"{row[k]:.4g}" for k in keys) + " |")
    (out / f"{stamp}.layers.md").write_text("\n".join(lines) + "\n")
    result["spans_file"] = str((out / f"{stamp}.spans.jsonl").relative_to(ROOT))
    result["layers_file"] = str((out / f"{stamp}.layers.md").relative_to(ROOT))


def report(result: dict, trace: bool) -> dict:
    """Print every metric with its unit; return the contract line."""
    if trace:
        metrics = {
            k: {"value": v, "unit": analyze.PER_LAYER_UNITS[k]}
            for k, v in result["per_layer"].items()
        }
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in result["end_to_end"].items()}
    for k, v in metrics.items():
        print(f"{k:32s} {v['value']:14.6g} {v['unit']}")
    for k, v in result["detail"].items():
        if not isinstance(v, (dict, list)):
            print(f"  {k:30s} {v}")
    print(f"  {'error_rate':30s} {result['error_rate']:.6g}")
    print("environment:", json.dumps(result["environment"]))
    if result["problems"]:
        print("problems:", json.dumps(result["problems"], default=str)[:2000])
    print("results:", result["results_file"])
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: no {PACKAGE}/ beside {HERE.name}/: nothing to benchmark", file=sys.stderr)
        return 2
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    line = None
    for name in names:
        args.workload = name
        print(f"== {name} (seed {args.seed}, {args.seconds} s, trace {args.trace})")
        line = report(run_once(args), bool(args.trace))
        print(json.dumps(line))
    return 0 if line is not None else 1


if __name__ == "__main__":
    sys.exit(main())
