"""The benchmark's workloads: what each one runs and why.

``query_mix`` is one closed-loop analyst client: every pass runs the
queries below in a seeded order, each built and written to the noop
sink. The single-pass queries cover one or more of each shape the engine
targets; ``q_pagerank`` adds the iterative loop over
``tables.checkpoint_partitioned`` / ``loop_partitions`` (many small
jobs, so driver scheduling dominates).

``ingest`` drives the CLI's ``--hosts`` pipeline (``bronze_from_sbs1_multi``
-> ``silver_stream`` -> ``silver_batch_writer``, micro-batches back to
back) from the SBS-1 generator: a warm-up, then an open loop at a fixed
rate (per-batch fixed costs set the latency) while a reader thread runs
the reference's top query against the ingested table in a closed loop.
"""

from __future__ import annotations

#: Single-pass registered queries, one per shape the engine targets: the
#: exact order-statistic family (q_weighted_median: the repo's own
#: value-collapse and cumulative-window plan, which q_winsorize repeats
#: with more cut points), the mapInPandas (Python/Arrow) family, and a
#: read of the ``plans`` snapshot store (q_bucket_join: its bucketed
#: layout, joined without a shuffle). Only one of each: with the JVM
#: start and the two warm-up passes, a run must fit the benchmark's time
#: budget.
ONESHOT = [
    "q_weighted_median",
    "q_multimodal_features",
    "q_bucket_join",
]

WORKLOADS: dict[str, dict] = {
    "query_mix": {
        "kind": "query",
        "queries": ONESHOT + ["q_pagerank"],
        "why": "analyst query mix, one closed-loop client, seeded order per "
        "pass: plan build, shuffle, Python/Arrow, snapshot reads, iterative loop",
    },
    "ingest": {
        "kind": "ingest",
        "warmup_lines": 5_000,
        # a quarter of the pipeline's burst throughput: 300,000 lines sent
        # at once (seed 7) were committed 22.5 s after the generator's
        # first byte, 13.3k rows/s, on a 4-vCPU, 16 GB VM
        "rate": 3_300,
        "why": "SBS-1 over 4 TCP feeds into the --hosts pipeline, open loop "
        "at a fixed rate beside a reader of the ingested table",
    },
}
