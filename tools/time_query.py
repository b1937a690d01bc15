"""Time individual queries with the noop sink (bench methodology,
isolated). Prints per-rep seconds plus min/mean, splits out the
DataFrame-construction (plan build) time from execution, and gives the
classes Janino compiled in each rep (0 on a repeat rep unless the query
puts a per-run value into its generated code).

Usage:
    python tools/time_query.py q_a q_b ...           # default 3 reps
    SPARK_GRAFT_BENCH_REPS=5 python tools/time_query.py q_a
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump1090_stream_parser_spark.plans.metrics import codegen_compiles  # noqa: E402
from dump1090_stream_parser_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="time_query",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Warm the JVM once (not timed).
    queries["q_group_topk"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in names:
        fn = queries[name]
        build_s, run_s, tot_s, compiles = [], [], [], []
        for _ in range(reps):
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build_s.append(t1 - t0)
            run_s.append(t2 - t1)
            tot_s.append(t2 - t0)
            compiles.append(codegen_compiles(spark) - c0)
        print(
            f"{name}: total min={min(tot_s):.3f} mean={sum(tot_s)/reps:.3f} "
            f"| build min={min(build_s):.3f} "
            f"| exec min={min(run_s):.3f} "
            f"| reps={[round(t, 3) for t in tot_s]}"
            f" | codegen_compiles={compiles}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
