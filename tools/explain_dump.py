"""Dump .explain("formatted") for headline queries to plans/<round>/.

Usage:
    python tools/explain_dump.py before [q_name ...]
    python tools/explain_dump.py after  [q_name ...]

With no query names, dumps every headline query. Writes
plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<tag>.txt (round defaults to
r14). Uses the same session shape as bench.py.

For queries whose operators cut lineage with localCheckpoint, the
formatted dump hides every checkpointed subtree behind a
``Scan ExistingRDD`` stub (VERDICT r13 "What's wrong" #4: before/after
node counts were unverifiable from such dumps). So each query is
ALSO dumped with ``localCheckpoint`` monkeypatched to identity, as
``<query>_<tag>_full.txt`` -- the complete pre-checkpoint lineage. The
``_full`` variant shows WHAT the checkpointed subtrees compute; the
plain variant shows the execution shape (where the cuts are). Queries
with no checkpoint produce identical pairs and the ``_full`` file is
skipped, as are the ``FULL_SKIP`` queries. A ``_full`` dump that still
holds a ``Scan ExistingRDD`` stops the tool.

The patch goes on ``pyspark.sql.classic.dataframe.DataFrame``, the
class of every DataFrame a classic (non-Connect) session returns: it
defines its own ``localCheckpoint``, so a patch on the
``pyspark.sql.DataFrame`` base class is never reached.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump1090_stream_parser_spark.session import get_spark  # noqa: E402

#: Queries whose builders run a convergence loop of Spark actions while
#: the plan is built (``dedup_clusters_from``: a label-sum collect per
#: round, up to CC_MAX_ITERS). With localCheckpoint a no-op each round
#: would execute on un-truncated, growing lineage, so they get no
#: ``_full`` dump.
FULL_SKIP = {"q_dedup_clusters", "q_dedup_clusters_lsh"}


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    rnd = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r14")

    import __spark_entry__ as entry_mod
    from bench import HEADLINE

    queries = entry_mod.queries()
    if not names:
        names = [n for n in HEADLINE if n in queries]

    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="explain_dump",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    from pyspark.sql.classic.dataframe import DataFrame

    real_ckpt = DataFrame.localCheckpoint
    for name in names:
        df = queries[name](spark, sf_dir)
        txt = _explain(df)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
        # Full-lineage variant: rebuild the query with localCheckpoint
        # a no-op so checkpointed subtrees print instead of stubbing
        # out as Scan ExistingRDD. Explain only: the rebuilt frame is
        # never written.
        if "Scan ExistingRDD" not in txt or name in FULL_SKIP:
            continue
        DataFrame.localCheckpoint = lambda self, eager=True, storageLevel=None: self
        try:
            full_txt = _explain(queries[name](spark, sf_dir))
        finally:
            DataFrame.localCheckpoint = real_ckpt
        if "Scan ExistingRDD" in full_txt:
            raise RuntimeError(
                f"{name}: the _full plan still holds a checkpoint stub"
            )
        full_path = os.path.join(out_dir, f"{name}_{tag}_full.txt")
        with open(full_path, "w") as f:
            f.write(full_txt)
        print(f"wrote {full_path} ({len(full_txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
