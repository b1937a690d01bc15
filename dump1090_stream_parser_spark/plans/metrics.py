"""Executed-stage metric extraction: measured shuffle volume.

Wall-clock at local[32] understates exchange costs -- an in-memory
shuffle of a few million 8-byte rows is nearly free locally, while on a
1000-executor cluster the same exchange is network + spill and often IS
the job. These helpers read the per-stage shuffle-write metrics from
the UI status store so scale arguments ("variant A moves 10x fewer
bytes through the exchange") can be measured, not asserted.

Stage-level accounting is used deliberately INSTEAD of walking the
AQE-final plan tree for SQLMetrics: the tree under-reports, because
work AQE surgically removed after executing it is unreachable from the
final plan -- e.g. a join branch that turned out empty
(AQEPropagateEmptyRelation rewrites the join away, leaving its
already-materialized stages dangling) or a subtree behind a
localCheckpoint. Every executed stage reaches the status store whether
or not the final plan still references it. (A plan-tree walker existed
here through round 5 and was removed for exactly that caveat.)

Used by tools/scale_probe.py's contamination-fork probe and available
for any plan-volume comparison. Requires ``spark.ui.enabled=true``
(the REST endpoint is served by the UI).
"""

from __future__ import annotations


def stage_shuffle_snapshot(spark) -> dict[tuple[int, int], tuple[int, int]]:
    """Per-stage-attempt (shuffle write records, bytes) from the UI
    status store, keyed by (stageId, attemptId) -- a cumulative
    snapshot. Keying by attempt matters on real clusters (ADVICE r5):
    a stage retried between snapshots reuses its stageId, so a
    stageId-keyed diff would silently drop the retry's volume, and two
    attempts inside one snapshot would collapse to whichever the REST
    payload listed last. Diff two
    snapshots around a run with :func:`stage_shuffle_delta` to get that
    run's TOTAL exchange volume.

    The status store is fed by AppStatusListener on the ASYNC listener
    bus, so a just-finished job's last stage-completed events can still
    be in flight when the action returns; drain the bus first so a
    snapshot taken "after run A / before run B" doesn't misattribute
    A's stragglers to B."""
    import json as _json
    import urllib.request

    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        raise RuntimeError(
            "stage_shuffle_snapshot needs the UI status store: start the"
            " session with spark.ui.enabled=true (get_spark disables it"
            " by default; pass extra_conf={'spark.ui.enabled': 'true'})"
        )
    from py4j.protocol import Py4JError, Py4JJavaError

    bus = sc._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty()
    except Py4JJavaError:
        # genuine JVM failure (e.g. drain TimeoutException on a busy
        # bus) -- surface it; a silent partial drain would quietly
        # corrupt the delta attribution
        raise
    except (TypeError, Py4JError):  # no-arg signature absent: retry
        bus.waitUntilEmpty(10_000)
    url = (
        f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        "/stages?status=complete"
    )
    with urllib.request.urlopen(url) as resp:
        stages = _json.load(resp)
    return {
        (s["stageId"], s.get("attemptId", 0)): (
            s.get("shuffleWriteRecords", 0),
            s.get("shuffleWriteBytes", 0),
        )
        for s in stages
    }


def stage_shuffle_delta(
    before: dict[tuple[int, int], tuple[int, int]],
    after: dict[tuple[int, int], tuple[int, int]],
) -> dict[str, int]:
    """Total shuffle volume of the stage attempts that completed
    between two :func:`stage_shuffle_snapshot` calls."""
    new = set(after) - set(before)
    return {
        "shuffle_records": sum(after[s][0] for s in new),
        "shuffle_bytes": sum(after[s][1] for s in new),
        "n_stages": len(new),
    }


def executed_stage_signature(spark, build_fn) -> dict[str, int]:
    """Build AND run a query (noop sink) under the stage meter and
    return what actually EXECUTED: completed stage count and total
    shuffle-write records. ``build_fn`` is a zero-arg callable
    returning the DataFrame.

    This is the lineage-duplication detector the plan-shape snapshot
    cannot be: a multi-consumer frame whose lineage silently re-runs
    (alias self-joins, shared staging without a checkpoint -- the
    q_pmi 5x-explode class found by hand in round 9) has an innocent
    PLAN, but its executed shuffle records multiply by the re-run
    count. Records, not stage counts, carry the strict contract:
    they are data-deterministic at a fixed SF, while stage counts can
    shift with planner details.

    The window brackets the BUILD as well as the action because
    ``localCheckpoint(eager=False)`` materializes part of its lineage
    at DataFrame-construction time (measured: the checkpointed
    subtree's shuffle map stage runs during the build; an
    action-only window undercounted a checkpointed distinct to 0
    shuffle records)."""
    before = stage_shuffle_snapshot(spark)
    build_fn().write.format("noop").mode("overwrite").save()
    after = stage_shuffle_snapshot(spark)
    return stage_shuffle_delta(before, after)


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far (a
    cumulative count; diff two reads around a query).

    Spark keeps compiled classes in an LRU cache keyed by the generated
    source (``spark.sql.codegen.cache.maxEntries``), so a query whose
    classes are all cached compiles nothing: a non-zero count on a
    repeat run means either eviction or a per-run value in the
    generated code. Read from ``CodegenMetrics``, a JVM-wide static
    counter, so it needs no UI and counts every session in the JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
