"""Reads Spark's own status stores from the driver JVM.

``AppStatusStore`` (jobs, stages) and ``SQLAppStatusStore`` (SQL
executions and their plan metrics) are populated by listeners on the
asynchronous listener bus whether or not the web UI is enabled. Each
read drains the bus first, then serialises the store's records to JSON
inside the JVM with Spark's own Jackson mapper, so one read is a single
py4j call however many records it returns.

The stores keep only the most recent ``spark.ui.retainedJobs`` jobs,
``retainedStages`` stages and ``spark.sql.ui.retainedExecutions``
executions (1000 each by default), so callers read after each query
pass or stream run; a read that reaches the limit raises.
"""

from __future__ import annotations

import json
import re

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9]+(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)\b")

#: SQL plan metrics that count bytes moved to and from Python workers.
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


def parse_size(text: str) -> int:
    """Bytes in one formatted size metric value.

    Spark renders a size metric either as ``"8.0 MiB"`` or, when several
    tasks reported, as ``"total (min, med, max ...)\\n8.0 MiB (...)"``;
    the first size token after the header is the total."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE_RE.search(body)
    if m is None:
        return 0
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)])


class StatusStore:
    """JSON views of one session's job, stage and SQL status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._store = self._jsc.statusStore()
        self._conf = sc.getConf()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(
            self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)

    def drain(self) -> None:
        """Wait until every posted event has reached the stores."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, since_ms: float) -> list[dict]:
        """Retained jobs submitted at or after ``since_ms``: jobId,
        submissionTime/completionTime (epoch ms), stageIds, jobGroup."""
        empty = self._jvm.java.util.ArrayList()
        return self._since(self._json(self._store.jobsList(empty)), since_ms, "Jobs")

    def stages(self, since_ms: float) -> list[dict]:
        """Retained stage attempts submitted at or after ``since_ms``,
        with their task metric totals."""
        empty = self._jvm.java.util.ArrayList()
        no_quantiles = self._jvm.java.lang.reflect.Array.newInstance(
            self._jvm.java.lang.Double.TYPE, 0
        )
        stages = self._json(self._store.stageList(empty, False, False, no_quantiles, empty))
        return self._since(stages, since_ms, "Stages")

    def python_bytes(self, since_ms: float) -> list[tuple[float, int]]:
        """(submission ms, Arrow bytes sent to plus returned from Python
        workers) of each SQL execution submitted at or after ``since_ms``."""
        out = []
        for ex in self._since(self._json(self._sql.executionsList()), since_ms, "Executions"):
            names = {
                m["accumulatorId"]
                for m in ex.get("metrics", [])
                if m.get("name") in PYTHON_METRICS
            }
            values = ex.get("metricValues") or {}
            total = sum(parse_size(values[str(a)]) for a in names if str(a) in values)
            out.append((ex["submissionTime"], total))
        return out

    def _since(self, records: list[dict], since_ms: float, kind: str) -> list[dict]:
        """The records from ``since_ms`` on. Raises if the store may have
        evicted some of them: counts built from it would be short."""
        conf = "spark.sql.ui.retainedExecutions" if kind == "Executions" else f"spark.ui.retained{kind}"
        times = [r["submissionTime"] for r in records if r.get("submissionTime") is not None]
        if len(records) >= int(self._conf.get(conf, "1000")) and min(times) > since_ms:
            raise RuntimeError(f"{conf} reached: the status store evicted records to read")
        return [r for r in records if (r.get("submissionTime") or 0) >= since_ms]
