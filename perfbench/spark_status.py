"""Spark's own status stores, read over py4j.

The application status store (jobs, stages) and the SQL status store
(executions, plan-graph metrics) are serialized to JSON inside the
JVM with Jackson, so one py4j call returns a whole list. This works
with or without the web UI.
"""

from __future__ import annotations

import json
import re

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_ROWS = "number of output rows"

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A SQL metric's display string as a number: bytes for sizes,
    seconds for times, a count otherwise. Multi-task metrics display
    ``total (min, med, max ...)`` on the first line and the values on
    the second; the total comes first there."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkStatus:
    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final metrics of every finished job."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, since_ms: int) -> list[dict]:
        return [j for j in self._json(self._store.jobsList(self._empty))
                if (j.get("submissionTime") or 0) >= since_ms]

    def stages(self, since_ms: int) -> list[dict]:
        """Stage attempts submitted since ``since_ms`` that ran (skipped
        stages have no submission time)."""
        raw = self._store.stageList(self._empty, False, False,
                                    self._no_quantiles, self._empty)
        return [s for s in self._json(raw)
                if (s.get("submissionTime") or 0) >= since_ms]

    def python_nodes(self, since_ms: int) -> list[dict[str, float]]:
        """Python-evaluation plan nodes (Arrow/pandas UDFs, mapInArrow,
        Python data sources) of the SQL executions submitted since
        ``since_ms``: bytes sent and received, rows returned and worker
        run seconds per node."""
        out = []
        for ex in self._json(self._sql.executionsList()):
            if (ex.get("submissionTime") or 0) < since_ms:
                continue
            if not any(m["name"] == PY_SENT for m in ex["metrics"]):
                continue
            ex_id = ex["executionId"]
            values = self._json(self._sql.executionMetrics(ex_id))
            for node in self._json(self._sql.planGraph(ex_id).allNodes()):
                acc = {m["name"]: str(m["accumulatorId"]) for m in node["metrics"]}
                if PY_SENT in acc:
                    out.append({name: parse_metric(values.get(acc.get(name)))
                                for name in (PY_SENT, PY_RECEIVED, PY_ROWS, PY_RUN)})
        return out
