"""Reader for Spark's status stores, which work with ``spark.ui.enabled=false``.

- SQL executions come from ``spark._jsparkSession.sharedState().statusStore()``:
  duration, job count, the final (post-AQE) plan graph and the SQL metric
  values, which Spark hands back as formatted strings.
- Executor totals (GC time, tasks, shuffle bytes, storage memory in use)
  come from
  ``sc.statusStore().executorList``.

Everything here runs outside the timed region.
"""

from __future__ import annotations

import re
from collections import Counter

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "PiB": 2**50, "EiB": 2**60,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]+)?")

# SQL metric display name -> summary key; these are summed across nodes
SUMMED = {
    "shuffle bytes written": "shuffle_write_bytes",
    "remote bytes read": "shuffle_read_bytes",
    "local bytes read": "shuffle_read_bytes",
    "spill size": "spill_bytes",
    "time in aggregation build": "agg_time_s",
    "sort time": "sort_time_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
PEAK = {"peak memory": "peak_exec_memory_bytes"}  # the largest node wins
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "PythonMapInArrow")
JOINS = {"BroadcastHashJoin": "join_broadcast", "SortMergeJoin": "join_smj",
         "ShuffledHashJoin": "join_shj"}


def parse_metric(text: str) -> float:
    """A Spark SQL metric string as a number in base units (bytes, seconds,
    count).

    Plain sums read ``"1,234"``; sizes and timings read ``"302.9 KiB"`` or
    ``"12 ms"``; per-task metrics read ``"total (min, med, max (stageId:
    taskId))\\n1.2 s (...)"``, whose total is the first value of the second
    line. Raises ``ValueError`` on anything else.
    """
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if not lines:
        raise ValueError(f"empty metric string {text!r}")
    line = lines[1] if lines[0].startswith(("total", "avg")) else lines[0]
    if len(lines) > 1 and not lines[0].startswith(("total", "avg")):
        raise ValueError(f"unrecognised metric string {text!r}")
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unrecognised metric string {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return value * _UNITS[unit]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


class StatusStore:
    """SQL executions and executor totals of one session."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the finished executions and their final metrics."""
        self._bus.waitUntilEmpty()

    def marker(self) -> int:
        """The highest SQL execution id so far (-1 when there is none).
        Ids are handed out in sequence, so the executions a query runs are
        exactly those between two markers."""
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return _seq(self._sql.executionsList(int(n) - 1, 1))[0].executionId()

    def executions_after(self, marker: int, upto: int | None = None
                         ) -> list[dict]:
        """Every SQL execution with ``marker < id <= upto``, summarised."""
        last = self.marker() if upto is None else upto
        out = []
        for eid in range(marker + 1, last + 1):
            e = _opt(self._sql.execution(eid))
            if e is not None:
                out.append(self._summarise(e))
        return out

    def _summarise(self, e) -> dict:
        eid = e.executionId()
        done = _opt(e.completionTime())
        values = {}
        jvalues = self._sql.executionMetrics(eid)
        it = jvalues.iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        ops = Counter()
        sums = Counter()
        for node in _seq(self._sql.planGraph(eid).allNodes()):
            name = node.name()
            ops[name] += 1
            for metric in _seq(node.metrics()):
                raw = values.get(metric.accumulatorId())
                if raw is None:
                    continue
                mname = metric.name()
                if mname in SUMMED:
                    sums[SUMMED[mname]] += parse_metric(raw)
                elif mname in PEAK:
                    key = PEAK[mname]
                    sums[key] = max(sums[key], parse_metric(raw))
                elif mname == "number of output rows" and name.startswith(
                        PYTHON_NODES):
                    sums["python_rows"] += parse_metric(raw)
        for op, key in JOINS.items():
            sums[key] = sum(n for name, n in ops.items() if name.startswith(op))
        return {
            "id": eid,
            "submitted_ms": e.submissionTime(),
            "duration_s": (done.getTime() - e.submissionTime()) / 1e3
            if done is not None else None,
            "jobs": e.jobs().size(),
            "operators": dict(ops),
            **sums,
        }

    def executor_totals(self) -> dict:
        """Summed executor totals; in ``local[N]`` that is the driver."""
        tot = Counter()
        for ex in _seq(self._app.executorList(True)):
            tot["gc_s"] += ex.totalGCTime() / 1e3
            tot["tasks"] += ex.totalTasks()
            tot["shuffle_read_bytes"] += ex.totalShuffleRead()
            tot["shuffle_write_bytes"] += ex.totalShuffleWrite()
            tot["storage_used_bytes"] += ex.memoryUsed()
        return dict(tot)
