"""Spans and Spark counters for the traced benchmark run.

A :class:`Tracer` records one span per layer call the benchmark makes (name,
start, end, parent, operation id) and keeps them in memory until the run
writes them out. Spark work is attributed to an operation by watermark: the
SQL execution, job and stage ids Spark hands out only grow, so everything
above the ids seen when the operation started belongs to it. Job groups are
not used because the streaming queries run their micro-batches on another
thread, outside the caller's group.

The counters are read from the driver's in-process status stores
(``statusStore()`` of the SparkContext and of the session's shared state),
which are kept with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

#: Python-worker metrics in the SQL status store, by metric name.
_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent_mb",
    "data returned from Python workers": "python.bytes_received_mb",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),\w+\)")
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
MB = 1024 * 1024


def parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric: ``"8.5 KiB"`` or the multi-task
    form ``"total (min, med, max ...)\\n8.5 KiB (2.0 KiB, ...)"``."""
    value, unit = text.strip().splitlines()[-1].split()[:2]
    return float(value) * _SIZE_UNITS[unit]


class SparkCounters:
    """Reads what Spark did between two points of the driver's timeline.

    During the timed passes only the id watermarks are read (a few cheap
    calls per operation); the per-stage and per-execution metrics are
    fetched once, after the passes, by :meth:`attribute`.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc
        self._tracker = jsc.statusTracker()
        self._app = jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc = jsc.sc()
        self._json = spark._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = spark._jvm.com.fasterxml.jackson.module.scala
        self._json.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
        # Ids are only dense above the ones the stores have already evicted
        # (and SQL execution ids keep counting across sessions), so start
        # from the highest id each store holds now.
        executions = self._sql.executionsList()
        if executions.size() == 0:  # learn the JVM-wide execution id counter
            spark.range(1).collect()
            executions = self._sql.executionsList()
        sql_ids = [executions.apply(i).executionId() for i in range(executions.size())]
        self.mark = self.watermark({
            "sql": max(sql_ids) + 1 if sql_ids else 0,
            "job": max((j["jobId"] + 1 for j in self._dump(self._app.jobsList(None))), default=0),
            "stage": max((st["stageId"] + 1 for st in self._stages()), default=0),
        })

    def _dump(self, obj) -> list[dict]:
        return json.loads(self._json.writeValueAsString(obj))

    def _stages(self) -> list[dict]:
        return self._dump(self._app.stageList(None, False, False, self._no_quantiles, None))

    def watermark(self, mark: dict[str, int] | None = None) -> dict[str, int]:
        """The next unused SQL execution, job and stage ids."""
        mark = mark or self.mark
        return {
            "sql": self._next_id(mark["sql"], lambda i: self._sql.execution(i).isDefined()),
            "job": self._next_id(mark["job"], lambda i: self._tracker.getJobInfo(i) is not None),
            "stage": self._next_id(mark["stage"], lambda i: self._tracker.getStageInfo(i) is not None),
        }

    @staticmethod
    def _next_id(start: int, exists) -> int:
        i = start
        while exists(i):
            i += 1
        return i

    def advance(self) -> dict[str, tuple[int, int]]:
        """Id ranges Spark handed out since the last call."""
        start, self.mark = self.mark, self.watermark()
        return {k: (start[k], self.mark[k]) for k in start}

    def cached_mb(self) -> float:
        """Persisted or checkpointed blocks the block manager holds now."""
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()) / MB

    def attribute(self, ranges: dict[str, tuple[int, int]], stages: dict[int, list[dict]]) -> dict:
        """Counters for one operation's id ranges; ``stages`` is
        :meth:`stage_table` read once for all operations."""
        out: dict[str, float] = defaultdict(float)
        for kind, key in (("sql", "spark.sql_executions"), ("job", "spark.jobs"),
                          ("stage", "spark.stages")):
            out[key] = ranges[kind][1] - ranges[kind][0]
        for sid in range(*ranges["stage"]):
            for st in stages.get(sid, []):
                out["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["spark.shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                out["spark.shuffle_read_mb"] += st["shuffleReadBytes"] / MB
                out["spark.spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
        for eid in range(*ranges["sql"]):
            for key, value in self._python_bytes(eid).items():
                out[key] += value / MB
        return dict(out)

    def stage_table(self) -> dict[int, list[dict]]:
        table: dict[int, list[dict]] = defaultdict(list)
        for st in self._stages():
            table[st["stageId"]].append(st)
        return table

    def _python_bytes(self, eid: int) -> dict[str, float]:
        found = self._sql.execution(eid)
        if not found.isDefined():
            return {}
        wanted = {int(acc): _PY_METRICS[name] for name, acc in
                  _PLAN_METRIC.findall(found.get().metrics().toString()) if name in _PY_METRICS}
        if not wanted:
            return {}
        values = self._sql.executionMetrics(eid)
        out: dict[str, float] = defaultdict(float)
        for acc, key in wanted.items():
            value = values.get(acc)
            if value.isDefined():
                out[key] += parse_size(value.get())
        return out


class Tracer:
    """In-memory spans plus per-operation Spark counters.

    With ``enabled=False`` every method is a cheap no-op, so the untraced run
    executes the same code path.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op: dict | None = None
        self._counters = SparkCounters(spark) if enabled else None

    @contextmanager
    def op(self, name: str, pass_no: int, kind: str = "op"):
        """One operation (a query's build + write, or an ingest tick), or with
        ``kind="step"`` pass-level work that is not an operation."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        self._counters.advance()  # drop anything that ran between ops
        rec = {"op_id": len(self.ops), "name": name, "pass": pass_no, "kind": kind}
        self._op = rec
        self.overhead_s += time.perf_counter() - t0
        try:
            with self.span(name):
                yield
        finally:
            t1 = time.perf_counter()
            rec["ids"] = self._counters.advance()
            self.ops.append(rec)
            self._op = None
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self._op is None:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"op_id": self._op["op_id"], "name": name, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def note(self, **values: float) -> None:
        """Attach extra counters to the current operation."""
        if self.enabled and self._op is not None:
            self._op.update(values)

    def cached_mb(self) -> float:
        if not self.enabled:
            return 0.0
        t0 = time.perf_counter()
        mb = self._counters.cached_mb()
        self.overhead_s += time.perf_counter() - t0
        return mb

    def attribute_counters(self) -> float:
        """Fetch the Spark metrics of every recorded operation (after the
        timed passes); returns the seconds it took."""
        if not self.enabled:
            return 0.0
        t0 = time.perf_counter()
        stages = self._counters.stage_table()
        for rec in self.ops:
            rec.update(self._counters.attribute(rec["ids"], stages))
        return time.perf_counter() - t0

    def self_times(self) -> list[dict]:
        """Each span's duration and self time (duration minus the part its
        direct children cover)."""
        child_total: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_total[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "dur_s": s["end"] - s["start"], "self_s": s["end"] - s["start"] - child_total[i]}
            for i, s in enumerate(self.spans)
        ]
