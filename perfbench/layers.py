"""Per-layer measurement from outside the program: job, stage and SQL
metrics harvested from Spark's status stores around each call, and
in-memory spans written out when the run ends.

Jobs are attributed to a call by diffing ``statusTracker`` job ids
before and after it, which also catches jobs started from the
package's worker threads (they carry no job group). Stage metrics come
from the core status store right after the call, because it keeps only
the last ``spark.ui.retainedStages`` stages. Python-boundary metrics
and scanned file bytes come from the SQL status store (the stages'
``inputBytes`` stays near zero for parquet scans). Both stores are fed
asynchronously by the listener bus, so each harvest first waits for
the bus to drain.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: StageData getter -> (metric, scale to the metric's unit)
STAGE_FIELDS = {
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "peakExecutionMemory": ("peak_exec_mem_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputRecords": ("scan_rows", 1),
    "outputBytes": ("write_bytes", 1),
}
#: SQL metric display name -> (metric, kind)
SQL_METRICS = {
    "time to start Python workers": ("boot_s", "time"),
    "time to initialize Python workers": ("init_s", "time"),
    "time to run Python workers": ("run_s", "time"),
    "data sent to Python workers": ("bytes_sent", "size"),
    "data returned from Python workers": ("bytes_received", "size"),
    "size of files read": ("scan_bytes", "size"),
}
#: Metrics combined by max instead of sum.
PEAKS = {"peak_exec_mem_bytes"}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_sql_metric(text: str, kind: str) -> float:
    """Parse a formatted SQL metric (``"1.3 s"``, ``"12.0 KiB"`` or the
    ``"total (min, med, max ...)\\n<total> (...)"`` form) to seconds or
    bytes."""
    line = text.split("\n")[-1].strip()
    number, unit = line.split()[:2]
    return float(number.replace(",", "")) * (_TIME if kind == "time" else _SIZE)[unit]


def empty_counts() -> dict[str, float]:
    out = {"jobs": 0, "stages": 0, "tasks": 0}
    out.update({name: 0 for name, _ in STAGE_FIELDS.values()})
    out.update({name: 0 for name, _ in SQL_METRICS.values()})
    return out


class Harvester:
    """Counts what Spark ran between ``mark()`` and ``since(mark)``."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        jsc = spark.sparkContext._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_stages: set[int] = set()
        self.last_exec = -1
        self._add_sql(-1, empty_counts())  # skip what ran before us

    def _drain(self) -> None:
        self.bus.waitUntilEmpty()

    def _job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def mark(self):
        self._drain()
        self._add_sql(self.last_exec, empty_counts())
        return self._job_ids(), self.last_exec

    def since(self, mark) -> dict[str, float]:
        jobs_before, last_exec = mark
        self._drain()
        out = empty_counts()
        for job_id in sorted(self._job_ids() - jobs_before):
            out["jobs"] += 1
            stage_ids = self.store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(stage_ids.apply(i), out)
        self._add_sql(last_exec, out)
        return out

    def _add_stage(self, stage_id: int, out: dict) -> None:
        if stage_id in self.seen_stages:
            return
        st = self.store.lastStageAttempt(stage_id)
        if st.status().toString() != "COMPLETE":
            return  # skipped: its work was counted where it ran
        self.seen_stages.add(stage_id)
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        for getter, (name, scale) in STAGE_FIELDS.items():
            value = getattr(st, getter)() * scale
            out[name] = max(out[name], value) if name in PEAKS else out[name] + value

    def _add_sql(self, last_exec: int, out: dict) -> None:
        """SQL metrics of executions newer than ``last_exec`` (the list
        is in execution id order)."""
        ex = self.sql.executionsList()
        i = ex.size() - 1
        while i >= 0 and ex.apply(i).executionId() > last_exec:
            e = ex.apply(i)
            self.last_exec = max(self.last_exec, e.executionId())
            i -= 1
            metrics = e.metrics()
            wanted = {}
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in SQL_METRICS:
                    wanted[m.accumulatorId()] = SQL_METRICS[m.name()]
            if not wanted:
                continue
            values = self.sql.executionMetrics(e.executionId()).iterator()
            while values.hasNext():
                kv = values.next()
                if kv._1() in wanted:
                    name, kind = wanted[kv._1()]
                    out[name] += parse_sql_metric(kv._2(), kind)


class Tracer:
    """In-memory spans (``workload -> pass -> op -> build|exec``) with
    parent ids; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, kind: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "kind": kind, "start_s": time.perf_counter() - self._t0, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)
