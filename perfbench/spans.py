"""Spans around the benchmark's calls into the engine, and the Spark
accounting attributed to each call.

Everything here observes the engine from outside. Each traced call
runs under its own Spark job group. After the call returns, the
listener bus is drained and two of Spark's own stores are read:

- the application status store (``statusStore().lastStageAttempt``)
  for task time, CPU, GC, scan, shuffle, spill and write bytes;
- the SQL status store for the Python-UDF plan metrics: bytes sent to
  and received from the Python workers, and their run, boot and init
  times.

Both are populated with the Spark UI disabled. The drain and the
reads happen after the call's span has ended, so they count toward
the iteration's self time, not toward the call.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from contextlib import contextmanager

# per-call metric suffix -> unit
CALL_METRICS = {
    "wall_s": "s", "task_s": "s", "jvm_cpu_s": "s", "gc_s": "s",
    "scan_mb": "MB", "shuffle_mb": "MB", "fetch_wait_s": "s",
    "spill_mb": "MB", "py_sent_mb": "MB", "py_received_mb": "MB",
    "py_run_s": "s", "py_init_s": "s", "write_mb": "MB", "jobs": "count",
    "tasks_failed": "count",
}

# SQL plan metric display name -> (per-call suffix, scale to its unit)
_SQL_METRICS = {
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_received_mb",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_init_s",
    "time to initialize Python workers": "py_init_s",
}

_MB = 1e6
_UNIT = {"B": 1 / _MB, "KiB": 1024 / _MB, "MiB": 1024 ** 2 / _MB,
         "GiB": 1024 ** 3 / _MB, "TiB": 1024 ** 4 / _MB,
         "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric, in MB or seconds.

    The SQL store keeps aggregated metrics as display strings, either
    ``'813 ms'`` or ``'total (min, med, max ...)\\n1.5 s (334 ms, ...)'``;
    the total is the first value of the last line."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class Tracer:
    """Spans and per-call Spark accounting for one benchmark run.

    With ``enabled=False`` a call is run bare: no job group, no span,
    no store reads, so untraced iterations pay nothing for tracing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._seen_stages: set[int] = set()
        self._seen_execs = 0

    @contextmanager
    def span(self, name: str):
        """Record a span around the block when tracing; yield its id."""
        if not self.enabled:
            yield None
            return
        sid = uuid.uuid4().hex[:12]
        rec = {"run_id": self.run_id, "span_id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` as the call ``name``; when tracing, attach its
        Spark accounting to the call's span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        sc = self.spark.sparkContext
        group = f"{self.run_id}:{len(self.spans)}:{name}"
        sc.setJobGroup(group, name)
        try:
            with self.span(name):
                out = fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.spans[-1]["metrics"] = self._accounting(group)
        return out

    def _accounting(self, group: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
        m = dict.fromkeys(CALL_METRICS, 0.0)
        m["jobs"] = float(len(job_ids))
        store = jsc.statusStore()
        for jid in job_ids:
            info = sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                # a stage shared by several jobs, or reused from an
                # earlier call's shuffle, is counted once, by the
                # first call that ran it
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j: skipped stage, never stored
                    continue
                m["task_s"] += sd.executorRunTime() / 1e3
                m["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["scan_mb"] += sd.inputBytes() / _MB
                m["shuffle_mb"] += sd.shuffleWriteBytes() / _MB
                m["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                m["spill_mb"] += sd.diskBytesSpilled() / _MB
                m["write_mb"] += sd.outputBytes() / _MB
                m["tasks_failed"] += sd.numFailedTasks()
        self._add_sql_metrics(job_ids, m)
        return m

    def _add_sql_metrics(self, job_ids: set[int], m: dict) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        execs = sql.executionsList(self._seen_execs, count - self._seen_execs)
        self._seen_execs = count
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            ex_jobs = set()
            keys = ex.jobs().keysIterator()
            while keys.hasNext():
                ex_jobs.add(int(keys.next()))
            if not ex_jobs & job_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            seen = set()    # a plan graph can list one metric twice
            metrics = ex.metrics().iterator()
            while metrics.hasNext():
                pm = metrics.next()
                key = _SQL_METRICS.get(pm.name())
                if key is None or pm.accumulatorId() in seen:
                    continue
                seen.add(pm.accumulatorId())
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    m[key] += parse_sql_metric(v.get())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f,
                      indent=1)


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> its duration minus the part its children cover."""
    child_time: dict[str, float] = {}
    for s in spans:
        if s["parent"]:
            child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                       + s["end"] - s["start"])
    return {s["span_id"]: s["end"] - s["start"] - child_time.get(s["span_id"], 0.0)
            for s in spans}
