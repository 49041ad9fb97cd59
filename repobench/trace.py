"""Per-layer measurements taken from outside the program.

Spans are timed around calls into each module's public functions; the
rest is read from Spark's own accounting after the work: the job and
stage status store (jobs, stages, tasks, executor time, shuffle and
spill) and the SQL status store (metrics of Python-evaluation nodes).
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

# Python-evaluation nodes and the metrics read from them, by their names
# in the SQL status store
PY_NODE = re.compile(r"EvalPython|MapIn|InPandas|InArrow|PythonUDTF")
PY_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "received_mb",
    "number of output rows": "rows",
}


def calibrate(reps: int = 5) -> float:
    """Median seconds of a fixed single-thread NumPy + Python kernel: the
    host's current speed, reported beside the metrics and never gated."""
    import numpy as np

    times = []
    for _ in range(reps):
        t = time.perf_counter()
        a = np.random.default_rng(0).standard_normal((96, 96))
        acc = 0
        for _ in range(100):
            a = np.tanh(a @ a.T / 96.0)
            acc += sum(range(3000))
        times.append(time.perf_counter() - t)
    return sorted(times)[len(times) // 2]


def parse_metric(text: str) -> float:
    """A SQL metric's display string ("1.2 s", "3.4 MiB", "1,234", or the
    multi-line total/min/med/max form) as seconds, bytes or a count."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    """Spans and Spark-side counters for one traced pass."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] += time.perf_counter() - t

    @contextmanager
    def group(self, name: str):
        """Run the body under job group ``name``; yields the job-id list,
        filled when the body ends."""
        jobs: list[int] = []
        self.sc.setJobGroup(name, name)
        try:
            yield jobs
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setJobDescription(None)
            self.drain()
            jobs.extend(self.sc.statusTracker().getJobIdsForGroup(name))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = defaultdict(float)
        seen = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted or never submitted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out

    def executions_so_far(self) -> int:
        return self.spark._jsparkSession.sharedState().statusStore().executionsCount()

    def python_totals(self, job_ids: list[int], first_execution: int) -> dict[str, float]:
        """Python-evaluation node metrics of the SQL executions, from the
        ``first_execution``-th on, that ran any of ``job_ids``."""
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        wanted = set(job_ids)
        out = defaultdict(float)
        for ex in conv.asJava(store.executionsList(first_execution, 1 << 30)):
            if not wanted & set(conv.asJava(ex.jobs()).keySet()):
                continue
            eid = ex.executionId()
            values = dict(conv.asJava(store.executionMetrics(eid)).items())
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                if not PY_NODE.search(node.name()):
                    continue
                for metric in conv.asJava(node.metrics()):
                    key = PY_METRICS.get(metric.name())
                    raw = values.get(metric.accumulatorId())
                    if key and raw:
                        scale = 1 / MB if key.endswith("_mb") else 1.0
                        out[key] += parse_metric(raw) * scale
        return out

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB
