"""Spark counters read from the application status store.

Each benchmark operation runs under its own job group; afterwards the
group's jobs are looked up through ``statusTracker`` and their stages
and SQL executions are read from the status stores (both populated with
``spark.ui.enabled=false``):

* ``sc._jsc.sc().statusStore().lastStageAttempt(id)`` — task count,
  executor run, CPU and GC time, shuffle-write and input bytes;
* ``spark._jsparkSession.sharedState().statusStore()`` —
  ``planGraph(id)`` and ``executionMetrics(id)`` for per-operator SQL
  metrics (Python-worker time, join output rows).

Micro-batch progress comes from a ``StreamingQueryListener`` that the
benchmark registers (:class:`ProgressLog`).
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "input_bytes")

_UNITS_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_UNITS_B = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_metric(text: str, metric_type: str) -> float:
    """Value of one formatted SQL metric. Multi-task metrics read
    ``"total (min, med, max ...)\\n<total> (<min>, ...)"``; the total
    comes first on the last line."""
    line = text.strip().splitlines()[-1]
    if metric_type in ("timing", "nsTiming"):
        m = re.match(r"\s*([\d.,]+)\s*(ns|us|ms|s|min|m|h)\b", line)
        return float(m.group(1).replace(",", "")) * _UNITS_S[m.group(2)] if m else 0.0
    if metric_type == "size":
        m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", line)
        return float(m.group(1).replace(",", "")) * _UNITS_B[m.group(2)] if m else 0.0
    m = re.match(r"\s*([\d,]+)", line)
    return float(m.group(1).replace(",", "")) if m else 0.0


class SparkCounters:
    """Job-group tagging plus status-store readers for one session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._seq = 0

    @contextmanager
    def group(self, name: str):
        """Run the body's Spark jobs under a fresh job group; yields the
        group id. The group is per thread."""
        self._seq += 1
        gid = f"{name}#{self._seq}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, gid: str | None) -> list[int]:
        """Jobs of a group (``None``: of no group). The status store is
        filled from the listener bus asynchronously, so first wait until
        the bus has delivered every event of the jobs that have ended;
        otherwise the last jobs' stages read as missing or unfinished."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stages(self, job_ids) -> dict[str, float]:
        """Summed stage counters of the given jobs."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage skipped (its shuffle output was reused)
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
        out["jobs"] = float(len(set(job_ids)))
        return out

    def sql_metrics(self, job_ids) -> list[tuple[str, str, float]]:
        """``(node name, metric name, value)`` for every SQL metric of the
        SQL executions that ran any of ``job_ids``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        wanted = set(job_ids)
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = {int(j) for j in e.jobs().keySet().mkString(",").split(",") if j}
            if not jobs & wanted:
                continue
            eid = e.executionId()
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                mets = node.metrics()
                for q in range(mets.size()):
                    m = mets.apply(q)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out.append((node.name(), m.name(), parse_metric(v.get(), m.metricType())))
        return out


def python_worker_s(metrics) -> float:
    """Time Python workers ran, summed over Python-evaluating nodes."""
    return sum(v for _, name, v in metrics if name == "time to run Python workers")


def join_output_rows(metrics) -> float:
    """Rows out of the largest shuffled join (the band join of the LSH
    queries)."""
    return max(
        (
            v for node, name, v in metrics
            if name == "number of output rows" and "Join" in node and "Broadcast" not in node
        ),
        default=0.0,
    )


class ProgressLog(StreamingQueryListener):
    """Collects ``QueryProgressEvent``s under the operator name set in
    :attr:`current` when the micro-batch finished. A streaming query runs
    its jobs under the job group of its ``run_id``."""

    def __init__(self) -> None:
        self.current = ""
        self.events: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self._lock:
            self.events.setdefault(self.current, []).append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
