"""Spans and counters taken from outside the engine.

``Tracer`` records one span per call into a layer (name, start, end,
parent, pass id) in memory and writes them out once, when the run ends.
``SparkCounters`` reads what Spark already keeps: job groups and the
status store (jobs, tasks, executor CPU, shuffle and spill bytes, job
submission and completion times), the persistent-RDD registry, and the
driver JVM's peak resident memory. ``ProgressListener`` collects
streaming micro-batch progress. Nothing here changes session settings.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> None:
        """A span whose times were measured elsewhere (a Spark job)."""
        if self.enabled:
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": name,
                    "parent": parent,
                    "pass": self.pass_id,
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover."""
        child_cover: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(child_cover.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkCounters:
    """Counters read from the running SparkContext through its status
    store; valid for the jobs of one job group at a time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.tracker = self.sc.statusTracker()

    def drain(self) -> None:
        """Wait until every posted listener event has been handled, so the
        status store and streaming listeners have seen the last job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def persistent_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def group_jobs(self, group: str) -> dict:
        """Jobs, tasks, executor CPU, shuffle and spill bytes, and each
        job's (submitted, completed) epoch seconds for one job group."""
        self.drain()
        out = {
            "jobs": 0,
            "tasks": 0,
            "executor_cpu_s": 0.0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "job_times": [],
        }
        for jid in self.tracker.getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            out["tasks"] += job.numCompletedTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_times"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = self._store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # a stage the status store evicted
                    continue
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM process the Python driver launched."""
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM line for the driver JVM")


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress of every streaming query."""

    def __init__(self):
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, query_id) -> list:
        """Progress of one query, removed from the buffer."""
        mine = [p for p in self.progress if str(p.id) == str(query_id)]
        self.progress = [p for p in self.progress if str(p.id) != str(query_id)]
        return mine
