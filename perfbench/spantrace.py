"""Spans around calls into the program, with Spark counters per span.

Each span runs in its own Spark job group. When the span ends, the tracer
waits for the listener bus to drain and reads every stage of the group's jobs
from Spark's app status store (`statusStore().lastStageAttempt`), which is
populated with `spark.ui.enabled=false` too. Reading right after the span
keeps the read inside Spark's retention window (1000 stages by default; the
battery alone launches several hundred). A job or stage the store no longer
holds raises `TraceError` instead of being counted as zero.

With tracing off, a span only measures its wall time.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# Counters summed over the completed stages of a span, in the order printed.
COUNTERS = [
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "python_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_read_records",
    "shuffle_write_records", "spill_bytes", "input_bytes", "output_bytes",
]
_LISTENER_WAIT_MS = 60_000


class TraceError(RuntimeError):
    pass


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent reading the status store
        self._n = 0

    @contextmanager
    def span(self, name: str):
        """Time the body; when tracing, attach the Spark counters of every
        job the body launched. The record is appended to `self.spans` and
        yielded so the caller can add fields."""
        self._n += 1
        group = f"perfbench-{self._n}"
        rec: dict = {"name": name}
        self.sc.setJobGroup(group, name, False)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec["group"] = group
        if self.enabled:
            t1 = time.perf_counter()
            rec.update(self.read_group(group))
            self.overhead_s += time.perf_counter() - t1
        self.spans.append(rec)

    def job_ids(self, group: str) -> list[int]:
        self._drain()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _drain(self) -> None:
        # returns false (Spark 3+) or throws on timeout
        if self.sc._jsc.sc().listenerBus().waitUntilEmpty(_LISTENER_WAIT_MS) is False:
            raise TraceError("Spark listener bus did not drain")

    def read_group(self, group: str) -> dict:
        """Sum the counters of every stage that ran for the group's jobs.
        `skew` is the slowest task over the median task in the stage with
        the most executor run time."""
        job_ids = self.job_ids(group)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(job_ids)
        slowest = None  # (run_ms, stage_id, attempt)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                raise TraceError(f"job {jid} of {group} missing from the status store")
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception as e:  # py4j wraps NoSuchElementException
                    raise TraceError(
                        f"stage {sid} of job {jid} ({group}) missing from the status store"
                    ) from e
                status = sd.status().toString()
                if status == "SKIPPED":
                    continue
                if status != "COMPLETE":
                    raise TraceError(f"stage {sid} of {group} is {status}")
                run_ms = sd.executorRunTime()
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += run_ms
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_records"] += sd.shuffleReadRecords()
                out["shuffle_write_records"] += sd.shuffleWriteRecords()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
                if slowest is None or run_ms > slowest[0]:
                    slowest = (run_ms, sid, sd.attemptId())
        # executor run time not spent on the JVM's CPU: Python workers
        # (Arrow/pandas UDFs, RDD lambdas) plus waiting on I/O
        out["python_ms"] = out["run_ms"] - out["cpu_ms"]
        out["skew"] = self._skew(store, slowest) if slowest else 1.0
        return out

    def _skew(self, store, slowest) -> float:
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(slowest[1], slowest[2], qs)
        if not summary.isDefined():
            raise TraceError(f"no task summary for stage {slowest[1]}")
        dur = summary.get().duration()
        median, top = dur.apply(0), dur.apply(1)
        return top / median if median > 0 else 1.0


def totals(spans: list[dict]) -> dict:
    """Counters summed over spans; skew is the largest span skew."""
    out = {k: sum(s[k] for s in spans) for k in COUNTERS}
    out["skew"] = max((s["skew"] for s in spans), default=1.0)
    return out
