"""Per-job-group stage metrics read from Spark's status store.

The collector reads ``sc._jsc.sc().statusStore()``, the in-memory store the
Spark UI would render from. It works with ``spark.ui.enabled=false`` and
submits no Spark job: every value comes from listener events Spark records
anyway. Callers tag their jobs with ``SparkContext.setJobGroup`` and read the
totals per group afterwards.
"""

from __future__ import annotations

MB = 1024 * 1024


class StatusCollector:
    """Reads stage metrics of finished jobs, grouped by job group."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store reflects all jobs that already returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_count(self) -> int:
        """Number of jobs the store knows of (any group, any status)."""
        self.drain()
        return self._store.jobsList(None).size()

    def group_jobs(self, group: str) -> list:
        """``JobData`` of every job tagged with ``group``."""
        self.drain()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            tag = job.jobGroup()
            if tag.isDefined() and tag.get() == group:
                out.append(job)
        return out

    def group_metrics(self, group: str, span: tuple[float, float] | None = None) -> dict:
        """Totals over the jobs of ``group``.

        ``span`` (epoch seconds) additionally yields ``busy_s``: the part of
        the span during which at least one of the group's stages was
        running. ``max_task_s`` is the longest task of the group's stage
        with the largest executor run time. ``peak_exec_mb`` is the largest
        stage total of the tasks' peak execution memory (hash maps, sort
        and aggregation buffers, as Spark's memory manager accounts it)."""
        jobs = self.group_jobs(group)
        stage_ids = set()
        tasks = 0
        for job in jobs:
            tasks += job.numCompletedTasks()
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_ids.add(ids.apply(i))
        totals = {"jobs": len(jobs), "tasks": tasks,
                  "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
                  "shuffle_write_mb": 0.0, "spill_mb": 0.0, "max_task_s": 0.0,
                  "peak_exec_mb": 0.0}
        intervals = []
        largest = None
        for sid in sorted(stage_ids):
            stage = self._last_attempt(sid)
            if stage is None or stage.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            run_ms = stage.executorRunTime()
            totals["executor_run_s"] += run_ms / 1000
            totals["gc_s"] += stage.jvmGcTime() / 1000
            totals["shuffle_read_mb"] += stage.shuffleReadBytes() / MB
            totals["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
            totals["spill_mb"] += stage.diskBytesSpilled() / MB
            totals["peak_exec_mb"] = max(totals["peak_exec_mb"],
                                         stage.peakExecutionMemory() / MB)
            if largest is None or run_ms > largest[0]:
                largest = (run_ms, stage)
            start, end = stage.submissionTime(), stage.completionTime()
            if start.isDefined() and end.isDefined():
                intervals.append((start.get().getTime() / 1000, end.get().getTime() / 1000))
        if largest is not None:
            totals["max_task_s"] = self._max_task_s(largest[1])
        if span is not None:
            totals["busy_s"] = covered(intervals, *span)
        return totals

    def _last_attempt(self, stage_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # stage never submitted, or already evicted
            return None

    def _max_task_s(self, stage) -> float:
        gateway = self._sc._gateway
        quantiles = gateway.new_array(gateway.jvm.double, 1)
        quantiles[0] = 1.0
        summary = self._store.taskSummary(stage.stageId(), stage.attemptId(), quantiles)
        if not summary.isDefined():
            return 0.0
        return summary.get().duration().apply(0) / 1000


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total = 0.0
    end = lo
    for start, stop in sorted(intervals):
        start, stop = max(start, end), min(stop, hi)
        if stop > start:
            total += stop - start
            end = stop
    return total
