"""Per-call attribution of Spark work, measured from outside the library.

Every public library call the benchmark makes goes through
``Tracer.call``. Untraced, that is a wall-clock timer and nothing else.
Traced, the call also gets its own Spark job group, and afterwards the
collector waits for the listener bus to drain and reads the jobs the
call started from the application status store (which the status
tracker and the store keep with ``spark.ui.enabled=false``).

Jobs are attributed by job-id window, not only by group: the HNSW build
runs part of its work on a second driver thread, which does not inherit
the caller's job group. One call is outstanding at a time, so every job
started between a call's start and end belongs to that call; the window
is re-read at each call's start, so Spark work the benchmark does
outside ``call`` (its own output checks) is attributed to nothing.
"""

from __future__ import annotations

import time
from collections import defaultdict

# Stats kept per call name; summed over the calls of one run.
STATS = ("calls", "wall_s", "jobs", "stages", "tasks", "failed_tasks",
         "exec_run_s", "exec_cpu_s", "shuffle_bytes", "input_rows",
         "result_rows", "job_busy_s")


class Tracer:
    def __init__(self, spark, *, traced: bool, cores: int):
        self.spark = spark
        self.traced = traced
        self.cores = cores
        self.calls: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(STATS, 0.0)
        )
        self.collector_s = 0.0
        self._group = 0
        if traced:
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def call(self, name: str, fn, *, result_rows=None):
        """Run ``fn()`` and return ``(result, wall_s)``. ``result_rows``
        maps the result to its row count, for rows-read-per-result."""
        if self.traced:
            t0 = time.perf_counter()
            self._group += 1
            self.spark.sparkContext.setJobGroup(f"pb{self._group}", name)
            first = self._max_job_id() + 1
            self.collector_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        if self.traced:
            self._attribute(name, wall, out, result_rows, first)
        return out, wall

    # ------------------------------------------------------------ traced
    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty(60_000)
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _attribute(self, name, wall, out, result_rows, first) -> None:
        t0 = time.perf_counter()
        last = self._max_job_id()
        row = self.calls[name]
        row["calls"] += 1
        row["wall_s"] += wall
        if result_rows is not None:
            row["result_rows"] += result_rows(out)
        stage_ids = set()
        spans = []
        for jid in range(first, last + 1):
            job = self._store.job(jid)
            row["jobs"] += 1
            row["stages"] += job.numCompletedStages() + job.numFailedStages()
            row["tasks"] += job.numCompletedTasks() + job.numFailedTasks()
            row["failed_tasks"] += job.numFailedTasks()
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            row["exec_run_s"] += st.executorRunTime() / 1e3
            row["exec_cpu_s"] += st.executorCpuTime() / 1e9
            row["shuffle_bytes"] += st.shuffleWriteBytes()
            row["input_rows"] += st.inputRecords()
        row["job_busy_s"] += _union_ms(spans) / 1e3
        self.collector_s += time.perf_counter() - t0

    def table(self) -> dict[str, dict[str, float]]:
        """Per-call rows with the derived ratios."""
        out = {}
        for name, r in self.calls.items():
            r = dict(r)
            r["exec_util"] = (r["exec_run_s"] / (r["wall_s"] * self.cores)
                              if r["wall_s"] else 0.0)
            if r["result_rows"]:
                r["rows_read_per_result"] = r["input_rows"] / r["result_rows"]
            out[name] = r
        return out

    def totals(self) -> dict[str, float]:
        """Sums of the stats over every call."""
        return {s: sum(r[s] for r in self.calls.values()) for s in STATS}


def _union_ms(spans: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
