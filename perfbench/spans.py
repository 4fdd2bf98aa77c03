"""Spans around the benchmark's calls into each layer, with Spark counts.

A span records wall time plus the Spark work that ran while it was open:
jobs, completed tasks, executor run time (``busy_s``) and shuffle bytes
written.  Counts come from the driver's status store, read from outside
the program: a span owns the job ids above the highest id seen when it
opened, and each stage is credited to the first span whose jobs ran it
(a stage reused by a later job is not counted twice).

``NullTracer`` has the same interface and records nothing; the untraced
run uses it.  The timed code is the same in both modes apart from the
span bookkeeping.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

FIELDS = ("wall_s", "jobs", "tasks", "busy_s", "shuffle_bytes")
# Row counts each span also records, for the benchmark's ratios: rows the
# span's stages read from storage (parquet files and cached blocks) and
# from shuffles.
ROWS = ("input_rows", "shuffle_read_rows")


def attribute(job_ids_before, job_ids_after, stages_of_job, seen_stages):
    """Pure attribution rule: the span's jobs are the ids in
    ``job_ids_after`` above ``max(job_ids_before)``; its stages are those
    jobs' stages not yet in ``seen_stages`` (which is updated).  Returns
    ``(jobs, stages)`` as sorted lists."""
    floor = max(job_ids_before, default=-1)
    jobs = sorted(j for j in job_ids_after if j > floor)
    stages = []
    for j in jobs:
        for s in stages_of_job(j):
            if s not in seen_stages:
                seen_stages.add(s)
                stages.append(s)
    return jobs, sorted(stages)


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield


class SparkTracer:
    """Records one entry per span; several spans may share a name (a loop
    of queries), and :meth:`totals` sums them per name."""

    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._seen_stages: set[int] = set()
        self.spans: list[dict] = []
        self.overhead_s = 0.0

    def _job_ids(self) -> list[int]:
        # Drain the listener bus first: the status store is filled
        # asynchronously, and a job that just ended may not be in it yet.
        self._bus.waitUntilEmpty()
        return list(self._sc.statusTracker().getJobIdsForGroup())

    def _stages_of_job(self, job_id: int) -> list[int]:
        ids = self._store.job(job_id).stageIds().mkString(",")
        return [int(s) for s in ids.split(",") if s]

    def _stage_counts(self, stage_id: int):
        """(tasks, run ms, shuffle bytes written, input rows, shuffle rows read)."""
        from py4j.protocol import Py4JJavaError

        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # a stage that was planned but never submitted
            return 0, 0, 0, 0, 0
        return (
            st.numCompleteTasks(), st.executorRunTime(), st.shuffleWriteBytes(),
            st.inputRecords(), st.shuffleReadRecords(),
        )

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        before = self._job_ids()
        self.overhead_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            t = time.perf_counter()
            jobs, stages = attribute(
                before, self._job_ids(), self._stages_of_job, self._seen_stages
            )
            sums = [0] * 5
            for s in stages:
                sums = [a + b for a, b in zip(sums, self._stage_counts(s))]
            tasks, busy_ms, shuffle, in_rows, sh_rows = sums
            self.spans.append(
                {
                    "name": name,
                    "wall_s": wall,
                    "jobs": len(jobs),
                    "tasks": tasks,
                    "busy_s": busy_ms / 1000.0,
                    "shuffle_bytes": shuffle,
                    "input_rows": in_rows,
                    "shuffle_read_rows": sh_rows,
                }
            )
            self.overhead_s += time.perf_counter() - t

    def totals(self) -> dict:
        """``{name: {field: sum}}`` plus ``calls`` per name."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(sp["name"], {f: 0 for f in FIELDS + ROWS} | {"calls": 0})
            agg["calls"] += 1
            for f in FIELDS + ROWS:
                agg[f] += sp[f]
        return out
