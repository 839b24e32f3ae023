"""Per-call Spark accounting for the traced run.

Each traced call runs under its own job group; after the call the group's
jobs and their stages are read back from the status tracker and the
application status store (both work with ``spark.ui.enabled=false``).
The store keeps only the last ``spark.ui.retainedStages`` /
``retainedJobs`` (1000) entries, so it is read after every call, never
at the end of a run.

Executor CPU is JVM thread time: CPU spent in Python worker processes
(pandas UDF kernels) shows up as executor wait, not CPU.
"""

from __future__ import annotations

import time

STAGE_FIELDS = ("tasks", "executor_cpu_ms", "executor_wait_ms",
                "gc_ms", "shuffle_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self.sc.statusTracker()

    def _jobs(self, group: str) -> list:
        self._bus.waitUntilEmpty()
        return list(self._tracker.getJobIdsForGroup(group))

    def _stage_totals(self, jobs: list) -> dict:
        stages = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for s in stages:
            sd = self._store.lastStageAttempt(s)
            cpu_ms = sd.executorCpuTime() / 1e6
            out["tasks"] += sd.numCompleteTasks()
            out["executor_cpu_ms"] += cpu_ms
            # run time is whole ms, CPU time ns: clamp the rounding
            out["executor_wait_ms"] += max(sd.executorRunTime() - cpu_ms, 0)
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    def call(self, group: str, build, action) -> tuple:
        """Run ``action(build())`` under job group ``group``. Returns the
        action's result, the call's wall seconds (build, eager-job wait,
        plan and action) and its span record."""
        self.sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            eager = len(self._jobs(group))
            t2 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t3 = time.perf_counter()
            result = action(df)
            t4 = time.perf_counter()
            del df
            jobs = self._jobs(group)
        finally:
            self.sc._jsc.clearJobGroup()
        span = {"group": group, "start": t0, "end": t4,
                "build_ms": (t1 - t0) * 1e3, "eager_jobs": eager,
                "plan_ms": (t3 - t2) * 1e3, "exec_ms": (t4 - t3) * 1e3,
                "jobs": len(jobs), **self._stage_totals(jobs)}
        return result, t4 - t0, span
