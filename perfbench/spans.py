"""Per-layer spans read from Spark's in-process status stores.

A span wraps one layer call: it sets a Spark job group, runs the call
(which materializes the layer's output), then sums over the group's
jobs what ``statusStore`` kept for their stages. The stores stay
readable with the UI disabled, so the program is run unchanged.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

SPAN_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "executor_run_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "busy_frac": "fraction",
}
#: keeps every job of the longest span (the LR fit runs one per iteration)
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}
_SORT_AGG = re.compile(r"^\(\d+\) SortAggregate\b", re.M)


class Tracer:
    """Records spans in memory; ``spans`` maps name → metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.spans: dict[str, dict] = {}
        self.sort_aggregates: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        first_exec = sql_store.executionsCount()
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.spans[name] = self._stage_totals(name, wall)
        self.sort_aggregates[name] = sum(
            len(_SORT_AGG.findall(sql_store.execution(eid).get().physicalPlanDescription()))
            for eid in range(first_exec, sql_store.executionsCount())
            if sql_store.execution(eid).isDefined()
        )

    def _stage_totals(self, group: str, wall: float) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
        run_ms = shuffle = spill = 0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted
                continue
            run_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        run_s = run_ms / 1000
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "executor_run_s": run_s,
            "shuffle_write_mb": shuffle / 2**20,
            "spill_mb": spill / 2**20,
            "busy_frac": run_s / (wall * self.cores) if wall > 0 else 0.0,
        }
