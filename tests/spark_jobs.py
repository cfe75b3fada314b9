"""The Spark work a call starts, for tests that budget it.

``spark_work`` runs a callable under a job group of its own and returns
its result with the number of Spark jobs it started and the physical
plans of the SQL queries it ran. A second group run after it is the
control that every event of the first has arrived: listener events
arrive in order, so once the control's job is visible, the counted
group's jobs and queries are too.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from typing import Any


@dataclass
class Work:
    result: Any
    jobs: int
    plans: list[str]


def _executions(spark, after: int) -> list:
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        if e.executionId() > after:
            out.append(e)
    return out


def _job_ids(execution) -> set[int]:
    keys = execution.jobs().keySet().mkString(",")
    return {int(k) for k in keys.split(",") if k}


def spark_work(spark, fn) -> Work:
    """Run ``fn()`` and count what it started in Spark."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, control = f"g-{uuid.uuid4().hex}", f"c-{uuid.uuid4().hex}"
    before = max((e.executionId() for e in _executions(spark, -1)), default=-1)
    try:
        sc.setJobGroup(group, "counted")
        result = fn()
        sc.setJobGroup(control, "control")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(control):
        assert time.monotonic() < deadline, "control group never saw a job"
        time.sleep(0.1)
    control_jobs = set(tracker.getJobIdsForGroup(control))
    plans = [
        e.physicalPlanDescription()
        for e in _executions(spark, before)
        if not _job_ids(e) & control_jobs
    ]
    return Work(result, len(tracker.getJobIdsForGroup(group)), plans)


def jobs_in_group(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts."""
    return spark_work(spark, fn).jobs
