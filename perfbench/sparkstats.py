"""Spark-side counters, read from outside the program.

Each traced operation runs in its own job group; afterwards the status
tracker gives its jobs, the stages they ran and the tasks launched.
Python exec nodes are counted in the physical plans of the SQL
executions the operation started, as the SQL status store records them
(final adaptive plans, eager sub-plans included).
"""

from __future__ import annotations

import re
from contextlib import contextmanager

_NODE = re.compile(r"^[\s+\-:|*]*(\w+)")


def drain(sc) -> None:
    """Wait until the listener bus has delivered every event, so the
    status stores have seen the end of the jobs that already returned."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


@contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under ``group``. A stage skipped
    because its shuffle output was reused launches no task and is not
    counted."""
    drain(sc)
    st = sc.statusTracker()
    out = {"jobs": 0, "failed_jobs": 0, "stages": 0, "tasks": 0,
           "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        if job is None:
            continue
        out["jobs"] += 1
        out["failed_jobs"] += job.status == "FAILED"
        for sid in job.stageIds:
            stage = st.getStageInfo(sid)
            if stage is None:
                continue
            launched = (stage.numActiveTasks + stage.numCompletedTasks
                        + stage.numFailedTasks)
            if launched:
                out["stages"] += 1
                out["tasks"] += launched
                out["failed_tasks"] += stage.numFailedTasks
    return out


def is_python_node(name: str) -> bool:
    return "Python" in name or name.endswith(("InPandas", "InArrow"))


def python_nodes(plan: str) -> int:
    """Python exec nodes in the tree part of a formatted physical plan.
    Under adaptive execution only the final plan counts; the initial
    plan's subtree is skipped."""
    count = 0
    initial_at = None  # column of the "== Initial Plan ==" marker text
    for line in plan.splitlines():
        if re.match(r"^\(\d+\) ", line):
            break  # node details follow the tree; each node is listed again
        indent = len(line) - len(line.lstrip(" +-:|*"))
        if initial_at is not None:
            if indent >= initial_at:
                continue
            initial_at = None
        if "== Initial Plan ==" in line:
            initial_at = indent
            continue
        m = _NODE.match(line)
        if m and is_python_node(m.group(1)):
            count += 1
    return count


class SqlExecutions:
    """Python exec nodes in the SQL executions started since the last
    call to :meth:`take`. The store lists executions in id order."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.seen = self._store().executionsCount()

    def _store(self):
        drain(self.spark.sparkContext)
        return self.spark._jsparkSession.sharedState().statusStore()

    def take(self) -> int:
        store = self._store()
        total = store.executionsCount()
        it = store.executionsList(self.seen, total - self.seen).iterator()
        nodes = 0
        while it.hasNext():
            nodes += python_nodes(it.next().physicalPlanDescription())
        self.seen = total
        return nodes


def free_blocks(spark) -> None:
    """Drop cached tables and checkpoint blocks left by the previous
    operation, blocking until they are gone."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet().toArray()):
        rdds.get(rid).unpersist(True)
