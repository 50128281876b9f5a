"""Per-query plan and scheduler counts, used only by the traced run.

``plan_counts`` walks a DataFrame's executed physical plan through the
JVM gateway (through AQE's final plan and its query stages) and counts
exchanges and rows read by scan leaves.  ``job_counts`` reads jobs and
completed tasks of a job group from the status tracker.
"""

from __future__ import annotations

_SCAN_PREFIXES = ("Scan", "FileScan", "InMemoryTableScan", "LocalTableScan")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _walk(node, out: dict) -> None:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), out)
        return
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), out)
        return
    name = node.nodeName()
    if "Exchange" in cls:
        out["exchanges"] += 1
    kids = _seq(node.children())
    if not kids and name.startswith(_SCAN_PREFIXES):
        metric = node.metrics().get("numOutputRows")
        if metric.isDefined():
            out["rows_scanned"] += int(metric.get().value())
    for k in kids:
        _walk(k, out)
    for sub in _seq(node.subqueries()):
        _walk(sub, out)


def plan_counts(df) -> dict:
    """Counts over the plan ``df`` last executed with.  Call after an
    action on ``df`` itself, so AQE's plan is final and metrics are set."""
    out = {"exchanges": 0, "rows_scanned": 0}
    _walk(df._jdf.queryExecution().executedPlan(), out)
    return out


def force_plan(df) -> None:
    """Run analysis, optimisation and physical planning without
    executing; the following action reuses the planned query."""
    df._jdf.queryExecution().executedPlan()


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) of every job run under ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
    return len(jobs), tasks
