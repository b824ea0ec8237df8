"""Per-operation Spark metrics with the UI off.

Each operation runs under its own job group.  Afterwards the reader
drains the listener bus and reads the group's jobs from
`statusTracker()` and each stage's last attempt from the application
status store (`SparkContext.statusStore`), which the listener keeps
populated even with `spark.ui.enabled=false`.  No REST UI is needed.

`plan_shape` counts operators in a DataFrame's physical plan by walking
the plan tree, not by matching `explain()` text (which prints each node
twice in the formatted mode).
"""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import PurePosixPath

STAGE_FIELDS = ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")


@contextmanager
def job_group(sc, group: str):
    """Run the enclosed Spark actions under job group `group`."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def read_group(sc, group: str, t0_ms: float, t1_ms: float) -> dict:
    """Jobs, stages, tasks, executor time and bytes of job group `group`,
    plus `driver_wait_ms`: the part of the wall interval [t0_ms, t1_ms]
    (epoch ms) that no stage of the group was running in."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
    intervals = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        out["jobs"] += 1
        for sid in info.stageIds if info else ():
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
    out["driver_wait_ms"] = ((t1_ms - t0_ms) - _covered(intervals, t0_ms, t1_ms)
                             if out["jobs"] else 0.0)
    return out


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


_SCANS = ("FileSourceScanExec", "BatchScanExec", "InMemoryTableScanExec")
_EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _nodes(node):
    """Physical operators of `node`'s tree, through adaptive wrappers,
    query stages and subquery plans."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _nodes(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _nodes(node.plan())
        return
    yield name, node
    for child in _seq(node.children()) + _seq(node.subqueries()):
        yield from _nodes(child)


def plan_shape(df) -> dict:
    """Operator counts of `df`'s physical plan before execution:
    scans, exchanges, joins, and redundant scans (scans minus distinct
    base tables)."""
    plan = df._jdf.queryExecution().executedPlan()
    scans, tables, exchanges, joins = 0, set(), 0, 0
    for name, node in _nodes(plan):
        if name in _SCANS:
            scans += 1
            tables.add(_table_of(name, node))
        elif name in _EXCHANGES:
            exchanges += 1
        elif name.endswith("JoinExec") or name == "CartesianProductExec":
            joins += 1
    return {"scans": scans, "exchanges": exchanges, "joins": joins,
            "redundant_scans": scans - len(tables)}


def _table_of(name: str, node) -> str:
    if name == "FileSourceScanExec":
        paths = _seq(node.relation().location().rootPaths())
        return ",".join(sorted(PurePosixPath(str(p)).name for p in paths))
    return node.simpleStringWithNodeId()
