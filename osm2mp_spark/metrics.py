"""Measurement helpers shared by tools/ledgers.py, tools/dump_plans.py and
the test suite."""

from __future__ import annotations

import re


def max_stage_tasks(spark, tag: str, run) -> int:
    """Largest stage (by task count) among the jobs `run` submits, via a
    dedicated job group — the stable witness that AQE's skew split fired
    (the join stage fans out beyond the shuffle partition count). The
    final-plan `skew=true` string is NOT reliable for this: it only prints
    while the re-optimized query stage object is still materialized. Use a
    UNIQUE tag per probe — job groups accumulate across calls."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        run()
    finally:
        sc.setJobGroup("", "")
    tr = sc.statusTracker()
    mx = 0
    for j in tr.getJobIdsForGroup(tag):
        ji = tr.getJobInfo(j)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = tr.getStageInfo(sid)
            if si:
                mx = max(mx, si.numTasks)
    return mx


# Physical operators that hand rows to a Python worker: each runs one
# Python evaluation per task of its stage.
PYTHON_EVAL_NODES = (
    "ArrowEvalPython", "MapInPandas", "BatchEvalPython",
    "FlatMapGroupsInPandas",
)


def python_eval_counts(df) -> dict[str, int]:
    """Python-evaluation operators in `df`'s physical plan, per operator
    name (PYTHON_EVAL_NODES). A UDF evaluated twice, or two chained Python
    stages that could be one, shows up here. Under AQE the current plan is
    read — the final plan once `df` has run — so no operator is counted
    twice; a checkpointed input counts as a scan, not as the plan that
    filled it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    counts = dict.fromkeys(PYTHON_EVAL_NODES, 0)
    for line in plan.treeString().splitlines():
        node = re.sub(r"^[\s:+|-]*(\*\(\d+\)\s*)?", "", line).split(" ", 1)[0]
        if node in counts:
            counts[node] += 1
    return counts


__all__ = ["PYTHON_EVAL_NODES", "max_stage_tasks", "python_eval_counts"]
