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


def codegen_compiles(spark) -> dict:
    """Janino compilations of generated code since the JVM started, from
    Spark's CodegenMetrics: `compiles` (one per compiled source: a
    whole-stage body or an expression class, counted once under each
    class loader that compiles it) and `source_bytes`, their total source
    size. Subtract two readings to count what a call compiled; a call
    whose rerun still compiles generates per-call source, or lost its
    classes to the cache (spark.sql.codegen.cache.maxEntries).
    `source_bytes` sums the size histogram's sample, which holds every
    compile only until it overflows (1028 entries); past that it is None."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    sizes = metrics.METRIC_SOURCE_CODE_SIZE()
    sample = sizes.getSnapshot().getValues()
    return {
        "compiles": int(metrics.METRIC_COMPILATION_TIME().getCount()),
        # summed in the JVM: one py4j call, not one per sampled value
        "source_bytes": int(jvm.java.util.Arrays.stream(sample).sum())
        if len(sample) == sizes.getCount() else None,
    }


__all__ = [
    "PYTHON_EVAL_NODES", "codegen_compiles", "max_stage_tasks",
    "python_eval_counts",
]
