"""Measurement plumbing shared by the workloads: the Spark session, spans,
Spark's own job/stage counters, process memory and noise context.

Nothing here knows about a workload. Everything is read from outside the
engine: wall and CPU clocks around calls into its modules, Spark's REST
status API (the UI's AppStatusStore) and /proc.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside `work`, and put the engine on
    the Python workers' path (local-mode workers inherit the driver's
    environment through the JVM). Must run before pyspark starts a JVM.
    Every JVM (the launcher's too) skips its perf-data file, which it would
    write under /tmp whatever java.io.tmpdir says."""
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def make_spark(work: str, cores: int):
    """local[cores] session sized for a small box. The UI stays enabled in
    every mode (it serves the REST counters the traced run reads), on a free
    port, with console progress bars off so stdout carries only the result.
    The heap is fixed and touched at start, so the JVM's resident set does
    not follow GC timing from run to run."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms2g -XX:+AlwaysPreTouch -XX:+UseG1GC -Djava.io.tmpdir={work}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # The engine zips itself into /tmp for executors unless told it is
    # already shipped; here the workers import it from PYTHONPATH instead.
    from osm2mp_spark import shipping

    setattr(spark.sparkContext, shipping._FLAG, True)
    return spark


def noop(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0..100)."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. Each span also labels the Spark jobs it submits with a job
    group, so the UI shows them under the span's name."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0

    def add(self, name: str, start: float, end: float | None = None,
            parent: int | None = None) -> int:
        """Record a span whose times were taken elsewhere (e.g. on the
        streaming engine's thread) under `parent`, by default the innermost
        open span."""
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "name": name, "run": self.run_id,
                           "parent": parent, "start": start, "end": end})
        return sid

    @contextmanager
    def span(self, name: str):
        sid = self.add(name, time.time())
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sid}", name)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"span-{self._stack[-1]}", "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self, run: int) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans if s["run"] == run}
        for s in self.spans:
            if s["run"] == run and s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


# --- Spark's own counters ----------------------------------------------------

COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "task_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "input_mb": "MB", "output_mb": "MB",
}


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def settled_jobs(spark, timeout: float = 30.0) -> list[dict]:
    """All jobs the status store knows, once none is still running (the
    listener bus delivers job ends asynchronously)."""
    deadline = time.time() + timeout
    while True:
        jobs = _rest(spark, "jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            return jobs
        time.sleep(0.2)


def span_counters(spark, tracer: Tracer, run: int) -> dict[int, dict]:
    """Spark counters per span of one traced run. Each job goes to the
    innermost span open when it was submitted: the loop is closed with one
    client, so that span caused it. (Job groups label the spans in the UI,
    but the streaming engine's thread inherits the group of the span that
    started it, so the group alone would misattribute micro-batch jobs.)"""
    spans = [s for s in tracer.spans if s["run"] == run]
    jobs = settled_jobs(spark)
    stages: dict[int, list[dict]] = {}
    for st in _rest(spark, "stages"):
        stages.setdefault(st["stageId"], []).append(st)
    out = {s["id"]: dict.fromkeys(COUNTER_UNITS, 0.0) for s in spans}
    for job in jobs:
        t = _ts(job.get("submissionTime"))
        inside = [s for s in spans if t is not None and s["start"] <= t <= s["end"]]
        if not inside:
            continue
        c = out[max(inside, key=lambda s: s["start"])["id"]]
        c["jobs"] += 1
        for stage_id in job["stageIds"]:
            for st in stages.get(stage_id, []):
                if st["status"] == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                c["failed_tasks"] += st["numFailedTasks"]
                c["task_s"] += st["executorRunTime"] / 1e3
                c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                c["shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                c["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                c["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 2**20
                c["input_mb"] += st["inputBytes"] / 2**20
                c["output_mb"] += st["outputBytes"] / 2**20
    return out


# --- process memory and noise context ---------------------------------------


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _child_jvms() -> list[int]:
    me = os.getpid()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if int(fields[1]) == me and comm == "java":
            pids.append(int(d))
    return pids


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds it and its reaped children used)."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / tick)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the JVM, the Python daemon and its workers. Time the
    hypervisor steals from the box is not charged to them, which makes
    this far steadier than wall time on a shared machine. This process
    is read at full resolution, its descendants in clock ticks."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = time.process_time(), list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        total += table[pid][1]
        todo.extend(kids.get(pid, []))
    return total


class Clock:
    """Wall and CPU time together: `lap()` returns both since the last lap."""

    def __init__(self):
        self.wall, self.cpu = time.perf_counter(), tree_cpu_s()

    def lap(self) -> tuple[float, float]:
        wall, cpu = time.perf_counter(), tree_cpu_s()
        out = (wall - self.wall, cpu - self.cpu)
        self.wall, self.cpu = wall, cpu
        return out


def peak_rss_mb() -> float:
    """High-water resident set of this driver process plus its JVM."""
    kb = _vm_hwm_kb("self") + sum(_vm_hwm_kb(p) for p in _child_jvms())
    return kb / 1024.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def control_query_s(spark) -> float:
    """A fixed JVM-only aggregate over a generated range: its time does not
    depend on the engine or the inputs, so drift in it measures the box."""
    t0 = time.perf_counter()
    noop(spark.range(0, 20_000_000).selectExpr("SUM(id * 3 % 7) AS s", "COUNT(*) AS n"))
    return time.perf_counter() - t0


def git_sha() -> str:
    """HEAD of the repository the benchmark runs from, or "unknown" when
    that directory is not itself a git checkout."""
    try:
        r = subprocess.run(["git", "-C", REPO, "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    lines = r.stdout.split()
    if r.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(REPO):
        return "unknown"
    return lines[1]
