#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation on local[nproc],
one job at a time (a closed loop with one client).

    python3 perfbench/run.py --workload batch_rollup --seed 1 --seconds 10 --trace 0

Workloads: batch_rollup (the geo_tiles, image_dedup and image_table query
sets in one process), stream_ingest, or `all` (each in its own process, one
combined line at the end).

Prints, as the last line of stdout, one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones of a traced run. `attempted` counts the units of work run
(queries or micro-batches) plus the output checks; `failed` those that
raised, went uncertified or failed their check. Noise context goes to
stderr, and the traced run's spans to .bench_build/perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from workloads import GEO_QUERIES, WORKLOADS  # noqa: E402

REPO = harness.REPO
OUT = os.path.join(REPO, ".bench_build", "perfbench")
SETUP_REPEATS = 3

# Times are CPU seconds of the driver, its JVM and the Python workers: on a
# shared box wall time drifts up to 2x between sessions (the control query's
# own time does), CPU time charged to the processes does not. The wall
# times of the same passes are per-layer metrics (`wall.*`) and context.
END_TO_END = {
    "run_cpu_s": "s", "rows_per_cpu_s": "1/s", "batch_cpu_s_p50": "s",
    "batch_cpu_s_p90": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB", "setup_s": "s",
}
# every per-layer metric, emitted by each workload; a layer a workload does
# not pass through did no work there and reads 0
PER_LAYER = {
    **{f"queries.{q}.{p}_s": "s" for q in GEO_QUERIES for p in ("build", "plan", "exec")},
    "sources.lineitem_scan_s": "s",
    "plans.flagship.assign_s": "s",
    "plans.flagship.fallback_ratio": "ratio",
    "sources.images.gen_s": "s",
    "operators.images.sigs_s": "s",
    "operators.images.pairs_s": "s",
    "operators.images.candidates": "count",
    "operators.images.pairs": "count",
    "operators.images.pair_yield": "ratio",
    "operators.chains.components_s": "s",
    "operators.chains.edges_in": "count",
    "operators.chains.components": "count",
    "driver.build_s": "s",
    "driver.exec_s": "s",
    "streaming.dedup.batch_s_before_compaction": "s",
    "streaming.dedup.batch_s_after_compaction": "s",
    "streaming.dedup.store_rows_scanned": "count",
    "streaming.dedup.read_mb": "MB",
    "streaming.dedup.compact_s": "s",
    "streaming.dedup.store_bytes_per_sig": "B",
    "streaming.dedup.pairs": "count",
    "sources.images.table_scan_s": "s",
    "sources.images.table_mb": "MB",
    "plans.images_flagship.kernel_s": "s",
    "spatial.index_build_s": "s",
    "spatial.bsp_build_s": "s",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    **{f"spark.{k}": u for k, u in harness.COUNTER_UNITS.items()},
    "wall.run_s": "s",
    "wall.rows_per_s": "1/s",
    "wall.batch_s_p50": "s",
    "wall.batch_s_p90": "s",
    "wall.setup_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.accounted_share": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke test's sf0.001-sized inputs")
    return ap.parse_args(argv)


def run_all(args) -> int:
    """Every workload in its own process; one combined result line. A
    workload whose process fails counts as one failed unit."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        p = subprocess.run(cmd, capture_output=True, text=True)
        sys.stderr.write(p.stderr)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited {p.returncode}", file=sys.stderr)
            total["correct"] = False
            total["attempted"] += 1
            total["failed"] += 1
            continue
        res = json.loads(lines[-1])
        print(json.dumps({name: res}), flush=True)
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    print(json.dumps(total), flush=True)
    return 0


class Ctx:
    def __init__(self, spark, work, seed, scale):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale


def layer_metrics(wl, tracer, traced_runs, layers_run, untraced_walls, counts):
    """Per-layer metrics of the traced run: median self time of each layer
    span over the traced passes, Spark counters of those passes, the
    layers' counts, and what tracing cost."""
    values: dict[str, list[float]] = {}
    walls, shares = [], []
    for r in traced_runs + [layers_run]:
        own = tracer.self_times(r)
        for s in tracer.spans:
            if s["run"] == r and s["parent"] is not None and s["name"] + "_s" in PER_LAYER:
                values.setdefault(s["name"] + "_s", []).append(own[s["id"]])
    for r in traced_runs:
        root = next(s for s in tracer.spans if s["run"] == r and s["parent"] is None)
        wall = root["end"] - root["start"]
        walls.append(wall)
        shares.append(1.0 - tracer.self_times(r)[root["id"]] / wall)
    out = {k: (0.0, u) for k, u in PER_LAYER.items()}
    for k, xs in values.items():
        out[k] = (harness.median(xs), PER_LAYER[k])
    counters = []
    for r in traced_runs:
        per_span = harness.span_counters(wl.spark, tracer, r)
        tot = dict.fromkeys(harness.COUNTER_UNITS, 0.0)
        for c in per_span.values():
            for k in tot:
                tot[k] += c[k]
        counters.append(tot)
        for s in tracer.spans:
            if s["id"] in per_span:
                s["counters"] = per_span[s["id"]]
    for k, u in harness.COUNTER_UNITS.items():
        out[f"spark.{k}"] = (harness.median([c[k] for c in counters]), u)
    out.update(counts)
    out["trace.wall_s"] = (harness.median(walls), "s")
    out["trace.overhead_s"] = (harness.median(walls) - harness.median(untraced_walls), "s")
    out["trace.accounted_share"] = (harness.median(shares), "ratio")
    return out


def summary(passes, units, setups, rows) -> dict[str, float]:
    """Median pass, rows per second of it, unit percentiles and median
    set-up, over one clock's readings (wall or CPU). A run with no
    successful pass reads 0."""
    run_s = harness.median(passes) if passes else 0.0
    return {
        "run_s": run_s,
        "rows_per_s": rows / run_s if run_s else 0.0,
        "batch_s_p50": harness.percentile(units, 50) if units else 0.0,
        "batch_s_p90": harness.percentile(units, 90) if units else 0.0,
        "setup_s": harness.median(setups),
    }


def timed_passes(wl, seconds, tracer=None):
    """Passes for `seconds`: at least one, and no further pass once the
    last one's length would overrun. Returns (wall, CPU) of each whole pass
    and of each certified unit. A pass that raises, or certifies fewer
    units than it attempted, counts its missing units as failed and adds no
    pass time. With a tracer, each timed pass is followed by a traced one."""
    passes, units, traced_runs = [], [], []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while True:
        clock = harness.Clock()
        try:
            got = wl.run_pass()
        except Exception as e:  # counted, not fatal
            print(f"perfbench: pass failed: {e!r}", file=sys.stderr, flush=True)
            got = []
        wall, cpu = clock.lap()
        attempted += wl.units
        failed += wl.units - len(got)
        if len(got) == wl.units:
            passes.append((wall, cpu))
        units.extend(got)
        if tracer is not None:
            tracer.run_id += 1
            traced_runs.append(tracer.run_id)
            wl.traced_pass(tracer)
        if time.perf_counter() + wall > deadline:
            return passes, units, traced_runs, attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "osm2mp_spark")):
        print("perfbench: the osm2mp_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    harness.prepare_env(work)
    context = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
               "nproc": harness.nproc(), "git_sha": harness.git_sha(),
               "loadavg_start": harness.loadavg()}
    phases = {}
    t0 = time.perf_counter()
    spark = harness.make_spark(work, harness.nproc())
    session_s = phases["session"] = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        import pyspark

        context["spark_version"] = pyspark.__version__
        wl = WORKLOADS[args.workload](Ctx(spark, work, args.seed, args.scale))

        # The first set-up precedes the warm-up, whose checks read its
        # inputs; the rest follow it, once the JVM's start-up compilation no
        # longer adds its CPU to theirs. Every set-up makes the same inputs.
        reps, rep_times = [], []

        def set_up(rep: int) -> None:
            clock = harness.Clock()
            reps.append(wl.setup(rep))
            rep_times.append(clock.lap())

        t0 = time.perf_counter()
        set_up(0)
        phases["setup_first"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = phases["warm_up"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for rep in range(1, SETUP_REPEATS):
            set_up(rep)
        phases["setup_rest"] = time.perf_counter() - t0
        setup = {k: harness.median([r[k] for r in reps]) for k in reps[0]}
        context["setup_reps_s"] = reps
        context["setup_reps_wall_cpu_s"] = rep_times
        context["control_s_start"] = harness.control_query_s(spark)

        tracer = harness.Tracer(spark) if args.trace else None
        t0 = time.perf_counter()
        passes, units, traced_runs, attempted, failed = timed_passes(
            wl, args.seconds, tracer)
        peak = harness.peak_rss_mb()
        phases["timed"] = time.perf_counter() - t0
        try:
            checks = wl.check()
        except Exception as e:  # a check that cannot run has failed
            checks = [{"name": "check", "ok": False, "error": repr(e)}]
        context["checks"] = checks
        attempted += len(checks)
        failed += sum(not c["ok"] for c in checks)

        wall = summary([w for w, _c in passes], [w for w, _c in units],
                       [w for w, _c in rep_times], wl.input_rows)
        cpu = summary([c for _w, c in passes], [c for _w, c in units],
                      [c for _w, c in rep_times], wl.input_rows)
        if args.trace:
            tracer.run_id += 1
            counts = wl.layers(tracer)
            metrics = layer_metrics(wl, tracer, traced_runs, tracer.run_id,
                                    [w for w, _c in passes], counts)
            metrics.update({k: (v, "s") for k, v in setup.items() if k in PER_LAYER})
            metrics["setup.session_s"] = (session_s, "s")
            metrics["setup.warmup_s"] = (warmup_s, "s")
            metrics.update({f"wall.{k}": (v, PER_LAYER[f"wall.{k}"]) for k, v in wall.items()})
        else:
            metrics = {
                "run_cpu_s": (cpu["run_s"], "s"),
                "rows_per_cpu_s": (cpu["rows_per_s"], "1/s"),
                "batch_cpu_s_p50": (cpu["batch_s_p50"], "s"),
                "batch_cpu_s_p90": (cpu["batch_s_p90"], "s"),
                "ok_ratio": (1.0 - failed / attempted, "ratio"),
                "peak_rss_mb": (peak, "MB"),
                "setup_s": (cpu["setup_s"], "s"),
            }
        context.update({"phase_s": phases, "passes": len(passes), "pass_wall_cpu_s": passes,
                        "unit_wall_cpu_s": units, "wall": wall, "cpu": cpu,
                        "input_rows": wl.input_rows, "fail_ratio": failed / attempted,
                        "control_s_end": harness.control_query_s(spark),
                        "loadavg_end": harness.loadavg()})
        if args.trace:
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            path = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"context": context, "spans": tracer.spans}, f)
            context["trace_file"] = path
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"context": context}), file=sys.stderr, flush=True)
    for k, (v, u) in metrics.items():
        print(f"perfbench: {args.workload} {k} = {v:.6g} {u}", file=sys.stderr)
    if not args.trace:
        for k, v in context["wall"].items():
            print(f"perfbench: {args.workload} wall.{k} = {v:.6g} {PER_LAYER['wall.' + k]}",
                  file=sys.stderr)
    expected = PER_LAYER if args.trace else END_TO_END
    assert set(metrics) == set(expected), set(metrics) ^ set(expected)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
