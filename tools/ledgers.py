#!/usr/bin/env python
"""Resource ledgers behind BENCH.md's counted tables. Each mode prints one
JSON line. Its counts (pairs, candidates, tasks, rows scanned) reproduce
from run to run; its seconds are context.

    python tools/ledgers.py dedup-scale          # BENCH.md §1a
    python tools/ledgers.py skew                 # BENCH.md §1c
    python tools/ledgers.py inc-ledger [B [N]]   # §1b-full, §1f: B batches
                                                 # of N originals (10 1000)
    python tools/ledgers.py scaling              # §2a-cluster: N vs 4N executors
    python tools/ledgers.py codegen SF_DIR       # §1l: compiles per call

dedup-scale, skew, inc-ledger and codegen run on local[C], C = the CPUs
this process may use, with a 4 GB driver heap and the web UI on
(dedup-scale reads stage totals from its REST API). scaling starts its
own sessions.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))

# executor heap of each scaling session: the job is JVM-only and holds
# no more than an aggregate per (city, tile) and its shuffle buffers
EXECUTOR_MB = 512


def _stage_totals(spark) -> dict:
    """Cumulative shuffle/spill byte counters over all completed stages via
    the UI REST API. Shuffle and spill bytes are tracked by the shuffle
    writers themselves (unlike parquet inputBytes, which under-reports for
    vectorized reads), so deltas around a job are accurate resource
    ledgers."""
    import urllib.request

    sc = spark.sparkContext
    url = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
           f"/stages?status=complete")
    with urllib.request.urlopen(url, timeout=10) as resp:
        stages = json.load(resp)
    return {
        "shuffle": sum(s.get("shuffleReadBytes", 0)
                       + s.get("shuffleWriteBytes", 0) for s in stages),
        "spill_disk": sum(s.get("diskBytesSpilled", 0) for s in stages),
    }


# physical join operators, as the executed plan names them
JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def _plan_joins(df) -> list[str]:
    """The join operators of `df`'s executed plan, in plan order: AQE's
    final plan once `df` has run, so a join AQE re-planned at run time
    shows as what ran."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return [
        node for line in plan.treeString().splitlines()
        for node in JOIN_NODES if f"{node} " in line
    ]


def _synthetic_wide_sigs(spark, n: int, dup_every: int = 7):
    """Direct synthesis of n wide signatures (+ planted near-dups every
    `dup_every`), with no image bytes to generate and decode: the skew
    ledger measures the banded JOIN alone. Words are md5-derived (uniform
    256-bit, like real unrelated corpus sigs measured >=96 bits apart);
    each dup flips one low bit of h1 (Hamming 1 <= 7)."""
    from pyspark.sql import functions as F

    base = spark.range(n).selectExpr(
        "format_string('simg%09d', id) AS image_id",
        *[
            f"CAST(conv(substr(md5(concat('w{w}_', id)), 1, 15), 16, 10) "
            f"AS BIGINT) AS h{w}"
            for w in range(4)
        ],
    )
    dups = (
        spark.range(0, n, dup_every)
        .selectExpr(
            "format_string('simg%09dd', id) AS image_id",
            *[
                f"CAST(conv(substr(md5(concat('w{w}_', id)), 1, 15), 16, "
                f"10) AS BIGINT) AS h{w}"
                for w in range(4)
            ],
        )
        .withColumn("h1", F.expr("h1").bitwiseXOR(F.lit(1)))
    )
    return base.unionByName(dups)


def dedup_scale(spark, ns=(20_000, 60_000, 180_000)) -> dict:
    """Dedup throughput CURVE: image near-dup detection at several corpus
    sizes for both signature widths — 64-bit multi-probe 16-bit bands
    (phash_hamming_pairs) and 256-bit/32-bit bands (wide_hamming_pairs).
    Each size's corpus is synthesized and encoded once (`gen_sec`) and
    kept on local disk until the session ends (about 5 GB over the three
    default sizes); each width's hash stage (decode → signature,
    `hash_sec`) reads it; the join (banded join → popcount) is best-of-2
    over the cached signatures, with its shuffle and spill bytes.
    `candidates` (band equi-join rows before distinct/popcount) shows how
    the 64-bit path's bucket collisions bend the curve while the wide
    path stays ~linear."""
    from pyspark import StorageLevel

    from osm2mp_spark.operators.hamming import hamming_bands, hamming_layout
    from osm2mp_spark.operators.images import (
        WIDE_BITS,
        WIDE_WORDS,
        dhash_images,
        dhash_wide_images,
        phash_hamming_pairs,
        wide_hamming_pairs,
    )
    from osm2mp_spark.sources.images import generate_phash_corpus_df

    def candidates(sigs, wide: bool) -> int:
        """Band-equi-join rows before distinct/popcount, from the same
        banding the pair join uses (probe side against exact keys)."""
        words, bits, h = ((WIDE_WORDS, WIDE_BITS, 7) if wide
                          else (("dhash",), 64, 6))
        layout = hamming_layout(bits, h)
        l = hamming_bands(sigs, "image_id", words, layout, probe=True)
        r = hamming_bands(sigs, "image_id", words, layout)
        return (l.selectExpr("image_id AS ia", "bandkey")
                .join(r.selectExpr("image_id AS ib", "bandkey"), "bandkey")
                .filter("ia < ib").count())

    def one(corpus, n: int, wide: bool) -> dict:
        kern = dhash_wide_images if wide else dhash_images
        t0 = time.time()
        sigs = kern(corpus).localCheckpoint(eager=True)
        hash_sec = time.time() - t0
        # the number that decides 10^12-signature viability: 16-bit probed
        # bands (narrow64) put ~n/65536 sigs in each bucket, 32-bit bands
        # (wide256) ~n/2^32
        cand = candidates(sigs, wide)
        join_sec, pairs, res = float("inf"), 0, {}
        for _ in range(2):
            df = (wide_hamming_pairs(sigs, max_hamming=7) if wide
                  else phash_hamming_pairs(sigs, max_hamming=6))
            # df.count() as a frame of its own, so its executed plan can
            # be read back
            counted = df.groupBy().count()
            b0 = _stage_totals(spark)
            t0 = time.time()
            pairs = counted.first()[0]
            dt = time.time() - t0
            if dt < join_sec:
                join_sec = dt
                b1 = _stage_totals(spark)
                res = {k: b1[k] - b0[k] for k in b1}
        sigs.unpersist()
        n_imgs = n + (n + 6) // 7  # originals + planted dups
        return {"images": n_imgs,
                "hash_sec": round(hash_sec, 3),
                "join_sec": round(join_sec, 3),
                "images_per_sec_join": round(n_imgs / join_sec, 1),
                "candidates": cand, "pairs": pairs,
                "join_operators": _plan_joins(counted),
                "join_shuffle_mb": round(res["shuffle"] / 2**20, 1),
                "join_spill_mb": round(res["spill_disk"] / 2**20, 1)}

    # configs interleave across sizes (co-tenant noise protocol)
    out: dict[str, dict] = {"gen_sec": {}, "narrow64": {}, "wide256": {}}
    for n in ns:
        # a checkpoint, not a cache: the checkpointed plan keeps the
        # generator's size estimate, so each join plans (and broadcasts)
        # as it does over a freshly generated corpus; a cached corpus
        # reports its real byte size and the joins would shuffle
        t0 = time.time()
        corpus = generate_phash_corpus_df(spark, n).localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
        out["gen_sec"][str(n)] = round(time.time() - t0, 3)
        for key, wide in (("narrow64", False), ("wide256", True)):
            out[key][str(n)] = one(corpus, n, wide)
    return out


def skew(spark, n_hot: int = 8_000, n_cold: int = 20_000) -> dict:
    """Adversarial band-join skew: n_hot signatures share ONE h0 word
    (bands 0+1 collide corpus-wide → two buckets of n_hot, ~n_hot²/2
    candidates each) atop n_cold normal signatures (few enough that the hot
    bucket dominates its shuffle partition — AQE's skew detector compares
    against the median partition). The shuffled join is timed with AQE
    skew-split ON vs OFF (broadcast disabled both ways — at 10^12 sigs
    nothing broadcasts); ON must spread the hot bucket across tasks instead
    of one straggler. Sets its confs on `spark`."""
    from osm2mp_spark.metrics import max_stage_tasks
    from osm2mp_spark.operators.images import wide_hamming_pairs

    cold = _synthetic_wide_sigs(spark, n_cold, dup_every=n_cold)
    hot = spark.range(n_hot).selectExpr(
        "format_string('hot%09d', id) AS image_id",
        "CAST(81985529216486895 AS BIGINT) AS h0",  # constant band word
        *[
            f"CAST(conv(substr(md5(concat('h{w}_', id)), 1, 15), 16, 10) "
            f"AS BIGINT) AS h{w}"
            for w in (1, 2, 3)
        ],
    )
    # cap input partitions at the shuffle-partition count so the ONLY
    # stage that can exceed it is a skew-split join stage (the witness)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sigs = (
        cold.unionByName(hot).repartition(n_parts)
        .localCheckpoint(eager=True)
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # coalescing can fold the skew sub-splits back under the partition
    # count, hiding the structural witness (task count > partitions);
    # disable it for BOTH runs so the comparison stays apples-to-apples
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
    out = {"n_hot": n_hot, "n_cold": n_cold, "shuffle_partitions": n_parts}
    for label, enabled in (("skew_split_on", "true"),
                           ("skew_split_off", "false")):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
        best, n_pairs, tasks = float("inf"), 0, 0
        for i in range(2):
            df = wide_hamming_pairs(sigs, max_hamming=7)
            box = {}
            t0 = time.time()
            tasks = max(tasks, max_stage_tasks(
                spark, f"{label}_{i}", lambda: box.update(n=df.count())))
            best = min(best, time.time() - t0)
            n_pairs = box["n"]
        out[label] = {"sec": round(best, 3), "pairs": n_pairs,
                      "max_join_stage_tasks": tasks}
    return out


def inc_ledger(spark, base: str, n_batches: int = 10,
               batch_images: int = 1_000) -> dict:
    """Per-batch ledger of the whole incremental family. Streams
    `n_batches` equal landing files (written under `base`) through
    start_incremental_dedup, which maintains per batch the pairs, the ANN
    top-k state, the cluster labels and the published per-(city, tile)
    rollup (retraction deltas + spatial assignment). All four stores
    compact every 2 batches, between batches and outside each batch's
    read window, so later batches take the pruned-scan path against an
    ever-growing compacted prefix. Each batch reports read_bytes (JVM
    /proc rchar over the batch, all-inclusive), store_rows_scanned, and
    the banded store rows existing when it ran (what a full re-read would
    scan). Boundedness: `secs` and `read_mb` stay flat while the stores
    grow ~n_batches×."""
    from osm2mp_spark.queries.streaming_q import run_image_stream
    from osm2mp_spark.streaming.dedup import (
        STORE_LAYOUT,
        read_batch_metrics,
        read_store_signatures,
    )
    from osm2mp_spark.streaming.flagship import read_rollup

    store = f"{base}/store"
    compact_secs = run_image_stream(
        spark, base, n_batches * batch_images, n_batches,
        ann=True, clusters=True, rollup=True,
        compact_after=range(1, n_batches, 2),
    )
    m = (
        read_batch_metrics(spark, store).toPandas()
        .sort_values("batch_id").reset_index(drop=True)
    )
    ledger = [
        {
            "batch": int(r.batch_id),
            "n_images": int(r.n_images),
            "secs": round(float(r.secs), 2),
            "read_mb": round(int(r.read_bytes) / 2**20, 1),
            "store_rows_scanned": int(r.store_rows_scanned),
            "store_banded_rows_before": int(len(STORE_LAYOUT.bands) * sum(
                m.n_images[m.batch_id < r.batch_id]
            )),
        }
        for r in m.itertuples()
    ]
    return {
        "batches": ledger,
        "final_store_signatures": read_store_signatures(spark, store).count(),
        "compaction_secs": compact_secs,
        "rollup_cells": read_rollup(spark, f"{base}/rollup").count(),
    }


# the queries of a batch_rollup pass (perfbench/workloads.py): the five
# geometry queries (flagship_lineitem is a plan, not a registered query)
# and flagship_dedup
CODEGEN_QUERIES = ("pip_city", "knn_city", "clip_chains",
                   "tile_chain_closure", "flagship_lineitem", "flagship_dedup")


def codegen(spark, sf_dir: str) -> dict:
    """Generated code each query compiles per call: every query is built
    and run to a noop sink twice in a row, and each call reports the
    CodegenMetrics compiles and source KB it caused (builder jobs
    included). The cold call pays the query's classes (and any set-up its
    builder caches, such as the BSP tile tree); a warm call that still
    compiles generates source per call, or its plan changed between
    calls (an AQE re-plan). `session` totals every call, plus whatever
    the session compiled before the first."""
    import __spark_entry__ as entry

    from osm2mp_spark.metrics import codegen_compiles
    from osm2mp_spark.plans.flagship import flagship_lineitem

    qs = dict(entry.queries(), flagship_lineitem=flagship_lineitem)
    out: dict = {"sf_dir": sf_dir}
    for name in CODEGEN_QUERIES:
        calls = []
        for _ in range(2):
            before = codegen_compiles(spark)
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            after = codegen_compiles(spark)
            kb = (None if after["source_bytes"] is None
                  else round((after["source_bytes"]
                              - before["source_bytes"]) / 1024, 1))
            calls.append({
                "compiles": after["compiles"] - before["compiles"],
                "source_kb": kb,
            })
        out[name] = {"cold": calls[0], "warm": calls[1]}
    out["session"] = codegen_compiles(spark)["compiles"]
    return out


def _jvm_compute_job(spark, n: int):
    """The JVM-only compute flagship: derived positions → expression kNN
    (12 anchors, pure codegen) → grid tile id → per-(city, tile)
    aggregation. No Python workers anywhere, so the measurement isolates
    the ENGINE from python-process DRAM contention (which on one box caps
    memory-bound kernels at ~0.65-0.73 regardless of framework — see
    BENCH.md controls)."""
    from osm2mp_spark.operators.knn import knn_bruteforce
    from osm2mp_spark.operators.tiles import assign_tiles_grid
    from osm2mp_spark.sources.layers import CITIES
    from osm2mp_spark.sources.points import with_derived_position

    pts = with_derived_position(
        spark.range(1, n + 1).selectExpr("id AS point_id"), "point_id"
    )
    anchors = [(c["area_id"], c["center"][0], c["center"][1]) for c in CITIES]
    df = knn_bruteforce(pts, anchors, out_id="city_id")
    df = assign_tiles_grid(df)
    return df.groupBy("city_id", "tile_id").count()


def scaling_session(n_execs: int, n_points: int, reps: int = 3) -> None:
    """One measurement session on a local-cluster master: n_execs SEPARATE
    executor JVMs × 1 core each — real executor processes, serialized task
    dispatch and netty shuffle between JVMs, no shared-heap shortcuts. Run
    as a taskset child of `scaling`, whose CPU mask the worker and
    executor JVMs inherit. Prints the timings as one JSON line."""
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder
        .master(f"local-cluster[{n_execs},1,{EXECUTOR_MB}]")
        .appName(f"scaling-{n_execs}")
        .config("spark.sql.shuffle.partitions", str(max(n_execs, 4)))
        .config("spark.ui.enabled", "false")
        .config("spark.executor.memory", f"{EXECUTOR_MB}m")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    _jvm_compute_job(s, n_points // 10).write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(reps):
        t0 = time.time()
        _jvm_compute_job(s, n_points).write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 2))
    print(json.dumps({"execs": n_execs, "times": times}))
    s.stop()


def scaling(n_points: int = 120_000_000, sessions: int = 3) -> dict:
    """The north rule's two-cluster-size criterion: the JVM-compute flagship
    on local-cluster[N,1,·] vs local-cluster[4N,1,·], N = max(1, C // 4).
    Each session's process tree is pinned to the first `execs` of this
    process's CPUs, so hardware scales with the cluster size. Sessions
    interleave N, 4N, N, 4N, ...; each level reports its best time."""
    cpus = sorted(os.sched_getaffinity(0))
    low = max(1, len(cpus) // 4)
    high = 4 * low
    if high > len(cpus):
        raise SystemExit(f"scaling needs {high} CPUs, this process has {len(cpus)}")
    out: dict[int, list[float]] = {low: [], high: []}
    for _ in range(sessions):
        for execs in (low, high):
            code = (f"import sys; sys.path.insert(0, {TOOLS!r}); import ledgers; "
                    f"ledgers.scaling_session({execs}, {n_points})")
            cmd = ["taskset", "-c", ",".join(map(str, cpus[:execs])),
                   sys.executable, "-c", code]
            r = subprocess.run(cmd, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                raise RuntimeError(
                    f"scaling session (execs={execs}) failed "
                    f"rc={r.returncode}: {r.stderr.strip()[-500:]}"
                )
            out[execs].extend(json.loads(lines[-1])["times"])
    b_lo, b_hi = min(out[low]), min(out[high])
    return {
        "job": "JVM-only compute flagship (expression kNN + grid tile + agg)",
        "protocol": (
            f"local-cluster[N,1,{EXECUTOR_MB}], taskset-pinned by "
            f"inheritance, interleaved sessions, best-of-all"
        ),
        "n_points": n_points,
        "n_executors": low,
        "n4_executors": high,
        "timings_sec": {str(c): t for c, t in out.items()},
        "rows_per_sec_n": round(n_points / b_lo, 1),
        "rows_per_sec_4n": round(n_points / b_hi, 1),
        "scaling_efficiency": round((b_lo / b_hi) / (high / low), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    sub = ap.add_subparsers(dest="mode", required=True)
    sub.add_parser("dedup-scale")
    sub.add_parser("skew")
    inc = sub.add_parser("inc-ledger")
    inc.add_argument("batches", type=int, nargs="?", default=10)
    inc.add_argument("images", type=int, nargs="?", default=1_000)
    sub.add_parser("scaling")
    cg = sub.add_parser("codegen")
    cg.add_argument("sf_dir", help="a generated scale-factor directory")
    args = ap.parse_args()
    if args.mode == "scaling":
        print(json.dumps({"scaling": scaling()}))
        return

    from spark_session import make_session

    from osm2mp_spark.shipping import ensure_shipped

    spark = make_session(
        f"ledgers-{args.mode}", cores=len(os.sched_getaffinity(0)), ui=True,
        conf={"spark.driver.memory": "4g"},
    )
    ensure_shipped(spark)
    try:
        if args.mode == "dedup-scale":
            out = {"dedup_scale": dedup_scale(spark)}
        elif args.mode == "skew":
            out = {"band_join_skew": skew(spark)}
        elif args.mode == "codegen":
            out = {"codegen": codegen(spark, args.sf_dir)}
        else:
            with tempfile.TemporaryDirectory(prefix="osm2mp_inc_ledger_") as base:
                out = {"incremental_family_ledger": inc_ledger(
                    spark, base, args.batches, args.images)}
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
