#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric mirrors BASELINE.json: end-to-end spatial-join +
tile-assignment throughput. `value` is total wall seconds over the headline
query set; `queries` holds per-query seconds; extra keys record rows/sec for
the flagship and the parallelism level used.

--two-level additionally reruns the flagship at N/4 cores and reports the
scaling efficiency (BASELINE.md sandbox protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline set: the flagship e2e + the operators that stress shuffle/window/agg
HEADLINE = [
    "pip_city",
    "pip_hierarchy",
    "knn_city",
    "clip_chains",
    "tile_counts",
    "tile_chain_closure",
    "node_degree",
    "density_histogram",
]

# showcase operators measured separately (NOT in the headline total, which
# stays comparable across rounds): the image-payload dedup path and the
# raster->vector stages
EXTRA = [
    "image_dedup_phash",
    "image_dedup_wide",
    "image_dedup_clusters",
    "raster_tiles",
    "raster_contours",
    "raster_contours_geo",
    "raster_dense_tiles",
    "raster_contour_rings",
    "cell_rollup",
]


def make_spark(cpus: int, ui_port: int | None = None):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "true" if ui_port else "false")
        .config("spark.ui.port", str(ui_port or 4040))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # 16g + G1: a 48g heap with default GC ergonomics measured 2.6×
        # slower at local[32] (long young-gen pauses); 16g G1 is stable
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        .getOrCreate()
    )


def run_df(df) -> int:
    """Materialize fully without collecting (noop sink) and return row count."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def bench_flagship(spark, sf_dir: str, runs: int = 2) -> tuple[float, int]:
    """The throughput-measured path: rows/sec over the lineitem-derived
    point set (~600k at sf0.1) through PIP join + kNN fallback + BSP tiles.

    One untimed warm-up run (JIT, broadcast, Arrow worker spin-up), then
    best-of-`runs` — steady-state throughput, the regime a long 100 TB job
    spends its life in."""
    from osm2mp_spark.plans.flagship import flagship_lineitem

    n_in = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    flagship_lineitem(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(runs):
        df = flagship_lineitem(spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best, n_in


def bench_two_level() -> dict:
    """N vs 4N cores on the SAME image-table input (BASELINE.md protocol).

    The job is the image flagship: parquet scan → ONE fused Arrow kernel
    (decode + features + PIP city resolve + kNN fallback + BSP tile) →
    per-(city, tile) aggregation — the BASELINE metric's end-to-end shape.

    Methodology for this noisy shared box (observed 6× swings between
    identical runs): sessions are INTERLEAVED N,4N,N,4N; each session runs
    one untimed warm-up then `runs` timed repeats; per-level throughput is
    the best observed (steady-state). All raw timings are reported.
    """
    from osm2mp_spark.shipping import ensure_shipped

    n_images = int(os.environ.get("SPARK_GRAFT_SCALE_IMAGES", "120000"))
    img_path = f"/tmp/osm2mp_bench_images_{n_images}"
    low = max(1, CPUS // 4)

    # setup (untimed): distributed-generate the image table once
    if not os.path.exists(img_path):
        s = make_spark(CPUS)
        s.sparkContext.setLogLevel("ERROR")
        ensure_shipped(s)
        from osm2mp_spark.sources.images import generate_images_df

        generate_images_df(s, n_images, partitions=CPUS * 4).write.mode(
            "overwrite"
        ).parquet(img_path)
        s.stop()

    from osm2mp_spark.plans.images_flagship import flagship_images

    timings: dict[int, list[float]] = {low: [], CPUS: []}
    for cores in (low, CPUS, low, CPUS):
        s = make_spark(cores)
        s.sparkContext.setLogLevel("ERROR")
        ensure_shipped(s)
        flagship_images(s, img_path).write.format("noop").mode("overwrite").save()
        for _ in range(3):
            t0 = time.time()
            flagship_images(s, img_path).write.format("noop").mode("overwrite").save()
            timings[cores].append(round(time.time() - t0, 2))
        s.stop()

    rps = {c: n_images / min(t) for c, t in timings.items()}
    eff = (rps[CPUS] / rps[low]) / (CPUS / low)
    return {
        "job": "image flagship (decode+features+PIP+kNN+BSP tile, one fused kernel)",
        "n_images": n_images,
        "n_cores": low,
        "n4_cores": CPUS,
        "timings_sec": {str(c): t for c, t in timings.items()},
        "rows_per_sec_n": round(rps[low], 1),
        "rows_per_sec_4n": round(rps[CPUS], 1),
        "scaling_efficiency": round(eff, 3),
    }


def _jvm_compute_job(spark, n: int):
    """The JVM-only compute flagship used for the pinned two-level
    measurement: derived positions → expression kNN (12 anchors, pure
    codegen) → grid tile id → per-(city, tile) aggregation. No Python
    workers anywhere, so the measurement isolates the ENGINE from python-
    process DRAM contention (which on one box caps memory-bound kernels at
    ~0.65-0.73 regardless of framework — see BENCH.md controls)."""
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


def scale_session(cores: int, n: int, reps: int = 3) -> None:
    """One pinned measurement session (invoked as a taskset subprocess)."""
    s = make_spark(cores)
    s.sparkContext.setLogLevel("ERROR")
    _jvm_compute_job(s, n // 10).write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(reps):
        t0 = time.time()
        _jvm_compute_job(s, n).write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 2))
    print(json.dumps({"cores": cores, "times": times}))
    s.stop()


def scale_session_cluster(n_execs: int, n: int, reps: int = 3) -> None:
    """One pinned measurement session on a local-cluster master: n_execs
    SEPARATE executor JVMs x 1 core each (invoked as a taskset subprocess
    whose CPU mask the spawned worker/executor JVMs inherit) — the closest
    single-box approximation of an N-executor cluster: real executor
    processes, real serialized task dispatch, real shuffle over netty
    between JVMs, no shared-heap shortcuts."""
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local-cluster[{n_execs},1,1536]")
        .appName(f"bench-cluster-{n_execs}")
        .config("spark.sql.shuffle.partitions", str(max(n_execs, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.executor.memory", "1536m")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    _jvm_compute_job(s, n // 10).write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(reps):
        t0 = time.time()
        _jvm_compute_job(s, n).write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 2))
    print(json.dumps({"execs": n_execs, "times": times}))
    s.stop()


def bench_two_level_cluster(
    n_points: int = 120_000_000, sessions: int | None = None
) -> dict:
    """The north rule's two-cluster-size criterion evidenced with REAL
    executor processes: the same JVM-compute flagship on a
    local-cluster[N,1,·] vs local-cluster[4N,1,·] master — N and 4N
    separate executor JVMs, each pinned-by-inheritance to a CPU set sized
    to the executor count (so hardware scales with the cluster size, as on
    a real fleet). Same interleaved best-of protocol as the thread-level
    twin (bench_two_level_jvm); this variant additionally pays real
    inter-JVM task dispatch and netty shuffle at both sizes."""
    import subprocess

    if sessions is None:
        sessions = int(os.environ.get("SPARK_GRAFT_SCALE_SESSIONS", "3"))
    me = os.path.abspath(__file__)
    low, high = max(1, CPUS // 16), max(4, CPUS // 4)
    if "SPARK_GRAFT_SCALE_LEVELS" in os.environ:
        low, high = (
            int(x) for x in os.environ["SPARK_GRAFT_SCALE_LEVELS"].split(",")
        )
    out: dict[int, list[float]] = {low: [], high: []}
    for _ in range(sessions):
        for execs in (low, high):
            cmd = [
                "taskset", "-c", f"0-{execs - 1}", sys.executable, me,
                "--scale-session-cluster", str(execs), str(n_points),
            ]
            r = subprocess.run(cmd, capture_output=True, text=True)
            if r.returncode != 0:
                raise RuntimeError(
                    f"cluster scale session (execs={execs}) failed "
                    f"rc={r.returncode}: {r.stderr.strip()[-500:]}"
                )
            lines = r.stdout.strip().splitlines()
            if not lines:
                raise RuntimeError(
                    f"cluster scale session (execs={execs}) exited 0 with "
                    f"no output; stderr: {r.stderr.strip()[-500:]}"
                )
            times = json.loads(lines[-1])["times"]
            if not times:
                raise RuntimeError(
                    f"cluster scale session (execs={execs}) produced no "
                    f"timings"
                )
            out[execs].extend(times)
    b_lo, b_hi = min(out[low]), min(out[high])
    eff = (b_lo / b_hi) / (high / low)
    return {
        "job": "JVM-only compute flagship (expression kNN + grid tile + agg)",
        "protocol": (
            "local-cluster[N,1,1536] — N separate executor JVMs, taskset-"
            "pinned by inheritance, interleaved sessions, best-of-all"
        ),
        "n_points": n_points,
        "n_executors": low,
        "n4_executors": high,
        "timings_sec": {str(c): t for c, t in out.items()},
        "rows_per_sec_n": round(n_points / b_lo, 1),
        "rows_per_sec_4n": round(n_points / b_hi, 1),
        "scaling_efficiency": round(eff, 3),
    }


def bench_two_level_jvm(n_points: int = 120_000_000, sessions: int | None = None) -> dict:
    """Pinned N vs 4N protocol: each level runs in its own JVM pinned with
    `taskset -c 0-(cores-1)`, sessions interleaved (2,8)x3, one untimed
    warm-up + best-of-3 per session; per-level throughput = best across
    sessions (steady state on this 6x-noise shared box). Raw timings
    reported."""
    import subprocess

    if sessions is None:
        sessions = int(os.environ.get("SPARK_GRAFT_SCALE_SESSIONS", "3"))
    me = os.path.abspath(__file__)
    low, high = max(1, CPUS // 16), max(4, CPUS // 4)
    if "SPARK_GRAFT_SCALE_LEVELS" in os.environ:
        low, high = (
            int(x) for x in os.environ["SPARK_GRAFT_SCALE_LEVELS"].split(",")
        )
    out: dict[int, list[float]] = {low: [], high: []}
    for _ in range(sessions):
        for cores in (low, high):
            cmd = [
                "taskset", "-c", f"0-{cores - 1}", sys.executable, me,
                "--scale-session", str(cores), str(n_points),
            ]
            r = subprocess.run(cmd, capture_output=True, text=True)
            if r.returncode != 0:
                raise RuntimeError(
                    f"scale session (cores={cores}) failed rc={r.returncode}: "
                    f"{r.stderr.strip()[-500:]}"
                )
            line = r.stdout.strip().splitlines()[-1]
            times = json.loads(line)["times"]
            if not times:
                raise RuntimeError(f"scale session (cores={cores}) produced no timings")
            out[cores].extend(times)
    b_lo, b_hi = min(out[low]), min(out[high])
    eff = (b_lo / b_hi) / (high / low)
    return {
        "job": "JVM-only compute flagship (expression kNN + grid tile + agg)",
        "protocol": "taskset-pinned cores, interleaved sessions, best-of-all",
        "n_points": n_points,
        "n_cores": low,
        "n4_cores": high,
        "timings_sec": {str(c): t for c, t in out.items()},
        "rows_per_sec_n": round(n_points / b_lo, 1),
        "rows_per_sec_4n": round(n_points / b_hi, 1),
        "scaling_efficiency": round(eff, 3),
    }


_UI_PORT = 4047


def _stage_totals(app_id: str) -> dict:
    """Cumulative shuffle/spill byte counters over all completed stages via
    the UI REST API. Shuffle and spill bytes are tracked by the shuffle
    writers themselves (unlike parquet inputBytes, which under-reports for
    vectorized reads), so deltas around a job are accurate resource
    ledgers."""
    import urllib.request

    url = (f"http://localhost:{_UI_PORT}/api/v1/applications/{app_id}"
           f"/stages?status=complete")
    try:
        stages = json.load(urllib.request.urlopen(url, timeout=10))
    except Exception:
        return {}
    out = {"shuffle_read": 0, "shuffle_write": 0, "spill_disk": 0,
           "spill_mem": 0}
    for s in stages:
        out["shuffle_read"] += s.get("shuffleReadBytes", 0)
        out["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        out["spill_disk"] += s.get("diskBytesSpilled", 0)
        out["spill_mem"] += s.get("memoryBytesSpilled", 0)
    return out


def _delta(after: dict, before: dict) -> dict:
    return {k: after.get(k, 0) - before.get(k, 0) for k in after}


def _synthetic_wide_sigs(spark, n: int, dup_every: int = 7):
    """Direct synthesis of n wide signatures (+ planted near-dups every
    `dup_every`) for the top decade of the scale curve, where generating
    and decoding real image bytes would dominate the measurement the curve
    exists to isolate (the banded JOIN). Words are md5-derived (uniform
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


def bench_dedup_scale(ns=(20_000, 60_000, 180_000)) -> dict:
    """Dedup throughput CURVE (VERDICT r03 ask): image near-dup detection at
    several corpus sizes for both signature widths — 64-bit multi-probe
    16-bit bands (phash_hamming_pairs) and 256-bit/32-bit-band
    (wide_hamming_pairs).
    Each timing covers generate → decode → hash → banded join → popcount,
    best-of-2 per point. images/sec per config shows how candidate volume
    (the 64-bit path's bucket-collision growth) bends the curve while the
    wide path stays ~linear."""
    from osm2mp_spark.operators.images import (
        dhash_images,
        dhash_wide_images,
        phash_hamming_pairs,
        wide_hamming_pairs,
    )
    from osm2mp_spark.sources.images import generate_phash_corpus_df

    spark = make_spark(CPUS, ui_port=_UI_PORT)
    spark.sparkContext.setLogLevel("ERROR")
    from osm2mp_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    app_id = spark.sparkContext.applicationId

    from osm2mp_spark.operators.hamming import hamming_bands, hamming_layout
    from osm2mp_spark.operators.images import WIDE_BITS, WIDE_WORDS

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

    def one(n: int, wide: bool) -> dict:
        # hash stage (generate+decode+signature), materialized once
        corpus = generate_phash_corpus_df(spark, n)
        kern = dhash_wide_images if wide else dhash_images
        t0 = time.time()
        sigs = kern(corpus).localCheckpoint(eager=True)
        hash_sec = time.time() - t0
        # CANDIDATE VOLUME — the number that decides 10^12-sig viability:
        # 16-bit probed bands (narrow64) put ~n/65536 sigs in each bucket,
        # 32-bit bands (wide256) ~n/2^32.
        cand = candidates(sigs, wide)
        # join stage best-of-2 over the cached signatures, with per-join
        # shuffle/spill byte ledgers (VERDICT r04 ask #7: the linear-vs-
        # quadratic witness as a RESOURCE claim, not just a candidate count)
        join_sec, pairs, res = float("inf"), 0, {}
        for _ in range(2):
            df = (wide_hamming_pairs(sigs, max_hamming=7) if wide
                  else phash_hamming_pairs(sigs, max_hamming=6))
            b0 = _stage_totals(app_id)
            t0 = time.time()
            pairs = df.count()
            dt = time.time() - t0
            if dt < join_sec:
                join_sec = dt
                res = _delta(_stage_totals(app_id), b0)
        sigs.unpersist()
        return {"hash_sec": round(hash_sec, 3),
                "join_sec": round(join_sec, 3),
                "candidates": cand, "pairs": pairs,
                "join_shuffle_mb": round(
                    (res.get("shuffle_read", 0) + res.get("shuffle_write", 0))
                    / 2**20, 1),
                "join_spill_mb": round(
                    (res.get("spill_disk", 0)) / 2**20, 1)}

    # interleave configs across sizes (co-tenant noise protocol)
    out: dict[str, dict] = {"narrow64": {}, "wide256": {}}
    for n in ns:
        n_imgs = n + (n + 6) // 7  # originals + planted dups
        for key, wide in (("narrow64", False), ("wide256", True)):
            rec = one(n, wide)
            rec["images"] = n_imgs
            rec["images_per_sec_join"] = round(n_imgs / rec["join_sec"], 1)
            out[key][str(n)] = rec

    # one more decade, wide-only, over SYNTHETIC signatures (generating
    # real image bytes at 5M images would bury the join in decode time;
    # narrow64's bucket-quadratic candidates are extrapolation-dead two
    # decades earlier). 8 uniform md5-derived words/sig mimic the measured
    # unrelated-pair distance distribution.
    n_syn = int(os.environ.get("SPARK_GRAFT_DEDUP_SYNTH_N", "5000000"))
    sigs = _synthetic_wide_sigs(spark, n_syn).localCheckpoint(eager=True)
    cand = candidates(sigs, wide=True)
    join_sec, pairs, res = float("inf"), 0, {}
    for _ in range(2):
        df = wide_hamming_pairs(sigs, max_hamming=7)
        b0 = _stage_totals(app_id)
        t0 = time.time()
        pairs = df.count()
        dt = time.time() - t0
        if dt < join_sec:
            join_sec = dt
            res = _delta(_stage_totals(app_id), b0)
    n_imgs = n_syn + (n_syn + 6) // 7
    out["wide256"][f"synthetic_{n_syn}"] = {
        "hash_sec": None, "join_sec": round(join_sec, 3),
        "candidates": cand, "pairs": pairs, "images": n_imgs,
        "images_per_sec_join": round(n_imgs / join_sec, 1),
        "join_shuffle_mb": round(
            (res.get("shuffle_read", 0) + res.get("shuffle_write", 0))
            / 2**20, 1),
        "join_spill_mb": round(res.get("spill_disk", 0) / 2**20, 1),
        "synthetic_sigs": True,
    }
    sigs.unpersist()
    spark.stop()
    return out


def bench_skew(n_hot: int = 8_000, n_cold: int = 20_000) -> dict:
    """Adversarial band-join skew (VERDICT r04 ask #5): n_hot signatures
    share ONE h0 word (bands 0+1 collide corpus-wide → two buckets of
    n_hot, ~n_hot²/2 candidates each) atop n_cold normal signatures (few
    enough that the hot bucket dominates its shuffle partition — AQE's
    skew detector compares against the median partition). The
    shuffled join is timed with AQE skew-split ON vs OFF (broadcast
    disabled both ways — at 10^12 sigs nothing broadcasts); ON must spread
    the hot bucket across tasks instead of one straggler."""
    from pyspark.sql import functions as F

    from osm2mp_spark.operators.images import wide_hamming_pairs

    spark = make_spark(CPUS, ui_port=_UI_PORT)
    spark.sparkContext.setLogLevel("ERROR")
    from osm2mp_spark.shipping import ensure_shipped

    ensure_shipped(spark)
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
    from osm2mp_spark.metrics import max_stage_tasks

    out = {"n_hot": n_hot, "n_cold": n_cold,
           "shuffle_partitions": int(
               spark.conf.get("spark.sql.shuffle.partitions"))}
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
    spark.stop()
    return out


def bench_inc_ledger(n_batches: int = 14, batch_images: int = 2_000,
                     full_family: bool = False) -> dict:
    """Per-batch bytes-read ledger for the incremental dedup store (VERDICT
    r04 weak item: per-batch cost must be O(batch), not O(store)). Streams
    `n_batches` equal landing files through start_incremental_dedup,
    compacting the store every 2 batches (so later batches take the
    pruned-scan path against an ever-growing compacted prefix), and
    reports each batch's metrics row: read_bytes (JVM /proc rchar over the
    batch — all-inclusive), store_rows_scanned, and the store's total
    banded row count at that point (what the pre-r5 layout would have
    re-read every batch). Boundedness = read_bytes stays flat while
    store_total_rows grows ~n_batches×. Compactions run BETWEEN batches
    (outside every batch's rchar window) — the amortized background cost,
    reported separately.

    full_family=True additionally maintains the WHOLE incremental family
    per batch — ANN top-k state, cluster labels, and the published
    per-(city, tile) rollup (retraction deltas + spatial assignment) —
    compacting all four stores on the same cadence; per-batch `secs`
    staying flat while every store grows is the boundedness witness for
    the complete pipeline, not just the pair join."""
    import shutil

    from osm2mp_spark.sources.images import generate_phash_corpus_df
    from osm2mp_spark.streaming.dedup import (
        STORE_LAYOUT,
        compact_store,
        read_batch_metrics,
        read_store_signatures,
        start_incremental_dedup,
    )

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from osm2mp_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    base = f"/tmp/osm2mp_inc_ledger_{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    land = f"{base}/landing"
    n_total = n_batches * batch_images
    corpus = generate_phash_corpus_df(spark, n_total)
    corpus.repartition(n_batches).write.mode("overwrite").parquet(land)
    # the stream takes files in mtime order: distinct mtimes in file-name
    # order pin the file -> batch assignment, so two runs' ledgers compare
    # batch by batch
    parts = sorted(f for f in os.listdir(land) if f.endswith(".parquet"))
    first = time.time() - len(parts)
    for i, f in enumerate(parts):
        os.utime(f"{land}/{f}", (first + i, first + i))
    schema = spark.read.parquet(land).schema
    store = f"{base}/store"
    compact_secs = []
    extra = {}
    if full_family:
        from osm2mp_spark.plans.flagship import flagship_assign
        from osm2mp_spark.queries.images_q import _img_key
        from osm2mp_spark.sources.points import with_derived_position
        from osm2mp_spark.streaming.ann import compact_topk_state
        from osm2mp_spark.streaming.clusters import compact_labels
        from osm2mp_spark.streaming.dedup import compact_pairs
        from osm2mp_spark.streaming.flagship import compact_rollup

        extra = dict(
            ann_state_path=f"{base}/state",
            ann_query_pred="{col} LIKE '%d' OR {col} LIKE '%e'",
            ann_k=3,
            clusters_root=f"{base}/clusters",
            cluster_key_exprs=(_img_key("id_a"), _img_key("id_b")),
            rollup_root=f"{base}/rollup",
            rollup_key_expr=_img_key("image_id"),
            rollup_assign=lambda df: flagship_assign(
                with_derived_position(df, "point_id")
            ),
        )

    def hook(batch_id):
        if batch_id % 2 == 1:
            t0 = time.time()
            compact_store(spark, store)
            if full_family:
                compact_pairs(spark, f"{base}/pairs", store)
                compact_topk_state(spark, f"{base}/state", store)
                compact_labels(spark, f"{base}/clusters", store)
                compact_rollup(spark, f"{base}/rollup", store)
            compact_secs.append(round(time.time() - t0, 2))

    q = start_incremental_dedup(
        spark, land, schema,
        store_path=store, pairs_path=f"{base}/pairs",
        checkpoint_path=f"{base}/ckpt",
        max_hamming=7, max_files_per_trigger=1,
        on_batch_complete=hook,
        **extra,
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    m = (
        read_batch_metrics(spark, store).toPandas()
        .sort_values("batch_id").reset_index(drop=True)
    )
    n_sigs = read_store_signatures(spark, store).count()
    ledger = [
        {
            "batch": int(r.batch_id),
            "n_images": int(r.n_images),
            "secs": round(float(r.secs), 2),
            "read_mb": round(int(r.read_bytes) / 2**20, 1),
            "store_rows_scanned": int(r.store_rows_scanned),
            # banded store rows existing when this batch ran (what the old
            # layout re-read in full): bands × images landed before it
            "store_banded_rows_before": int(len(STORE_LAYOUT.bands) * sum(
                m.n_images[m.batch_id < r.batch_id]
            )),
        }
        for r in m.itertuples()
    ]
    out = {
        "batches": ledger,
        "final_store_signatures": int(n_sigs),
        "compaction_secs": compact_secs,
    }
    if full_family:
        from osm2mp_spark.streaming.flagship import read_rollup

        roll = read_rollup(spark, f"{base}/rollup")
        out["full_family"] = True
        out["rollup_cells"] = roll.count()
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()
    return out


def main():
    if "--inc-ledger-full" in sys.argv:
        i = sys.argv.index("--inc-ledger-full")
        rest = [a for a in sys.argv[i + 1:] if a.isdigit()]
        nb = int(rest[0]) if rest else 10
        bi = int(rest[1]) if len(rest) > 1 else 1_000
        print(json.dumps({"incremental_family_ledger": bench_inc_ledger(
            n_batches=nb, batch_images=bi, full_family=True
        )}))
        return
    if "--inc-ledger" in sys.argv:
        print(json.dumps({"incremental_dedup_ledger": bench_inc_ledger()}))
        return
    if "--skew" in sys.argv:
        print(json.dumps({"band_join_skew": bench_skew()}))
        return
    if "--scale-session-cluster" in sys.argv:
        i = sys.argv.index("--scale-session-cluster")
        scale_session_cluster(int(sys.argv[i + 1]), int(sys.argv[i + 2]))
        return
    if "--two-level-cluster" in sys.argv:
        print(json.dumps({"two_level_cluster": bench_two_level_cluster()}))
        return
    if "--scale-session" in sys.argv:
        i = sys.argv.index("--scale-session")
        scale_session(int(sys.argv[i + 1]), int(sys.argv[i + 2]))
        return
    two_level = "--two-level" in sys.argv
    two_level_jvm = "--two-level-jvm" in sys.argv
    if "--dedup-scale" in sys.argv:
        print(json.dumps({"dedup_scale": bench_dedup_scale()}))
        return
    import __spark_entry__ as entry

    qs = entry.queries()

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from osm2mp_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    # warm-up: exercise codegen, shuffle, window, broadcast and the Arrow
    # UDF worker pool once, untimed, so per-query numbers are steady-state
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        for wq in ("pip_city", "clip_chains"):
            if wq in qs:
                qs[wq](spark, warm).write.format("noop").mode("overwrite").save()

    # interleaved best-of-3: this box shows up to 6.6x co-tenant noise
    # between identical runs, so a single pass can tag any query with a
    # burst. Rounds interleave ACROSS queries (a burst hits one round of
    # many queries, not one query three times) and each query reports its
    # best — steady-state by construction.
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    per_query: dict[str, float] = {}
    for _ in range(rounds):
        for name in HEADLINE:
            if name not in qs:
                continue
            df = qs[name](spark, SF_DIR)
            t0 = time.time()
            run_df(df)
            dt = time.time() - t0
            if name not in per_query or dt < per_query[name]:
                per_query[name] = dt
    per_query = {k: round(v, 3) for k, v in per_query.items()}
    total = sum(per_query.values())

    extra_query: dict[str, float] = {}
    for _ in range(min(rounds, 2)):
        for name in EXTRA:
            if name not in qs:
                continue
            # t0 BEFORE the builder: some builders run driver-coordinated
            # jobs during construction (rings' bounded collect, the
            # component fixpoint) — timing only run_df would exclude them
            t0 = time.time()
            run_df(qs[name](spark, SF_DIR))
            dt = time.time() - t0
            if name not in extra_query or dt < extra_query[name]:
                extra_query[name] = dt
    extra_query = {k: round(v, 3) for k, v in extra_query.items()}

    # measure the flagship in a FRESH session: a session that just ran the
    # whole headline set carries GC/broadcast debris that distorts timing
    spark.stop()
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    fl_sec, fl_rows = bench_flagship(spark, SF_DIR)
    per_query["flagship_e2e"] = round(fl_sec, 3)
    total += fl_sec
    rows_per_sec = fl_rows / fl_sec if fl_sec > 0 else 0.0

    # flagship × wide-dedup composition (headline e2e covering the at-scale
    # dedup path: bytes → wide sigs → banded pairs → clusters → keepers →
    # fused PIP/BSP assignment → per-tile rollup); images/sec throughput
    fd_imgs = 0
    fd_sec = 0.0
    if "flagship_dedup" in qs:
        from osm2mp_spark.queries.images_q import _n_for
        from osm2mp_spark.sources.images import generate_phash_corpus_df

        fd_imgs = generate_phash_corpus_df(spark, _n_for(spark, SF_DIR)).count()
        run_df(qs["flagship_dedup"](spark, SF_DIR))  # warm-up
        fd_sec = float("inf")
        for _ in range(2):
            t0 = time.time()
            run_df(qs["flagship_dedup"](spark, SF_DIR))
            fd_sec = min(fd_sec, time.time() - t0)
        # reported as its own headline row + throughput; NOT added to
        # `total`, which stays definitionally comparable across rounds
        per_query["flagship_dedup"] = round(fd_sec, 3)

    result = {
        "metric": "headline query wall time (spatial join + tiling engine)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "extra_queries": extra_query,
        "sf": SF_DIR,
        "cpus": CPUS,
        "runs_per_query": rounds,
        "flagship_rows": fl_rows,
        "flagship_rows_per_sec": round(rows_per_sec, 1),
        "flagship_dedup_images": fd_imgs,
        "flagship_dedup_images_per_sec": round(fd_imgs / fd_sec, 1)
        if fd_sec > 0 else 0.0,
    }

    spark.stop()

    if two_level:
        result["two_level"] = bench_two_level()
    if two_level_jvm:
        result["two_level_jvm"] = bench_two_level_jvm()

    print(json.dumps(result))


if __name__ == "__main__":
    main()
