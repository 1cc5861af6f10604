#!/usr/bin/env python
"""Round-6 optimization-side benchmarks (bench.py is FROZEN for driver
measurement — extra evidence lives here, cited by OPTIMIZATION_r06.md).

Adds what VERDICT r5 asked of the bench protocol but cannot go into the
frozen file: every session records /proc/loadavg before and after, plus a
fixed JVM-only control query whose inflation factor calibrates ambient
co-tenant load (a run where the control is 2x its floor is a loaded run,
whatever the query numbers say).

Modes:
  --stages       per-stage noop-isolated breakdown of flagship_dedup
                 (guide §1.4): corpus gen -> +signatures -> +banded pairs
                 -> +components+keepers -> full spatial rollup.
  --hash-curve   signature-stage throughput at several corpus sizes
                 (isolates the round's kernel/codec work from the join).
Default: both.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def make_spark():
    from bench import make_spark as mk

    s = mk(CPUS)
    s.sparkContext.setLogLevel("ERROR")
    from osm2mp_spark.shipping import ensure_shipped

    ensure_shipped(s)
    return s


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def control_query(spark) -> float:
    """Fixed JVM-only spin (pure codegen agg over a generated range): its
    wall time is data-independent, so run-to-run inflation measures ambient
    load, not the engine."""
    t0 = time.time()
    noop(
        spark.range(0, 20_000_000).selectExpr(
            "SUM(id * 3 % 7) AS s", "COUNT(*) AS n"
        )
    )
    return round(time.time() - t0, 3)


def bench_stages(spark) -> dict:
    from osm2mp_spark.operators.images import (
        dhash_wide_images,
        wide_hamming_pairs,
    )
    from osm2mp_spark.queries.images_q import _image_clusters, _n_for
    from osm2mp_spark.sources.images import generate_phash_corpus_df

    n = _n_for(spark, SF_DIR)
    out = {"n_originals": n}

    def best2(label, f):
        b = float("inf")
        for _ in range(2):
            t0 = time.time()
            f()
            b = min(b, time.time() - t0)
        out[label] = round(b, 3)

    spark.sparkContext.setJobDescription("stage: corpus generation only")
    best2("gen_sec", lambda: noop(generate_phash_corpus_df(spark, n)))

    spark.sparkContext.setJobDescription("stage: gen + wide signatures")
    best2("sigs_sec", lambda: noop(
        dhash_wide_images(generate_phash_corpus_df(spark, n))
    ))

    spark.sparkContext.setJobDescription("stage: gen + sigs + banded pairs")

    def pairs():
        sigs = dhash_wide_images(
            generate_phash_corpus_df(spark, n)
        ).localCheckpoint(eager=False)
        noop(wide_hamming_pairs(sigs, max_hamming=7))

    best2("pairs_sec", pairs)

    spark.sparkContext.setJobDescription("stage: + components + keepers")

    def keepers():
        sigs = dhash_wide_images(
            generate_phash_corpus_df(spark, n)
        ).localCheckpoint(eager=False)
        noop(_image_clusters(
            sigs, wide_hamming_pairs(sigs, max_hamming=7)
        ).filter("keep"))

    best2("keepers_sec", keepers)

    spark.sparkContext.setJobDescription("stage: full flagship_dedup")
    from osm2mp_spark.queries import QUERIES

    best2("full_sec", lambda: noop(QUERIES["flagship_dedup"](spark, SF_DIR)))
    spark.sparkContext.setJobDescription(None)
    return out


def bench_hash_curve(spark, sizes=(5_000, 15_000, 45_000)) -> dict:
    from osm2mp_spark.operators.images import dhash_wide_images
    from osm2mp_spark.sources.images import generate_phash_corpus_df

    out = {}
    for n in sizes:
        spark.sparkContext.setJobDescription(f"hash curve n={n}")
        b = float("inf")
        for _ in range(2):
            t0 = time.time()
            noop(dhash_wide_images(generate_phash_corpus_df(spark, n)))
            b = min(b, time.time() - t0)
        n_imgs = n + (n + 6) // 7
        out[str(n)] = {
            "sec": round(b, 3),
            "images": n_imgs,
            "images_per_sec": round(n_imgs / b, 1),
        }
    spark.sparkContext.setJobDescription(None)
    return out


def main():
    res = {"sf": SF_DIR, "cpus": CPUS, "loadavg_start": loadavg()}
    spark = make_spark()
    control_query(spark)  # warm-up
    res["control_sec_start"] = control_query(spark)
    if "--hash-curve" in sys.argv or "--stages" not in sys.argv:
        res["hash_curve"] = bench_hash_curve(spark)
    if "--stages" in sys.argv or "--hash-curve" not in sys.argv:
        res["flagship_dedup_stages"] = bench_stages(spark)
    res["control_sec_end"] = control_query(spark)
    res["loadavg_end"] = loadavg()
    spark.stop()
    print(json.dumps(res))


if __name__ == "__main__":
    main()
