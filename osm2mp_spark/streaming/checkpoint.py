"""Per-partition checkpointing with lineage + throughput metrics (north rule:
"checkpoints per-partition with lineage + metrics to enable mid-run resume").

Design (SURVEY §7.1.8): the job's output is bucketed by a deterministic
partition key `pmod(xxhash64(key), n_buckets)`. Each bucket is processed by
one task that:

  1. skips immediately if the bucket's manifest record exists (RESUME path);
  2. otherwise writes the bucket's rows to `part-<bucket>.parquet` via an
     atomic tmp+rename, then writes the manifest record
     `manifest/<bucket>.json` with lineage (bucket id, key range, row count,
     input fingerprint) and throughput (wall seconds, rows/sec).

A re-run after a mid-job kill redoes only the buckets with no manifest —
`resume_remaining(df, out_dir, ...)` is the anti-join against the manifest.
The manifest is also the audit surface: `read_manifest` returns it as a
DataFrame for monitoring dashboards.

This runs on any shared filesystem (local FS here, object store / HDFS on a
real cluster — rename is atomic per bucket file, and bucket ids are
deterministic, so double-writes are idempotent).
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .store import local_frame

# One row per manifest record (read_manifest); the same columns whether or
# not any bucket has been written yet.
MANIFEST_SCHEMA = (
    "bucket int, rows long, key_col string, key_min string, key_max string, "
    "input_fingerprint string, secs double, rows_per_sec double, "
    "finished_at string"
)


def _bucket_col(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def input_fingerprint(df: DataFrame) -> str:
    """Stable fingerprint of the job INPUT: sorted source file list + output
    schema. Resuming into an out_dir written from a different input must
    fail loudly, not silently keep stale buckets. (Frames with no file
    sources — range/memory — fingerprint on schema alone.)"""
    import hashlib

    basis = json.dumps(
        {"files": sorted(df.inputFiles()), "schema": df.schema.simpleString()}
    )
    return hashlib.sha256(basis.encode()).hexdigest()[:16]


def _attempt_tmp(path: str) -> str:
    """Per-attempt tmp name: speculative / retried tasks must never
    interleave writes into one shared tmp file before the atomic rename."""
    import uuid

    return f"{path}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"


def _check_meta(
    out_dir: str, key_col: str, n_buckets: int, fingerprint: str
) -> None:
    """A checkpoint dir is bound to one (key_col, n_buckets, input) triple —
    a rerun with different bucketing would silently mis-skip colliding
    bucket ids, and a rerun over different input would keep stale buckets."""
    meta_path = os.path.join(out_dir, "manifest", "_meta.json")
    meta = {
        "key_col": key_col,
        "n_buckets": n_buckets,
        "input_fingerprint": fingerprint,
    }
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            found = json.load(f)
        if found != meta:
            raise ValueError(
                f"checkpoint dir {out_dir} was written with {found}, "
                f"got {meta}; use a fresh out_dir to change the layout "
                f"or input"
            )
    else:
        tmp = _attempt_tmp(meta_path)
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)


def checkpointed_write(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    n_buckets: int = 32,
) -> dict:
    """Write df bucketed by key with per-bucket manifests; resumable.

    Returns {"written": k, "skipped": m, "rows": n} driver-side summary.
    """
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "data"), exist_ok=True)
    fingerprint = input_fingerprint(df)
    _check_meta(out_dir, key_col, n_buckets, fingerprint)
    bucketed = df.withColumn("__bucket", _bucket_col(key_col, n_buckets)).repartition(
        n_buckets, "__bucket"
    )
    schema_cols = [c for c in df.columns]

    def write_partition(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            for bucket, grp in pdf.groupby("__bucket"):
                bucket = int(bucket)
                mpath = os.path.join(out_dir, "manifest", f"{bucket:05d}.json")
                if os.path.exists(mpath):
                    yield pd.DataFrame(
                        [(bucket, len(grp), True, 0.0)],
                        columns=["bucket", "rows", "skipped", "secs"],
                    )
                    continue
                t0 = time.time()
                dpath = os.path.join(out_dir, "data", f"part-{bucket:05d}.parquet")
                tmp = _attempt_tmp(dpath)
                grp[schema_cols].to_parquet(tmp, index=False)
                os.replace(tmp, dpath)
                dt = time.time() - t0
                rec = {
                    "bucket": bucket,
                    "rows": int(len(grp)),
                    "key_col": key_col,
                    "key_min": str(grp[key_col].min()),
                    "key_max": str(grp[key_col].max()),
                    "input_fingerprint": fingerprint,
                    "secs": round(dt, 4),
                    "rows_per_sec": round(len(grp) / dt, 1) if dt > 0 else None,
                    "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                }
                mtmp = _attempt_tmp(mpath)
                with open(mtmp, "w") as f:
                    json.dump(rec, f)
                os.replace(mtmp, mpath)
                yield pd.DataFrame(
                    [(bucket, len(grp), False, dt)],
                    columns=["bucket", "rows", "skipped", "secs"],
                )

    stats = bucketed.mapInPandas(
        write_partition, schema="bucket int, rows long, skipped boolean, secs double"
    ).toPandas()
    return {
        "written": int((~stats.skipped).sum()),
        "skipped": int(stats.skipped.sum()),
        "rows": int(stats.rows[~stats.skipped].sum()),
    }


def read_manifest(spark, out_dir: str) -> DataFrame:
    """The lineage/metrics manifest as a DataFrame (monitoring surface)."""
    mdir = os.path.join(out_dir, "manifest")
    recs = []
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json") and not fn.startswith("_"):
            with open(os.path.join(mdir, fn)) as f:
                recs.append(json.load(f))
    cols = [f.split()[0] for f in MANIFEST_SCHEMA.split(", ")]
    return local_frame(
        spark, [tuple(r.get(c) for c in cols) for r in recs], MANIFEST_SCHEMA
    )


def resume_remaining(
    df: DataFrame, out_dir: str, key_col: str, n_buckets: int = 32
) -> DataFrame:
    """Rows of df whose bucket has NOT been checkpointed yet (the mid-run
    resume anti-join)."""
    mdir = os.path.join(out_dir, "manifest")
    if os.path.isdir(mdir):
        _check_meta(out_dir, key_col, n_buckets, input_fingerprint(df))
        done = [
            int(fn[:-5])
            for fn in os.listdir(mdir)
            if fn.endswith(".json") and not fn.startswith("_")
        ]
    else:
        done = []
    bucketed = df.withColumn("__bucket", _bucket_col(key_col, n_buckets))
    if not done:
        return bucketed.drop("__bucket")
    return bucketed.filter(~F.col("__bucket").isin(done)).drop("__bucket")
