"""Streaming ingest → INCREMENTAL near-dup detection (the composition the
r3 verdict asked for): newly-landed image files stream in, each micro-batch
is wide-signature-hashed and banded-Hamming-joined against the accumulated
signature store, so duplicates are caught AT INGEST TIME — no periodic
all-corpus recompute.

Incremental invariant: a pair is emitted by exactly one micro-batch — the
one holding its LATER-arriving member (the earlier member is already in the
store; a pair landing in one batch is emitted by that batch). Hence after
any partitioning of a corpus into micro-batches, the union of emitted pairs
EQUALS the one-shot batch join (image_dedup_wide) — which is how the gate
checks it, via the same DuckDB all-pairs oracle.

Exactly-once across restarts: the streaming checkpoint pins the file→batch
assignment, and every per-batch output (signatures into the store, pairs
into the pairs dir, the certifying metrics row) follows the batch-directory
protocol of streaming.store — layout, certification, replay horizon and
commit order are stated there once. A re-executed batch recomputes
byte-identical content (deterministic kernel) over the same store prefix
(store = batches < id), so replays are idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.hamming import hamming_bands, hamming_join, hamming_layout
from ..operators.images import (
    DHASH_WIDE_SCHEMA,
    WIDE_BITS,
    WIDE_WORDS,
    dhash_wide_images,
)
from ..sources.parquet_footers import parquet_rows
from .store import (
    _batch_dir,
    _batch_dirs,
    _certified,
    _commit_compacted,
    _compact,
    _compacted_dir,
    _live,
    _metrics_root,
    _read_live,
    local_frame,
    pruned_store_scan,
)

# The compacted store's banded layout: one row per (signature, band) with
# operators.hamming's `bandkey = band·2^32 + key` (8 word-aligned bands,
# bandkey < 2^35). The 256-bit layout is the same at every threshold ≤ 7,
# so one compacted store serves any stream threshold.
STORE_LAYOUT = hamming_layout(WIDE_BITS, 7)


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """Signature rows → the banded store layout (STORE_LAYOUT), bandkey
    first as compacted stores hold it on disk, so ONE sorted column
    carries the whole band-join key and parquet row-group min/max stats on
    it line up with band buckets."""
    return hamming_bands(sigs, "image_id", WIDE_WORDS, STORE_LAYOUT).select(
        "bandkey", "image_id", *WIDE_WORDS
    )


def read_store_signatures(spark: SparkSession, root: str) -> DataFrame:
    """Uniform one-row-per-signature view of the store regardless of
    layout: band-0 rows of the compacted dir (exactly one per signature)
    plus the raw signature rows of the uncompacted batch tail."""
    comp, tail = _live(spark, root)
    cols = ["image_id", *WIDE_WORDS]
    parts = []
    if comp is not None:
        parts.append(
            spark.read.parquet(comp)
            .filter(F.col("bandkey") < F.lit(1 << STORE_LAYOUT.key_bits))
            .select(*cols)
        )
    if tail:
        parts.append(spark.read.parquet(*tail).select(*cols))
    if not parts:
        return local_frame(spark, [], DHASH_WIDE_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_pairs(
    spark: SparkSession, pairs_path: str, store_path: str,
    num_files: int | None = None,
) -> int:
    """Roll certified per-batch pair dirs into one `compacted=<N>` dir —
    the pairs subtree otherwise grows one directory per micro-batch
    forever, the same unbounded-listing problem compact_store bounds for
    signatures. read_pairs unions the compacted prefix with the batch
    tail."""

    def write(tmp, comp, tail):
        merged = spark.read.parquet(*tail).select("id_a", "id_b", "hamming")
        if comp:
            merged = spark.read.parquet(comp).unionByName(merged)
        merged.coalesce(
            num_files or spark.sparkContext.defaultParallelism
        ).write.mode("overwrite").parquet(tmp)

    return _compact(spark, pairs_path, store_path, write)


def compact_store(
    spark: SparkSession,
    store_path: str,
    block_bytes: int = 8 << 20,
    num_files: int | None = None,
) -> int:
    """Merge the accumulated signature store (compacted prefix + every
    CERTIFIED `batch=<id>` dir) into a single `compacted=<max_id+1>` dir
    and drop the merged inputs; returns the new horizon N (0 = nothing to
    do). At one dir per micro-batch a long-lived ingest accumulates
    unbounded directory listings; compaction bounds store reads to one
    merged dir + the tail since the last compaction. Runs between stream
    runs or from a completed batch's hook (streaming.store states the
    certification and replay-horizon rules that make both safe).

    The compacted dir is written in the BANDED layout, range-sorted by
    bandkey with `parquet.block.size = block_bytes` row groups, so that
    pruned_store_scan can skip every row group whose bandkey range misses
    the micro-batch's key set — this is what bounds per-batch bytes read
    to O(batch) instead of O(store). Smaller block_bytes = finer pruning
    granularity at the cost of more footer metadata.

    Certified per-batch metrics rows are then rolled into
    `metrics/compacted=<N>` so the one-dir-per-batch listing growth is
    bounded in the metrics subtree too."""
    n_parts = num_files or spark.sparkContext.defaultParallelism

    def write(tmp, comp, tail):
        merged = banded_signatures(spark.read.parquet(*tail))
        if comp:
            merged = spark.read.parquet(comp).unionByName(merged)
        (
            merged.repartitionByRange(n_parts, "bandkey")
            .sortWithinPartitions("bandkey")
            .write.mode("overwrite")
            .option("parquet.block.size", block_bytes)
            .parquet(tmp)
        )

    before = _compacted_dir(spark, store_path)[1]
    horizon = _compact(spark, store_path, store_path, write)
    if horizon == before:
        return horizon
    # The metrics roll-up merges the ledger's live view: metric batch dirs
    # BELOW its previous horizon are crash-window replays whose rows the
    # previous compacted file already holds — including them would bake a
    # duplicate row in permanently. Lenient commit (strict=False): the
    # store commit above already succeeded, and uncompacted metric dirs are
    # merely a listing-growth debt, safe to leave for the next compaction.
    mroot = _metrics_root(store_path)
    _commit_compacted(
        spark, mroot, horizon,
        lambda tmp: _read_live(spark, mroot, BATCH_METRICS_SCHEMA)
        .coalesce(1).write.mode("overwrite").parquet(tmp),
        sources=_batch_dirs(spark, mroot),
        old_comp=_compacted_dir(spark, mroot)[0],
        strict=False,
    )
    return horizon


def _jvm_read_bytes() -> int:
    """Cumulative bytes read (/proc rchar) by the local-mode JVM — driver
    and executor threads share one process, so the per-batch delta is an
    honest all-inclusive bytes-read ledger (page-cached reads included,
    which executor InputMetrics under-report for vectorized parquet). The
    JVM is found as a `java` child of this process in /proc/<pid>/stat, so
    no helper process is forked. Returns 0 when no child JVM is found
    (cluster mode — there, read the executor task input metrics off the
    event log instead)."""
    me = str(os.getpid())
    tot = 0
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            # "pid (comm) state ppid ..." — comm may hold spaces or parens
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = stat[stat.rindex(")") + 1:].split()[1]
            if ppid != me or "java" not in comm:
                continue
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("rchar:"):
                        tot += int(line.split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited mid-scan, or unreadable
    return tot


def _is_listing_race(e: Exception) -> bool:
    # message substrings are brittle across Spark/Hadoop versions and
    # locales — also match exception CLASS names through the Py4J cause
    # chain (AnalysisException PATH_NOT_FOUND, java FileNotFoundException)
    s = str(e)
    if "FileNotFound" in s or "does not exist" in s:
        return True
    try:
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException):
            cls = e.getErrorClass()
            if cls and "PATH_NOT_FOUND" in cls:
                return True
    except Exception:
        pass
    java_e = getattr(e, "java_exception", None)
    while java_e is not None:
        try:
            if "FileNotFoundException" in java_e.getClass().getName():
                return True
            java_e = java_e.getCause()
        except Exception:
            break
    return False


BATCH_METRICS_SCHEMA = (
    "batch_id long, n_images long, n_pairs long, secs double, "
    "images_per_sec double, store_rows_scanned long, read_bytes long"
)


def start_incremental_dedup(
    spark: SparkSession,
    images_path: str,
    schema,
    store_path: str,
    pairs_path: str,
    checkpoint_path: str,
    max_hamming: int = 7,
    max_files_per_trigger: int | None = 1,
    on_batch_complete=None,
    ann_state_path: str | None = None,
    ann_query_pred: str | None = None,
    ann_k: int = 3,
    clusters_root: str | None = None,
    cluster_key_exprs: tuple[str, str] | None = None,
    rollup_root: str | None = None,
    rollup_key_expr: str | None = None,
    rollup_assign=None,
):
    """readStream over an image-file landing zone → per-micro-batch wide
    signatures + incremental banded join against the store. Returns the
    StreamingQuery (caller drives processAllAvailable / awaitTermination).

    With `ann_state_path` + `ann_query_pred` set, each batch's pairs are
    additionally folded into a per-query Hamming top-k state (streaming.ann
    — incremental ANN maintenance), written BEFORE the certifying metrics
    row so replays cover it.

    With `rollup_root` + `rollup_key_expr` + `rollup_assign` set (requires
    `clusters_root`), each batch additionally maintains the published
    per-(city, tile) keeper rollup via retraction deltas
    (streaming.flagship) fed by the cluster fold.

    Store-side cost is bounded per batch: the compacted prefix is scanned
    via pruned_store_scan (parquet row-group pruning on the micro-batch's
    band keys, STORE_LAYOUT's 8 per signature — O(batch) bytes, not
    O(store)); only the small uncompacted batch tail is read in full. The
    per-batch metrics row
    records store_rows_scanned and the JVM's actual read_bytes so the
    boundedness is measurable from the ledger (BENCH.md §1b).

    The ledger costs the batch almost no extra Spark work:
      - n_images: the batch's band keys are collected once (8 per
        signature, no distinct shuffle) for the pruned scan; their count
        / 8 (bands per signature) is the image count;
      - n_pairs: parquet footer row counts of the batch's pairs dir;
      - store_rows_scanned: 8 × the uncompacted tail's footer row count,
        plus ONE count of the pruned compacted scan, run only once a
        compacted dir exists;
      - read_bytes: /proc rchar of the child JVM, less the pruned
        count's own re-read;
      - the row itself is a store.local_frame, a JVM-only
        LocalTableScan, so writing it starts no Python worker.
    On 4 cores with 45-image batches a micro-batch submits 7–11 Spark jobs
    (15–19 when it counted its inputs, store and output with Spark jobs
    and wrote the row through createDataFrame).

    A compaction that commits while a batch is in flight can delete tail
    dirs between our listing and the read — the store read retries once on
    a FileNotFound-class failure, picking up the new compacted layout
    (contents are equivalent by construction; duplicated rows across the
    crash-window horizon collapse in the store join's canonical distinct).

    `on_batch_complete(batch_id)` (test hook) runs after each batch's
    metrics row lands — e.g. to trigger a mid-stream compaction."""

    # the store's banding is lossless only to Hamming 7: a larger
    # threshold raises here, not as silently missing pairs
    hamming_layout(WIDE_BITS, max_hamming)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        import time

        t0 = time.time()
        r0 = _jvm_read_bytes()
        sig_dir = _batch_dir(store_path, batch_id)
        (
            dhash_wide_images(batch_df)
            .write.mode("overwrite")
            .parquet(sig_dir)
        )
        new = spark.read.parquet(sig_dir)
        newb = banded_signatures(new)
        # one row per (signature, band): the batch's band keys, deduplicated
        # on the driver (no distinct shuffle), and at one row per band its
        # image count
        band_rows = [r[0] for r in newb.select("bandkey").collect()]
        keys = list(set(band_rows))
        n_new = len(band_rows) // len(STORE_LAYOUT.bands)
        out = _batch_dir(pairs_path, batch_id)

        def build_allb() -> tuple[DataFrame, int, DataFrame | None]:
            """Banded view of everything the batch joins against: its own
            rows + the uncompacted tail + the pruned compacted prefix —
            RE-LISTED on each call so a retry after a mid-stream compaction
            picks up the new layout. Also returns the tail's banded row
            count (8 × its footer row count) and the pruned scan, the two
            parts of store_rows_scanned."""
            comp, tail = _live(spark, store_path, below=batch_id)
            allb, tail_rows, pruned = newb, 0, None
            if tail:
                allb = allb.unionByName(
                    banded_signatures(spark.read.parquet(*tail))
                )
                tail_rows = len(STORE_LAYOUT.bands) * parquet_rows(
                    spark, tail
                )
            if comp is not None:
                pruned = pruned_store_scan(spark, comp, keys)
                allb = allb.unionByName(pruned)
            return allb, tail_rows, pruned

        def join_store() -> tuple[int, int]:
            """Write the batch's pairs; return store_rows_scanned and the
            bytes its count read. Retries once with a fresh listing when a
            concurrently-committed compaction deleted dirs between our
            listing and the read. The pruned prefix is counted inside the
            same attempt, so the count always describes the layout the
            written pairs were joined against."""
            for attempt in (0, 1):
                try:
                    allb, n_store, pruned = build_allb()
                    hamming_join(
                        newb, allb, "image_id", WIDE_WORDS, STORE_LAYOUT,
                        max_hamming, rule="canonical",
                    ).write.mode("overwrite").parquet(out)
                    count_bytes = 0
                    if pruned is not None:
                        r = _jvm_read_bytes()
                        n_store += pruned.count()
                        count_bytes = _jvm_read_bytes() - r
                    return n_store, count_bytes
                except Exception as e:
                    if attempt or not _is_listing_race(e):
                        raise

        n_store, count_bytes = join_store()
        if ann_state_path is not None:
            from .ann import update_topk_state

            update_topk_state(
                spark, ann_state_path, int(batch_id),
                spark.read.parquet(out), ann_query_pred, ann_k,
            )
        if clusters_root is not None:
            from .clusters import update_clusters

            ka, kb = cluster_key_exprs or ("CAST(id_a AS BIGINT)",
                                           "CAST(id_b AS BIGINT)")
            fold = update_clusters(
                spark, clusters_root, int(batch_id),
                spark.read.parquet(out), ka, kb,
            )
            if rollup_root is not None:
                from .flagship import update_rollup

                # CRASH-WINDOW GUARD: a replay of a batch whose metrics
                # row already landed (certified, checkpoint-commit lost)
                # may find the labels store compacted THROUGH this batch —
                # the fold above then reads post-batch cluster state and
                # degenerates to a no-op. For the state-idempotent labels
                # that is harmless, but rollup deltas are INCREMENTS: a
                # degenerate recompute would overwrite the correct
                # deltas/batch dir. Certification is written AFTER the
                # rollup, so it proves those outputs exist and are correct
                # — keep them and skip the recompute.
                if not _certified(spark, store_path)(batch_id):
                    update_rollup(
                        spark, rollup_root, int(batch_id), new,
                        rollup_key_expr, fold, rollup_assign,
                    )
        # the ledger's own count re-reads pruned row groups: not batch work
        read_bytes = _jvm_read_bytes() - r0 - count_bytes
        # per-batch lineage + throughput record (north_rule: resumable with
        # per-partition lineage + metrics). Same idempotent overwrite layout
        # as the data; written LAST so a metrics row certifies a completed
        # batch.
        n_pairs = parquet_rows(spark, [out])
        secs = time.time() - t0
        local_frame(spark, [(
            int(batch_id), n_new, n_pairs, float(secs),
            float(n_new / secs) if secs > 0 else 0.0,
            int(n_store), int(read_bytes),
        )], BATCH_METRICS_SCHEMA).write.mode("overwrite").parquet(
            _batch_dir(_metrics_root(store_path), batch_id)
        )
        if on_batch_complete is not None:
            on_batch_complete(int(batch_id))

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(images_path)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """Accumulated pair set across every processed micro-batch: the live
    view of the pairs subtree (compact_pairs' prefix plus the batch dirs
    at or above its horizon)."""
    return _read_live(
        spark, pairs_path, "id_a string, id_b string, hamming int"
    ).select("id_a", "id_b", "hamming")


def read_batch_metrics(spark: SparkSession, store_path: str) -> DataFrame:
    """Per-batch lineage/throughput records (batch_id, n_images, n_pairs,
    secs, images_per_sec) — the mid-run resume ledger: a batch with a
    metrics row is complete; absent rows re-run from the streaming
    checkpoint."""
    return _read_live(spark, _metrics_root(store_path), BATCH_METRICS_SCHEMA)


__all__ = [
    "start_incremental_dedup", "read_pairs", "banded_signatures",
    "pruned_store_scan",
    "read_store_signatures", "read_batch_metrics", "compact_store",
    "compact_pairs",
]
