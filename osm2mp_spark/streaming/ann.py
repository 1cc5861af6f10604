"""Incremental ANN: per-query Hamming top-k maintained across micro-batches.

image_ann_topk_wide (queries/images_q.py) is the one-shot batch form; this
module keeps the same answer current while a corpus streams in, by folding
each micro-batch's incremental near-dup PAIRS (streaming.dedup emits every
qualifying pair exactly once, in the batch of its later-arriving member)
into a per-query top-k state:

    state(b) per query q = top-k of (state(b-1)[q] ∪ new candidates of q)

which by induction equals top-k over ALL candidates seen so far — truncating
to k is lossless because candidates only ever accumulate and the rank order
(hamming, neighbor_id) is deterministic, so a candidate outside the current
top-k can never re-enter. The final state therefore equals the one-shot
image_ann_topk_wide, which is how the gate checks it (same DuckDB oracle).

Per-batch cost is O(batch), not O(#queries): each `state/batch=<id>` delta
holds top-k rows ONLY for queries touched by that batch, and the merge reads
previous state through the same pruned-scan machinery as the signature store
— the compacted state is range-sorted by query_id, and the batch's touched
query ids are pushed as parquet In filters (streaming.store.pruned_store_scan),
so row-group pruning skips the untouched part of the state. The delta tail
is bounded by compaction (compact_topk_state), exactly like the dedup store.

The state is a streaming.store batch-directory store: deltas are idempotent
per-batch overwrites computed from state strictly below the batch id, and
layout, certification, replay horizon and commit order are stated there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .store import (
    _batch_dir, _compact, _live, local_frame, pruned_store_scan,
)

TOPK_SCHEMA = (
    "query_id string, neighbor_id string, hamming int, rnk int, "
    "state_batch long"
)


def _oriented_candidates(pairs: DataFrame, query_pred: str) -> DataFrame:
    """Canonical (id_a < id_b) pairs → per-query candidate rows: one row
    per (pair, query-side) orientation. `query_pred` is a SQL boolean
    template over the placeholder {col}, e.g.
    "{col} LIKE '%d' OR {col} LIKE '%e'"."""
    a = pairs.filter(F.expr(f"({query_pred.format(col='id_a')})")).select(
        F.col("id_a").alias("query_id"),
        F.col("id_b").alias("neighbor_id"),
        "hamming",
    )
    b = pairs.filter(F.expr(f"({query_pred.format(col='id_b')})")).select(
        F.col("id_b").alias("query_id"),
        F.col("id_a").alias("neighbor_id"),
        "hamming",
    )
    return a.unionByName(b)


def _latest_per_query(state: DataFrame) -> DataFrame:
    """Rows of each query's NEWEST state_batch (deltas supersede older
    rows wholesale — each delta rewrites the full top-k of every query it
    touches)."""
    w = Window.partitionBy("query_id")
    return (
        state.withColumn("mx", F.max("state_batch").over(w))
        .filter(F.col("state_batch") == F.col("mx"))
        .drop("mx")
    )


def _read_state(
    spark: SparkSession,
    state_root: str,
    touched: list[str] | None,
    below: int | None = None,
) -> DataFrame | None:
    """Current top-k state restricted to `touched` query ids (None = all):
    pruned scan of the compacted prefix + full read of the (bounded) delta
    tail, newest delta winning per query."""
    comp, tail = _live(spark, state_root, below)
    parts = []
    if comp is not None:
        if touched is None:
            parts.append(spark.read.parquet(comp))
        else:
            parts.append(
                pruned_store_scan(spark, comp, touched, key_col="query_id")
            )
    if tail:
        parts.append(spark.read.parquet(*tail))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if touched is not None:
        # restrict to the touched set via a broadcast semi-join — unlike a
        # literal In list this stays plan-cheap at ANY touched-set size, so
        # the touched-only delta invariant holds even when the pruned comp
        # scan fell back to a full pass (the In filters above it remain the
        # ROW-GROUP pruning lever; this is the correctness restriction)
        tdf = local_frame(spark, [(x,) for x in touched], "query_id string")
        out = out.join(F.broadcast(tdf), "query_id", "left_semi")
    return _latest_per_query(out)


def update_topk_state(
    spark: SparkSession,
    state_root: str,
    batch_id: int,
    pairs: DataFrame,
    query_pred: str,
    k: int = 3,
) -> None:
    """Fold one micro-batch's pairs into the top-k state: write
    `state/batch=<id>` holding the new top-k of every TOUCHED query
    (queries with no new candidates keep their previous rows — latest
    delta wins on read). Idempotent overwrite; a replayed batch recomputes
    byte-identical deltas from the state below it."""
    cand = _oriented_candidates(pairs, query_pred)
    touched = [r[0] for r in cand.select("query_id").distinct().collect()]
    if not touched:
        return
    prev = _read_state(spark, state_root, touched, below=batch_id)
    merged = cand
    if prev is not None:
        merged = merged.unionByName(
            prev.select("query_id", "neighbor_id", "hamming")
        )
    # a crash-window replay at the compaction horizon (batch certified +
    # compacted, checkpoint uncommitted) re-folds candidates the compacted
    # state already absorbed — without this distinct, row_number would rank
    # the duplicate (query, neighbor) rows as separate top-k entries,
    # crowding out genuine neighbors
    merged = merged.distinct()
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    (
        merged.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .withColumn("state_batch", F.lit(int(batch_id)).cast("long"))
        .write.mode("overwrite")
        .parquet(_batch_dir(state_root, batch_id))
    )


def read_topk(spark: SparkSession, state_root: str) -> DataFrame:
    """Current per-query top-k across everything processed so far."""
    st = _read_state(spark, state_root, touched=None)
    if st is None:
        return local_frame(spark, [], TOPK_SCHEMA).select(
            "query_id", "neighbor_id", "hamming", "rnk"
        )
    return st.select("query_id", "neighbor_id", "hamming", "rnk")


def compact_topk_state(
    spark: SparkSession,
    state_root: str,
    store_path: str,
    block_bytes: int = 8 << 20,
    num_files: int | None = None,
) -> int:
    """Merge certified state deltas (+ previous compacted prefix) into one
    `compacted=<N>` dir range-sorted by query_id, bounding both the delta-
    dir listing growth and (via pruned_store_scan row-group pruning on
    query_id) per-batch state read bytes. Certification comes from the
    dedup store's metrics ledger at `store_path`."""
    n_parts = num_files or spark.sparkContext.defaultParallelism

    def write(tmp, comp, tail):
        merged = spark.read.parquet(*tail)
        if comp:
            merged = spark.read.parquet(comp).unionByName(merged)
        (
            _latest_per_query(merged)
            .repartitionByRange(n_parts, "query_id")
            .sortWithinPartitions("query_id")
            .write.mode("overwrite")
            .option("parquet.block.size", block_bytes)
            .parquet(tmp)
        )

    return _compact(spark, state_root, store_path, write)


__all__ = [
    "update_topk_state", "read_topk", "compact_topk_state", "TOPK_SCHEMA",
]
