"""Incremental FLAGSHIP rollup: the per-(city, tile) keeper aggregate that
`flagship_dedup` publishes (queries.images_q), maintained across
micro-batches — incremental MATERIALIZED-VIEW maintenance with RETRACTIONS,
the fourth and terminal leg of the incremental family (pairs:
streaming.dedup; ANN top-k: streaming.ann; cluster labels:
streaming.clusters; published rollup: here).

The batch form aggregates, per (city, tile) of each cluster KEEPER's
derived position: `n_keepers` = clusters rooted there, `n_images` = sum of
their cluster sizes. Incrementally, a micro-batch changes that view three
ways: (a) new images arrive as singleton clusters (+1 keeper, +1 image at
their own position), (b) new pairs ATTACH arrivals to existing clusters
(the cluster's row grows and may move if the root changes), (c) new pairs
MERGE existing clusters (two rows collapse into one). (b) and (c) cannot
be expressed as pure additions — the previously-published contribution of
every affected cluster must be RETRACTED. So the state is an append-only
DELTA LOG:

  deltas/batch=<id>  (city_id, tile_id, dk, di) — signed contributions:
                     -1/-size at an affected cluster's OLD root position,
                     +1/+new_size at its new root, +1/+1 per singleton
                     arrival. Summing the log over any prefix of batches
                     yields exactly the batch rollup at that point.
  sizes/batch=<id>   (root, size, b) — per-cluster size records for
                     multi-member clusters, latest row per root wins;
                     absence means singleton (size 1). Bounds the next
                     batch's retraction lookups to a pruned point read —
                     cluster sizes are never recomputed from members.

Per-batch cost is O(batch): the fold (which clusters changed, and how)
comes from update_clusters' returned union-find summary — sized by the
batch's pair graph — old sizes are point-looked-up from the sizes store,
and only the CHANGED clusters produce delta rows; the spatial assignment
(`assign_fn`: derived position → one-pass PIP + BSP tile descent) runs on
those O(batch) delta rows only. Unchanged clusters are never touched,
read, or rewritten. Singleton arrivals never reach the driver: they are
anti-joined distributed and assigned in the same pass.

Exactness: by induction each batch's deltas transform the log's sums from
the pre-batch rollup to the post-batch rollup, so the final sums equal the
one-shot `flagship_dedup` — the gate (streaming_incremental_flagship)
checks this with the SAME composed DuckDB oracle. Both subtrees are
streaming.store batch-directory stores (layout, certification, replay
horizon and commit order are stated there): every lookup is bounded
strictly below the replayed batch id and outputs are idempotent per-batch
overwrites. Unlike the state-idempotent labels store, deltas are
INCREMENTS — so a replay of an already-CERTIFIED batch (whose fold could
read post-batch cluster state once the labels store compacts through it)
must not recompute: process() skips update_rollup for certified batches,
keeping the original (correct) delta dir in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .store import (
    _batch_dir, _compact, _join, _point_lookup, _read_live, local_frame,
)

DELTAS_SCHEMA = "city_id string, tile_id int, dk long, di long"
SIZES_SCHEMA = "root long, size long, b long"


def _sizes_for(
    spark: SparkSession, sizes_root: str, roots: list[int],
    below: int | None = None,
) -> dict[int, int]:
    """Latest stored size per root for the given root set (absent →
    singleton, size 1 — only multi-member clusters are stored). Chunked-In
    point lookup (row-group pruning on the root-sorted compacted prefix;
    the filter also bounds the driver collect). `below` bounds the tail
    and guards the compacted horizon; a replay of a CERTIFIED batch never
    reaches this lookup (the process() certification guard skips
    update_rollup), so every read here sees state strictly below the batch
    being folded."""
    scan = _point_lookup(spark, sizes_root, roots, "root", below)
    best: dict[int, tuple[int, int]] = {}
    if scan is not None:
        for r in scan.collect():
            k, cur = int(r.root), (int(r.b), int(r.size))
            if k not in best or cur[0] > best[k][0]:
                best[k] = cur
    return {k: v[1] for k, v in best.items()}


def update_rollup(
    spark: SparkSession,
    rollup_root: str,
    batch_id: int,
    batch_sigs: DataFrame,
    key_expr: str,
    fold: dict,
    assign_fn,
) -> None:
    """Fold one micro-batch into the rollup delta log. `batch_sigs` is the
    batch's signature rows (arrivals), `key_expr` packs image_id to the
    BIGINT vertex key, `fold` is update_clusters' returned union-find
    summary for the SAME batch, and `assign_fn(df)` maps a `point_id`
    DataFrame to (point_id, city_id, tile_id) — the pure spatial kernel
    (positions derive from the key, so a cluster's row placement follows
    its root). Idempotent overwrite per batch."""
    sizes_root = _join(rollup_root, "sizes")
    deltas_dir = _batch_dir(_join(rollup_root, "deltas"), batch_id)

    arrivals = batch_sigs.selectExpr(f"{key_expr} AS point_id")
    touched = fold["touched"]
    old_root, new_root = fold["old_root"], fold["new_root"]

    # one touched-set frame reused by the semi-join here AND the
    # singleton anti-join below
    tdf = local_frame(spark, [(v,) for v in touched], "point_id long")
    # which touched vertices arrived THIS batch — semi-join instead of
    # collecting the arrival set: only the (≤ |touched|) intersection ever
    # reaches the driver, keeping driver state O(pairs), not O(batch)
    ta: set[int] = set()
    if touched:
        ta = {
            int(r.point_id)
            for r in tdf.join(arrivals, "point_id", "left_semi").collect()
        }

    # clusters that existed before this batch and are touched by it
    affected_old = sorted(
        {old_root[v] for v in touched} - ta
    )
    s_old = _sizes_for(spark, sizes_root, affected_old, below=batch_id)

    # group the change by post-fold root: merged old clusters + attached
    # arrivals per new root
    merged: dict[int, list[int]] = {}
    for r in affected_old:
        merged.setdefault(new_root[r], []).append(r)
    ta_count: dict[int, int] = {}
    for v in touched:
        if v in ta:
            R = new_root[v]
            ta_count[R] = ta_count.get(R, 0) + 1

    retract_rows: list[tuple[int, int, int]] = []  # (point_id, dk, di)
    add_rows: list[tuple[int, int, int]] = []
    size_rows: list[tuple[int, int, int]] = []  # (root, size, b)
    for R in sorted(set(merged) | set(ta_count)):
        olds = merged.get(R, [])
        n_new = ta_count.get(R, 0)
        if olds == [R] and n_new == 0:
            continue  # pair inside an existing cluster — nothing changed
        s_new = sum(s_old.get(r, 1) for r in olds) + n_new
        for r in olds:
            retract_rows.append((r, -1, -s_old.get(r, 1)))
        add_rows.append((R, 1, s_new))
        size_rows.append((R, s_new, batch_id))

    delta = local_frame(
        spark, retract_rows + add_rows, "point_id long, dk long, di long"
    )
    # singleton arrivals: everything in the batch not touched by a pair —
    # distributed anti-join, never collected
    singles = (
        arrivals.join(tdf, "point_id", "left_anti")
        .select("point_id", F.lit(1).cast("long").alias("dk"),
                F.lit(1).cast("long").alias("di"))
    )
    delta = delta.unionByName(singles)
    out = (
        assign_fn(delta)
        .groupBy("city_id", "tile_id")
        .agg(F.sum("dk").alias("dk"), F.sum("di").alias("di"))
        .select("city_id", F.col("tile_id").cast("int").alias("tile_id"),
                "dk", "di")
    )
    out.write.mode("overwrite").parquet(deltas_dir)
    local_frame(spark, size_rows, SIZES_SCHEMA).coalesce(
        1
    ).write.mode("overwrite").parquet(_batch_dir(sizes_root, batch_id))


def read_rollup(spark: SparkSession, rollup_root: str) -> DataFrame:
    """The materialized view: sum of the delta log (compacted prefix +
    batch dirs at/above its horizon; sub-horizon dirs are crash-window
    replays whose contribution the compacted file already holds). Rows
    whose net keeper count is zero are clusters fully retracted from that
    cell — absent from the batch rollup, so dropped here."""
    log = _read_live(spark, _join(rollup_root, "deltas"), DELTAS_SCHEMA)
    return (
        log.groupBy("city_id", "tile_id")
        .agg(F.sum("dk").alias("n_keepers"), F.sum("di").alias("n_images"))
        .filter("n_keepers != 0 OR n_images != 0")
    )


def compact_rollup(
    spark: SparkSession, rollup_root: str, store_path: str,
    num_files: int | None = None,
) -> int:
    """Roll certified delta batches into one net `deltas/compacted=<N>`
    (zero-net cells dropped) and the sizes store into a root-sorted
    `sizes/compacted=<N>` holding only the latest row per root — bounding
    both the listing growth and the point-lookup read paths. Only batches
    certified by the dedup metrics ledger merge."""
    n_parts = num_files or spark.sparkContext.defaultParallelism

    def write_net(tmp, comp, tail):
        (
            spark.read.parquet(*([comp] if comp else []), *tail)
            .groupBy("city_id", "tile_id")
            .agg(F.sum("dk").alias("dk"), F.sum("di").alias("di"))
            .filter("dk != 0 OR di != 0")
            .coalesce(n_parts).write.mode("overwrite").parquet(tmp)
        )

    def write_latest(tmp, comp, tail):
        (
            spark.read.parquet(*([comp] if comp else []), *tail)
            .groupBy("root")
            .agg(F.max(F.struct("b", "size")).alias("m"))
            .select("root", F.col("m.size").alias("size"),
                    F.col("m.b").alias("b"))
            .repartitionByRange(n_parts, "root")
            .sortWithinPartitions("root")
            .write.mode("overwrite").parquet(tmp)
        )

    horizon = _compact(
        spark, _join(rollup_root, "deltas"), store_path, write_net
    )
    _compact(spark, _join(rollup_root, "sizes"), store_path, write_latest)
    return horizon


__all__ = [
    "update_rollup", "read_rollup", "compact_rollup",
    "DELTAS_SCHEMA", "SIZES_SCHEMA",
]
