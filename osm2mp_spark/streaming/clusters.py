"""Incremental near-dup CLUSTERING: min-label connected components
maintained across micro-batches — the third leg of the incremental family
(pairs: streaming.dedup; ANN top-k: streaming.ann; cluster/keeper: here).

The batch form (query image_dedup_clusters_wide, queries.images_q) labels each
signature with the minimum packed id of its connected component over the
near-dup pair graph. Incrementally, a micro-batch's new pairs can (a) link
brand-new vertices, (b) attach new vertices to existing clusters, or (c)
MERGE existing clusters. (c) is the scale hazard: relabeling a merged
cluster's members would cost O(cluster) per merge. Instead, merges are
recorded in a FORWARDING log and member rows are never rewritten:

  labels/batch=<id>   (vertex, label)      — append-only: one row per
                                            vertex, written in the batch
                                            where it first appears in a
                                            pair; `label` was its root at
                                            that moment
  forward/batch=<id>  (from_label, to_label) — cluster merges of batch id

A vertex's CURRENT root = follow its stored label through the forwarding
chains. Roots are component minima by induction (a merge's new root is the
min of the merged roots and any new vertex ids), so resolved labels equal
the batch min-label components over the union of all pairs seen — which is
how the gate checks it (same recursive-CTE DuckDB oracle as the one-shot).

Per-batch cost is O(batch): the batch's pair graph, collapsed to one
spanning edge per non-root vertex by operators.chains.min_label_components,
+ the CURRENT labels of its touched vertices (chunked-In point lookup on
the vertex-sorted compacted labels store — streaming.store._point_lookup)
+ the forwarding tail (bounded by compaction cadence) feed a driver
union-find (operators.chains.MinUnionFind) sized by the BATCH, never the
store. compact_labels resolves every chain and rewrites the labels store
sorted by vertex with an empty forwarding tail, bounding both chain length
and tail reads. Both subtrees are streaming.store batch-directory stores
(layout, certification, replay horizon and commit order are stated there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .store import (
    _batch_dir,
    _batch_dirs,
    _compact,
    _join,
    _point_lookup,
    _read_live,
    local_frame,
)

LABELS_SCHEMA = "vertex long, label long"
FORWARD_SCHEMA = "from_label long, to_label long"


def _forward_map(spark: SparkSession, forward_root: str,
                 below: int | None = None) -> dict[int, int]:
    """Driver-side forwarding map with path compression. The forwarding
    tail holds one row per cluster MERGE since the last compaction —
    bounded by compaction cadence, so the collect is bounded (and empty
    right after a compaction)."""
    dirs = _batch_dirs(spark, forward_root, below)
    if not dirs:
        return {}
    fwd = {
        int(r.from_label): int(r.to_label)
        for r in spark.read.parquet(*dirs).collect()
    }

    def resolve(x: int) -> int:
        seen = []
        while x in fwd:
            seen.append(x)
            x = fwd[x]
        for s in seen:
            fwd[s] = x
        return x

    for k in list(fwd):
        resolve(k)
    return fwd


def _labels_for(
    spark: SparkSession, labels_root: str, vertices: list[int],
    below: int | None = None,
) -> dict[int, int]:
    """Stored (vertex → label-at-write-time) for the given vertex set:
    chunked-In point lookup (row-group pruning on the vertex-sorted
    compacted prefix, and the filter also bounds the driver collect) over
    compacted prefix + delta tail, one collect job."""
    scan = _point_lookup(spark, labels_root, vertices, "vertex", below)
    if scan is None:
        return {}
    return {int(r.vertex): int(r.label) for r in scan.collect()}


def update_clusters(
    spark: SparkSession,
    labels_root: str,
    batch_id: int,
    pairs: DataFrame,
    key_expr_a: str,
    key_expr_b: str,
) -> dict:
    """Fold one micro-batch's pairs into the cluster state. `key_expr_a/b`
    are SQL expressions packing the pair id columns to BIGINT vertices
    (e.g. queries.images_q._img_key('id_a')). Idempotent overwrite per
    batch; a replay recomputes identical deltas from the state below it.

    Returns the batch's FOLD — `{"touched": [v...], "old_root": {v: root
    before this batch}, "new_root": {x: root after, for x in touched ∪
    old roots}}` — so downstream incremental consumers (the flagship
    rollup's retraction deltas, streaming.flagship) see exactly which
    clusters this batch changed without re-deriving the union-find."""
    from ..operators.chains import MinUnionFind, min_label_components

    # The batch's pair graph reaches the driver as SPANNING edges: one
    # (vertex, label) row per vertex that is not its batch component's
    # minimum. They connect exactly what the raw pairs connect and touch
    # exactly the same vertices (a self-loop is a singleton with vertex =
    # label and drops out), so labels, forwarding rows and the fold below
    # are those of the raw pairs. min_label_components decides by its
    # bounded pull whether the labeling runs on the driver or distributed,
    # so a hot micro-batch (near-identical-signature flood, O(n²) pairs)
    # never ships its quadratic edge list: the driver sees at most that
    # bounded pull plus O(vertices) label rows. Its lazy edge checkpoint
    # evaluates `pairs` once on either path.
    lab = min_label_components(
        pairs.selectExpr(f"{key_expr_a} AS ka", f"{key_expr_b} AS kb"),
        src="ka", dst="kb",
    )
    edges = [
        (int(r.vertex), int(r.label))
        for r in lab.collect()
        if r.vertex != r.label
    ]
    labels_dir = _join(labels_root, "labels")
    forward_dir = _join(labels_root, "forward")
    if not edges:
        # still write empty deltas so the layout stays per-batch uniform
        local_frame(spark, [], LABELS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(_batch_dir(labels_dir, batch_id))
        local_frame(spark, [], FORWARD_SCHEMA).write.mode(
            "overwrite"
        ).parquet(_batch_dir(forward_dir, batch_id))
        return {"touched": [], "old_root": {}, "new_root": {}}
    touched = sorted({v for e in edges for v in e})
    stored = _labels_for(spark, labels_dir, touched, below=batch_id)
    fwd = _forward_map(spark, forward_dir, below=batch_id)

    def current_root(v: int) -> int:
        l = stored.get(v, v)
        while l in fwd:
            l = fwd[l]
        return l

    old_root = {v: current_root(v) for v in touched}

    # driver union-find sized by the BATCH's pair graph: vertices are the
    # touched ids and their current roots. Its min rule keeps roots =
    # component minima by induction
    uf = MinUnionFind()
    for v in touched:
        uf.union(v, current_root(v))
    for a, b in edges:
        uf.union(a, b)

    new_labels = [
        (v, uf.find(v)) for v in touched if v not in stored
    ]
    # forwarding records merges of PRE-EXISTING roots only. A new vertex's
    # root is written directly into its labels row; and every pre-existing
    # root that merges is reachable here, because a merge of root L needs a
    # touched STORED vertex resolving to L (a new vertex resolves to
    # itself), and any pre-existing root is itself a stored vertex.
    merges = set()
    for v in touched:
        if v not in stored:
            continue
        old = current_root(v)
        new = uf.find(old)
        if new != old:
            merges.add((old, new))
    merges = sorted(merges)
    local_frame(spark, new_labels, LABELS_SCHEMA).coalesce(
        1
    ).write.mode("overwrite").parquet(_batch_dir(labels_dir, batch_id))
    local_frame(spark, merges, FORWARD_SCHEMA).coalesce(
        1
    ).write.mode("overwrite").parquet(_batch_dir(forward_dir, batch_id))
    return {
        "touched": touched,
        "old_root": old_root,
        "new_root": {
            x: uf.find(x) for x in set(touched) | set(old_root.values())
        },
    }


def _resolve(spark: SparkSession, lab: DataFrame, forward_root: str):
    """Stored (vertex, label) rows with each label mapped through the
    forwarding map to its current root."""
    fwd = _forward_map(spark, forward_root)
    if not fwd:
        return lab
    mapping = local_frame(spark, list(fwd.items()), FORWARD_SCHEMA)
    return (
        lab.join(F.broadcast(mapping),
                 lab.label == mapping.from_label, "left")
        .select("vertex", F.coalesce("to_label", "label").alias("label"))
    )


def read_labels(spark: SparkSession, labels_root: str) -> DataFrame:
    """Fully-resolved (vertex, label) over everything processed so far:
    stored labels mapped through the (driver-bounded) forwarding map."""
    lab = _read_live(spark, _join(labels_root, "labels"), LABELS_SCHEMA)
    return _resolve(spark, lab, _join(labels_root, "forward")).select(
        "vertex", "label"
    )


def compact_labels(
    spark: SparkSession,
    labels_root: str,
    store_path: str,
    block_bytes: int = 8 << 20,
    num_files: int | None = None,
) -> int:
    """Resolve every forwarding chain into the stored labels and rewrite
    them as one `labels/compacted=<N>` dir range-sorted by vertex (the
    layout pruned per-batch reads need), dropping the merged label deltas
    and the forwarding rows they absorbed. Only batches certified by the
    dedup metrics ledger merge."""
    forward_dir = _join(labels_root, "forward")
    n_parts = num_files or spark.sparkContext.defaultParallelism

    def write(tmp, comp, tail):
        lab = spark.read.parquet(*([comp] if comp else []), *tail)
        (
            _resolve(spark, lab, forward_dir)
            .repartitionByRange(n_parts, "vertex")
            .sortWithinPartitions("vertex")
            .write.mode("overwrite")
            .option("parquet.block.size", block_bytes)
            .parquet(tmp)
        )

    # the forwarding rows a merge resolves are deleted with the labels it
    # consumed: the compacted labels carry resolved roots
    return _compact(
        spark, _join(labels_root, "labels"), store_path, write,
        also=(forward_dir,),
    )


__all__ = [
    "update_clusters", "read_labels", "compact_labels",
    "LABELS_SCHEMA", "FORWARD_SCHEMA",
]
