"""Streaming-surface queries (batch-equivalent forms are oracle-checked)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.windows import windowed_counts_batch
from . import register


@register(
    "windowed_agg",
    oracle="""
SELECT (epoch_us(ts) - epoch_us(ts) % 300000000) AS window_start_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(value) * 100) AS BIGINT) AS total_cents
FROM events GROUP BY 1, 2
""",
)
def windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-min event-time windows (the batch twin of the Structured
    Streaming pipeline in streaming.windows; equivalence is pytest-checked).
    total_value sums doubles — exact only because each window's values are
    summed in both engines from identical parquet row groups; tolerance
    handled by comparing rounded cents."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_counts_batch(e)
    # compare cents as exact integers (double sum order varies by engine)
    return out.select(
        "window_start_us",
        "event_type",
        "n",
        F.expr("CAST(ROUND(total_value * 100) AS BIGINT)").alias("total_cents"),
    )


from ..streaming.sessions import SESSION_ORACLE_SQL, sessionize_batch


@register("sessionize", oracle=SESSION_ORACLE_SQL)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) — the gaps-and-islands window pattern on
    event time; the stateful-streaming twin (applyInPandasWithState) is
    equivalence-tested in tests/test_checkpoint_streaming.py."""
    return sessionize_batch(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _incremental_dedup_oracle() -> str | None:
    # Identical oracle to image_dedup_wide: the incremental streaming union
    # must equal the one-shot batch join (see streaming.dedup docstring).
    from .images_q import _wide_pairs_oracle

    return _wide_pairs_oracle()


@register("streaming_incremental_dedup", oracle=_incremental_dedup_oracle())
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest composed with incremental dedup: the dedup corpus
    lands as parquet FILES, a foreachBatch stream (availableNow, one file
    per micro-batch) hashes each batch and banded-joins it against the
    accumulated signature store — duplicates surface at ingest time. The
    accumulated pair union across micro-batches must equal the one-shot
    batch join, so the gate runs the SAME all-pairs oracle as
    image_dedup_wide."""
    import os

    from .images_q import _n_for
    from ..scratch import scratch_dir
    from ..sources.images import generate_phash_corpus_df
    from ..streaming.dedup import read_pairs, start_incremental_dedup

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    base = scratch_dir(
        f"osm2mp_inc_dedup_{sf_name}", spark.sparkContext.applicationId
    )
    land = os.path.join(base, "landing")
    corpus = generate_phash_corpus_df(spark, _n_for(spark, sf_dir))
    # 4 landing files → 4 micro-batches at maxFilesPerTrigger=1
    corpus.repartition(4).write.mode("overwrite").parquet(land)
    schema = spark.read.parquet(land).schema
    q = start_incremental_dedup(
        spark, land, schema,
        store_path=os.path.join(base, "store"),
        pairs_path=os.path.join(base, "pairs"),
        checkpoint_path=os.path.join(base, "ckpt"),
        max_hamming=7, max_files_per_trigger=1,
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return read_pairs(spark, os.path.join(base, "pairs"))


def _incremental_ann_oracle() -> str | None:
    # Identical oracle to image_ann_topk_wide: the incrementally-maintained
    # top-k state must equal the one-shot batch top-k (see streaming.ann).
    from .images_q import _ann_topk_wide_oracle

    return _ann_topk_wide_oracle()


@register("streaming_incremental_ann", oracle=_incremental_ann_oracle())
def streaming_incremental_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN top-k maintenance (VERDICT r04 ask #3): the ANN
    corpus streams in file-by-file; each micro-batch's incremental pairs
    are folded into a per-query top-k state (delta writes for touched
    queries only, previous state read through query-id row-group pruning).
    Mid-run, both the signature store AND the ANN state are compacted
    (exercising the pruned at-scale read paths). The final state must
    equal the one-shot image_ann_topk_wide — same DuckDB oracle."""
    import os

    from .images_q import _n_for
    from ..scratch import scratch_dir
    from ..sources.images import generate_phash_corpus_df
    from ..streaming.ann import compact_topk_state, read_topk
    from ..streaming.dedup import (
        compact_pairs,
        compact_store,
        start_incremental_dedup,
    )

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    base = scratch_dir(
        f"osm2mp_inc_ann_{sf_name}", spark.sparkContext.applicationId
    )
    land = os.path.join(base, "landing")
    corpus = generate_phash_corpus_df(spark, _n_for(spark, sf_dir), variants=2)
    corpus.repartition(4).write.mode("overwrite").parquet(land)
    schema = spark.read.parquet(land).schema
    store = os.path.join(base, "store")
    state = os.path.join(base, "state")

    def hook(batch_id):
        if batch_id == 1:  # compact mid-stream: later batches take the
            compact_pairs(spark, os.path.join(base, "pairs"), store)
            compact_store(spark, store)  # pruned-scan store path
            compact_topk_state(spark, state, store)

    q = start_incremental_dedup(
        spark, land, schema,
        store_path=store,
        pairs_path=os.path.join(base, "pairs"),
        checkpoint_path=os.path.join(base, "ckpt"),
        max_hamming=7, max_files_per_trigger=1,
        on_batch_complete=hook,
        ann_state_path=state,
        ann_query_pred="{col} LIKE '%d' OR {col} LIKE '%e'",
        ann_k=3,
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return read_topk(spark, state)


def _incremental_clusters_oracle() -> str | None:
    # Identical oracle to image_dedup_clusters_wide: incrementally-
    # maintained min-label components must equal the one-shot batch
    # clustering (see streaming.clusters).
    from .images_q import _wide_clusters_oracle

    return _wide_clusters_oracle()


@register(
    "streaming_incremental_clusters", oracle=_incremental_clusters_oracle()
)
def streaming_incremental_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental clustering (third leg of the incremental dedup family):
    the corpus streams in, each micro-batch's pairs fold into a min-label
    component state via a forwarding log — cluster merges never rewrite
    member rows, so per-batch cost is O(batch) (streaming.clusters).
    Labels are compacted mid-stream (chains resolved, store re-sorted by
    vertex for the pruned reads). Final resolved labels + per-cluster
    sizes + keeper decision must equal the one-shot
    image_dedup_clusters_wide — same recursive-CTE DuckDB oracle."""
    import os

    from .images_q import _img_key, _n_for, _unkey_clusters
    from ..operators.chains import component_sizes
    from ..scratch import scratch_dir
    from ..sources.images import generate_phash_corpus_df
    from ..streaming.clusters import compact_labels, read_labels
    from ..streaming.dedup import (
        compact_store,
        read_store_signatures,
        start_incremental_dedup,
    )

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    base = scratch_dir(
        f"osm2mp_inc_clu_{sf_name}", spark.sparkContext.applicationId
    )
    land = os.path.join(base, "landing")
    corpus = generate_phash_corpus_df(spark, _n_for(spark, sf_dir))
    corpus.repartition(4).write.mode("overwrite").parquet(land)
    schema = spark.read.parquet(land).schema
    store = os.path.join(base, "store")
    clusters = os.path.join(base, "clusters")

    def hook(batch_id):
        if batch_id == 1:  # mid-stream: later batches read the compacted
            compact_store(spark, store)  # (pruned) layouts of both stores
            compact_labels(spark, clusters, store)

    q = start_incremental_dedup(
        spark, land, schema,
        store_path=store,
        pairs_path=os.path.join(base, "pairs"),
        checkpoint_path=os.path.join(base, "ckpt"),
        max_hamming=7, max_files_per_trigger=1,
        on_batch_complete=hook,
        clusters_root=clusters,
        cluster_key_exprs=(_img_key("id_a"), _img_key("id_b")),
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    # the vertex universe comes from the SIGNATURE STORE the stream built
    # (uniform view over compacted + tail) — no second hash pass
    return _unkey_clusters(component_sizes(
        read_store_signatures(spark, store)
        .selectExpr(f"{_img_key('image_id')} AS k"),
        read_labels(spark, clusters), "k",
    ))


def _incremental_flagship_oracle() -> str | None:
    # Identical oracle to flagship_dedup: the delta-log sums must equal the
    # one-shot batch rollup (see streaming.flagship).
    from .images_q import _flagship_dedup_oracle

    return _flagship_dedup_oracle()


@register(
    "streaming_incremental_flagship", oracle=_incremental_flagship_oracle()
)
def streaming_incremental_flagship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The terminal leg of the incremental family: the per-(city, tile)
    keeper rollup that flagship_dedup publishes, maintained across
    micro-batches as a retraction delta log (streaming.flagship) — a
    cluster merge retracts the merged clusters' previously-published rows
    and adds the combined cluster at its (possibly moved) root position;
    per-batch work is O(batch) and unchanged clusters are never touched.
    All four stores (signatures, labels, sizes, deltas) are compacted
    mid-stream. Summing the log must equal the one-shot flagship_dedup —
    same composed DuckDB oracle."""
    import os

    from .images_q import _img_key, _n_for
    from ..plans.flagship import flagship_assign
    from ..scratch import scratch_dir
    from ..sources.images import generate_phash_corpus_df
    from ..sources.points import with_derived_position
    from ..streaming.clusters import compact_labels
    from ..streaming.dedup import compact_store, start_incremental_dedup
    from ..streaming.flagship import compact_rollup, read_rollup

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    base = scratch_dir(
        f"osm2mp_inc_flag_{sf_name}", spark.sparkContext.applicationId
    )
    land = os.path.join(base, "landing")
    corpus = generate_phash_corpus_df(spark, _n_for(spark, sf_dir))
    corpus.repartition(4).write.mode("overwrite").parquet(land)
    schema = spark.read.parquet(land).schema
    store = os.path.join(base, "store")
    clusters = os.path.join(base, "clusters")
    rollup = os.path.join(base, "rollup")

    def assign(df: DataFrame) -> DataFrame:
        return flagship_assign(with_derived_position(df, "point_id"))

    def hook(batch_id):
        if batch_id == 1:  # mid-stream: later batches read the compacted
            compact_store(spark, store)  # (pruned) layouts of all stores
            compact_labels(spark, clusters, store)
            compact_rollup(spark, rollup, store)

    q = start_incremental_dedup(
        spark, land, schema,
        store_path=store,
        pairs_path=os.path.join(base, "pairs"),
        checkpoint_path=os.path.join(base, "ckpt"),
        max_hamming=7, max_files_per_trigger=1,
        on_batch_complete=hook,
        clusters_root=clusters,
        cluster_key_exprs=(_img_key("id_a"), _img_key("id_b")),
        rollup_root=rollup,
        rollup_key_expr=_img_key("image_id"),
        rollup_assign=assign,
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return read_rollup(spark, rollup).select(
        "city_id", "tile_id",
        F.col("n_keepers").cast("bigint").alias("n_keepers"),
        F.col("n_images").cast("bigint").alias("n_images"),
    )
