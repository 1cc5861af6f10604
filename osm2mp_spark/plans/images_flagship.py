"""The image-table flagship — the BASELINE.json metric in its purest shape.

    Iceberg/parquet scan of images(image_id, bytes, w, h, fmt, caption,
    phash, lon, lat)
      → ONE fused Arrow kernel per batch:
           decode payload → pixel features → PIP city resolve
           (PolygonIndex.smallest: mask-grid kernel, smallest-wins) →
           kNN fallback → BSP tile descent
      → per-(city, tile) aggregation

Design for 10^12 rows: a single linear pipeline — no join ships `bytes`
through a shuffle (SURVEY risk 5: the only shuffled rows are the tiny
per-(city,tile) partial aggregates, map-side combined), and only ONE Python
stage exists, so executors never stack multiple Python workers per core
(chained UDF stages halve effective parallelism — measured in BENCH.md).
Spatial work rides the same batch the decoder already paid Arrow transfer
for. Resume/lineage: wrap the sink with streaming.checkpoint.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.images import decode
from ..sources.layers import CITIES
from .flagship import _bsp_tree_cached, _city_index_cached

KERNEL_SCHEMA = (
    "image_id string, city_id string, tile_id int, "
    "mean_gray double, std_gray double, n_pixels long"
)


def flagship_images(spark: SparkSession, images_path: str) -> DataFrame:
    """Full image flagship over a parquet/Iceberg images table path."""
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    idx = _city_index_cached()
    tree = _bsp_tree_cached(spark)
    b = spark.sparkContext.broadcast((idx, tree))
    anchors = [(c["area_id"], c["center"][0], c["center"][1]) for c in CITIES]
    banchors = spark.sparkContext.broadcast(anchors)

    def kernel(it):
        import numpy as np

        idx_b, tree_b = b.value
        anc = banchors.value
        for pdf in it:
            lons = pdf["lon"].to_numpy(dtype=float)
            lats = pdf["lat"].to_numpy(dtype=float)
            city = idx_b.smallest(lons, lats)
            # kNN fallback for uncontained points (vectorized argmin)
            miss = np.array([c is None for c in city])
            if miss.any():
                ml, mt = lons[miss], lats[miss]
                d2 = np.stack(
                    [(ml - ax) ** 2 + (mt - ay) ** 2 for _aid, ax, ay in anc]
                )
                nearest = np.argmin(d2, axis=0)
                ids = np.array([a[0] for a in anc], dtype=object)
                city[miss] = ids[nearest]
            tiles = tree_b.assign(lons, lats)
            mg = np.empty(len(pdf))
            sg = np.empty(len(pdf))
            npx = np.empty(len(pdf), dtype=np.int64)
            for i, r in enumerate(pdf.itertuples()):
                px = decode(bytes(r.bytes), r.fmt).astype(np.float64)
                gray = px.mean(axis=2)
                mg[i] = gray.mean()
                sg[i] = gray.std()
                npx[i] = gray.size
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].to_numpy(),
                    "city_id": city,
                    "tile_id": tiles,
                    "mean_gray": mg,
                    "std_gray": sg,
                    "n_pixels": npx,
                }
            )

    imgs = spark.read.parquet(images_path).select(
        "image_id", "bytes", "fmt", "lon", "lat"
    )
    enriched = imgs.mapInPandas(kernel, schema=KERNEL_SCHEMA)
    return enriched.groupBy("city_id", "tile_id").agg(
        F.count("*").alias("n_images"),
        F.avg("mean_gray").alias("avg_gray"),
        F.avg("std_gray").alias("avg_std"),
        F.sum("n_pixels").alias("total_pixels"),
    )
