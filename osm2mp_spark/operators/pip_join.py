"""Point-in-polygon spatial join — the filter-refine two-phase planner.

Re-expresses the reference's indexed nested-loop PIP joins (J2/J3/J4/J5/J6,
`lib/AreaTree.pm:55-75`, `osm2mp.pl:2183-2210`) as a Spark dataflow:

  1. COARSE (pure JVM): cell-encode points with `spark_cell_expr` (whole-stage
     codegen), broadcast-join the tiny (cell → candidate polygon) entry table.
     Catalyst handles pushdown/pruning; no Python is involved.
  2. REFINE (Arrow): one vectorized pandas UDF evaluates exact three-state
     ray-casting PIP per (point, candidate) pair, reading ring geometry from a
     sparkContext broadcast of the PolygonIndex. Cells fully inside a polygon
     skip the exact test (the reference's rough-containment early accept,
     osm2mp.pl:1711-1720).
  3. RESOLVE: `how="smallest"` keeps the smallest-area containing polygon per
     point (ties by area_id) — the canonical deterministic replacement for the
     reference's first-match (SURVEY §7.3 risk 1). `how="all"` keeps every
     containment row (used by access-area flag OR-ing, J5).

Scale notes (100 TB design): the candidate join is a broadcast hash join —
zero shuffle on the fact side. The refine UDF sees only (lon, lat, area_id,
full) — callers must select-away wide payload columns (image bytes) before
calling; they re-join on the key afterwards (risk 5). Hot cells (a city
covering millions of points) don't skew a broadcast join; the only shuffle
in the whole operator is the optional `how="smallest"` aggregation, which is
a map-side-combinable min_by on the point key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..geometry.cells import with_cell_column
from ..spatial.index import PolygonIndex

_CELL = "__pip_cell"


def _area_ranks(index: PolygonIndex) -> dict[str, int]:
    """Dense rank of each polygon under the canonical (area, area_id) order —
    smallest-wins resolution then needs only an integer MIN aggregation
    (hash agg with map-side combine), not a struct min_by."""
    order = sorted(index.polygons.values(), key=lambda p: (p.area, p.area_id))
    return {p.area_id: i for i, p in enumerate(order)}


def _entries_df(df: DataFrame, index: PolygonIndex) -> DataFrame:
    spark = df.sparkSession
    ranks = _area_ranks(index)
    rows = [
        (int(c), a, bool(f), ranks[a]) for c, a, f in index.entries()
    ]
    return spark.createDataFrame(
        rows, "cell bigint, area_id string, full boolean, __rank int"
    )


def pip_resolve(
    df: DataFrame,
    index: PolygonIndex,
    lon: str = "lon",
    lat: str = "lat",
    area_col: str = "area_id",
    keep_unmatched: bool = False,
) -> DataFrame:
    """Smallest-wins PIP containment with ZERO shuffle (the SURVEY J2 shape):
    one Arrow UDF resolves each point against the broadcast cell→candidates
    dictionary, testing candidates in canonical (area, area_id) rank order —
    first hit IS the smallest container. No row expansion, no groupBy.

    Returns df + area_col; unmatched rows dropped unless keep_unmatched
    (then area_col is null). This is the hot path for the 100 TB flagship;
    `pip_join(how=...)` remains for multi-containment semantics (J5)."""
    spark = df.sparkSession
    from ..shipping import ensure_shipped
    from .fused import dense_mask_grids, _resolve_masks

    ensure_shipped(spark)
    grids = dense_mask_grids(index)
    bidx = spark.sparkContext.broadcast((index, grids))

    @F.pandas_udf("string")
    def _resolve(lon_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        idx_b, (cgrid, fgrid, aids, level) = bidx.value
        lons = lon_s.to_numpy(dtype=float)
        lats = lat_s.to_numpy(dtype=float)
        return pd.Series(
            _resolve_masks(idx_b, cgrid, fgrid, aids, level, lons, lats)
        )

    if keep_unmatched:
        return df.withColumn(area_col, _resolve(F.col(lon), F.col(lat)))
    # Marked nondeterministic so Catalyst cannot push the null filter below
    # the projection: pushed, the filter and the projection each evaluate
    # the UDF — two ArrowEvalPython passes (Python worker tasks) over the
    # same points. The keep_unmatched path stays deterministic, so chained
    # resolves still collapse into one ArrowEvalPython (pip_hierarchy).
    resolve = _resolve.asNondeterministic()
    return df.withColumn(area_col, resolve(F.col(lon), F.col(lat))).filter(
        F.col(area_col).isNotNull()
    )


def pip_join(
    df: DataFrame,
    index: PolygonIndex,
    lon: str = "lon",
    lat: str = "lat",
    how: str = "smallest",
    area_col: str = "area_id",
) -> DataFrame:
    """Inner spatial join: rows of `df` × containing polygons of `index`.

    Returns `df`'s columns plus `area_col` (and with how="smallest" exactly
    one row per contained input row). Rows contained by nothing are dropped;
    use a left join back on the caller side for outer semantics.
    how="smallest" delegates to the shuffle-free `pip_resolve`.
    """
    if how == "smallest":
        return pip_resolve(df, index, lon=lon, lat=lat, area_col=area_col)
    spark = df.sparkSession
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    entries = _entries_df(df, index)
    bidx = spark.sparkContext.broadcast(index)

    # staged Morton encode — same cell id as spark_cell_expr, linear-size
    # plan text instead of the exponential single-expression form
    cand = with_cell_column(df, _CELL, lon, lat, index.level).join(
        F.broadcast(entries), F.col(_CELL) == F.col("cell"), "inner"
    )

    @F.pandas_udf("boolean")
    def _contained(
        lon_s: pd.Series, lat_s: pd.Series, aid_s: pd.Series, full_s: pd.Series
    ) -> pd.Series:
        import numpy as np

        out = full_s.to_numpy(dtype=bool).copy()
        lons = lon_s.to_numpy(dtype=float)
        lats = lat_s.to_numpy(dtype=float)
        todo = ~out
        aids = aid_s.to_numpy(dtype=object)
        for aid in pd.unique(aid_s[todo]):
            m = todo & (aids == aid)
            res = bidx.value.refine(lons[m], lats[m], aid)
            out[np.where(m)[0][res >= 0]] = True
        return pd.Series(out)

    hits = (
        cand.withColumn(
            "__ok", _contained(F.col(lon), F.col(lat), F.col("area_id"), F.col("full"))
        )
        .filter(F.col("__ok"))
        .drop("__ok", "cell", "full", _CELL)
    )

    if how != "all":
        raise ValueError(f"unknown how={how!r}")
    hits = hits.drop("__rank")
    return hits.withColumnRenamed("area_id", area_col) if area_col != "area_id" else hits


def pip_flags_or(
    df: DataFrame,
    index: PolygonIndex,
    masks: dict[str, int],
    lon: str = "lon",
    lat: str = "lat",
    out_col: str = "access_mask",
) -> DataFrame:
    """J5 access-area override: OR together the masks of every containing
    area (lib/TransportAccess.pm:108-117 semantics, as an 8-bit mask).
    Rows inside no area keep mask 0."""
    spark = df.sparkSession
    hits = pip_join(df, index, lon=lon, lat=lat, how="all")
    mask_df = spark.createDataFrame(
        [(a, int(m)) for a, m in masks.items()], "area_id string, __mask int"
    )
    group_cols = [c for c in df.columns]
    or_hits = (
        hits.join(F.broadcast(mask_df), "area_id")
        .groupBy(*group_cols)
        .agg(F.expr("CAST(bit_or(__mask) AS INT)").alias(out_col))
    )
    return df.join(or_hits.select(*group_cols, out_col), group_cols, "left").fillna(
        {out_col: 0}
    )
