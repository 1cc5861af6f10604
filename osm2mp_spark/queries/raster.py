"""Raster ↔ vector tile operators (north_star: "raster↔vector tile
assignment") — all three stages exact-SQL-oracle-able, no golden needed.

vector→raster (`raster_tiles`): points → per-tile G×G pixel density grid,
kept SPARSE as (tile_id, py, px, n) rows — at 10^12 points the dense array
per tile is a `collect_list` away, but the sparse form is what shuffles.
The global pixel index is computed first and the tile id derived from it by
integer division, which is exactly `grid_tile_expr`'s clamped assignment
(floor-division compatibility: (gx DIV G) == floor(frac * NX)).

raster→vector (`raster_vectorize` / `raster_polygonize`): occupancy
threshold, then gaps-and-islands over pixel columns → horizontal runs, then
a second gaps-and-islands over rows merging equal-extent runs → rectangles.
This is run-length vectorization — the same window shape as the reference's
inside-run segmentation (W4, osm2mp.pl:745-780), applied to raster rows.
Geographic extents reconstruct from pixel indexes with exact binary
arithmetic (360/256 = 1.40625 and 180/256 = 0.703125 are exact doubles),
so every output column is bit-identical across engines.

Scale: one shuffle to the sparse raster (map-side-combined groupBy), then
windows partitioned by (tile, row) — bounded by the pixel grid, not the
point count; the raster stages never see more than NX·NY·G·G rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.points import LINEITEM_VKEY_SQL as _VKEY, derived_lat_sql, derived_lon_sql
from . import register
from .oracle_sql import min_label

_G = 16          # pixels per tile side
_NX = 16         # tiles per world axis (grid_tile_expr default)
_PX = _G * _NX   # 256 world pixels per axis
_LON_PP = 360.0 / _PX   # 1.40625  — exact binary double
_LAT_PP = 180.0 / _PX   # 0.703125 — exact binary double
_T = 2           # occupancy threshold (pixels with n >= _T are "set")


def _gx_sql(lon: str) -> str:
    return (f"LEAST({_PX - 1}, GREATEST(0, "
            f"CAST(FLOOR(({lon} + 180.0) / 360.0 * {_PX}) AS INT)))")


def _gy_sql(lat: str) -> str:
    return (f"LEAST({_PX - 1}, GREATEST(0, "
            f"CAST(FLOOR(({lat} + 90.0) / 180.0 * {_PX}) AS INT)))")


def _raster_cte(engine: str) -> str:
    """Shared points → sparse-raster SQL. Only integer division spells
    differently between the engines."""
    dv = "//" if engine == "duckdb" else "DIV"
    return f"""
pts AS (SELECT {derived_lon_sql(_VKEY)} AS lon, {derived_lat_sql(_VKEY)} AS lat
        FROM lineitem),
gpx AS (SELECT {_gx_sql('lon')} AS gx, {_gy_sql('lat')} AS gy FROM pts),
raster AS (
  SELECT CAST((gy {dv} {_G}) * {_NX} + (gx {dv} {_G}) AS INT) AS tile_id,
         CAST(gy % {_G} AS INT) AS py, CAST(gx % {_G} AS INT) AS px,
         COUNT(*) AS n
  FROM gpx GROUP BY 1, 2, 3)"""


def _runs_cte(engine: str) -> str:
    """raster → horizontal runs (gaps-and-islands on px per (tile, row))."""
    return f"""{_raster_cte(engine)},
occ AS (
  SELECT tile_id, py, px, n,
         px - CAST(ROW_NUMBER() OVER (PARTITION BY tile_id, py ORDER BY px)
                   AS INT) AS grp
  FROM raster WHERE n >= {_T}),
segs AS (
  SELECT tile_id, py, MIN(px) AS px0, MAX(px) AS px1,
         CAST(SUM(n) AS BIGINT) AS n_points
  FROM occ GROUP BY tile_id, py, grp)"""


def _spark_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        f"{derived_lon_sql(_VKEY)} AS lon", f"{derived_lat_sql(_VKEY)} AS lat"
    )
    return (
        li.selectExpr(f"{_gx_sql('lon')} AS gx", f"{_gy_sql('lat')} AS gy")
        .selectExpr(
            f"CAST((gy DIV {_G}) * {_NX} + (gx DIV {_G}) AS INT) AS tile_id",
            f"CAST(gy % {_G} AS INT) AS py",
            f"CAST(gx % {_G} AS INT) AS px",
        )
        .groupBy("tile_id", "py", "px")
        .agg(F.count("*").alias("n"))
    )


def runs_from_raster(occ: DataFrame) -> DataFrame:
    """Occupied pixels (tile_id, py, px, n) → horizontal runs
    (tile_id, py, px0, px1, n_points) via gaps-and-islands."""
    w = Window.partitionBy("tile_id", "py").orderBy("px")
    grp = (F.col("px") - F.row_number().over(w).cast("int")).alias("grp")
    return (
        occ.select("tile_id", "py", "px", "n", grp)
        .groupBy("tile_id", "py", "grp")
        .agg(
            F.min("px").alias("px0"),
            F.max("px").alias("px1"),
            F.sum("n").cast("bigint").alias("n_points"),
        )
        .drop("grp")
    )


def rects_from_runs(segs: DataFrame) -> DataFrame:
    """Runs → rectangles: merge vertically-adjacent runs of EQUAL horizontal
    extent (second gaps-and-islands keyed by the extent)."""
    w = Window.partitionBy("tile_id", "px0", "px1").orderBy("py")
    grp = (F.col("py") - F.row_number().over(w).cast("int")).alias("grp")
    return (
        segs.select("tile_id", "px0", "px1", "py", "n_points", grp)
        .groupBy("tile_id", "px0", "px1", "grp")
        .agg(
            F.min("py").alias("py0"),
            F.max("py").alias("py1"),
            F.sum("n_points").cast("bigint").alias("n_points"),
        )
        .drop("grp")
        .selectExpr(
            "tile_id", "px0", "px1", "py0", "py1", "n_points",
            "CAST((px1 - px0 + 1) * (py1 - py0 + 1) AS INT) AS n_pixels",
        )
    )


def _spark_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return runs_from_raster(_spark_raster(spark, sf_dir).filter(F.col("n") >= _T))


@register(
    "raster_tiles",
    oracle=f"""
WITH {_raster_cte('duckdb')}
SELECT tile_id, py, px, CAST(n AS BIGINT) AS n FROM raster
""",
)
def raster_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster: per-tile G×G pixel density (sparse rows). ONE
    map-side-combined shuffle; pixel ids from exact clamped-floor
    arithmetic shared with grid_tile_expr."""
    return _spark_raster(spark, sf_dir).withColumn(
        "n", F.col("n").cast("bigint")
    )


@register(
    "raster_vectorize",
    oracle=f"""
WITH {_runs_cte('duckdb')}
SELECT tile_id, py, px0, px1, n_points,
       -180.0 + ((tile_id % {_NX}) * {_G} + px0) * {_LON_PP!r} AS lon0,
       -180.0 + ((tile_id % {_NX}) * {_G} + px1 + 1) * {_LON_PP!r} AS lon1,
       -90.0 + ((tile_id // {_NX}) * {_G} + py) * {_LAT_PP!r} AS lat0,
       -90.0 + ((tile_id // {_NX}) * {_G} + py + 1) * {_LAT_PP!r} AS lat1
FROM segs
""",
)
def raster_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector, stage 1: horizontal run-length extraction of occupied
    pixels (gaps-and-islands window per (tile, row)) with exact geographic
    run extents."""
    # NB the D suffixes: Spark parses bare decimal literals as DECIMAL and
    # the whole expression would silently leave double arithmetic
    return _spark_runs(spark, sf_dir).selectExpr(
        "tile_id", "py", "px0", "px1", "n_points",
        f"-180.0D + ((tile_id % {_NX}) * {_G} + px0) * {_LON_PP!r}D AS lon0",
        f"-180.0D + ((tile_id % {_NX}) * {_G} + px1 + 1) * {_LON_PP!r}D AS lon1",
        f"-90.0D + ((tile_id DIV {_NX}) * {_G} + py) * {_LAT_PP!r}D AS lat0",
        f"-90.0D + ((tile_id DIV {_NX}) * {_G} + py + 1) * {_LAT_PP!r}D AS lat1",
    )


@register(
    "raster_polygonize",
    oracle=f"""
WITH {_runs_cte('duckdb')},
vgrp AS (
  SELECT tile_id, px0, px1, py, n_points,
         py - CAST(ROW_NUMBER() OVER (PARTITION BY tile_id, px0, px1
                                      ORDER BY py) AS INT) AS grp
  FROM segs),
rects AS (
  SELECT tile_id, px0, px1, MIN(py) AS py0, MAX(py) AS py1,
         CAST(SUM(n_points) AS BIGINT) AS n_points
  FROM vgrp GROUP BY tile_id, px0, px1, grp)
SELECT tile_id, px0, px1, py0, py1, n_points,
       CAST((px1 - px0 + 1) * (py1 - py0 + 1) AS INT) AS n_pixels
FROM rects
""",
)
def raster_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector, stage 2: merge vertically-adjacent equal-extent runs
    into rectangles (second gaps-and-islands, keyed by the run extent) —
    the vector polygons of the occupied region."""
    return rects_from_runs(_spark_runs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Marching squares: raster occupancy → contour segments.
#
# Cells are classified on GLOBAL pixel coordinates (no per-tile seams: a
# contour crossing a tile border is produced by the same cell either way).
# Instead of densifying the grid, every occupied pixel scatters a corner
# bit into the ≤4 cells it touches (explode×4 → groupBy-sum — the sparse
# formulation; cells never touched by an occupied pixel are case 0 and
# never materialize). Corner bits: TL=1, TR=2, BL=4, BR=8; the 16-case
# segment table runs edge-midpoint to edge-midpoint, saddles (6, 9)
# resolved by the fixed two-segment convention. Endpoints are emitted in
# DOUBLED pixel coordinates (corners even, midpoints odd) so every output
# column is an exact integer — the DuckDB oracle matches bit-for-bit.
# ---------------------------------------------------------------------------

# (case_id, seg, ax, ay, bx, by) in doubled cell-local coords:
# T=(1,0)  B=(1,2)  L=(0,1)  R=(2,1)
_MS_SEGMENTS = [
    (1, 0, 1, 0, 0, 1),    # TL        : T-L
    (2, 0, 1, 0, 2, 1),    # TR        : T-R
    (3, 0, 0, 1, 2, 1),    # TL TR     : L-R
    (4, 0, 0, 1, 1, 2),    # BL        : L-B
    (5, 0, 1, 0, 1, 2),    # TL BL     : T-B
    (6, 0, 1, 0, 2, 1),    # TR BL     : saddle -> T-R, L-B
    (6, 1, 0, 1, 1, 2),
    (7, 0, 2, 1, 1, 2),    # TL TR BL  : R-B
    (8, 0, 2, 1, 1, 2),    # BR        : R-B
    (9, 0, 1, 0, 0, 1),    # TL BR     : saddle -> T-L, R-B
    (9, 1, 2, 1, 1, 2),
    (10, 0, 1, 0, 1, 2),   # TR BR     : T-B
    (11, 0, 0, 1, 1, 2),   # TL TR BR  : L-B
    (12, 0, 0, 1, 2, 1),   # BL BR     : L-R
    (13, 0, 1, 0, 2, 1),   # TL BL BR  : T-R
    (14, 0, 1, 0, 0, 1),   # TR BL BR  : T-L
]

_MS_VALUES = ", ".join(f"({c}, {s}, {ax}, {ay}, {bx}, {by})"
                       for c, s, ax, ay, bx, by in _MS_SEGMENTS)


def _cells_cte(engine: str) -> str:
    return f"""
pts AS (SELECT {derived_lon_sql(_VKEY)} AS lon, {derived_lat_sql(_VKEY)} AS lat
        FROM lineitem),
occ AS (
  SELECT {_gy_sql('lat')} AS gy, {_gx_sql('lon')} AS gx
  FROM pts GROUP BY 1, 2 HAVING COUNT(*) >= {_T}),
offs(dy, dx) AS (VALUES (0, 0), (0, 1), (1, 0), (1, 1)),
cells AS (
  SELECT gy - dy AS cy, gx - dx AS cx,
         CAST(SUM(CASE WHEN dy = 0 AND dx = 0 THEN 1
                       WHEN dy = 0 AND dx = 1 THEN 2
                       WHEN dy = 1 AND dx = 0 THEN 4
                       ELSE 8 END) AS INT) AS case_id
  FROM occ CROSS JOIN offs GROUP BY 1, 2)"""


@register(
    "raster_contours",
    oracle=f"""
WITH {_cells_cte('duckdb')},
segs(case_id, seg, ax, ay, bx, by) AS (VALUES {_MS_VALUES})
SELECT c.cy, c.cx, c.case_id, s.seg,
       CAST(2 * c.cx + s.ax AS INT) AS x0, CAST(2 * c.cy + s.ay AS INT) AS y0,
       CAST(2 * c.cx + s.bx AS INT) AS x1, CAST(2 * c.cy + s.by AS INT) AS y1
FROM cells c JOIN segs s ON c.case_id = s.case_id
""",
)
def raster_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector, stage 3: marching-squares contour segments of the
    occupied region. Sparse scatter (explode ×4) → one groupBy-sum →
    broadcast join against the 16-row case dimension; the contour-cell
    count is bounded by the occupied-region boundary, not the point
    count."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        f"{derived_lon_sql(_VKEY)} AS lon", f"{derived_lat_sql(_VKEY)} AS lat"
    )
    occ = (
        li.selectExpr(f"{_gy_sql('lat')} AS gy", f"{_gx_sql('lon')} AS gx")
        .groupBy("gy", "gx")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _T)
    )
    return contours_from_occupancy(occ)


def contours_from_occupancy(occ: DataFrame) -> DataFrame:
    """Occupied pixels (gy, gx) → marching-squares contour segments in
    doubled integer coordinates."""
    spark = occ.sparkSession
    cells = (
        occ.selectExpr(
            "gy", "gx",
            "explode(array(struct(0 AS dy, 0 AS dx, 1 AS bit), "
            "              struct(0 AS dy, 1 AS dx, 2 AS bit), "
            "              struct(1 AS dy, 0 AS dx, 4 AS bit), "
            "              struct(1 AS dy, 1 AS dx, 8 AS bit))) AS o",
        )
        .selectExpr("gy - o.dy AS cy", "gx - o.dx AS cx", "o.bit AS bit")
        .groupBy("cy", "cx")
        .agg(F.sum("bit").cast("int").alias("case_id"))
    )
    seg_dim = spark.createDataFrame(
        _MS_SEGMENTS, "case_id int, seg int, ax int, ay int, bx int, by int"
    )
    return (
        cells.join(F.broadcast(seg_dim), "case_id")
        .selectExpr(
            "cy", "cx", "case_id", "seg",
            "CAST(2 * cx + ax AS INT) AS x0", "CAST(2 * cy + ay AS INT) AS y0",
            "CAST(2 * cx + bx AS INT) AS x1", "CAST(2 * cy + by AS INT) AS y1",
        )
    )


# ---------------------------------------------------------------------------
# Contour-ring assembly: marching-squares segments → closed rings.
#
# Every contour endpoint is shared by EXACTLY two segments (closed-curve
# parity, pytest-proven), so the segment graph is a disjoint union of
# cycles and ring assembly is connected components — the raster face of G1
# multipolygon assembly, labeled by the same min-rooted driver union-find
# (operators.chains.MinUnionFind) that road merging and the dedup clusters
# use at or below their edge crossover. Segment and endpoint identities
# pack into exact integers, so the DuckDB oracle (recursive-CTE min-label
# closure over the identical SQL-derived segment set) matches bit-for-bit.
# ---------------------------------------------------------------------------

_SEG_KEY = "((cy + 1) * 257 + (cx + 1)) * 2 + seg"   # unique per segment


def _ep_key(x: str, y: str) -> str:
    return f"(({y}) + 2) * 1024 + (({x}) + 2)"       # unique per endpoint


@register(
    "raster_contour_rings",
    oracle=f"""
WITH RECURSIVE {_cells_cte('duckdb')},
ms(case_id, seg, ax, ay, bx, by) AS (VALUES {_MS_VALUES}),
contour AS (
  SELECT c.cy, c.cx, s.seg,
         2 * c.cx + s.ax AS x0, 2 * c.cy + s.ay AS y0,
         2 * c.cx + s.bx AS x1, 2 * c.cy + s.by AS y1
  FROM cells c JOIN ms s ON c.case_id = s.case_id),
sk AS (SELECT {_SEG_KEY} AS k, x0, y0, x1, y1 FROM contour),
eps AS (SELECT k, {_ep_key('x0', 'y0')} AS ep FROM sk
        UNION ALL SELECT k, {_ep_key('x1', 'y1')} AS ep FROM sk),
edges AS (
  SELECT DISTINCT a.k AS ka, b.k AS kb
  FROM eps a JOIN eps b ON a.ep = b.ep AND a.k < b.k),
{min_label('edges', 'ka', 'kb')},
ringv AS (SELECT l.lab AS ring, s.* FROM sk s JOIN lbl l ON l.v = s.k)
SELECT CAST(ring AS INT) AS ring_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(LEAST(MIN(x0), MIN(x1)) AS INT) AS x_min,
       CAST(GREATEST(MAX(x0), MAX(x1)) AS INT) AS x_max,
       CAST(LEAST(MIN(y0), MIN(y1)) AS INT) AS y_min,
       CAST(GREATEST(MAX(y0), MAX(y1)) AS INT) AS y_max
FROM ringv GROUP BY ring
""",
)
def raster_contour_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector, stage 4: assemble contour segments into closed rings
    (ring_id = min packed segment key in the cycle) with per-ring segment
    counts and integer bounding boxes."""
    segs = raster_contours(spark, sf_dir).selectExpr(
        f"{_SEG_KEY} AS k", "x0", "y0", "x1", "y1"
    )
    return rings_from_segments(segs)


def rings_from_segments(segs: DataFrame) -> DataFrame:
    """(k, x0, y0, x1, y1) contour segments → per-ring aggregates.

    Component labeling runs DRIVER-SIDE by MinUnionFind over the
    collected segment graph, with no edge-count bound. That is safe by
    the same O(cells) argument as the BSP histogram collect: marching
    squares emits ≤ 2 segments per cell, so the graph is bounded by the
    PIXEL GRID (≤ ~132k segments at 257² cells), never by the point count
    — 10^12 input points produce the same bounded graph. The distributed
    fixpoint behind operators.chains.min_label_components is for point-
    scale graphs (road_merge, dedup clusters); here it spent ~13 fixed-
    overhead jobs to label a dimension-scale graph (measured 11.8 s → ~2 s
    at sf0.1)."""
    from ..operators.chains import MinUnionFind

    spark = segs.sparkSession
    # two consumers (label collect + final agg): checkpoint the lineage
    segs = segs.localCheckpoint(eager=False)
    pdf = segs.toPandas()

    uf = MinUnionFind()
    keys = set()
    by_ep: dict[tuple[int, int], int] = {}
    for r in pdf.itertuples():
        k = int(r.k)
        keys.add(k)
        for ep in ((r.x0, r.y0), (r.x1, r.y1)):
            o = by_ep.pop(ep, None)  # each endpoint pairs exactly 2 segs
            if o is None:
                by_ep[ep] = k
            else:
                # min-label union keeps ring_id = min segment key,
                # matching the recursive-CTE oracle's MIN(lab)
                uf.union(k, o)
    labels = spark.createDataFrame(
        [(k, uf.find(k)) for k in keys], "k long, ring long"
    )
    ringv = segs.join(F.broadcast(labels), "k")
    return ringv.groupBy("ring").agg(
        F.count("*").cast("bigint").alias("n_segs"),
        F.least(F.min("x0"), F.min("x1")).cast("int").alias("x_min"),
        F.greatest(F.max("x0"), F.max("x1")).cast("int").alias("x_max"),
        F.least(F.min("y0"), F.min("y1")).cast("int").alias("y_min"),
        F.greatest(F.max("y0"), F.max("y1")).cast("int").alias("y_max"),
    ).selectExpr(
        "CAST(ring AS INT) AS ring_id", "n_segs",
        "x_min", "x_max", "y_min", "y_max",
    )


# ---------------------------------------------------------------------------
# Nested multi-level contours — the raster face of G6 contour nesting:
# marching squares at several occupancy thresholds at once (level 0 = the
# sparse outline, level 1 = the dense cores, nested inside it). One raster
# pass feeds every level; the level rides the cell key through the same
# scatter → groupBy → case-dimension pipeline.
# ---------------------------------------------------------------------------

_CONTOUR_LEVELS = ((0, _T), (1, 8))


def contours_from_leveled_occupancy(occ: DataFrame) -> DataFrame:
    """(level, gy, gx) occupied pixels → marching-squares segments per
    level (same algorithm as contours_from_occupancy with the level carried
    through the cell key)."""
    spark = occ.sparkSession
    cells = (
        occ.selectExpr(
            "level", "gy", "gx",
            "explode(array(struct(0 AS dy, 0 AS dx, 1 AS bit), "
            "              struct(0 AS dy, 1 AS dx, 2 AS bit), "
            "              struct(1 AS dy, 0 AS dx, 4 AS bit), "
            "              struct(1 AS dy, 1 AS dx, 8 AS bit))) AS o",
        )
        .selectExpr("level", "gy - o.dy AS cy", "gx - o.dx AS cx", "o.bit AS bit")
        .groupBy("level", "cy", "cx")
        .agg(F.sum("bit").cast("int").alias("case_id"))
    )
    seg_dim = spark.createDataFrame(
        _MS_SEGMENTS, "case_id int, seg int, ax int, ay int, bx int, by int"
    )
    return (
        cells.join(F.broadcast(seg_dim), "case_id")
        .selectExpr(
            "level", "cy", "cx", "case_id", "seg",
            "CAST(2 * cx + ax AS INT) AS x0", "CAST(2 * cy + ay AS INT) AS y0",
            "CAST(2 * cx + bx AS INT) AS x1", "CAST(2 * cy + by AS INT) AS y1",
        )
    )


@register(
    "raster_contours_nested",
    oracle=f"""
WITH pts AS (SELECT {derived_lon_sql(_VKEY)} AS lon, {derived_lat_sql(_VKEY)} AS lat
             FROM lineitem),
px AS (
  SELECT {_gy_sql('lat')} AS gy, {_gx_sql('lon')} AS gx, COUNT(*) AS n
  FROM pts GROUP BY 1, 2),
lvls(level, thr) AS (VALUES {', '.join(f'({l}, {t})' for l, t in _CONTOUR_LEVELS)}),
occ AS (
  SELECT l.level, p.gy, p.gx FROM px p CROSS JOIN lvls l WHERE p.n >= l.thr),
offs(dy, dx) AS (VALUES (0, 0), (0, 1), (1, 0), (1, 1)),
cells AS (
  SELECT level, gy - dy AS cy, gx - dx AS cx,
         CAST(SUM(CASE WHEN dy = 0 AND dx = 0 THEN 1
                       WHEN dy = 0 AND dx = 1 THEN 2
                       WHEN dy = 1 AND dx = 0 THEN 4
                       ELSE 8 END) AS INT) AS case_id
  FROM occ CROSS JOIN offs GROUP BY 1, 2, 3),
ms(case_id, seg, ax, ay, bx, by) AS (VALUES {_MS_VALUES})
SELECT c.level, c.cy, c.cx, c.case_id, s.seg,
       CAST(2 * c.cx + s.ax AS INT) AS x0, CAST(2 * c.cy + s.ay AS INT) AS y0,
       CAST(2 * c.cx + s.bx AS INT) AS x1, CAST(2 * c.cy + s.by AS INT) AS y1
FROM cells c JOIN ms s ON c.case_id = s.case_id
""",
)
def raster_contours_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level contour extraction: marching squares at occupancy
    thresholds {thr} per level from ONE raster aggregation — level 1's
    dense-core contours nest inside level 0's outline (the raster twin of
    the reference's contour-nesting semantics, G6). The pixel-count
    groupBy runs once; each level filters the (≤65k-row) checkpointed
    counts, so the point-scale scan is never repeated."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        f"{derived_lon_sql(_VKEY)} AS lon", f"{derived_lat_sql(_VKEY)} AS lat"
    )
    counts = (
        li.selectExpr(f"{_gy_sql('lat')} AS gy", f"{_gx_sql('lon')} AS gx")
        .groupBy("gy", "gx")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)  # one consumer per level — scan once
    )
    levels = [
        counts.filter(F.col("n") >= thr).select(
            F.lit(level).alias("level"), "gy", "gx"
        )
        for level, thr in _CONTOUR_LEVELS
    ]
    occ = levels[0]
    for more in levels[1:]:
        occ = occ.unionByName(more)
    return contours_from_leveled_occupancy(occ)


# ---------------------------------------------------------------------------
# DENSE per-tile raster arrays (VERDICT r03 ask): one row per tile holding
# the full G×G cell array — the storage layout a 100 TB raster actually
# uses (a row per pixel at 10^12 points is the wrong shape to persist or
# re-read). Construction stays entirely in JVM codegen: the sparse raster's
# one map-side-combined shuffle, then map_from_entries + transform — no
# Python, no second shuffle. The contour stage then consumes the DENSE
# layout: posexplode unpacks occupancy, and the marching-squares cell
# groupBy doubles as the halo exchange (cells on tile borders receive
# corner bits from up to 4 tiles and meet in the shuffle — Spark's answer
# to an MPI ghost-cell exchange).
# ---------------------------------------------------------------------------


def dense_tiles(raster: DataFrame, g: int = _G) -> DataFrame:
    """Sparse raster rows (tile_id, py, px, n) → dense per-tile arrays
    (tile_id, cells array<bigint> of length g*g, row-major py*g+px).
    Missing cells densify to 0."""
    return (
        raster.groupBy("tile_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.expr(f"struct(py * {g} + px AS k, n AS v)")
                )
            ).alias("m")
        )
        .select(
            "tile_id",
            F.expr(
                f"transform(sequence(0, {g * g - 1}), "
                "i -> COALESCE(element_at(m, i), CAST(0 AS BIGINT)))"
            ).alias("cells"),
        )
    )


def occupancy_from_dense(dense: DataFrame, threshold: int = _T,
                         g: int = _G, nx: int = _NX) -> DataFrame:
    """Dense per-tile arrays → occupied GLOBAL pixels (gy, gx): posexplode
    each tile's array, threshold, reconstruct global coordinates from
    (tile_id, position). All JVM."""
    return (
        dense.select("tile_id", F.posexplode("cells").alias("pos", "n"))
        .filter(F.col("n") >= threshold)
        .selectExpr(
            f"CAST((tile_id DIV {nx}) * {g} + (pos DIV {g}) AS INT) AS gy",
            f"CAST((tile_id % {nx}) * {g} + (pos % {g}) AS INT) AS gx",
        )
    )


@register(
    "raster_dense_tiles",
    oracle=f"""
WITH {_raster_cte('duckdb')},
tiles AS (SELECT DISTINCT tile_id FROM raster),
idx AS (SELECT UNNEST(range(0, {_G * _G})) AS i),
grid AS (SELECT t.tile_id, CAST(i.i AS INT) AS i FROM tiles t CROSS JOIN idx i),
dense AS (
  SELECT g.tile_id, g.i, CAST(COALESCE(r.n, 0) AS BIGINT) AS n
  FROM grid g LEFT JOIN raster r
    ON r.tile_id = g.tile_id AND r.py * {_G} + r.px = g.i)
SELECT tile_id,
       CAST(COUNT(CASE WHEN n >= {_T} THEN 1 END) AS INT) AS n_occupied,
       CAST(SUM(n) AS BIGINT) AS total_points,
       ARRAY_TO_STRING(LIST(n ORDER BY i), ',') AS cells_str
FROM dense GROUP BY tile_id
""",
)
def raster_dense_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster in the DENSE layout: one row per touched tile with the
    full {_G}×{_G} cell array. The gate serializes the array to an exact
    comma-joined string (plus occupied-cell count and exact point total) so
    every element of every tile is hash-compared."""
    dense = dense_tiles(_spark_raster(spark, sf_dir))
    return dense.selectExpr(
        "tile_id",
        f"CAST(size(filter(cells, c -> c >= {_T})) AS INT) AS n_occupied",
        "aggregate(cells, CAST(0 AS BIGINT), (a, c) -> a + c) AS total_points",
        "array_join(transform(cells, c -> CAST(c AS STRING)), ',') AS cells_str",
    )


@register(
    "raster_contours_geo",
    oracle=f"""
WITH {_cells_cte('duckdb')},
segs(case_id, seg, ax, ay, bx, by) AS (VALUES {_MS_VALUES})
SELECT c.cy, c.cx, c.case_id, s.seg,
       (2 * c.cx + s.ax) * {_LON_PP / 2!r} - 180.0 AS lon0,
       (2 * c.cy + s.ay) * {_LAT_PP / 2!r} - 90.0  AS lat0,
       (2 * c.cx + s.bx) * {_LON_PP / 2!r} - 180.0 AS lon1,
       (2 * c.cy + s.by) * {_LAT_PP / 2!r} - 90.0  AS lat1
FROM cells c JOIN segs s ON c.case_id = s.case_id
""",
)
def raster_contours_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOGRAPHIC contours from the DENSE tile layout: dense arrays →
    posexplode occupancy → marching squares → exact lon/lat endpoints.
    The doubled-pixel → degrees conversion multiplies by {_LON_PP / 2}
    (= 45/64, an exact binary double; products of small ints by it are
    exact), so the geo endpoints hash bit-identically. The oracle never
    sees the dense layout — DuckDB goes points → cells directly — so the
    gate proves dense-roundtrip + tile-border halo correctness end-to-end."""
    dense = dense_tiles(_spark_raster(spark, sf_dir))
    occ = occupancy_from_dense(dense, threshold=_T)
    segs = contours_from_occupancy(occ)
    # `D` suffixes: Spark parses bare decimal literals as DECIMAL, which
    # poisons the chain into exact-decimal arithmetic that diverges from
    # DuckDB's doubles (see spark-duckdb exactness rules).
    return segs.selectExpr(
        "cy", "cx", "case_id", "seg",
        f"x0 * {_LON_PP / 2!r}D - 180.0D AS lon0",
        f"y0 * {_LAT_PP / 2!r}D - 90.0D  AS lat0",
        f"x1 * {_LON_PP / 2!r}D - 180.0D AS lon1",
        f"y1 * {_LAT_PP / 2!r}D - 90.0D  AS lat1",
    )
