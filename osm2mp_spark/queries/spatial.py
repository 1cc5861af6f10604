"""Spatial queries over the driver's parquet tables (SURVEY §2.3-2.5).

Points derive from integer keys via sources.points (exact arithmetic, bit-
identical across Spark/DuckDB/numpy). Polygon layers are the deterministic
fixtures in sources.layers; their literals are shared with the oracle SQL
through repr().

Operators exercised here (SURVEY ids): J2 (PIP city containment incl. holes
and canonical smallest-area overlap rule), J3 (hierarchical address lookup),
J15 (kNN nearest-city fallback), J5 (access-area flag OR), J13/J14 (tile
assignment + chain→tile closure), G2/W4 (chain clipping, gaps-and-islands),
A1 (node degree), A4 (density histogram), W5 (deterministic numbering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.clip import clip_chains_to_bbox, clip_oracle_sql
from ..operators.knn import knn_bruteforce
from ..operators.pip_join import pip_flags_or, pip_resolve
from ..operators.tiles import assign_tiles_grid, chain_tile_closure, grid_tile_expr
from ..sources.layers import (
    ACCESS_AREAS,
    BOUNDARY,
    CITIES,
    COUNTRIES,
    REGIONS,
    access_values_sql,
    centers_values_sql,
    city_polygons,
    country_polygons,
    edges_values_sql,
    hole_edges_values_sql,
    region_polygons,
)
from ..sources.points import derived_lat_sql, derived_lon_sql, with_derived_position
from ..spatial.index import Polygon, PolygonIndex
from . import register

# ---------------------------------------------------------------------------
# shared table/point helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("point_id")
    )
    return with_derived_position(df, "point_id")


_PTS_CTE = (
    "pts AS (SELECT CAST(c_custkey AS BIGINT) AS point_id, "
    f"{derived_lon_sql('c_custkey')} AS lon, {derived_lat_sql('c_custkey')} AS lat "
    "FROM customer)"
)

# lineitem chain keys: single source of truth in sources.points
from ..sources.points import LINEITEM_SEQ_SQL as _SEQ, LINEITEM_VKEY_SQL as _VKEY


def lineitem_chain_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("bigint").alias("chain_id"),
        F.expr(_SEQ).alias("seq"),
        F.expr(_VKEY).alias("__vkey"),
    )
    return with_derived_position(df, "__vkey").drop("__vkey")


_CHAIN_CTE = (
    "pts AS (SELECT CAST(l_orderkey AS BIGINT) AS chain_id, "
    f"{_SEQ} AS seq, "
    f"{derived_lon_sql(_VKEY)} AS lon, {derived_lat_sql(_VKEY)} AS lat FROM lineitem)"
)


from functools import lru_cache


@lru_cache(maxsize=1)
def _city_index() -> PolygonIndex:
    """Cached: the cell-cover construction is driver-side work shared by
    every query (and by repeated driver-gate invocations)."""
    return PolygonIndex(city_polygons())


@lru_cache(maxsize=1)
def _region_index() -> PolygonIndex:
    return PolygonIndex(region_polygons())


@lru_cache(maxsize=1)
def _country_index() -> PolygonIndex:
    return PolygonIndex(country_polygons())


@lru_cache(maxsize=1)
def _access_index() -> PolygonIndex:
    return PolygonIndex([Polygon(a["area_id"], [a["outer"]]) for a in ACCESS_AREAS])


# SQL fragment: contained(point_id, city_id, area) — convex-edge bool_and
# test + strict-inside hole subtraction, over a CTE `pts`.
_CONTAINED_SQL = f"""
edges(city_id, area, x1, y1, x2, y2) AS (VALUES
    {edges_values_sql()}),
hole(city_id, x1, y1, x2, y2) AS (VALUES
    {hole_edges_values_sql()}),
inside AS (
  SELECT p.point_id, e.city_id, MIN(e.area) AS area
  FROM pts p CROSS JOIN edges e
  GROUP BY p.point_id, e.city_id, p.lon, p.lat
  HAVING BOOL_AND((e.x2-e.x1)*(p.lat-e.y1) - (e.y2-e.y1)*(p.lon-e.x1) >= 0)
),
in_hole AS (
  SELECT p.point_id, h.city_id
  FROM pts p CROSS JOIN hole h
  GROUP BY p.point_id, h.city_id, p.lon, p.lat
  HAVING BOOL_AND((h.x2-h.x1)*(p.lat-h.y1) - (h.y2-h.y1)*(p.lon-h.x1) > 0)
),
contained AS (
  SELECT i.point_id, i.city_id, i.area
  FROM inside i LEFT JOIN in_hole h
    ON i.point_id = h.point_id AND i.city_id = h.city_id
  WHERE h.point_id IS NULL
)"""


# ---------------------------------------------------------------------------
# J2: PIP city containment, smallest-area-wins
# ---------------------------------------------------------------------------

@register(
    "pip_city",
    oracle=f"""
WITH {_PTS_CTE},
{_CONTAINED_SQL},
ranked AS (
  SELECT point_id, city_id,
         ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY area, city_id) AS rn
  FROM contained)
SELECT point_id, city_id FROM ranked WHERE rn = 1
""",
)
def pip_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — zero-shuffle Arrow PIP resolve (mask-grid filter + exact
    refine), hole subtraction, canonical smallest-area overlap rule."""
    pts = customer_points(spark, sf_dir)
    return pip_resolve(pts, _city_index(), area_col="city_id").select(
        "point_id", "city_id"
    )


# ---------------------------------------------------------------------------
# J3: hierarchical address lookup (city → region → country)
# ---------------------------------------------------------------------------

def _rect_level_sql(polys, id_name: str) -> str:
    """Rect containment per level as nested CASE (regions/countries are
    rectangles; first match is the only match — they are disjoint)."""
    cases = []
    for p in polys:
        ring = p["outer"]
        x0, y0 = ring[0]
        x1, y1 = ring[2]
        cases.append(
            f"WHEN p.lon >= {x0!r} AND p.lon <= {x1!r} AND "
            f"p.lat >= {y0!r} AND p.lat <= {y1!r} THEN '{p['area_id']}'"
        )
    return "CASE " + " ".join(cases) + f" ELSE '-' END AS {id_name}"


@register(
    "pip_hierarchy",
    oracle=f"""
WITH {_PTS_CTE},
{_CONTAINED_SQL},
ranked AS (
  SELECT point_id, city_id,
         ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY area, city_id) AS rn
  FROM contained),
city AS (SELECT point_id, city_id FROM ranked WHERE rn = 1)
SELECT p.point_id,
       COALESCE(c.city_id, '-') AS city_id,
       {_rect_level_sql(REGIONS, "region_id")},
       {_rect_level_sql(COUNTRIES, "country_id")}
FROM pts p LEFT JOIN city c ON p.point_id = c.point_id
""",
)
def pip_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — one zero-shuffle Arrow resolve per addressing level, chained on
    the same row (OsmAddress level-priority merge, lib/OsmAddress.pm:
    146-163). No joins at all: Catalyst batches the three scalar pandas
    UDFs into one ArrowEvalPython pass (the earlier formulation ran three
    point_id-keyed left joins — three shuffles of the full point set)."""
    pts = customer_points(spark, sf_dir)
    out = pip_resolve(pts, _city_index(), area_col="city_id",
                      keep_unmatched=True)
    out = pip_resolve(out, _region_index(), area_col="region_id",
                      keep_unmatched=True)
    out = pip_resolve(out, _country_index(), area_col="country_id",
                      keep_unmatched=True)
    return out.select(
        "point_id",
        F.coalesce("city_id", F.lit("-")).alias("city_id"),
        F.coalesce("region_id", F.lit("-")).alias("region_id"),
        F.coalesce("country_id", F.lit("-")).alias("country_id"),
    )


# ---------------------------------------------------------------------------
# J15: kNN nearest-city fallback for points outside every city
# ---------------------------------------------------------------------------

@register(
    "knn_city",
    oracle=f"""
WITH {_PTS_CTE},
{_CONTAINED_SQL},
centers(city_id, cx, cy) AS (VALUES
    {centers_values_sql()}),
outs AS (
  SELECT p.* FROM pts p LEFT JOIN (SELECT DISTINCT point_id FROM contained) c
    ON p.point_id = c.point_id WHERE c.point_id IS NULL),
d AS (
  SELECT o.point_id, c.city_id,
         (o.lon-c.cx)*(o.lon-c.cx) + (o.lat-c.cy)*(o.lat-c.cy) AS d2
  FROM outs o CROSS JOIN centers c),
r AS (SELECT point_id, city_id, d2,
             ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY d2, city_id) AS rn
      FROM d)
SELECT point_id, city_id AS nearest_city_id, d2 AS dist_sq FROM r WHERE rn = 1
""",
)
def knn_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15 — uncontained points get the nearest city. Containment and the
    filter ride ONE zero-shuffle Arrow resolve (contained-by-any ⇔
    smallest-wins non-null), then the expression kNN — the whole query has
    no join and no exchange before the driver collect (the earlier
    anti-join formulation shuffled the full point set once)."""
    pts = customer_points(spark, sf_dir)
    resolved = pip_resolve(
        pts, _city_index(), area_col="__c", keep_unmatched=True
    )
    outs = resolved.filter(F.col("__c").isNull()).drop("__c")
    anchors = [(c["area_id"], c["center"][0], c["center"][1]) for c in CITIES]
    return knn_bruteforce(outs, anchors, out_id="nearest_city_id").select(
        "point_id", "nearest_city_id", "dist_sq"
    )


# ---------------------------------------------------------------------------
# J5: access-area mask OR
# ---------------------------------------------------------------------------

@register(
    "access_flags",
    oracle=f"""
WITH {_PTS_CTE},
areas(area_id, mask, x0, y0, x1, y1) AS (VALUES
    {access_values_sql()}),
hit AS (
  SELECT p.point_id, BIT_OR(a.mask) AS m
  FROM pts p JOIN areas a
    ON p.lon >= a.x0 AND p.lon <= a.x1 AND p.lat >= a.y0 AND p.lat <= a.y1
  GROUP BY p.point_id)
SELECT p.point_id, CAST(COALESCE(h.m, 0) AS INT) AS access_mask
FROM pts p LEFT JOIN hit h ON p.point_id = h.point_id
""",
)
def access_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — flags of every containing restricted area OR-ed together
    (TransportAccess.pm:108-117 semantics as a bitmask)."""
    pts = customer_points(spark, sf_dir)
    idx = _access_index()
    masks = {a["area_id"]: a["mask"] for a in ACCESS_AREAS}
    return pip_flags_or(pts, idx, masks).select("point_id", "access_mask")


# ---------------------------------------------------------------------------
# J4: cityside 2-point test for chains
# ---------------------------------------------------------------------------

_SAMP_CTE = f"""
ranked AS (
  SELECT CAST(l_orderkey AS BIGINT) AS chain_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY {_SEQ})
              - 1 AS BIGINT) AS pos,
         CAST(COUNT(*) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n,
         {_VKEY} AS vkey
  FROM lineitem),
samp AS (
  SELECT chain_id, chain_id * 10 + 1 AS point_id, vkey
  FROM ranked WHERE pos = CAST(FLOOR(n / 3) AS BIGINT)
  UNION ALL
  SELECT chain_id, chain_id * 10 + 2, vkey
  FROM ranked WHERE pos = CAST(FLOOR(2 * n / 3) AS BIGINT)),
pts AS (
  SELECT chain_id, point_id,
         {derived_lon_sql('vkey')} AS lon, {derived_lat_sql('vkey')} AS lat
  FROM samp)"""


@register(
    "cityside_chains",
    oracle=f"""
WITH {_SAMP_CTE},
{_CONTAINED_SQL.lstrip()},
hits AS (SELECT DISTINCT point_id FROM contained)
SELECT p.chain_id, BOOL_AND(h.point_id IS NOT NULL) AS inside_city
FROM pts p LEFT JOIN hits h ON p.point_id = h.point_id
GROUP BY p.chain_id
""",
)
def cityside_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (osm2mp.pl:1797-1811): a chain counts as inside-city iff its
    vertices at 1/3 and 2/3 of the chain are BOTH contained in a city
    area — two sampled PIP probes per chain instead of full-geometry
    containment (the reference's cheap smart_nodes rule). The probes run
    through the same zero-shuffle Arrow PIP resolve as J2."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("bigint").alias("chain_id"),
        F.expr(_SEQ).alias("seq"),
        F.expr(_VKEY).alias("vkey"),
    )
    w = Window.partitionBy("chain_id").orderBy("seq")
    wn = Window.partitionBy("chain_id")
    ranked = li.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("bigint")
    ).withColumn("n", F.count("*").over(wn).cast("bigint"))
    # single pass: each vertex's sample-slot memberships as an array →
    # explode (the window subtree evaluates ONCE; a 2-way filter union
    # would shuffle and evaluate it twice — same trick as clip_chains)
    slots = F.filter(
        F.array(
            F.when(F.col("pos") == F.expr("CAST(FLOOR(n / 3) AS BIGINT)"), 1),
            F.when(
                F.col("pos") == F.expr("CAST(FLOOR(2 * n / 3) AS BIGINT)"), 2
            ),
        ),
        lambda x: x.isNotNull(),
    )
    samp = ranked.select(
        "chain_id", "vkey", F.explode(slots).alias("slot")
    ).select(
        "chain_id",
        (F.col("chain_id") * 10 + F.col("slot")).alias("point_id"),
        "vkey",
    )
    pts = with_derived_position(samp, "vkey").drop("vkey")
    # contained by any city ⇔ the smallest-wins resolve is non-null
    return (
        pip_resolve(pts, _city_index(), area_col="__c", keep_unmatched=True)
        .groupBy("chain_id")
        .agg(F.bool_and(F.col("__c").isNotNull()).alias("inside_city"))
    )


# ---------------------------------------------------------------------------
# J13: tile assignment (fixed grid — SQL-checkable) + per-tile counts (A6)
# ---------------------------------------------------------------------------

@register(
    "tile_counts",
    oracle=f"""
WITH pts AS (SELECT {derived_lon_sql(_VKEY)} AS lon, {derived_lat_sql(_VKEY)} AS lat
             FROM lineitem)
SELECT CAST({grid_tile_expr('lon', 'lat')} AS INT) AS tile_id,
       CAST(COUNT(*) AS BIGINT) AS n_points
FROM pts GROUP BY 1
""",
)
def tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 + A6 — grid tile id (whole-stage codegen) + per-tile counts."""
    pts = lineitem_chain_points(spark, sf_dir)
    return (
        assign_tiles_grid(pts)
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_points"))
        .select(F.col("tile_id").cast("int"), "n_points")
    )


@register(
    "tile_chain_closure",
    oracle=f"""
WITH {_CHAIN_CTE}
SELECT DISTINCT chain_id,
       CAST({grid_tile_expr('lon', 'lat')} AS INT) AS tile_id
FROM pts
""",
)
def tile_chain_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 — chain joins every tile containing ≥1 of its vertices
    (splitter.pl:362-381)."""
    pts = assign_tiles_grid(lineitem_chain_points(spark, sf_dir))
    return chain_tile_closure(pts).select(
        "chain_id", F.col("tile_id").cast("int")
    )


# ---------------------------------------------------------------------------
# G2/W4: chain clipping to the map boundary
# ---------------------------------------------------------------------------

_CLIP_BBOX = (BOUNDARY[0][0], BOUNDARY[0][1], BOUNDARY[2][0], BOUNDARY[2][1])


@register(
    "clip_chains",
    oracle=clip_oracle_sql(_CHAIN_CTE, _CLIP_BBOX),
)
def clip_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — keep-one-outside-vertex clipping via gaps-and-islands windows."""
    pts = lineitem_chain_points(spark, sf_dir)
    return clip_chains_to_bbox(pts, _CLIP_BBOX)


# ---------------------------------------------------------------------------
# G2 on a CONCAVE boundary with a hole (G3's line-clipping face)
# ---------------------------------------------------------------------------

from ..operators.clip import clip_chains_by_predicate, ring_inside_expr


def _concave_region():
    from .geometry import CONCAVE_HOLE, CONCAVE_OUTER

    return CONCAVE_OUTER, [CONCAVE_HOLE]


@register(
    "clip_chains_concave",
    oracle=None,  # assigned below — needs the predicate text
)
def clip_chains_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2/G3 — the keep-one-outside-vertex chain clip against a CONCAVE
    L-shaped boundary with a hole. Containment is a pure-SQL ray-cast
    parity predicate (ring_inside_expr) — identical text runs in DuckDB,
    so the oracle is exact; whole-stage codegen, one window shuffle."""
    outer, holes = _concave_region()
    pts = lineitem_chain_points(spark, sf_dir)
    return clip_chains_by_predicate(
        pts, ring_inside_expr("lon", "lat", outer, holes)
    )


def _concave_oracle() -> str:
    outer, holes = _concave_region()
    return clip_oracle_sql(
        _CHAIN_CTE, inside_sql=ring_inside_expr("lon", "lat", outer, holes)
    )


from . import ORACLES  # noqa: E402

ORACLES["clip_chains_concave"] = _concave_oracle()


# ---------------------------------------------------------------------------
# A1 / A4: node degree + density histogram
# ---------------------------------------------------------------------------

@register(
    "node_degree",
    oracle="""
SELECT CAST(l_partkey AS BIGINT) AS node_id,
       CAST(COUNT(*) AS BIGINT) AS degree,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_chains
FROM lineitem GROUP BY 1
""",
)
def node_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 — shared-node degree over all chains (%rnode semantics)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_partkey").cast("bigint").alias("node_id")).agg(
        F.count("*").alias("degree"),
        F.countDistinct("l_orderkey").alias("n_chains"),
    )


@register(
    "density_histogram",
    oracle=f"""
WITH pts AS (SELECT {derived_lon_sql('c_custkey')} AS lon,
                    {derived_lat_sql('c_custkey')} AS lat FROM customer)
SELECT CAST(FLOOR(lon * 25.0) AS BIGINT) AS cell_x,
       CAST(FLOOR(lat * 50.0) AS BIGINT) AS cell_y,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pts GROUP BY 1, 2
""",
)
def density_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the splitter's 0.02°×0.04° skew-detector histogram
    (floor(lat*50) ≡ floor(lat/0.02) in exact arithmetic)."""
    pts = customer_points(spark, sf_dir)
    return pts.groupBy(
        F.expr("CAST(FLOOR(lon * 25.0) AS BIGINT)").alias("cell_x"),
        F.expr("CAST(FLOOR(lat * 50.0) AS BIGINT)").alias("cell_y"),
    ).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# W5: deterministic sequential numbering of routing nodes
# ---------------------------------------------------------------------------

@register(
    "node_numbering",
    oracle="""
WITH deg AS (
  SELECT CAST(l_partkey AS BIGINT) AS node_id, COUNT(DISTINCT l_orderkey) AS nch
  FROM lineitem GROUP BY 1)
SELECT node_id,
       CAST(ROW_NUMBER() OVER (ORDER BY node_id) AS BIGINT) AS nod_id
FROM deg WHERE nch > 1
""",
)
def node_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/A2 — routing nodes (shared by >1 chain) numbered densely in
    natural-key order (the deterministic replacement for $nodcount++,
    osm2mp.pl:678-687)."""
    li = _t(spark, sf_dir, "lineitem")
    deg = li.groupBy(F.col("l_partkey").cast("bigint").alias("node_id")).agg(
        F.countDistinct("l_orderkey").alias("nch")
    )
    w = Window.orderBy("node_id")
    return (
        deg.filter("nch > 1")
        .withColumn("nod_id", F.row_number().over(w).cast("bigint"))
        .select("node_id", "nod_id")
    )


@register(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS sum_qty_x100,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
         AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic pricing-summary aggregation (the conventional-OLAP sanity
    check): multi-agg groupBy with predicate pushdown; money compared as
    exact cents."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02 00:00:00"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.expr("CAST(l_quantity * 100 AS BIGINT)")).alias("sum_qty_x100"),
        F.expr(
            "CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)"
        ).alias("revenue_cents"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# G15: external-node marking at the map boundary (osm2mp.pl:1651-1659)
# ---------------------------------------------------------------------------

def _tri_state_sql(lon: str, lat: str) -> str:
    """is_inside_bounds tri-state (osm2mp.pl:1197-1202): 1 strictly inside,
    0 on the boundary edge, -1 outside."""
    minlon, minlat, maxlon, maxlat = _CLIP_BBOX
    strict = (f"({lon} > {minlon!r} AND {lon} < {maxlon!r} "
              f"AND {lat} > {minlat!r} AND {lat} < {maxlat!r})")
    closed = (f"({lon} >= {minlon!r} AND {lon} <= {maxlon!r} "
              f"AND {lat} >= {minlat!r} AND {lat} <= {maxlat!r})")
    return f"(CASE WHEN {strict} THEN 1 WHEN {closed} THEN 0 ELSE -1 END)"


@register(
    "xnode_marking",
    oracle=f"""
WITH {_CHAIN_CTE},
st AS (
  SELECT chain_id, seq, lon, lat,
         {_tri_state_sql('lon', 'lat')} AS s,
         ROW_NUMBER() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS pos,
         COUNT(*) OVER (PARTITION BY chain_id) AS n
  FROM pts),
fl AS (
  SELECT *,
         FIRST_VALUE(s) OVER (PARTITION BY chain_id ORDER BY pos) AS fs,
         FIRST_VALUE(s) OVER (PARTITION BY chain_id ORDER BY pos DESC) AS ls
  FROM st)
SELECT chain_id, CAST(pos AS BIGINT) AS pos, lon, lat
FROM fl
WHERE (pos = 0 AND fs < 1) OR (pos = 1 AND fs = 0)
   OR (pos = n - 1 AND ls < 1) OR (pos = n - 2 AND ls = 0)
""",
)
def xnode_marking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15 (osm2mp.pl:1651-1659): chains touching the map boundary mark
    their end nodes as EXTERNAL (routing must not continue through them):
    first/last node when not strictly inside; the SECOND node in from an
    exactly-on-edge endpoint too. Tri-state containment is a pure Column
    expression; endpoint states fan out via two window first_values."""
    pts = lineitem_chain_points(spark, sf_dir)
    w = Window.partitionBy("chain_id").orderBy("seq")
    wn = Window.partitionBy("chain_id")
    wf = Window.partitionBy("chain_id").orderBy("pos")
    wl = Window.partitionBy("chain_id").orderBy(F.col("pos").desc())
    st = (
        pts.withColumn("s", F.expr(_tri_state_sql("lon", "lat")))
        .withColumn("pos", F.row_number().over(w) - 1)
        .withColumn("n", F.count("*").over(wn))
        .withColumn("fs", F.first("s").over(wf))
        .withColumn("ls", F.first("s").over(wl))
    )
    return st.filter(
        ((F.col("pos") == 0) & (F.col("fs") < 1))
        | ((F.col("pos") == 1) & (F.col("fs") == 0))
        | ((F.col("pos") == F.col("n") - 1) & (F.col("ls") < 1))
        | ((F.col("pos") == F.col("n") - 2) & (F.col("ls") == 0))
    ).select("chain_id", F.col("pos").cast("bigint"), "lon", "lat")


# ---------------------------------------------------------------------------
# J2 on a CONCAVE area: the PIP index machinery against a non-convex ring
# ---------------------------------------------------------------------------

# U-shaped concave area with a square hole in its left arm — exercises the
# ray-cast refine on a polygon the convex edge test cannot express
_CONCAVE_CITY_OUTER = [
    (10.0, -60.0), (70.0, -60.0), (70.0, -10.0), (55.0, -10.0),
    (55.0, -45.0), (25.0, -45.0), (25.0, -10.0), (10.0, -10.0),
    (10.0, -60.0),
]
_CONCAVE_CITY_HOLE = [
    (14.0, -55.0), (21.0, -55.0), (21.0, -48.0), (14.0, -48.0), (14.0, -55.0),
]


@register(
    "pip_concave_city",
    oracle=f"""
WITH {_PTS_CTE}
SELECT point_id, {ring_inside_expr('lon', 'lat', _CONCAVE_CITY_OUTER,
                                   [_CONCAVE_CITY_HOLE])} AS inside
FROM pts
""",
)
def pip_concave_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 over a CONCAVE polygon with a hole: the same PIP kernel (mask-grid
    filter + Arrow ray-cast refine — PolygonIndex already ray-casts, so
    concavity is native); the oracle is the pure-SQL
    ray-cast parity predicate. Output: every point with its containment
    bit (on-edge counts inside per is_inside_bounds)."""
    from ..spatial.index import Polygon

    idx = PolygonIndex(
        [Polygon("ucity", [_CONCAVE_CITY_OUTER], [_CONCAVE_CITY_HOLE])]
    )
    pts = customer_points(spark, sf_dir)
    return pip_resolve(pts, idx, area_col="__c", keep_unmatched=True).select(
        "point_id", F.col("__c").isNotNull().alias("inside")
    )


# ---------------------------------------------------------------------------
# Cell encoding (the north star's H3/S2-style index) as a gated query
# ---------------------------------------------------------------------------

from ..geometry.cells import duck_cell_expr, spark_cell_expr  # noqa: E402


@register(
    "cell_encode",
    oracle=f"""
WITH {_PTS_CTE},
cells AS (
  SELECT point_id, {duck_cell_expr('lon', 'lat', 12)} AS cell_id FROM pts)
SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(point_id) AS BIGINT) AS min_point
FROM cells GROUP BY cell_id
""",
)
def cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order cell encoding (level 12) — the JVM bit-spread expression
    (whole-stage codegen, the coarse phase of every spatial join) grouped
    into per-cell counts; the oracle is the identical integer arithmetic
    in DuckDB syntax, so the ids are proven bit-equal cross-engine."""
    from ..geometry.cells import with_cell_column

    pts = customer_points(spark, sf_dir)
    return (
        with_cell_column(pts, "cell_id", "lon", "lat", 12)
        .groupBy("cell_id")
        .agg(
            F.count("*").alias("n_points"),
            F.min("point_id").cast("bigint").alias("min_point"),
        )
    )


# ---------------------------------------------------------------------------
# S5: .poly boundary source driving the general ring clip
# ---------------------------------------------------------------------------

# a concave pentagon-ish boundary delivered in the Osmosis .poly text
# format (the reference's boundary input, lib/Boundary.pm:30-52)
_POLY_TEXT = """test-boundary
1
   -150.0  -70.0
   150.0   -70.0
   150.0   40.0
   0.0     -10.0
   -150.0  40.0
END
END
"""


@register(
    "clip_chains_poly",
    oracle=None,  # assigned below (needs the parsed ring)
)
def clip_chains_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 + G2: boundary parsed from the Osmosis .poly TEXT format
    (sources/boundary_io.read_poly — name line, section, coordinate rows,
    END terminators, CW→CCW normalization), then the standard
    keep-one-outside-vertex chain clip against the resulting CONCAVE ring
    via the ray-cast predicate. Exact oracle shares the parsed ring."""
    from ..sources.boundary_io import read_poly

    ring = read_poly(_POLY_TEXT)
    pts = lineitem_chain_points(spark, sf_dir)
    return clip_chains_by_predicate(pts, ring_inside_expr("lon", "lat", ring))


def _poly_oracle() -> str:
    from ..sources.boundary_io import read_poly

    ring = read_poly(_POLY_TEXT)
    return clip_oracle_sql(
        _CHAIN_CTE, inside_sql=ring_inside_expr("lon", "lat", ring)
    )


ORACLES["clip_chains_poly"] = _poly_oracle()


# ---------------------------------------------------------------------------
# Hierarchical cell rollup (the H3/S2-style parent-cell hierarchy): counts
# at levels 12/8/4/0 in ONE shuffle via ROLLUP grouping sets. The parent of
# a Morton cell is a right-shift (ix >> k, iy >> k interleave to
# morton >> 2k), so the whole hierarchy derives from the level-12 id with
# integer ops — no re-encoding, no extra scan, and partial aggregation
# combines map-side for every grouping set at once.
# ---------------------------------------------------------------------------

def _cell_parents_sql(engine: str) -> dict[str, str]:
    base = (spark_cell_expr if engine == "spark" else duck_cell_expr)(
        "lon", "lat", 12
    )
    mask = (1 << 58) - 1
    if engine == "spark":  # F.expr's parser takes << but not >> — use funcs
        morton = f"(({base}) & {mask})"
        return {
            "c12": f"({base})",
            "c8": f"(shiftleft(CAST(8 AS BIGINT), 58) | shiftright({morton}, 8))",
            "c4": f"(shiftleft(CAST(4 AS BIGINT), 58) | shiftright({morton}, 16))",
        }
    morton = f"(({base}) & {mask})"
    return {
        "c12": f"({base})",
        "c8": f"((CAST(8 AS BIGINT) << 58) | ({morton} >> 8))",
        "c4": f"((CAST(4 AS BIGINT) << 58) | ({morton} >> 16))",
    }


_DUCK_PARENTS = _cell_parents_sql("duckdb")


@register(
    "cell_rollup",
    oracle=f"""
WITH {_PTS_CTE},
cells AS (
  SELECT {_DUCK_PARENTS['c4']} AS c4, {_DUCK_PARENTS['c8']} AS c8,
         {_DUCK_PARENTS['c12']} AS c12
  FROM pts)
SELECT CASE WHEN c12 IS NOT NULL THEN 12 WHEN c8 IS NOT NULL THEN 8
            WHEN c4 IS NOT NULL THEN 4 ELSE 0 END AS level,
       COALESCE(c12, c8, c4, CAST(0 AS BIGINT)) AS cell_id,
       CAST(COUNT(*) AS BIGINT) AS n_points
FROM cells GROUP BY ROLLUP(c4, c8, c12)
""",
)
def cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution cell counts (levels 12 -> 8 -> 4 -> world) in a
    single ROLLUP pass — parent ids derived from the level-12 Morton code
    by shift, never re-encoded; one shuffle serves all four levels.
    The level-12 encode uses the staged Morton projections and the c8/c4
    parents derive from the c12 COLUMN (not a re-inlined copy of the
    encode expression — the single-expression form tripled an already
    exponentially-duplicated subtree: 24.8 kB plan, ~0.3 s of extra
    driver parse+plan+codegen per invocation)."""
    from ..geometry.cells import with_cell_column

    mask58 = (1 << 58) - 1
    pts = with_cell_column(
        customer_points(spark, sf_dir), "c12", "lon", "lat", 12
    ).selectExpr(
        "c12",
        f"(shiftleft(CAST(8 AS BIGINT), 58) | shiftright(c12 & {mask58}, 8))"
        " AS c8",
        f"(shiftleft(CAST(4 AS BIGINT), 58) | shiftright(c12 & {mask58}, 16))"
        " AS c4",
    )
    return (
        pts.rollup("c4", "c8", "c12")
        .agg(F.count("*").alias("n_points"))
        .selectExpr(
            "CASE WHEN c12 IS NOT NULL THEN 12 WHEN c8 IS NOT NULL THEN 8 "
            "WHEN c4 IS NOT NULL THEN 4 ELSE 0 END AS level",
            "COALESCE(c12, c8, c4, CAST(0 AS BIGINT)) AS cell_id",
            "CAST(n_points AS BIGINT) AS n_points",
        )
    )
