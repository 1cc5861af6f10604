"""Non-SQL-expressible geometry/graph queries (driver gate: rows-only;
exact semantics are pytest-verified against the pure-Python oracle in
osm2mp_spark.oracle.reference).

- ring_assembly        G1  multipolygon stitching (applyInPandas per relation)
- self_intersect_split W1  per-chain stateful splitting (applyInPandas)
- road_merge           I1  merge via functionalized successor graph
                           + min-label connected components
- sea_synthesis        G10-G12 coastline closure against the map boundary
- bsp_tiles            I3  skew-aware BSP tile build + per-tile counts
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.chains import merge_roads, split_self_intersections
from ..operators.rings import assemble_rings
from ..operators.tiles import assign_tiles_bsp
from ..sources.points import LINEITEM_SEQ_SQL, derived_lat_sql, derived_lon_sql
from . import golden_oracle, register
from .oracle_sql import min_label


# unit-hexagon direction constants (cos/sin of i·60°) as EXACT double
# literals: hex vertex i = base + (C[i%6], S[i%6]), so vertex 6 equals
# vertex 0 bitwise BY CONSTRUCTION in any engine — ring closure (and hence
# the broken-relation decision) never rides on sin/cos last-ulp rounding.
_HEX_C = [1.0, 0.5, -0.5, -1.0, -0.5, 0.5]
_HEX_S = [0.0, 0.8660254037844386, 0.8660254037844386,
          0.0, -0.8660254037844386, -0.8660254037844386]


def _hex_arr(vals) -> str:
    return "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"


@register(
    "ring_assembly",
    oracle=f"""
WITH RECURSIVE
base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS rel_id,
         {derived_lon_sql('o_orderkey')} AS lon0,
         {derived_lat_sql('o_orderkey')} AS lat0,
         (o_orderkey % 17 = 0) AS broken
  FROM orders WHERE o_orderkey % 10 = 0),
hexes AS (
  SELECT rel_id, broken,
         list_transform(range(0, 7), i -> {{
           'lon': lon0 + ([{", ".join(f"{v!r}e0" for v in _HEX_C)}])[CAST(i % 6 AS INT) + 1],
           'lat': lat0 + ([{", ".join(f"{v!r}e0" for v in _HEX_S)}])[CAST(i % 6 AS INT) + 1]
         }}) AS hex
  FROM base),
mem AS (
  SELECT rel_id, 'w1' AS way_id, 1 AS seq, hex[1:3] AS chain FROM hexes
  UNION ALL
  SELECT rel_id, 'w2', 2, list_reverse(hex[3:5]) FROM hexes WHERE NOT broken
  UNION ALL
  SELECT rel_id, 'w3', 3, hex[5:7] FROM hexes),
walk AS (
  -- the stitch walk of lib/OSM.pm:133-194: start from the first member,
  -- extend with any unused chain matching the ring end (reversing when its
  -- LAST point matches), until the ring closes; broken relations never
  -- close and are dropped
  SELECT rel_id, ['w1'] AS used, chain AS ring FROM mem WHERE seq = 1
  UNION ALL
  SELECT w.rel_id, list_append(w.used, m.way_id),
         CASE WHEN m.chain[1] = w.ring[-1]
              THEN list_concat(w.ring, m.chain[2:])
              ELSE list_concat(w.ring, list_reverse(m.chain)[2:]) END
  FROM walk w JOIN mem m ON m.rel_id = w.rel_id
  WHERE w.ring[1] <> w.ring[-1]
    AND NOT list_contains(w.used, m.way_id)
    AND (m.chain[1] = w.ring[-1] OR m.chain[-1] = w.ring[-1]))
SELECT rel_id, CAST(0 AS INT) AS ring_no, FALSE AS is_inner,
       CAST(len(ring) AS INT) AS n_pts, ring[1].lon AS start_lon
FROM walk
WHERE ring[1] = ring[-1] AND len(ring) >= 4
""",
)
def ring_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — one hexagon relation per sampled order, delivered as 3 arcs with
    the middle arc REVERSED (tests reversed-member stitching); every 17th
    relation is broken (one arc dropped → whole relation skipped,
    lib/OSM.pm:186). Output: closed rings with vertex counts.

    Oracle: a recursive-CTE chain-stitch walk (the same end-matching /
    reverse-accepting extension rule), so the gate exercises the STITCHING,
    not just the fixture."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter("o_orderkey % 10 = 0")
    hexpt = (
        "transform(sequence(0, 6), i -> struct("
        f"  {derived_lon_sql('o_orderkey')} + element_at({_hex_arr(_HEX_C)}, CAST(i % 6 AS INT) + 1) AS lon,"
        f"  {derived_lat_sql('o_orderkey')} + element_at({_hex_arr(_HEX_S)}, CAST(i % 6 AS INT) + 1) AS lat))"
    )
    ways = o.selectExpr(
        "CAST(o_orderkey AS STRING) AS rel_id",
        f"{hexpt} AS hex",
        "o_orderkey % 17 = 0 AS broken",
    ).selectExpr(
        "rel_id",
        "broken",
        "array("
        " struct('w1' AS way_id, 'outer' AS role, 1 AS seq, slice(hex, 1, 3) AS chain),"
        " struct('w2' AS way_id, 'outer' AS role, 2 AS seq, reverse(slice(hex, 3, 3)) AS chain),"
        " struct('w3' AS way_id, 'outer' AS role, 3 AS seq, slice(hex, 5, 3) AS chain)"
        ") AS members",
    ).select(
        "rel_id", "broken", F.explode("members").alias("m")
    ).filter(
        # broken relations lose their middle arc
        ~(F.col("broken") & (F.col("m.seq") == 2))
    ).select(
        "rel_id",
        F.col("m.way_id").alias("way_id"),
        F.col("m.role").alias("role"),
        F.col("m.seq").alias("seq"),
        F.col("m.chain").alias("chain"),
    )
    rings = assemble_rings(ways)
    return rings.select(
        F.col("rel_id").cast("bigint").alias("rel_id"),
        "ring_no",
        "is_inner",
        F.size("pts").alias("n_pts"),
        F.element_at("pts", 1)["lon"].alias("start_lon"),
    )


@register(
    "self_intersect_split",
    oracle=f"""
WITH RECURSIVE
pts AS (
  SELECT CAST(l_orderkey AS BIGINT) AS chain_id,
         {LINEITEM_SEQ_SQL} AS seq,
         {derived_lon_sql('l_partkey % 7')} AS lon,
         {derived_lat_sql('l_partkey % 7')} AS lat
  FROM lineitem),
v AS (
  SELECT chain_id, seq, lon, lat,
         ROW_NUMBER() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS pos
  FROM pts),
vo AS (
  SELECT *, MAX(pos) OVER (PARTITION BY chain_id, lon, lat ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS lastocc
  FROM v),
nn AS (SELECT chain_id, COUNT(*) AS n FROM v GROUP BY chain_id),
-- the greedy break scan of osm2mp.pl:715-756 in the all-routing-node case:
-- a vertex repeating since the last break breaks at its predecessor
scan(chain_id, pos, brk, breaks) AS (
  SELECT chain_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST([] AS BIGINT[])
  FROM nn
  UNION ALL
  SELECT s.chain_id, w.pos,
         CASE WHEN w.lastocc >= s.brk THEN w.pos - 1 ELSE s.brk END,
         CASE WHEN w.lastocc >= s.brk THEN list_append(s.breaks, w.pos - 1)
              ELSE s.breaks END
  FROM scan s JOIN vo w ON w.chain_id = s.chain_id AND w.pos = s.pos + 1),
fin AS (
  SELECT sc.chain_id, sc.breaks, nn.n
  FROM scan sc JOIN nn ON sc.chain_id = nn.chain_id
  WHERE sc.pos = nn.n - 1),
bnd AS (
  SELECT chain_id, n,
         list_concat(list_concat([CAST(0 AS BIGINT)], breaks), [n - 1]) AS bb
  FROM fin),
parts0 AS (
  SELECT chain_id, n, bb[CAST(k AS INT)] AS s, bb[CAST(k AS INT) + 1] AS e
  FROM bnd, UNNEST(range(1, len(bb))) AS t(k)),
-- the re-split pass: a part shorter than its chain that STARTS with an
-- immediate duplicate re-splits once into a single-vertex part + itself
-- (whole-parent children are kept unsplit); validated exhaustively against
-- the kernel for all chains <= 7 over 3 symbols + 80k random chains
extra AS (
  SELECT p.chain_id, p.s, p.s AS e
  FROM parts0 p
  JOIN vo a ON a.chain_id = p.chain_id AND a.pos = p.s
  JOIN vo b ON b.chain_id = p.chain_id AND b.pos = p.s + 1
  WHERE p.e > p.s AND (p.e - p.s + 1) < p.n
    AND a.lon = b.lon AND a.lat = b.lat),
allp AS (
  SELECT chain_id, s, e FROM parts0
  UNION ALL SELECT chain_id, s, e FROM extra),
numbered AS (
  SELECT chain_id, s, e,
         CAST(ROW_NUMBER() OVER (PARTITION BY chain_id ORDER BY s, e) - 1
              AS INT) AS part_no
  FROM allp)
SELECT nb.chain_id, nb.part_no, v.seq, v.lon, v.lat
FROM numbered nb
JOIN v ON v.chain_id = nb.chain_id AND v.pos BETWEEN nb.s AND nb.e
""",
)
def self_intersect_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — lineitem chains with low-cardinality vertex positions
    (l_partkey mod 7) so vertices repeat within chains; per-chain
    applyInPandas splitting.

    Oracle: recursive-CTE re-derivation of the reference break rule
    (osm2mp.pl:715-756) in its all-routing-node form — greedy repeat scan
    with break-at-predecessor, plus the single re-split a short part takes
    when it opens on an immediate duplicate. The closed form was validated
    exhaustively against the Python kernel (all 3-symbol chains of length
    ≤ 7, plus 80k random chains up to length 15, zero mismatches)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = li.selectExpr(
        "CAST(l_orderkey AS BIGINT) AS chain_id",
        f"{LINEITEM_SEQ_SQL} AS seq",
        f"{derived_lon_sql('l_partkey % 7')} AS lon",
        f"{derived_lat_sql('l_partkey % 7')} AS lat",
    )
    return split_self_intersections(pts)


# concave L-shaped map region with one hole — spans the derived-point
# domain; shared by the G3 queries and their oracles
CONCAVE_OUTER = [
    (-180.0, -85.0), (180.0, -85.0), (180.0, 0.0), (0.0, 0.0),
    (0.0, 85.0), (-180.0, 85.0),
]
CONCAVE_HOLE = [(-90.0, -45.0), (-30.0, -45.0), (-30.0, -20.0), (-90.0, -20.0)]


@register("clip_polygons_concave", oracle=golden_oracle("clip_polygons_concave"))
def clip_polygons_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — hexagon polygons (radius 2°, centered at derived positions)
    clipped to the concave L-region with a hole via the Greiner–Hormann
    kernel (GPC INTERSECT parity, lib/Clipper.pm:16-43). mapInPandas,
    zero shuffle; pytest holds the kernel to hand-computed fixtures."""
    import math

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("bigint").alias("poly_id")
    )
    from ..operators.clip import clip_polygons_to_region
    from ..sources.points import with_derived_position

    # the sf parquet is one row-group → one scan task; round-robin the tiny
    # polygon dimension across cores so the Arrow kernel parallelizes (at
    # production scale inputs arrive multi-partition and this is a no-op
    # choice — the kernel itself is row-independent)
    n_par = spark.sparkContext.defaultParallelism
    pts = with_derived_position(cust, "poly_id").repartition(n_par)
    hexes = pts.select(
        "poly_id",
        F.expr(
            "transform(sequence(0, 5), i -> struct("
            "lon + 2.0 * cos(radians(i * 60.0 + 10.0)) AS lon, "
            "lat + 2.0 * sin(radians(i * 60.0 + 10.0)) AS lat))"
        ).alias("ring"),
    )
    return clip_polygons_to_region(hexes, CONCAVE_OUTER, [CONCAVE_HOLE])


_RM_LON1 = derived_lon_sql("o_orderkey % 300")
_RM_LAT1 = derived_lat_sql("o_orderkey % 300")
_RM_LON2 = derived_lon_sql("(o_orderkey + 1) % 300")
_RM_LAT2 = derived_lat_sql("(o_orderkey + 1) % 300")

# the junction-angle cosine, mirroring merge_roads' expression structure
# (lat-corrected, osm2mp.pl:1179-1193). cos/sqrt appear only in ORDERING and
# a macroscopically-separated threshold — never in compared output values —
# so last-ulp engine differences cannot flip results.
_RM_COS = (
    "(((q1x - q0x) * cos(radians(q1y))) * ((q2x - q1x) * cos(radians(q1y)))"
    " + (q1y - q0y) * (q2y - q1y))"
    " / (sqrt(((q1x - q0x) * cos(radians(q1y))) * ((q1x - q0x) * cos(radians(q1y)))"
    "         + (q1y - q0y) * (q1y - q0y))"
    "    * sqrt(((q2x - q1x) * cos(radians(q1y))) * ((q2x - q1x) * cos(radians(q1y)))"
    "           + (q2y - q1y) * (q2y - q1y)))"
)


@register(
    "road_merge",
    oracle=f"""
WITH RECURSIVE
r AS (
  SELECT CAST(o_orderkey AS BIGINT) AS road_id, o_orderpriority AS attrs,
         {_RM_LON1} AS lon1, {_RM_LAT1} AS lat1,
         {_RM_LON2} AS lon2, {_RM_LAT2} AS lat2
  FROM orders),
cand AS (
  SELECT a.road_id AS pred, b.road_id AS succ,
         a.lon1 AS q0x, a.lat1 AS q0y, a.lon2 AS q1x, a.lat2 AS q1y,
         b.lon2 AS q2x, b.lat2 AS q2y
  FROM r a JOIN r b
    ON a.lon2 = b.lon1 AND a.lat2 = b.lat1
   AND a.attrs = b.attrs AND a.road_id <> b.road_id),
e1 AS (
  SELECT pred, succ, cosv,
         ROW_NUMBER() OVER (PARTITION BY pred ORDER BY cosv DESC, succ) AS rn
  FROM (SELECT pred, succ, {_RM_COS} AS cosv FROM cand)
  WHERE cosv > 0.2),
func AS (
  SELECT pred, succ FROM (
    SELECT pred, succ,
           ROW_NUMBER() OVER (PARTITION BY succ ORDER BY cosv DESC, pred) AS rn2
    FROM e1 WHERE rn = 1)
  WHERE rn2 = 1),
{min_label('func', 'pred', 'succ', seed='SELECT road_id AS a FROM r')},
starts AS (
  SELECT l.lab AS label, MIN(l.v) AS head_id
  FROM lbl l LEFT JOIN (SELECT DISTINCT succ FROM func) s ON l.v = s.succ
  WHERE s.succ IS NULL
  GROUP BY l.lab),
heads AS (
  SELECT l.v AS road_id, COALESCE(st.head_id, l.lab) AS head_id
  FROM lbl l LEFT JOIN starts st ON l.lab = st.label),
sizes AS (SELECT head_id, COUNT(*) AS n FROM heads GROUP BY head_id)
SELECT h.road_id, h.head_id, CAST(s.n AS BIGINT) AS chain_len
FROM heads h JOIN sizes s ON h.head_id = s.head_id
""",
)
def road_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1 — two-vertex roads over a 300-node universe (shared endpoints →
    real merge graph with contention); fixpoint label propagation. Output:
    (road_id, head_id) + per-head merged sizes.

    Oracle: recursive-CTE re-derivation (reference osm2mp.pl:596-661) —
    candidate junction edges, two-sided functionalization (best cosine,
    ties by id), min-label reachability closure over the undirected
    functional graph, head = the component's no-predecessor road (min id)
    or its min label on cycles."""
    # single-row-group sf parquet → one scan task; spread the dimension-
    # scale road set so the candidate self-join parallelizes
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    roads = o.selectExpr(
        "CAST(o_orderkey AS BIGINT) AS road_id",
        "o_orderpriority AS attrs",
        "array("
        f" struct({derived_lon_sql('o_orderkey % 300')} AS lon,"
        f"        {derived_lat_sql('o_orderkey % 300')} AS lat),"
        f" struct({derived_lon_sql('(o_orderkey + 1) % 300')} AS lon,"
        f"        {derived_lat_sql('(o_orderkey + 1) % 300')} AS lat)"
        ") AS chain",
    )
    labels = merge_roads(roads)
    sizes = labels.groupBy("head_id").agg(F.count("*").alias("chain_len"))
    return labels.join(sizes, "head_id").select("road_id", "head_id", "chain_len")


def sea_chain_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sf-scaling coastline set derived from orders:
    - every 20th order → an OPEN 5-vertex coastline heading east from its
      derived position (6°/step, ±1.5° deterministic wiggle);
    - every 50th order → a closed CW 2°×2° lake;
    - every 100th order → a CCW 1°×1° island inside that lake.
    Output vertex rows (chain_id, seq, lon, lat, closed)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = o.selectExpr(
        "CAST(o_orderkey AS BIGINT) AS okey",
        f"{derived_lon_sql('o_orderkey')} AS lon0",
        f"{derived_lat_sql('o_orderkey')} AS lat0",
    )
    coast = base.filter("okey % 20 = 0").select(
        F.expr("okey * 10").alias("chain_id"),
        F.posexplode(
            F.expr(
                "transform(sequence(0, 4), i -> struct("
                "  least(lon0 + i * 6.0, 179.9) AS lon,"
                "  greatest(least(lat0 + (okey * (i + 1)) % 7 * 0.5 - 1.5,"
                "           84.9), -84.9) AS lat))"
            )
        ).alias("seq", "p"),
        F.lit(False).alias("closed"),
    ).select("chain_id", "seq", "p.lon", "p.lat", "closed")
    def _closed_ring(suffix: int, dxs: str, dys: str):
        return base.filter(
            f"okey % {50 if suffix == 1 else 100} = 0"
        ).select(
            F.expr(f"okey * 10 + {suffix}").alias("chain_id"),
            F.posexplode(
                F.expr(
                    "transform(sequence(0, 4), i -> struct("
                    f"  least(lon0, 177.0) + element_at(array({dxs}), i + 1) AS lon,"
                    f"  least(lat0, 82.0) + element_at(array({dys}), i + 1) AS lat))"
                )
            ).alias("seq", "p"),
            F.lit(True).alias("closed"),
        ).select("chain_id", "seq", "p.lon", "p.lat", "closed")

    # lake: CW 2°×2° rectangle; island: CCW 1°×1° inside it
    lake = _closed_ring(1, "0.0D, 0.0D, 2.0D, 2.0D, 0.0D",
                        "0.0D, 2.0D, 2.0D, 0.0D, 0.0D")
    isle = _closed_ring(2, "0.5D, 1.5D, 1.5D, 0.5D, 0.5D",
                        "0.5D, 0.5D, 1.5D, 1.5D, 0.5D")
    return coast.unionByName(lake).unionByName(isle)


@register("sea_synthesis", oracle=golden_oracle("sea_synthesis"))
def sea_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10-G12 at scale — sf-scaling coastline chains synthesized from
    orders, water synthesis run PER TILE inside applyInPandas against each
    tile's own bbox (the per-tile path lib/Coastlines.pm runs per map).
    Open chains replicate to every tile they touch (closure — the crossing
    math needs the outside vertices); closed rings go to their first
    vertex's tile. Geometry never shuffles except the one tile grouping."""
    from ..operators.coastlines import synthesize_water_per_tile
    from ..operators.tiles import assign_tiles_grid

    pts = sea_chain_vertices(spark, sf_dir)
    tiled = assign_tiles_grid(pts, nx=8, ny=8)
    # open chains replicate to every tile any SEGMENT touches — a segment
    # can cross a tile containing neither endpoint (corner-to-corner), so
    # vertex tiles alone under-replicate. Tile set per segment = all grid
    # cells overlapping the segment bbox (a safe over-approximation:
    # a chain clipped against a tile it doesn't enter yields no runs).
    from pyspark.sql import Window as _W

    w = _W.partitionBy("chain_id").orderBy("seq")
    segs = (
        pts.filter(~F.col("closed"))
        .withColumn("lon2", F.lead("lon").over(w))
        .withColumn("lat2", F.lead("lat").over(w))
        .filter(F.col("lon2").isNotNull())
    )

    def _ti(c: str, lo: float, width: float, n: int) -> str:
        return (
            f"LEAST({n - 1}, GREATEST(0, "
            f"CAST(FLOOR(({c} - {lo!r}) / {width!r}) AS INT)))"
        )

    open_tiles = (
        segs.selectExpr(
            "chain_id",
            f"{_ti('least(lon, lon2)', -180.0, 45.0, 8)} AS ix0",
            f"{_ti('greatest(lon, lon2)', -180.0, 45.0, 8)} AS ix1",
            f"{_ti('least(lat, lat2)', -90.0, 22.5, 8)} AS iy0",
            f"{_ti('greatest(lat, lat2)', -90.0, 22.5, 8)} AS iy1",
        )
        .select(
            "chain_id",
            F.explode(F.expr("sequence(ix0, ix1)")).alias("ix"),
            F.col("iy0"),
            F.col("iy1"),
        )
        .select(
            "chain_id",
            "ix",
            F.explode(F.expr("sequence(iy0, iy1)")).alias("iy"),
        )
        .selectExpr("chain_id", "CAST(iy * 8 + ix AS INT) AS tile_id")
        .distinct()
    )
    closed_tiles = (
        tiled.filter(F.col("closed") & (F.col("seq") == 0))
        .select("chain_id", "tile_id")
    )
    chain_tiles = open_tiles.unionByName(closed_tiles)
    full = pts.join(chain_tiles, "chain_id").select(
        "tile_id", "chain_id", "seq", "lon", "lat"
    )
    return synthesize_water_per_tile(full, nx=8, ny=8)


@register("bsp_tiles", oracle=golden_oracle("bsp_tiles"))
def bsp_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3/J13 — build the BSP tile tree from the SPARK A4 density histogram
    (√count-weighted splits over cell counts; the driver sees O(cells),
    never raw points — _old/splitter.pl:104-143), broadcast it, assign
    every customer point, count per tile. Byte-identical at any
    parallelism (BASELINE.md determinism check)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("bigint").alias("point_id")
    )
    from ..operators.tiles import build_bsp_tiles_spark
    from ..sources.points import with_derived_position

    pts = with_derived_position(cust, "point_id")
    tree = build_bsp_tiles_spark(pts, nodes_per_tile_frac=32, min_tile_nodes=32)
    return (
        assign_tiles_bsp(pts, tree)
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_points"), F.min("point_id").alias("min_point"))
    )


# ---------------------------------------------------------------------------
# G6: generic contour-group nesting (osm2mp.pl:1752-1764)
# ---------------------------------------------------------------------------

@register(
    "contour_nesting",
    oracle=f"""
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS rel_id, o_orderkey AS okey
  FROM orders WHERE o_orderkey % 4 = 0)
SELECT rel_id, CAST(0 AS INT) AS contour_no, CAST(0 AS INT) AS polygon_no,
       FALSE AS is_inner FROM base
UNION ALL
SELECT rel_id, 1, 0, TRUE FROM base WHERE okey % 2 = 0
UNION ALL
SELECT rel_id, 2, 0, TRUE FROM base WHERE okey % 3 = 0
UNION ALL
SELECT rel_id, 3, 1, FALSE FROM base WHERE okey % 5 = 0
""",
)
def contour_nesting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — generic contour-group nesting (osm2mp.pl:1752-1764): the first
    remaining contour opens a polygon; later contours whose first vertex
    lies inside it become its inner rings; non-contained contours open the
    next polygon. Spark side runs the GENERIC per-relation kernel
    (grouped_map_in_pandas); the oracle is the hand-specified grouping of
    the synthetic contour sets (big square + up to two contained inners +
    one disjoint square)."""
    from ..operators.rings import nest_contours

    def square(fx: str, fy: str, s: float) -> str:
        corners = [
            (fx, fy),
            (f"{fx} + {s}", fy),
            (f"{fx} + {s}", f"{fy} + {s}"),
            (fx, f"{fy} + {s}"),
            (fx, fy),
        ]
        return "array(" + ", ".join(
            f"struct({x} AS lon, {y} AS lat)" for x, y in corners
        ) + ")"

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_orderkey % 4 = 0"
    )
    base = o.selectExpr(
        "CAST(o_orderkey AS BIGINT) AS rel_id",
        "o_orderkey AS okey",
        f"least(greatest({derived_lon_sql('o_orderkey')}, -170.0), 160.0) AS lon0",
        f"least(greatest({derived_lat_sql('o_orderkey')}, -75.0), 75.0) AS lat0",
    )
    c0 = base.selectExpr(
        "rel_id", "CAST(0 AS INT) AS contour_no",
        square("(lon0 - 3.0)", "(lat0 - 3.0)", 6.0) + " AS ring",
    )
    c1 = base.filter("okey % 2 = 0").selectExpr(
        "rel_id", "CAST(1 AS INT) AS contour_no",
        square("(lon0 - 1.5)", "(lat0 - 0.5)", 1.0) + " AS ring",
    )
    c2 = base.filter("okey % 3 = 0").selectExpr(
        "rel_id", "CAST(2 AS INT) AS contour_no",
        square("(lon0 + 0.5)", "(lat0 - 0.5)", 1.0) + " AS ring",
    )
    c3 = base.filter("okey % 5 = 0").selectExpr(
        "rel_id", "CAST(3 AS INT) AS contour_no",
        square("(lon0 + 5.0)", "(lat0 - 0.5)", 1.0) + " AS ring",
    )
    contours = c0.unionByName(c1).unionByName(c2).unionByName(c3)
    return nest_contours(contours)
