"""Relation-join + graph-expansion queries (SURVEY §2.4 J1/J6/J8/J9,
§2.8 I5-I7, J14 redistribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.tiles import grid_tile_expr, redistribute_nodes
from ..sources.points import derived_lat_sql, derived_lon_sql
from . import register

from ..sources.points import LINEITEM_SEQ_SQL as _SEQ, LINEITEM_VKEY_SQL as _VK


# ---------------------------------------------------------------------------
# J1: way→node coordinate resolution — THE sort-merge join the north star
# names. Chains reference node ids; node geometry lives in a separate table.
# ---------------------------------------------------------------------------

@register(
    "way_node_resolution",
    oracle=f"""
WITH nodes AS (
  SELECT CAST(p_partkey AS BIGINT) AS node_id,
         {derived_lon_sql('p_partkey')} AS lon,
         {derived_lat_sql('p_partkey')} AS lat
  FROM part),
refs AS (
  SELECT CAST(l_orderkey AS BIGINT) AS chain_id, {_SEQ} AS seq,
         CAST(l_partkey AS BIGINT) AS node_id
  FROM lineitem)
SELECT r.chain_id, r.seq, r.node_id, n.lon, n.lat
FROM refs r JOIN nodes n ON r.node_id = n.node_id
""",
)
def way_node_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — get_lonlat(chain): exploded node refs ⋈ node geometry, forced
    sort-merge (both sides fact-scale at 10^12; broadcast would not fit)."""
    nodes = spark.read.parquet(f"{sf_dir}/part.parquet").selectExpr(
        "CAST(p_partkey AS BIGINT) AS node_id",
        f"{derived_lon_sql('p_partkey')} AS lon",
        f"{derived_lat_sql('p_partkey')} AS lat",
    )
    refs = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "CAST(l_orderkey AS BIGINT) AS chain_id",
        f"{_SEQ} AS seq",
        "CAST(l_partkey AS BIGINT) AS node_id",
    )
    return refs.join(nodes.hint("merge"), "node_id").select(
        "chain_id", "seq", "node_id", "lon", "lat"
    )


# ---------------------------------------------------------------------------
# J6 + O8: POI × building containment with leftover pass
# ---------------------------------------------------------------------------

_BLD = f"""
buildings AS (
  SELECT CAST(s_suppkey AS BIGINT) AS building_id,
         {derived_lon_sql('s_suppkey * 7 + 3')} AS cx,
         {derived_lat_sql('s_suppkey * 7 + 3')} AS cy,
         2.0 + s_suppkey % 4 AS half
  FROM supplier),
pois AS (
  SELECT CAST(c_custkey AS BIGINT) AS poi_id,
         {derived_lon_sql('c_custkey')} AS lon,
         {derived_lat_sql('c_custkey')} AS lat
  FROM customer)
"""


@register(
    "poi_building_match",
    oracle=f"""
WITH {_BLD},
hits AS (
  SELECT p.poi_id, b.building_id, b.half,
         ROW_NUMBER() OVER (PARTITION BY p.poi_id ORDER BY b.half, b.building_id) AS rn
  FROM pois p JOIN buildings b
    ON p.lon >= b.cx - b.half AND p.lon <= b.cx + b.half
   AND p.lat >= b.cy - b.half AND p.lat <= b.cy + b.half)
SELECT p.poi_id,
       COALESCE(CAST(h.building_id AS VARCHAR), '-') AS building_id,
       (h.building_id IS NULL) AS leftover
FROM pois p LEFT JOIN (SELECT poi_id, building_id FROM hits WHERE rn = 1) h
  ON p.poi_id = h.poi_id
""",
)
def poi_building_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — POIs claimed by the smallest containing building (address
    inheritance, osm2mp.pl:2183-2210); unmatched POIs emitted as the
    leftover pass (O8 anti-join, :530-544)."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").selectExpr(
        "CAST(s_suppkey AS BIGINT) AS building_id",
        f"{derived_lon_sql('s_suppkey * 7 + 3')} AS cx",
        f"{derived_lat_sql('s_suppkey * 7 + 3')} AS cy",
        "2.0 + s_suppkey % 4 AS half",
    )
    pois = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "CAST(c_custkey AS BIGINT) AS poi_id",
        f"{derived_lon_sql('c_custkey')} AS lon",
        f"{derived_lat_sql('c_custkey')} AS lat",
    )
    hits = (
        pois.join(
            F.broadcast(sup),
            (F.col("lon") >= F.col("cx") - F.col("half"))
            & (F.col("lon") <= F.col("cx") + F.col("half"))
            & (F.col("lat") >= F.col("cy") - F.col("half"))
            & (F.col("lat") <= F.col("cy") + F.col("half")),
        )
        .groupBy("poi_id")
        .agg(
            F.min_by(
                "building_id", F.struct(F.col("half"), F.col("building_id"))
            ).alias("building_id")
        )
    )
    return pois.join(hits, "poi_id", "left").select(
        "poi_id",
        F.coalesce(F.col("building_id").cast("string"), F.lit("-")).alias(
            "building_id"
        ),
        F.col("building_id").isNull().alias("leftover"),
    )


# ---------------------------------------------------------------------------
# J8: street-relation tag propagation (members inherit relation tags)
# ---------------------------------------------------------------------------

@register(
    "street_relation_tags",
    oracle="""
SELECT CAST(c.c_custkey AS BIGINT) AS member_id,
       n.n_name AS street,
       r.r_name AS region,
       CONCAT(n.n_name, ' / ', r.r_name) AS addr_tag
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
""",
)
def street_relation_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — house members inherit street-relation tags
    (osm2mp.pl:397-452): member ⋈ relation ⋈ parent, tag merge."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("c_custkey").cast("bigint").alias("member_id"),
            F.col("n_name").alias("street"),
            F.col("r_name").alias("region"),
            F.concat(F.col("n_name"), F.lit(" / "), F.col("r_name")).alias("addr_tag"),
        )
    )


# ---------------------------------------------------------------------------
# J9/A8: route-shield refs accumulated onto member ways, deduped + sorted
# ---------------------------------------------------------------------------

@register(
    "route_refs",
    oracle="""
SELECT CAST(l_orderkey AS BIGINT) AS way_id,
       STRING_AGG(DISTINCT 'R' || CAST(l_suppkey % 20 AS VARCHAR), ';'
                  ORDER BY 'R' || CAST(l_suppkey % 20 AS VARCHAR)) AS refs
FROM lineitem GROUP BY 1
""",
)
def route_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 + A8 — shield refs from route relations merged & deduped onto the
    way (uniq sort, osm2mp.pl:2056-2063)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(
            F.col("l_orderkey").cast("bigint").alias("way_id"),
            F.concat(F.lit("R"), (F.col("l_suppkey") % 20).cast("string")).alias("ref"),
        )
        .groupBy("way_id")
        .agg(F.array_join(F.array_sort(F.collect_set("ref")), ";").alias("refs"))
    )


# ---------------------------------------------------------------------------
# I6: barrier → all-pairs turn restrictions at the node
# ---------------------------------------------------------------------------

# shared vertex-position model for the restriction family: ways are
# lineitem chains, `pos` is the 0-based vertex index (ROW_NUMBER over the
# canonical seq key), first_index semantics = MIN(pos) per (way, node).
_VERTS_CTE = f"""
verts AS (
  SELECT CAST(l_orderkey AS BIGINT) AS way_id,
         CAST(l_partkey AS BIGINT) AS node_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY {_SEQ})
              - 1 AS BIGINT) AS pos
  FROM lineitem),
lens AS (SELECT way_id, CAST(COUNT(*) AS BIGINT) AS len
         FROM verts GROUP BY way_id),
nw AS (SELECT way_id, node_id, MIN(pos) AS pos
       FROM verts GROUP BY way_id, node_id)
"""


def _verts_df(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "CAST(l_orderkey AS BIGINT) AS way_id",
        "CAST(l_partkey AS BIGINT) AS node_id",
        f"{_SEQ} AS seq",
    )
    w = Window.partitionBy("way_id").orderBy("seq")
    verts = li.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("bigint")
    ).drop("seq")
    lens = verts.groupBy("way_id").agg(F.count("*").cast("bigint").alias("len"))
    nwp = verts.groupBy("way_id", "node_id").agg(F.min("pos").alias("pos"))
    return verts, lens, nwp


@register(
    "barrier_restrictions",
    oracle=f"""
WITH {_VERTS_CTE},
bar AS (
  SELECT n.way_id, n.node_id, n.pos, l.len
  FROM nw n JOIN lens l ON n.way_id = l.way_id
  WHERE n.node_id % 50 = 0),
dirs AS (SELECT UNNEST([CAST(-1 AS INT), CAST(1 AS INT)]) AS d)
SELECT a.node_id, a.way_id AS from_way, a.pos AS fr_pos, df.d AS fr_dir,
       b.way_id AS to_way, b.pos AS to_pos, dt.d AS to_dir
FROM bar a JOIN bar b ON a.node_id = b.node_id
CROSS JOIN dirs df CROSS JOIN dirs dt
WHERE NOT (df.d = -1 AND a.pos = a.len - 1)
  AND NOT (df.d = 1  AND a.pos = 0)
  AND NOT (dt.d = -1 AND b.pos = 0)
  AND NOT (dt.d = 1  AND b.pos = b.len - 1)
  AND NOT (a.way_id = b.way_id AND df.d = -dt.d)
""",
)
def barrier_restrictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 full form (osm2mp.pl:1038-1071): each barrier node emits a no-go
    for every feasible (from_way, fr_dir, to_way, to_dir) combination
    through it — directions that would start past the chain end are
    dropped (:1052-1053, :1060-1061), and the PASS-THROUGH movement
    (same way, opposite dir signs, i.e. driving straight across the
    barrier's own way) is exempt (:1062). Node groups are tiny so the
    within-node cross join is safe; the node equi-join is the scale key."""
    _, lens, nwp = _verts_df(spark, sf_dir)
    bar = (
        nwp.filter("node_id % 50 = 0")
        .join(lens, "way_id")
        .select("way_id", "node_id", "pos", "len")
    )
    dirs = spark.range(2).selectExpr("CAST(id * 2 - 1 AS INT) AS d")
    a = bar.alias("a")
    b = bar.alias("b")
    df_ = dirs.selectExpr("d AS fr_dir")
    dt_ = dirs.selectExpr("d AS to_dir")
    return (
        a.join(b, F.col("a.node_id") == F.col("b.node_id"))
        .crossJoin(F.broadcast(df_))
        .crossJoin(F.broadcast(dt_))
        .filter(
            ~((F.col("fr_dir") == -1) & (F.col("a.pos") == F.col("a.len") - 1))
            & ~((F.col("fr_dir") == 1) & (F.col("a.pos") == 0))
            & ~((F.col("to_dir") == -1) & (F.col("b.pos") == 0))
            & ~((F.col("to_dir") == 1) & (F.col("b.pos") == F.col("b.len") - 1))
            & ~(
                (F.col("a.way_id") == F.col("b.way_id"))
                & (F.col("fr_dir") == -F.col("to_dir"))
            )
        )
        .select(
            F.col("a.node_id").alias("node_id"),
            F.col("a.way_id").alias("from_way"),
            F.col("a.pos").alias("fr_pos"),
            "fr_dir",
            F.col("b.way_id").alias("to_way"),
            F.col("b.pos").alias("to_pos"),
            "to_dir",
        )
    )


# ---------------------------------------------------------------------------
# J7: POI placement at the main-entrance node
# ---------------------------------------------------------------------------

_RING_N = 6


@register(
    "entrance_poi",
    oracle=f"""
WITH blds AS (
  SELECT CAST(o_orderkey AS BIGINT) AS building_id,
         LIST_TRANSFORM(RANGE(0, {_RING_N}),
           i -> CAST((o_custkey * 7 + i * 13) % 2000 + 1 AS BIGINT)) AS ring
  FROM orders),
cent AS (
  SELECT building_id, ring,
         LIST_SUM(LIST_TRANSFORM(ring, n -> {derived_lon_sql('n')}))
           / {_RING_N} AS clon,
         LIST_SUM(LIST_TRANSFORM(ring, n -> {derived_lat_sql('n')}))
           / {_RING_N} AS clat
  FROM blds),
rings AS (
  SELECT building_id, UNNEST(ring) AS node_id,
         UNNEST(range(0, {_RING_N})) AS pos
  FROM blds),
entr AS (
  SELECT CAST(p_partkey AS BIGINT) AS node_id FROM part
  WHERE p_partkey % 23 = 0),
hit AS (
  SELECT r.building_id, MIN_BY(r.node_id, r.pos) AS entrance_node
  FROM rings r JOIN entr e ON r.node_id = e.node_id
  GROUP BY r.building_id)
SELECT c.building_id,
       h.entrance_node,
       CASE WHEN h.entrance_node IS NOT NULL THEN 'entrance'
            ELSE 'centroid' END AS placement,
       CASE WHEN h.entrance_node IS NOT NULL
            THEN {derived_lon_sql('h.entrance_node')} ELSE c.clon END AS lon,
       CASE WHEN h.entrance_node IS NOT NULL
            THEN {derived_lat_sql('h.entrance_node')} ELSE c.clat END AS lat
FROM cent c LEFT JOIN hit h ON c.building_id = h.building_id
""",
)
def entrance_poi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (osm2mp.pl:2230-2243, 2294-2298): an area POI is placed at the
    FIRST outline node present in the main_entrance set (ring order),
    falling back to the outline centroid. Explode ring → broadcast-join
    the entrance node set → min_by(node, pos) picks the first match.

    Centroid exactness: the sum folds the ring ARRAY in element order on
    both engines (array fold, not a groupBy sum whose partial order could
    differ), so the doubles are bit-identical."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    blds = o.select(
        F.col("o_orderkey").cast("bigint").alias("building_id"),
        F.expr(
            f"transform(sequence(0, {_RING_N - 1}), "
            f"i -> CAST((o_custkey * 7 + i * 13) % 2000 + 1 AS BIGINT))"
        ).alias("ring"),
    )
    cent = blds.select(
        "building_id",
        "ring",
        F.expr(
            f"aggregate(ring, CAST(0 AS DOUBLE), "
            f"(a, n) -> a + {derived_lon_sql('n')}) / {_RING_N}"
        ).alias("clon"),
        F.expr(
            f"aggregate(ring, CAST(0 AS DOUBLE), "
            f"(a, n) -> a + {derived_lat_sql('n')}) / {_RING_N}"
        ).alias("clat"),
    )
    rings = blds.select(
        "building_id", F.posexplode("ring").alias("pos", "node_id")
    )
    from ..plans.hints import maybe_broadcast
    from ..sources.parquet_footers import rowgroup_stats

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    entr = part.filter("p_partkey % 23 = 0").select(
        F.col("p_partkey").cast("bigint").alias("node_id")
    )
    # entrance nodes are FACT-derived (~1/23 of parts), so the broadcast is
    # size-gated; the estimate comes from parquet footers (driver-side, no
    # job) so query construction stays lazy
    stats = rowgroup_stats(f"{sf_dir}/part.parquet")
    est = None if stats is None else stats[0] // 23 + 1
    hit = (
        rings.join(maybe_broadcast(entr, est_rows=est), "node_id")
        .groupBy("building_id")
        .agg(F.min_by("node_id", "pos").alias("entrance_node"))
    )
    return cent.join(hit, "building_id", "left").select(
        "building_id",
        "entrance_node",
        F.when(F.col("entrance_node").isNotNull(), F.lit("entrance"))
        .otherwise(F.lit("centroid"))
        .alias("placement"),
        F.when(
            F.col("entrance_node").isNotNull(),
            F.expr(derived_lon_sql("entrance_node")),
        )
        .otherwise(F.col("clon"))
        .alias("lon"),
        F.when(
            F.col("entrance_node").isNotNull(),
            F.expr(derived_lat_sql("entrance_node")),
        )
        .otherwise(F.col("clat"))
        .alias("lat"),
    )


# ---------------------------------------------------------------------------
# I5: only_* → no_* restriction expansion
# ---------------------------------------------------------------------------

@register(
    "only_restrictions",
    oracle=f"""
WITH {_VERTS_CTE},
thru AS (
  SELECT n.node_id, n.way_id, n.pos, l.len,
         (n.way_id % 3 = 0) AS oneway
  FROM nw n JOIN lens l ON n.way_id = l.way_id
  WHERE n.node_id % 7 = 0),
tr AS (
  SELECT node_id, MIN(way_id) AS only_to_way,
         CASE WHEN node_id % 2 = 0 THEN 1 ELSE -1 END AS only_to_dir
  FROM thru GROUP BY node_id HAVING COUNT(*) >= 2)
SELECT t.node_id, h.way_id AS to_way, h.pos AS to_pos, CAST(1 AS INT) AS to_dir
FROM tr t JOIN thru h ON t.node_id = h.node_id
WHERE h.pos < h.len - 1
  AND NOT (h.way_id = t.only_to_way AND t.only_to_dir = 1)
UNION ALL
SELECT t.node_id, h.way_id, h.pos, CAST(-1 AS INT)
FROM tr t JOIN thru h ON t.node_id = h.node_id
WHERE h.pos > 0
  AND NOT (h.way_id = t.only_to_way AND t.only_to_dir = -1)
  AND NOT h.oneway
""",
)
def only_restrictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5 (osm2mp.pl:1000-1031): an `only_*` restriction expands into `no`
    restrictions toward every OTHER movement through the via node — one
    forward row per through-way unless it IS the permitted (way, dir=1)
    and the node isn't the way's last vertex (:1004-1010), one backward
    row unless permitted (way, dir=-1), the node isn't the first vertex,
    and the way isn't oneway (:1012-1018)."""
    _, lens, nwp = _verts_df(spark, sf_dir)
    thru = (
        nwp.filter("node_id % 7 = 0")
        .join(lens, "way_id")
        .withColumn("oneway", F.expr("way_id % 3 = 0"))
    )
    tr = (
        thru.groupBy("node_id")
        .agg(F.min("way_id").alias("only_to_way"), F.count("*").alias("nways"))
        .filter("nways >= 2")
        .withColumn(
            "only_to_dir",
            F.expr("CASE WHEN node_id % 2 = 0 THEN 1 ELSE -1 END"),
        )
        .select("node_id", "only_to_way", "only_to_dir")
    )
    j = tr.join(thru, "node_id")
    fwd = j.filter(
        (F.col("pos") < F.col("len") - 1)
        & ~((F.col("way_id") == F.col("only_to_way")) & (F.col("only_to_dir") == 1))
    ).select(
        "node_id",
        F.col("way_id").alias("to_way"),
        F.col("pos").alias("to_pos"),
        F.lit(1).cast("int").alias("to_dir"),
    )
    bwd = j.filter(
        (F.col("pos") > 0)
        & ~((F.col("way_id") == F.col("only_to_way")) & (F.col("only_to_dir") == -1))
        & ~F.col("oneway")
    ).select(
        "node_id",
        F.col("way_id").alias("to_way"),
        F.col("pos").alias("to_pos"),
        F.lit(-1).cast("int").alias("to_dir"),
    )
    return fwd.unionByName(bwd)


# ---------------------------------------------------------------------------
# J11: positional restriction re-binding to split road parts
# ---------------------------------------------------------------------------

_PART_LEN = 8  # break every 8 vertices (scaled-down max_road_nodes)


@register(
    "restriction_rebind",
    oracle=f"""
WITH {_VERTS_CTE},
parts AS (
  SELECT way_id, CAST(g.p AS BIGINT) AS part_no,
         CAST({_PART_LEN} * g.p AS BIGINT) AS b_start,
         LEAST(CAST({_PART_LEN} * (g.p + 1) AS BIGINT), len - 1) AS b_end
  FROM lens, UNNEST(range(0, CAST(GREATEST(CEIL((len - 1) / {_PART_LEN}.0), 1)
                             AS BIGINT))) AS g(p)),
rsel AS (
  SELECT way_id, len, CAST(FLOOR((len - 1) / 2) AS BIGINT) AS mid
  FROM lens WHERE way_id % 11 = 0),
trs AS (
  SELECT way_id * 100 + 1 AS rel_id, way_id, mid AS pos, 'fr' AS kind,
         CASE WHEN way_id % 2 = 0 THEN 1 ELSE -1 END AS dir FROM rsel
  UNION ALL
  SELECT way_id * 100 + 2, way_id, mid, 'to',
         CASE WHEN way_id % 2 = 0 THEN -1 ELSE 1 END FROM rsel
  UNION ALL
  SELECT way_id * 100 + 3, way_id, CAST(0 AS BIGINT), 'to', 1 FROM rsel
  UNION ALL
  SELECT way_id * 100 + 4, way_id, len - 1, 'fr', 1 FROM rsel),
offs AS (
  SELECT *, CASE WHEN (kind = 'to' AND dir = 1) OR (kind = 'fr' AND dir = -1)
                 THEN 1 ELSE 0 END AS off
  FROM trs)
SELECT t.rel_id, t.kind, t.way_id, p.part_no,
       t.pos - p.b_start AS new_pos, CAST(t.dir AS INT) AS dir
FROM offs t JOIN parts p ON t.way_id = p.way_id
 AND t.pos > p.b_start - t.off AND t.pos <= p.b_end - t.off
""",
)
def restriction_rebind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (osm2mp.pl:781-801): after max-nodes splitting, each turn
    restriction re-binds to the split part owning its (pos, dir) movement
    — the reference's range rule `pos > b_i - (1+to_dir)/2 AND pos <=
    b_{{i+1}} - (1+to_dir)/2` for TO movements and the (fr_dir-1)/2 offset
    for FROM, with new_pos = pos - b_start. Parts share break vertices,
    so the dir sign decides which side of a boundary owns the movement.
    The parts join is way_id-keyed (equi) with a tiny residual range —
    never more than ceil(len/{_PART_LEN}) parts per way."""
    _, lens, _ = _verts_df(spark, sf_dir)
    parts = lens.select(
        "way_id",
        "len",
        F.explode(
            F.expr(
                f"sequence(0, CAST(GREATEST(CEIL((len - 1) / {_PART_LEN}.0), 1)"
                f" AS BIGINT) - 1)"
            )
        ).alias("part_no"),
    ).select(
        "way_id",
        F.col("part_no").cast("bigint"),
        (F.lit(_PART_LEN) * F.col("part_no")).cast("bigint").alias("b_start"),
        F.least(
            (F.lit(_PART_LEN) * (F.col("part_no") + 1)).cast("bigint"),
            F.col("len") - 1,
        ).alias("b_end"),
    )
    rsel = lens.filter("way_id % 11 = 0").select(
        "way_id", "len", F.expr("CAST(FLOOR((len - 1) / 2) AS BIGINT)").alias("mid")
    )
    trs = (
        rsel.selectExpr("way_id * 100 + 1 AS rel_id", "way_id", "mid AS pos",
                        "'fr' AS kind",
                        "CASE WHEN way_id % 2 = 0 THEN 1 ELSE -1 END AS dir")
        .unionByName(
            rsel.selectExpr("way_id * 100 + 2 AS rel_id", "way_id",
                            "mid AS pos", "'to' AS kind",
                            "CASE WHEN way_id % 2 = 0 THEN -1 ELSE 1 END AS dir")
        )
        .unionByName(
            rsel.selectExpr("way_id * 100 + 3 AS rel_id", "way_id",
                            "CAST(0 AS BIGINT) AS pos", "'to' AS kind",
                            "1 AS dir")
        )
        .unionByName(
            rsel.selectExpr("way_id * 100 + 4 AS rel_id", "way_id",
                            "len - 1 AS pos", "'fr' AS kind", "1 AS dir")
        )
        .withColumn(
            "off",
            F.expr(
                "CASE WHEN (kind = 'to' AND dir = 1) OR (kind = 'fr' AND dir = -1)"
                " THEN 1 ELSE 0 END"
            ),
        )
    )
    return (
        trs.alias("t")
        .join(
            parts.alias("p"),
            (F.col("t.way_id") == F.col("p.way_id"))
            & (F.col("t.pos") > F.col("p.b_start") - F.col("t.off"))
            & (F.col("t.pos") <= F.col("p.b_end") - F.col("t.off")),
        )
        .select(
            "rel_id",
            "kind",
            F.col("t.way_id").alias("way_id"),
            "part_no",
            (F.col("t.pos") - F.col("p.b_start")).alias("new_pos"),
            F.col("dir").cast("int").alias("dir"),
        )
    )


# ---------------------------------------------------------------------------
# I7: u-turn suppression at 2-way nodes
# ---------------------------------------------------------------------------

@register(
    "uturn_suppression",
    oracle="""
WITH nw AS (
  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS node_id,
         CAST(l_orderkey AS BIGINT) AS way_id
  FROM lineitem WHERE l_orderkey % 37 = 0),
deg AS (SELECT node_id, COUNT(*) AS n, MIN(way_id) AS w1, MAX(way_id) AS w2
        FROM nw GROUP BY node_id)
SELECT node_id, w1 AS way_a, w2 AS way_b
FROM deg WHERE n = 2
""",
)
def uturn_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7 — nodes shared by exactly two ways get a no-u-turn pair
    (osm2mp.pl:821-867)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nw = (
        li.filter("l_orderkey % 37 = 0")
        .select(
            F.col("l_partkey").cast("bigint").alias("node_id"),
            F.col("l_orderkey").cast("bigint").alias("way_id"),
        ).distinct()
    )
    return (
        nw.groupBy("node_id")
        .agg(F.count("*").alias("n"), F.min("way_id").alias("way_a"),
             F.max("way_id").alias("way_b"))
        .filter("n = 2")
        .select("node_id", "way_a", "way_b")
    )


# ---------------------------------------------------------------------------
# J14b: node redistribution after chain→tile closure
# ---------------------------------------------------------------------------

@register(
    "tile_redistribute",
    oracle=f"""
WITH pts AS (
  SELECT CAST(l_orderkey AS BIGINT) AS chain_id,
         (CAST(l_partkey AS BIGINT) * 10 + l_linenumber) AS point_id,
         {derived_lon_sql('(CAST(l_partkey AS BIGINT) * 10 + l_linenumber)')} AS lon,
         {derived_lat_sql('(CAST(l_partkey AS BIGINT) * 10 + l_linenumber)')} AS lat
  FROM lineitem),
tiled AS (SELECT chain_id, point_id,
                 CAST({grid_tile_expr('lon', 'lat')} AS INT) AS tile_id FROM pts),
chain_tiles AS (SELECT DISTINCT chain_id, tile_id FROM tiled),
pulled AS (
  SELECT t.point_id, ct.tile_id
  FROM tiled t JOIN chain_tiles ct ON t.chain_id = ct.chain_id)
SELECT DISTINCT point_id, tile_id FROM (
  SELECT point_id, tile_id FROM tiled
  UNION ALL SELECT point_id, tile_id FROM pulled)
""",
)
def tile_redistribute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 redistribution (splitter.pl:445-465): chains pull ALL their
    nodes into each of their tiles."""
    vk = _VK
    pts = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "CAST(l_orderkey AS BIGINT) AS chain_id",
        f"{vk} AS point_id",
        f"{derived_lon_sql(vk)} AS lon",
        f"{derived_lat_sql(vk)} AS lat",
    )
    tiled = pts.withColumn(
        "tile_id", F.expr(f"CAST({grid_tile_expr('lon', 'lat')} AS INT)")
    )
    chain_tiles = tiled.select("chain_id", "tile_id").distinct()
    return redistribute_nodes(tiled, chain_tiles)


# ---------------------------------------------------------------------------
# I4: iterated nested-relation closure (_old/splitter.pl:393-427)
# ---------------------------------------------------------------------------

@register(
    "nested_relation_closure",
    oracle=f"""
WITH RECURSIVE
nt AS (
  SELECT CAST(c_custkey AS BIGINT) AS node_id,
         CAST({grid_tile_expr(derived_lon_sql('c_custkey'),
                              derived_lat_sql('c_custkey'), 8, 8)} AS INT)
           AS tile_id
  FROM customer),
rm AS (
  SELECT CAST(o_orderkey AS BIGINT) AS rel_id,
         CAST(o_custkey AS BIGINT) AS node_id,
         CASE WHEN o_orderkey % 5 <> 0 AND o_orderkey > 1
              THEN CAST(o_orderkey - 1 AS BIGINT) END AS member_rel
  FROM orders),
ed AS (
  SELECT rel_id AS a, member_rel AS b FROM rm WHERE member_rel IS NOT NULL
  UNION ALL
  SELECT member_rel AS a, rel_id AS b FROM rm WHERE member_rel IS NOT NULL),
closure(rel_id, tile_id) AS (
  SELECT r.rel_id, n.tile_id FROM rm r JOIN nt n ON r.node_id = n.node_id
  UNION
  SELECT e.b, c.tile_id FROM closure c JOIN ed e ON e.a = c.rel_id)
SELECT DISTINCT rel_id, tile_id FROM closure
""",
)
def nested_relation_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4 — nested-relation → tile closure to fixpoint
    (_old/splitter.pl:393-427): a relation joins tiles of its members
    (upward through arbitrary nesting) and its member relations join the
    tiles the parent reached (downward, the objects_to_add push). Driver-
    bounded semi-join fixpoint; each round one distinct shuffle."""
    from ..operators.tiles import relation_tile_closure

    seed = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "CAST(c_custkey AS BIGINT) AS node_id",
        f"CAST({grid_tile_expr(derived_lon_sql('c_custkey'), derived_lat_sql('c_custkey'), 8, 8)} AS INT) AS tile_id",
    )
    members = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "CAST(o_orderkey AS BIGINT) AS rel_id",
        "CAST(o_custkey AS BIGINT) AS node_id",
        "CASE WHEN o_orderkey % 5 <> 0 AND o_orderkey > 1 "
        "THEN CAST(o_orderkey - 1 AS BIGINT) END AS member_rel",
    )
    return relation_tile_closure(members, seed)


# ---------------------------------------------------------------------------
# S3/S4: way + relation sanitation (lib/OSM.pm:210-251)
# ---------------------------------------------------------------------------

@register(
    "way_sanitation",
    oracle=f"""
WITH nodes AS (SELECT CAST(p_partkey AS BIGINT) AS node_id FROM part),
refs AS (
  SELECT CAST(l_orderkey AS BIGINT) AS way_id,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY {_SEQ}) AS pos,
         CAST((l_partkey % 60) * 40 + 1 AS BIGINT) AS node_id
  FROM lineitem),
existing AS (
  SELECT r.way_id, r.pos, r.node_id
  FROM refs r JOIN nodes n ON r.node_id = n.node_id),
deduped AS (
  SELECT way_id, pos, node_id,
         LAG(node_id) OVER (PARTITION BY way_id ORDER BY pos) AS prev_id
  FROM existing),
chain AS (
  SELECT way_id, node_id,
         ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos) AS new_pos
  FROM deduped WHERE prev_id IS NULL OR node_id <> prev_id),
sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY way_id) AS n FROM chain)
SELECT way_id, CAST(new_pos AS BIGINT) AS new_pos, node_id
FROM sized WHERE n >= 2
""",
)
def way_sanitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 (lib/OSM.pm:210-228, add_way): drop refs to non-existent nodes
    (semi-join against the node table), collapse CONSECUTIVE duplicate
    nodes (lag window), drop ways left with < 2 vertices. The existence
    check is the only join; dedupe + renumber ride the same per-way
    window partition."""
    nodes = spark.read.parquet(f"{sf_dir}/part.parquet").selectExpr(
        "CAST(p_partkey AS BIGINT) AS node_id"
    )
    refs = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "CAST(l_orderkey AS BIGINT) AS way_id",
        f"ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY {_SEQ}) AS pos",
        "CAST((l_partkey % 60) * 40 + 1 AS BIGINT) AS node_id",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("way_id").orderBy("pos")
    existing = refs.join(nodes, "node_id")
    chain = (
        existing.withColumn("prev_id", F.lag("node_id").over(w))
        .filter(F.col("prev_id").isNull() | (F.col("node_id") != F.col("prev_id")))
        .withColumn("new_pos", F.row_number().over(w).cast("bigint"))
    )
    wn = Window.partitionBy("way_id")
    return (
        chain.withColumn("n", F.count("*").over(wn))
        .filter("n >= 2")
        .select("way_id", "new_pos", "node_id")
    )


@register(
    "relation_sanitation",
    oracle="""
WITH nodes AS (SELECT CAST(c_custkey AS BIGINT) AS node_id FROM customer),
ways AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS way_id FROM lineitem),
rels AS (
  SELECT CAST(o_orderkey AS BIGINT) AS rel_id, o_orderkey AS okey,
         CAST(o_custkey * 2 AS BIGINT) AS node_ref,
         CAST(o_orderkey * 3 % 20000 AS BIGINT) AS way_ref
  FROM orders WHERE o_orderkey % 11 <> 0),
members AS (
  SELECT rel_id, 'node' AS kind, node_ref AS member_ref FROM rels
  UNION ALL
  SELECT rel_id, 'way', way_ref FROM rels WHERE okey % 2 = 0
  UNION ALL
  SELECT rel_id, 'relation', rel_id - 1 FROM rels WHERE okey % 3 = 0),
kept AS (
  SELECT m.rel_id, m.kind, m.member_ref
  FROM members m
  LEFT JOIN nodes n ON m.kind = 'node' AND m.member_ref = n.node_id
  LEFT JOIN ways w ON m.kind = 'way' AND m.member_ref = w.way_id
  WHERE m.kind = 'relation' OR n.node_id IS NOT NULL OR w.way_id IS NOT NULL)
SELECT rel_id, kind, member_ref FROM kept
""",
)
def relation_sanitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 (lib/OSM.pm:231-251, add_relation): untagged relations dropped
    (the %11 stand-in), node/way members kept only when the referenced
    object exists, relation-type members always kept (the reference's
    `relation => 1` branch); empty relations vanish naturally (no rows)."""
    nodes = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "CAST(c_custkey AS BIGINT) AS node_id"
    )
    ways = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("CAST(l_orderkey AS BIGINT) AS way_id")
        .distinct()
    )
    rels = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_orderkey % 11 <> 0"
    ).selectExpr(
        "CAST(o_orderkey AS BIGINT) AS rel_id",
        "o_orderkey AS okey",
        "CAST(o_custkey * 2 AS BIGINT) AS node_ref",
        "CAST(o_orderkey * 3 % 20000 AS BIGINT) AS way_ref",
    )
    members = (
        rels.selectExpr("rel_id", "'node' AS kind", "node_ref AS member_ref")
        .unionByName(
            rels.filter("okey % 2 = 0").selectExpr(
                "rel_id", "'way' AS kind", "way_ref AS member_ref"
            )
        )
        .unionByName(
            rels.filter("okey % 3 = 0").selectExpr(
                "rel_id", "'relation' AS kind", "rel_id - 1 AS member_ref"
            )
        )
    )
    node_ok = members.filter("kind = 'node'").join(
        nodes, members.member_ref == nodes.node_id
    ).select("rel_id", "kind", "member_ref")
    way_ok = members.filter("kind = 'way'").join(
        ways, members.member_ref == ways.way_id
    ).select("rel_id", "kind", "member_ref")
    rel_ok = members.filter("kind = 'relation'").select(
        "rel_id", "kind", "member_ref"
    )
    return node_ok.unionByName(way_ok).unionByName(rel_ok)
