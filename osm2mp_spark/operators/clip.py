"""Chain clipping to a boundary — G2/W4, the gaps-and-islands formulation.

The reference walks each chain and splits it into maximal inside-boundary
runs, keeping ONE outside vertex at each crossing end (osm2mp.pl:1821-1838,
`is_inside_bounds` :1197-1202; on-edge counts as inside). A single outside
vertex between two runs is kept by BOTH parts.

Spark-first design: per-vertex containment is a Column predicate — a bbox
test, or the ray-cast parity predicate `ring_inside_expr` for a general
ring (pure whole-stage codegen either way) — and the run segmentation is a
classic gaps-and-islands window over (chain_id ORDER BY seq):

    flag      = vertex inside/on-edge
    new_run   = flag AND NOT lag(flag)
    run_cum   = SUM(new_run) OVER (... ROWS UNBOUNDED PRECEDING)
    part_no   = run_cum                      for inside vertices
              | run_cum                      for outside vertex after a run
              | run_cum + 1                  for outside vertex before a run
    (an outside vertex may emit up to two rows — one per adjacent run)

Parts with fewer than 2 vertices are dropped (a clipped line needs ≥2 pts).
A part is a run plus its outside neighbours, so it has one vertex only
when it is a LONE inside vertex: both lag(flag) and lead(flag) are null
(a chain end, or a neighbour whose null coordinate leaves its flag null;
a null flag belongs to no part). An outside neighbour would join the
part. That rule drops the lone vertex in the per-vertex pass itself, so
no second window counts part sizes. No Python anywhere; one shuffle and one sort (the
window partition), which co-partition with any later per-chain stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def bbox_inside_expr(lon: str, lat: str, bbox: tuple[float, float, float, float]) -> str:
    """SQL predicate: point within [minlon,maxlon]×[minlat,maxlat] (closed —
    on-edge counts inside, matching the kernel's three-state >= 0)."""
    minlon, minlat, maxlon, maxlat = bbox
    return (
        f"({lon} >= {minlon!r} AND {lon} <= {maxlon!r} "
        f"AND {lat} >= {minlat!r} AND {lat} <= {maxlat!r})"
    )


def ring_inside_expr(lon: str, lat: str, ring, holes=()) -> str:
    """SQL predicate: ray-cast even-odd containment in an arbitrary simple
    ring (CONCAVE supported) minus holes — pure arithmetic, valid verbatim
    in Spark SQL and DuckDB, so the oracle twin is the same text. One CASE
    term per edge; keep rings small enough for the 64KB codegen limit
    (≲60 edges — beyond that use `pip_resolve`, the Arrow PIP kernel)."""

    def crossings(r) -> str:
        pts = [tuple(map(float, p)) for p in r]
        if pts[0] != pts[-1]:
            pts.append(pts[0])
        terms = []
        for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
            if y1 == y2:
                continue  # horizontal edge never crosses the half-open ray
            terms.append(
                f"(CASE WHEN ({y1!r} > {lat}) <> ({y2!r} > {lat}) "
                f"AND {lon} < {x1!r} + ({x2!r} - {x1!r}) * "
                f"({lat} - {y1!r}) / ({y2!r} - {y1!r}) THEN 1 ELSE 0 END)"
            )
        return " + ".join(terms)

    pred = f"(({crossings(ring)}) % 2 = 1)"
    for h in holes:
        pred += f" AND (({crossings(h)}) % 2 = 0)"
    return f"({pred})"


def clip_chains_by_predicate(
    df: DataFrame,
    inside_sql: str,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Clip exploded chains (one row per vertex) by an arbitrary SQL inside
    predicate over (lon, lat) — the gaps-and-islands machinery is boundary-
    shape-agnostic.

    Output: (chain_col, part_no, seq_col, lon, lat) — vertices of each
    clipped part; an outside vertex shared by two parts appears twice with
    different part_no. part_no is 1-based per chain in chain order. A
    lone inside vertex, whose neighbours' flags are both null (absent, or
    undecided by a null coordinate), would be a one-vertex part: it
    belongs to no part, and its part_no is skipped.
    Plan: one Sort and two Windows (lag/lead, then the running sum).
    """
    w = Window.partitionBy(chain_col).orderBy(seq_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)

    flagged = (
        df.withColumn("__in", F.expr(inside_sql))
        .withColumn("__prev_in", F.lag("__in").over(w))
        .withColumn("__next_in", F.lead("__in").over(w))
        .withColumn(
            "__new_run",
            F.col("__in") & ~F.coalesce(F.col("__prev_in"), F.lit(False)),
        )
        .withColumn("__run_cum", F.sum(F.col("__new_run").cast("int")).over(wcum))
    )

    # single pass: each vertex's part memberships (0, 1 or 2 of them) as a
    # 3-slot array, null where the vertex is not a member, then explode —
    # the window subtree is evaluated ONCE, not three times as a 3-way
    # union would (profiled 3× faster at 600k vertices). The null slots are
    # filtered after the explode: a lambda filter inside it would keep the
    # Generate out of whole-stage codegen (4 more compiled classes).
    # A lone inside vertex gets none: its part would have one vertex
    lone = F.col("__prev_in").isNull() & F.col("__next_in").isNull()
    memberships = F.array(
        F.when(F.col("__in") & ~lone, F.col("__run_cum")),
        F.when(
            ~F.col("__in") & F.coalesce(F.col("__prev_in"), F.lit(False)),
            F.col("__run_cum"),
        ),
        F.when(
            ~F.col("__in") & F.coalesce(F.col("__next_in"), F.lit(False)),
            F.col("__run_cum") + 1,
        ),
    )
    return flagged.select(
        F.col(chain_col),
        F.explode(memberships).alias("part_no"),
        F.col(seq_col),
        F.col(lon),
        F.col(lat),
    ).filter(F.col("part_no").isNotNull())


def clip_chains_to_bbox(
    df: DataFrame,
    bbox: tuple[float, float, float, float],
    chain_col: str = "chain_id",
    seq_col: str = "seq",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Rectangle boundary — the G2 fast path (closed-interval predicate)."""
    return clip_chains_by_predicate(
        df, bbox_inside_expr(lon, lat, bbox), chain_col, seq_col, lon, lat
    )


def clip_polygons_to_region(
    polys: DataFrame,
    outer,
    holes=(),
    poly_col: str = "poly_id",
    ring_col: str = "ring",
) -> DataFrame:
    """G3 — clip polygon rows to a concave region with holes via the
    Greiner–Hormann kernel (geometry.clip_poly; GPC INTERSECT semantics,
    lib/Clipper.pm:16-43 + lib/Boundary.pm:54-61).

    Input: one polygon per row (poly_col, ring_col: array<struct<lon,lat>>).
    Rows are independent → mapInPandas, ZERO shuffle; the region is a
    broadcast constant. Output: one row per result piece
    (poly_id, piece_no, is_inner, n_pts, area, start_lon, start_lat)."""
    import pandas as pd

    from ..shipping import ensure_shipped

    ensure_shipped(polys.sparkSession)
    breg = polys.sparkSession.sparkContext.broadcast(
        ([tuple(p) for p in outer], [[tuple(p) for p in h] for h in holes])
    )
    schema = (
        f"{poly_col} bigint, piece_no int, is_inner boolean, n_pts int, "
        "area double, start_lon double, start_lat double"
    )

    def kernel(it):
        from ..geometry.clip_poly import clip_region_with_holes, ring_area_abs

        outer_r, holes_r = breg.value
        for pdf in it:
            rows = []
            for pid, ring in zip(pdf[poly_col], pdf[ring_col]):
                pts = [(p["lon"], p["lat"]) for p in ring]
                res = clip_region_with_holes(pts, outer_r, holes_r)
                pieces = [(r, False) for r in res["outers"]] + [
                    (r, True) for r in res["inners"]
                ]
                for i, (r, inner) in enumerate(pieces):
                    rows.append(
                        (int(pid), i, inner, len(r), ring_area_abs(r),
                         r[0][0], r[0][1])
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[poly_col, "piece_no", "is_inner", "n_pts",
                             "area", "start_lon", "start_lat"],
                )

    return polys.mapInPandas(kernel, schema=schema)


def clip_oracle_sql(
    points_cte: str,
    bbox: tuple[float, float, float, float] | None = None,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
    inside_sql: str | None = None,
) -> str:
    """DuckDB SQL implementing the identical semantics over a CTE named
    `pts(chain_id, seq, lon, lat)` supplied by `points_cte`. Pass either a
    bbox or an arbitrary `inside_sql` predicate (e.g. ring_inside_expr)."""
    if inside_sql is None:
        inside_sql = bbox_inside_expr("lon", "lat", bbox)
    return f"""
WITH {points_cte},
flagged AS (
  SELECT {chain_col}, {seq_col}, lon, lat,
         {inside_sql} AS f,
         LAG({inside_sql})
           OVER (PARTITION BY {chain_col} ORDER BY {seq_col}) AS pf,
         LEAD({inside_sql})
           OVER (PARTITION BY {chain_col} ORDER BY {seq_col}) AS nf
  FROM pts
),
runs AS (
  SELECT *,
         SUM(CASE WHEN f AND NOT COALESCE(pf, FALSE) THEN 1 ELSE 0 END)
           OVER (PARTITION BY {chain_col} ORDER BY {seq_col}
                 ROWS UNBOUNDED PRECEDING) AS run_cum
  FROM flagged
),
parts AS (
  SELECT {chain_col}, run_cum AS part_no, {seq_col}, lon, lat FROM runs WHERE f
  UNION ALL
  SELECT {chain_col}, run_cum, {seq_col}, lon, lat FROM runs
   WHERE NOT f AND COALESCE(pf, FALSE)
  UNION ALL
  SELECT {chain_col}, run_cum + 1, {seq_col}, lon, lat FROM runs
   WHERE NOT f AND COALESCE(nf, FALSE)
),
sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY {chain_col}, part_no) AS n FROM parts
)
SELECT {chain_col}, CAST(part_no AS BIGINT) AS part_no, {seq_col}, lon, lat
FROM sized WHERE n >= 2
"""
