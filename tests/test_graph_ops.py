"""G1/W1/I1/G10-G12 operators vs the pure-Python reference oracle."""

import numpy as np
import pandas as pd
import pytest

from osm2mp_spark.oracle.reference import (
    classify_lakes_islands_oracle,
    merge_roads_oracle,
    self_intersection_breaks_oracle,
    split_parts_from_breaks,
    stitch_coastlines_oracle,
    stitch_rings_oracle,
)


class TestRingOracle:
    def test_two_chain_square_with_reversal(self):
        # square split into two open chains, second reversed
        c1 = [(0, 0), (10, 0), (10, 10)]
        c2 = [(0, 0), (0, 10), (10, 10)]  # reversed direction
        res = stitch_rings_oracle([("outer", c1), ("outer", c2)])
        assert res is not None
        assert len(res["outers"]) == 1
        ring = res["outers"][0]
        assert ring[0] == ring[-1]
        assert len(ring) == 5

    def test_broken_relation_skipped(self):
        c1 = [(0, 0), (10, 0), (10, 10)]
        res = stitch_rings_oracle([("outer", c1)])
        assert res is None

    def test_inner_role(self):
        outer = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
        hole = [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]
        res = stitch_rings_oracle([("outer", outer), ("inner", hole)])
        assert len(res["outers"]) == 1 and len(res["inners"]) == 1

    def test_multi_outer_exclave(self):
        r1 = [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]
        r2 = [(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)]
        res = stitch_rings_oracle([("outer", r1), ("exclave", r2)])
        assert len(res["outers"]) == 2


class TestSelfIntersectOracle:
    def test_no_repeat(self):
        assert self_intersection_breaks_oracle([(0, 0), (1, 0), (2, 0)]) == []

    def test_figure_eight_breaks_at_prev(self):
        # revisits (1,0) at index 3; non-immediate repeat → break at prev
        # (all vertices routing ⇒ prev = 2), osm2mp.pl:727-729
        pts = [(0, 0), (1, 0), (1, 1), (1, 0), (2, 0)]
        assert self_intersection_breaks_oracle(pts) == [2]

    def test_immediate_repeat_midpoint(self):
        # pts[2] == pts[1] (immediate) → break at (i+prev)>>1 = (2+1)>>1 = 1
        # (osm2mp.pl:731-737)
        pts = [(0, 0), (1, 0), (1, 0), (2, 0)]
        assert self_intersection_breaks_oracle(pts) == [1]

    def test_zigzag_breaks_twice(self):
        # A-B-A-B: i=2 repeats A (prev=1 → break 1); window restarts at 1,
        # i=3 repeats B at index 1 ≥ break (prev=2 → break 2)
        pts = [(0, 0), (1, 0), (0, 0), (1, 0)]
        assert self_intersection_breaks_oracle(pts) == [1, 2]

    def test_sparse_routing_nodes(self):
        # only (3,3) is a routing node: the repeat of (1,1) at i=3 is
        # non-immediate and prev is still 0 → break at 0 (a no-op
        # boundary: the loop part spans the whole chain, exactly the
        # reference's behavior when no junction precedes the loop)
        pts = [(0, 0), (1, 1), (2, 2), (1, 1), (3, 3)]
        routing = {(3.0, 3.0)}
        assert self_intersection_breaks_oracle(pts, routing_nodes=routing) == [0]

    def test_max_road_nodes(self):
        # W2 interplay: 5 routing vertices, limit 3 → rnod hits 4 at i=3,
        # break at prev=2 (osm2mp.pl:743-747)
        pts = [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0)]
        assert self_intersection_breaks_oracle(pts, max_road_nodes=3) == [2]

    def test_barrier_break(self):
        # W3 interplay: interior barrier vertex breaks at itself
        pts = [(0, 0), (1, 0), (2, 0), (3, 0)]
        assert self_intersection_breaks_oracle(
            pts, barriers={(1.0, 0.0)}
        ) == [1]

    def test_parts_share_break_vertex(self):
        assert split_parts_from_breaks(5, [2]) == [(0, 2), (2, 4)]


class TestMergeOracle:
    def _mk(self, cid, pts, attrs="a"):
        return cid, {"chain": pts, "attrs": attrs}

    def test_simple_merge(self):
        roads = dict([
            self._mk("r1", [(0, 0), (1, 0)]),
            self._mk("r2", [(1, 0), (2, 0)]),
        ])
        out = merge_roads_oracle(roads)
        assert out == {"r1": ["r1", "r2"]}

    def test_attr_mismatch_no_merge(self):
        roads = dict([
            self._mk("r1", [(0, 0), (1, 0)], "a"),
            self._mk("r2", [(1, 0), (2, 0)], "b"),
        ])
        out = merge_roads_oracle(roads)
        assert out == {"r1": ["r1"], "r2": ["r2"]}

    def test_sharp_angle_no_merge(self):
        roads = dict([
            self._mk("r1", [(0, 0), (1, 0)]),
            self._mk("r2", [(1, 0), (0, 0.1)]),  # near-reversal, cos < 0.2
        ])
        out = merge_roads_oracle(roads)
        assert set(out) == {"r1", "r2"}

    def test_contention_best_cos_wins(self):
        # r1 and r3 both end at (1,0); r2 continues straight from r1,
        # at an angle from r3 → r1 claims r2
        roads = dict([
            self._mk("r1", [(0, 0), (1, 0)]),
            self._mk("r3", [(0, 1), (1, 0)]),
            self._mk("r2", [(1, 0), (2, 0)]),
        ])
        out = merge_roads_oracle(roads)
        assert out["r1"] == ["r1", "r2"]
        assert out["r3"] == ["r3"]

    def test_three_chain(self):
        roads = dict([
            self._mk("r1", [(0, 0), (1, 0)]),
            self._mk("r2", [(1, 0), (2, 0)]),
            self._mk("r3", [(2, 0), (3, 0)]),
        ])
        assert merge_roads_oracle(roads) == {"r1": ["r1", "r2", "r3"]}


class TestCoastlineOracle:
    def test_stitch(self):
        chains = {
            "a": [(0, 0), (1, 0)],
            "b": [(1, 0), (2, 0)],
            "c": [(5, 5), (6, 6)],
        }
        merged = stitch_coastlines_oracle(chains)
        assert sorted(len(m) for m in merged) == [2, 3]

    def test_lake_island(self):
        lake = [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)]  # CW = lake
        isle = [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]  # CCW = island
        far_isle = [(40, 40), (41, 40), (41, 41), (40, 41), (40, 40)]
        res = classify_lakes_islands_oracle([lake, isle, far_isle])
        assert len(res["lakes"]) == 1
        assert len(res["lakes"][0]["islands"]) == 1
        assert len(res["free_islands"]) == 1


class TestSeaSynthesis:
    def test_single_crossing(self):
        from osm2mp_spark.operators.coastlines import synthesize_water

        bbox = (0.0, 0.0, 10.0, 10.0)
        chains = {"c": [(-2.0, 6.0), (5.0, 5.0), (12.0, 4.0)]}
        water = synthesize_water(chains, bbox)
        assert len(water["seas"]) == 1
        sea = water["seas"][0]
        assert sea[0] == sea[-1]
        # sea polygon covers the south side: contains (5,1), not (5,9)
        from osm2mp_spark.geometry.kernels import points_in_ring

        inside = points_in_ring([5.0, 5.0], [1.0, 9.0], sea)
        assert inside[0] >= 0 and inside[1] < 0
        # boundary corners (10,0) and (0,0) spliced in
        assert (10.0, 0.0) in sea and (0.0, 0.0) in sea

    def test_two_crossings_two_seas_or_one(self):
        from osm2mp_spark.operators.coastlines import synthesize_water

        bbox = (0.0, 0.0, 10.0, 10.0)
        chains = {
            "c1": [(-2.0, 8.0), (12.0, 8.0)],
            "c2": [(12.0, 2.0), (-2.0, 2.0)],
        }
        water = synthesize_water(chains, bbox)
        # both coastlines have water to their south/north respectively →
        # the band between them is land; seas close via perimeter walks
        assert len(water["seas"]) >= 1
        for sea in water["seas"]:
            assert sea[0] == sea[-1]


class TestSparkGraphOps:
    def test_assemble_rings_spark(self, spark):
        from osm2mp_spark.operators.rings import assemble_rings

        rows = [
            ("rel1", "w1", "outer", 1, [{"lon": 0.0, "lat": 0.0}, {"lon": 10.0, "lat": 0.0}, {"lon": 10.0, "lat": 10.0}]),
            ("rel1", "w2", "outer", 2, [{"lon": 0.0, "lat": 0.0}, {"lon": 0.0, "lat": 10.0}, {"lon": 10.0, "lat": 10.0}]),
            ("rel2", "w3", "outer", 1, [{"lon": 0.0, "lat": 0.0}, {"lon": 5.0, "lat": 0.0}]),  # broken
        ]
        df = spark.createDataFrame(
            rows,
            "rel_id string, way_id string, role string, seq int, "
            "chain array<struct<lon:double, lat:double>>",
        )
        out = assemble_rings(df).toPandas()
        assert set(out.rel_id) == {"rel1"}
        assert out.iloc[0].pts[0] == out.iloc[0].pts[-1]

    def test_split_self_intersections_spark(self, spark):
        from osm2mp_spark.operators.chains import split_self_intersections

        pts = spark.createDataFrame(
            [(1, 0, 0.0, 0.0), (1, 1, 1.0, 0.0), (1, 2, 1.0, 1.0),
             (1, 3, 1.0, 0.0), (1, 4, 2.0, 0.0),
             (2, 0, 5.0, 5.0), (2, 1, 6.0, 5.0)],
            "chain_id bigint, seq bigint, lon double, lat double",
        )
        out = split_self_intersections(pts).toPandas().sort_values(
            ["chain_id", "part_no", "seq"]
        )
        c1 = out[out.chain_id == 1]
        # break at prev=2 (osm2mp.pl:727-729); the break vertex (seq 2) is
        # SHARED — it closes part 0 and opens part 1 (osm2mp.pl:770-775)
        assert list(c1.part_no) == [0, 0, 0, 1, 1, 1]
        assert list(c1.seq) == [0, 1, 2, 2, 3, 4]
        c2 = out[out.chain_id == 2]
        assert list(c2.part_no) == [0, 0]

    def test_merge_roads_spark_matches_oracle(self, spark):
        from osm2mp_spark.operators.chains import merge_roads

        road_defs = {
            1: {"chain": [(0.0, 0.0), (1.0, 0.0)], "attrs": "a"},
            2: {"chain": [(1.0, 0.0), (2.0, 0.0)], "attrs": "a"},
            3: {"chain": [(2.0, 0.0), (3.0, 0.0)], "attrs": "a"},
            4: {"chain": [(2.0, 0.0), (2.0, 5.0)], "attrs": "a"},  # right angle; cos=0 no merge
            5: {"chain": [(7.0, 0.0), (8.0, 0.0)], "attrs": "b"},
        }
        rows = [
            (rid, d["attrs"], [{"lon": x, "lat": y} for x, y in d["chain"]])
            for rid, d in road_defs.items()
        ]
        df = spark.createDataFrame(
            rows, "road_id bigint, attrs string, chain array<struct<lon:double,lat:double>>"
        )
        out = merge_roads(df).toPandas()
        got = dict(zip(out.road_id, out.head_id))
        oracle = merge_roads_oracle({str(k): v for k, v in road_defs.items()})
        want = {}
        for head, seq in oracle.items():
            for rid in seq:
                want[int(rid)] = int(head)
        assert got == want


class TestRound1ReviewRegressions:
    """Regression coverage for the round-1 code-review findings."""

    def test_coastline_interior_endpoint_no_crash(self):
        from osm2mp_spark.operators.coastlines import synthesize_water

        # chain ends strictly inside the boundary → skipped, not a crash
        water = synthesize_water(
            {"c1": [(-100.0, 10.0), (-50.0, 5.0), (0.0, 0.0)]},
            (-90.0, -45.0, 90.0, 45.0),
        )
        assert water["seas"] == []

    def test_merge_oracle_cycle_breaks_at_min(self):
        # two roads forming a smooth loop: octagon halves
        import math

        pts = [
            (math.cos(math.radians(a)), math.sin(math.radians(a)))
            for a in range(0, 360, 45)
        ]
        a = {"chain": pts[0:5], "attrs": "x"}
        b = {"chain": pts[4:8] + [pts[0]], "attrs": "x"}
        out = merge_roads_oracle({"ra": a, "rb": b})
        assert out == {"ra": ["ra", "rb"]}

    def test_merge_spark_cycle_matches_oracle(self, spark):
        import math

        from osm2mp_spark.operators.chains import merge_roads

        pts = [
            (math.cos(math.radians(a)), math.sin(math.radians(a)))
            for a in range(0, 360, 45)
        ]
        rows = [
            (1, "x", [{"lon": x, "lat": y} for x, y in pts[0:5]]),
            (2, "x", [{"lon": x, "lat": y} for x, y in pts[4:8] + [pts[0]]]),
        ]
        df = spark.createDataFrame(
            rows, "road_id bigint, attrs string, chain array<struct<lon:double,lat:double>>"
        )
        out = merge_roads(df).toPandas()
        assert dict(zip(out.road_id, out.head_id)) == {1: 1, 2: 1}

    def test_rules_multivalue_semicolon(self, spark):
        from osm2mp_spark.functions.rules import cond_eq, cond_ne
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("residential;service",), ("primary",), (None,)], "highway string"
        )
        eq = df.select(cond_eq("highway", "residential").to_column().alias("m")).collect()
        assert [r.m for r in eq] == [True, False, None] or [r.m for r in eq] == [True, False, False]
        ne = df.select(cond_ne("highway", "residential").to_column().alias("m")).collect()
        assert [r.m for r in ne][:2] == [False, True]
        assert [r.m for r in ne][2] in (True,)  # absent counts as "not value"

    def test_derived_points_negative_keys_match_sql(self, spark, duck):
        import numpy as np

        from osm2mp_spark.sources.points import (
            derived_lat_sql,
            derived_lon_sql,
            derived_points_np,
        )

        keys = np.array([-5, -123456, 7, 0])
        lon_np, lat_np = derived_points_np(keys)
        got = duck.sql(
            f"SELECT {derived_lon_sql('k')} AS lon, {derived_lat_sql('k')} AS lat "
            "FROM (SELECT UNNEST([-5, -123456, 7, 0]) AS k)"
        ).df()
        assert np.array_equal(lon_np, got.lon.to_numpy())
        assert np.array_equal(lat_np, got.lat.to_numpy())


class TestSeaSynthesisPerTile:
    def test_spark_matches_driver_twin_and_scales(self, spark):
        """The distributed per-tile applyInPandas path must equal a driver-
        side run of the same kernel over the same per-tile chain groups."""
        from osm2mp_spark.operators.coastlines import (
            synthesize_water,
            tile_bbox_grid,
        )
        from osm2mp_spark.queries.geometry import (
            sea_chain_vertices,
            sea_synthesis,
        )

        sf = "/root/testdata/sf0.001"
        got = sea_synthesis(spark, sf).toPandas()
        assert len(got) > 4  # scales with data, not a fixed fixture

        # driver twin: same chain→tile assignment (segment-bbox tiles for
        # open chains — a segment can cross a vertex-free tile), same kernel
        import numpy as np

        pts = sea_chain_vertices(spark, sf).toPandas()
        nx = ny = 8

        def tix(lon):
            return int(np.clip(np.floor((lon + 180.0) / 45.0), 0, nx - 1))

        def tiy(lat):
            return int(np.clip(np.floor((lat + 90.0) / 22.5), 0, ny - 1))

        ix = ((pts.lon + 180.0) / 360.0 * nx).astype(int).clip(0, nx - 1)
        iy = ((pts.lat + 90.0) / 180.0 * ny).astype(int).clip(0, ny - 1)
        pts = pts.assign(tile_id=iy * nx + ix)
        chain_tiles = set()
        for cid, grp in pts.sort_values(["chain_id", "seq"]).groupby("chain_id"):
            closed = bool(grp.closed.iloc[0])
            if closed:
                tiles = {int(grp.tile_id.iloc[0])}
            else:
                tiles = set()
                lons, lats = grp.lon.to_numpy(), grp.lat.to_numpy()
                for a in range(len(lons) - 1):
                    for x in range(tix(min(lons[a], lons[a + 1])),
                                   tix(max(lons[a], lons[a + 1])) + 1):
                        for y in range(tiy(min(lats[a], lats[a + 1])),
                                       tiy(max(lats[a], lats[a + 1])) + 1):
                            tiles.add(y * nx + x)
            for t in tiles:
                chain_tiles.add((int(cid), t))
        expected = []
        for tile in sorted({t for _, t in chain_tiles}):
            chains = {}
            for cid, t in chain_tiles:
                if t != tile:
                    continue
                grp = pts[pts.chain_id == cid].sort_values("seq")
                chains[str(cid)] = list(zip(grp.lon, grp.lat))
            water = synthesize_water(chains, tile_bbox_grid(tile, nx, ny))
            for i, ring in enumerate(water["seas"]):
                expected.append((tile, "sea", i, len(ring)))
            for i, lk in enumerate(water["lakes"]):
                expected.append((tile, "lake", i, len(lk["ring"])))
                for j, isl in enumerate(lk["islands"]):
                    expected.append((tile, "island", i * 100 + j, len(isl)))
            for i, isl in enumerate(water["free_islands"]):
                expected.append((tile, "free_island", i, len(isl)))
        got_set = set(
            zip(got.tile_id.astype(int), got.kind, got.idx.astype(int),
                got.n_pts.astype(int))
        )
        assert got_set == set(expected)


class TestSeaSynthesisArbitraryRing:
    def test_concave_l_boundary(self):
        """G11 general case: sea closure against a NON-rectangular
        (L-shaped) boundary ring — the perimeter walk passes the concave
        corner vertices (lib/Coastlines.pm:101-196)."""
        from osm2mp_spark.geometry.kernels import points_in_ring
        from osm2mp_spark.operators.coastlines import synthesize_water

        l_ring = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 4.0),
                  (6.0, 4.0), (6.0, 0.0), (0.0, 0.0)]
        chains = {"c": [(-2.0, 6.0), (5.0, 6.0), (12.0, 6.0)]}
        water = synthesize_water(chains, l_ring)
        assert len(water["seas"]) == 1
        sea = water["seas"][0]
        assert sea[0] == sea[-1]
        # water lies right of travel (south): (1,1) in, (1,9) out; the
        # concave notch corner (6,4) and (10,4) must be spliced in
        inside = points_in_ring([1.0, 1.0], [1.0, 9.0], sea)
        assert inside[0] >= 0 and inside[1] < 0
        assert (10.0, 4.0) in sea and (6.0, 4.0) in sea and (6.0, 0.0) in sea
        # the notch interior is NOT part of the map, so not in the sea
        assert points_in_ring([8.0], [1.0], sea)[0] < 0

    def test_two_chains_on_ring(self):
        from osm2mp_spark.operators.coastlines import synthesize_water

        ring = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
        chains = {
            "a": [(-2.0, 8.0), (12.0, 8.0)],
            "b": [(12.0, 2.0), (-2.0, 2.0)],
        }
        water = synthesize_water(chains, ring)
        assert len(water["seas"]) >= 1
        for sea in water["seas"]:
            assert sea[0] == sea[-1]

    def test_rect_and_ring_paths_agree(self):
        """A rectangle expressed as a ring must reproduce the rect-path
        result (same vertices, same orientation of splices)."""
        from osm2mp_spark.operators.coastlines import synthesize_water

        bbox = (0.0, 0.0, 10.0, 10.0)
        ring = [(0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)]
        chains = {"c": [(-2.0, 6.0), (5.0, 5.0), (12.0, 4.0)]}
        wa = synthesize_water(chains, bbox)
        wb = synthesize_water(chains, ring)
        assert len(wa["seas"]) == len(wb["seas"]) == 1
        assert set(map(tuple, wa["seas"][0])) == set(map(tuple, wb["seas"][0]))


class TestContourNesting:
    def test_groups_and_quirk(self):
        from osm2mp_spark.oracle.reference import nest_contours_oracle

        big = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
        inner = [(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)]
        nested_in_inner = [(2.5, 2.5), (3, 2.5), (3, 3), (2.5, 3), (2.5, 2.5)]
        far = [(20, 20), (21, 20), (21, 21), (20, 21), (20, 20)]
        out = nest_contours_oracle([big, inner, nested_in_inner, far])
        # faithful reference quirk (osm2mp.pl:1756-1760): the ring nested
        # inside an INNER still joins polygon 0 as another inner (the test
        # is only first-vertex-inside-OUTER)
        assert out == [(0, 0, False), (1, 0, True), (2, 0, True),
                       (3, 1, False)]

    def test_second_polygon_collects_its_inners(self):
        from osm2mp_spark.oracle.reference import nest_contours_oracle

        a = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
        b = [(20, 20), (30, 20), (30, 30), (20, 30), (20, 20)]
        b_in = [(22, 22), (24, 22), (24, 24), (22, 24), (22, 22)]
        out = nest_contours_oracle([a, b, b_in])
        assert out == [(0, 0, False), (1, 1, False), (2, 1, True)]


class TestReviewRegressions:
    def test_concave_notch_multi_crossing_clip(self):
        """A segment crossing a concave boundary 4x must yield one run per
        inside interval — not one run spanning the excluded notch."""
        from osm2mp_spark.geometry.kernels import points_in_ring
        from osm2mp_spark.operators.coastlines import synthesize_water

        u = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (8.0, 10.0),
             (8.0, 2.0), (2.0, 2.0), (2.0, 10.0), (0.0, 10.0)]
        water = synthesize_water({"c": [(-2.0, 6.0), (12.0, 6.0)]}, u)
        # the water below the coastline is ONE region connected under the
        # notch; its ring must walk AROUND the notch walls
        assert len(water["seas"]) == 1
        sea = water["seas"][0]
        # notch corners spliced in, notch interior excluded, arms included
        assert (2.0, 2.0) in sea and (8.0, 2.0) in sea
        assert points_in_ring([5.0], [4.0], sea)[0] < 0
        assert points_in_ring([1.0, 9.0, 5.0], [4.0, 4.0, 1.0], sea).tolist() == [1, 1, 1]

    def test_split_survives_decreasing_breaks(self, spark):
        """Sparse routing nodes can make break indices DECREASE (midpoint
        break doesn't advance prev); empty part slices must be skipped,
        not crash the Arrow kernel."""
        from pyspark.sql import functions as F

        from osm2mp_spark.operators.chains import split_self_intersections

        rows = [(1, i, float(x), 0.0) for i, x in
                enumerate([0, 1, 2, 3, 0, 5, 5])]
        pts = spark.createDataFrame(
            rows, "chain_id bigint, seq bigint, lon double, lat double"
        ).withColumn("is_node", F.lit(False))
        out = split_self_intersections(pts, node_col="is_node").toPandas()
        assert len(out) > 0  # no IndexError; parts cover the chain

    def test_hole_inside_raises_without_retry(self):
        from osm2mp_spark.geometry.clip_poly import (
            HoleInsideSubject,
            gh_clip_robust,
        )

        subj = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
        hole = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)]
        with pytest.raises(HoleInsideSubject):
            gh_clip_robust(subj, hole, "diff")

    def test_sequential_id_parallel_matches_rank(self, spark):
        from osm2mp_spark.functions.garmin import sequential_id

        df = spark.range(1, 501).selectExpr("id * 7 % 503 AS k", "id AS v")
        out = sequential_id(df, "k", "sid", num_partitions=8).toPandas()
        got = out.sort_values("k").sid.to_numpy()
        assert list(got) == list(range(1, 501))

    def test_breaks_oracle_linear_seen_window(self):
        """The O(n) last-occurrence membership must equal the windowed
        set(pts[brk:i]) rule, including after BACKWARD break moves."""
        from osm2mp_spark.oracle.reference import (
            self_intersection_breaks_oracle,
        )

        pts = [(0, 0), (1, 0), (2, 0), (3, 0), (0, 0), (5, 0), (5, 0)]
        # no routing nodes: midpoint/prev rules produce decreasing breaks
        assert self_intersection_breaks_oracle(pts, routing_nodes=set()) == [2, 0]


class TestSplitterFuzz:
    def test_random_chains_invariants(self, spark):
        """200 random low-alphabet chains (dense repeats), random routing
        flags: the splitter must never crash, every input vertex must land
        in ≥1 part, parts must be contiguous index ranges in order, and
        adjacent parts must share their boundary vertex."""
        import random

        from pyspark.sql import functions as F  # noqa: F401

        from osm2mp_spark.operators.chains import split_self_intersections

        rng = random.Random(7)
        rows = []
        flags = {}
        for cid in range(1, 201):
            n = rng.randint(2, 14)
            xs = [rng.randint(0, 4) for _ in range(n)]
            fl = [rng.random() < 0.4 for _ in range(n)]
            flags[cid] = fl
            for i, (x, f) in enumerate(zip(xs, fl)):
                rows.append((cid, i, float(x), 0.0, f))
        pts = spark.createDataFrame(
            rows,
            "chain_id bigint, seq bigint, lon double, lat double, is_node boolean",
        )
        out = (
            split_self_intersections(pts, node_col="is_node")
            .toPandas()
            .sort_values(["chain_id", "part_no", "seq"])
        )
        for cid, grp in out.groupby("chain_id"):
            n_in = len(flags[cid])
            covered = set(grp.seq)
            assert covered == set(range(n_in)), cid
            parts = [g.seq.tolist() for _, g in grp.groupby("part_no")]
            for p in parts:
                assert p == list(range(p[0], p[-1] + 1)), (cid, p)
            for a, b in zip(parts, parts[1:]):
                # adjacent parts share the break vertex (or the earlier
                # part was a degenerate single-vertex Perl slice)
                assert b[0] <= a[-1] + 1, (cid, a, b)


class TestCoastlineFuzz:
    def test_random_crossing_chains_invariants(self):
        """Random open chains against bbox and ring boundaries: every sea
        ring must be closed, lie within the boundary, and (single-chain
        trials) keep water on the RIGHT of travel — checked via the
        midpoint normal."""
        import random

        from osm2mp_spark.geometry.kernels import points_in_ring
        from osm2mp_spark.operators.coastlines import synthesize_water

        rng = random.Random(99)
        bbox = (0.0, 0.0, 20.0, 20.0)
        ring = [(0.0, 0.0), (20.0, 0.0), (20.0, 20.0), (0.0, 20.0)]
        for trial in range(40):
            n_chains = rng.randint(1, 3)
            chains = {}
            for c in range(n_chains):
                y0 = rng.uniform(2, 18)
                y1 = rng.uniform(2, 18)
                if rng.random() < 0.5:
                    pts = [(-3.0, y0), (10.0, (y0 + y1) / 2), (23.0, y1)]
                else:
                    pts = [(23.0, y0), (10.0, (y0 + y1) / 2), (-3.0, y1)]
                chains[f"c{c}"] = pts
            for boundary in (bbox, ring):
                water = synthesize_water(dict(chains), boundary)
                for sea in water["seas"]:
                    assert sea[0] == sea[-1], (trial, boundary)
                    for x, y in sea:
                        assert -1e-6 <= x <= 20 + 1e-6, (trial, sea)
                        assert -1e-6 <= y <= 20 + 1e-6, (trial, sea)
                if n_chains == 1:
                    # water lies RIGHT of travel (lib/Coastlines.pm): probe
                    # the normals of the middle segment at its midpoint
                    (x0, y0_), (x1, y1_) = list(chains.values())[0][:2]
                    mx = (x0 + x1) / 2
                    my = (y0_ + y1_) / 2
                    import math

                    dx, dy = x1 - x0, y1_ - y0_
                    nrm = math.hypot(dx, dy)
                    rx, ry = dy / nrm, -dx / nrm  # right normal
                    right = (mx + 0.5 * rx, my + 0.5 * ry)
                    left = (mx - 0.5 * rx, my - 0.5 * ry)
                    in_any = lambda p: any(  # noqa: E731
                        points_in_ring([p[0]], [p[1]], sea)[0] >= 0
                        for sea in water["seas"]
                    )
                    assert in_any(right), trial
                    assert not in_any(left), trial
            # determinism: same input dict order → identical output
            w1 = synthesize_water(dict(chains), bbox)
            w2 = synthesize_water(dict(chains), bbox)
            assert w1["seas"] == w2["seas"]


class TestFixCloseNodesWalk:
    """G14 sequential variant: hand-computed accordion fixtures."""

    def _run(self, spark, chains):
        import pandas as pd
        from osm2mp_spark.operators.chains import fix_close_nodes_walk

        rows = []
        for cid, pts in chains.items():
            for i, (lon, lat) in enumerate(pts):
                rows.append((cid, i, float(lon), float(lat)))
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["chain_id", "seq", "lon", "lat"])
        )
        out = fix_close_nodes_walk(df, fix_dist=5.0).toPandas()
        return {
            cid: [
                (r.lon, r.lat)
                for r in out[out.chain_id == cid]
                .sort_values("seq")
                .itertuples()
            ]
            for cid in chains
        }

    def test_accordion_compounds(self, spark):
        # pair(0,1): centers 1.5, pushed to -1 / 4; pair(1,2) then reads the
        # MOVED vertex 4: center 5, pushed to 2.5 / 7.5 — the one-pass
        # variant would instead fix (3,6) around center 4.5
        got = self._run(spark, {1: [(0, 0), (3, 0), (6, 0)]})[1]
        assert got == [(-1.0, 0.0), (2.5, 0.0), (7.5, 0.0)]

    def test_vertical_and_identical_pairs(self, spark):
        got = self._run(
            spark, {1: [(0, 0), (0, 1)], 2: [(10, 10), (10, 10)]}
        )
        # dlon == 0: symmetric +-ldist/2 around the midpoint latitude
        assert got[1] == [(0.0, -2.0), (0.0, 3.0)]
        # identical coordinates: the reference's node-identity guard skips
        assert got[2] == [(10.0, 10.0), (10.0, 10.0)]

    def test_far_pairs_untouched(self, spark):
        got = self._run(spark, {1: [(0, 0), (20, 0), (40, 3)]})[1]
        assert got == [(0.0, 0.0), (20.0, 0.0), (40.0, 3.0)]


class TestIncrementalClustersProperty:
    """Property: for ANY edge set folded in ANY batch order, the
    incremental forwarding-log clustering resolves to the same labels as
    a one-shot union-find (streaming.clusters invariant, fuzzed)."""

    def test_random_graphs_random_splits(self, spark, tmp_path):
        import random

        from osm2mp_spark.streaming.clusters import (
            read_labels,
            update_clusters,
        )

        rng = random.Random(20260817)
        for case in range(3):
            n_vert = rng.randint(6, 24)
            n_edges = rng.randint(3, 20)
            edges = [
                (rng.randrange(n_vert * 3), rng.randrange(n_vert * 3))
                for _ in range(n_edges)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            # batch UF ground truth (min-label)
            parent = {}

            def find(x):
                while parent.get(x, x) != x:
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = sorted((ra, rb))
                    parent[hi] = lo
            verts = {v for e in edges for v in e}
            expected = {v: find(v) for v in verts}

            # random split into batches, incremental fold
            root = str(tmp_path / f"case{case}")
            random.Random(case).shuffle(edges)
            i, bid = 0, 0
            while i < len(edges):
                c = rng.randint(1, max(1, len(edges) // 3))
                batch = edges[i:i + c]
                i += c
                df = spark.createDataFrame(batch, "id_a long, id_b long")
                update_clusters(
                    spark, root, bid, df,
                    "CAST(id_a AS BIGINT)", "CAST(id_b AS BIGINT)",
                )
                bid += 1
            got = {
                int(r.vertex): int(r.label)
                for r in read_labels(spark, root).collect()
            }
            assert got == expected, f"case {case} diverged"


_BOUNDS = pytest.mark.parametrize(
    "bound", ["1000000", "0"], ids=["driver", "distributed"]
)


class TestAdaptiveComponentsCrossover:
    """min_label_components picks a driver union-find at/below the bounded
    edge crossover and the distributed fixpoint above it — both must
    label identically (label = component minimum)."""

    def _labels(self, spark, df, bound):
        from osm2mp_spark.operators.chains import min_label_components

        if bound is not None:  # None: the default bound
            spark.conf.set("spark.osm2mp.components.driverMaxEdges", bound)
        try:
            return min_label_components(df)
        finally:
            spark.conf.unset("spark.osm2mp.components.driverMaxEdges")

    @_BOUNDS
    def test_shuffled_path_converges(self, spark, bound):
        """A 64-vertex path whose ids are shuffled needs ~50 fixpoint
        rounds, far more than log2(64): every vertex must still get the
        path's minimum id, on both sides of the bound."""
        import random

        ids = list(range(64))
        random.Random(3).shuffle(ids)
        df = spark.createDataFrame(
            list(zip(ids[:-1], ids[1:])), "src long, dst long"
        )
        got = {
            int(r.vertex): int(r.label)
            for r in self._labels(spark, df, bound).collect()
        }
        assert got == {v: 0 for v in ids}

    @_BOUNDS
    def test_component_sizes_keep_drop(self, spark, bound):
        """component_sizes over min_label_components labels, with bigint
        keys above 2^62 (the distributed convergence sum exceeds bigint):
        a vertex in no edge is its own cluster; a labeled vertex absent
        from the vertex table is dropped and not counted; the keeper is
        the minimum key; an empty label table leaves every vertex a
        singleton."""
        from osm2mp_spark.operators.chains import component_sizes

        b = 1 << 62
        edges = [(5, 3), (3, 9), (20, 21), (21, 40)]  # 40: no vertex row
        verts = [3, 5, 9, 20, 21, 30]  # 30: in no edge
        vdf = spark.createDataFrame([(b + k,) for k in verts], "k long")

        def sizes(edges):
            labels = self._labels(spark, spark.createDataFrame(
                [(b + x, b + y) for x, y in edges], "src long, dst long"
            ), bound)
            return sorted(
                (r.k - b, r.cluster_id - b, r.cluster_size, r.keep)
                for r in component_sizes(vdf, labels, "k").collect()
            )

        assert sizes(edges) == [
            (3, 3, 3, True), (5, 3, 3, False), (9, 3, 3, False),
            (20, 20, 2, True), (21, 20, 2, False), (30, 30, 1, True),
        ]
        assert sizes([]) == [(k, k, 1, True) for k in verts]

    @pytest.mark.parametrize(
        "bound", [None, "0"], ids=["default", "distributed"]
    )
    def test_component_keepers_are_the_kept_sizes(self, spark, bound):
        """component_keepers returns exactly the keep rows of
        component_sizes, as (key, cluster_size): a cluster whose minimum
        is a label vertex missing from the vertex table has no keeper
        (1 → {50, 51}), a labeled vertex missing from the table is not
        counted (40), and a null key keeps nothing."""
        from osm2mp_spark.operators.chains import (
            component_keepers,
            component_sizes,
        )

        b = 1 << 62
        edges = [(5, 3), (3, 9), (20, 21), (21, 40), (1, 50), (50, 51)]
        verts = [3, 5, 9, 20, 21, 30, 50, 51, None]
        vdf = spark.createDataFrame(
            [(None if k is None else b + k,) for k in verts], "k long"
        )
        labels = self._labels(spark, spark.createDataFrame(
            [(b + x, b + y) for x, y in edges], "src long, dst long"
        ), bound)
        keepers = sorted(
            (r.k - b, r.cluster_size)
            for r in component_keepers(vdf, labels, "k").collect()
        )
        assert component_keepers(vdf, labels, "k").columns == [
            "k", "cluster_size"
        ]
        assert keepers == [(3, 3), (20, 2), (30, 1)]
        kept = sorted(
            (r.k - b, r.cluster_size)
            for r in component_sizes(vdf, labels, "k").filter("keep")
            .collect()
        )
        assert keepers == kept

    def test_min_union_find_roots_are_minima(self):
        import random

        from osm2mp_spark.operators.chains import MinUnionFind

        rng = random.Random(7)
        edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
        uf = MinUnionFind()
        for a, b in edges:
            uf.union(a, b)
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        for v in range(300):  # brute force: min of the reachable set
            seen, todo = {v}, [v]
            while todo:
                for u in adj.get(todo.pop(), ()):
                    if u not in seen:
                        seen.add(u)
                        todo.append(u)
            assert uf.find(v) == min(seen)

    def test_paths_agree_on_random_graphs(self, spark):
        import random

        from osm2mp_spark.operators.chains import min_label_components

        rng = random.Random(20260819)
        for case in range(3):
            edges = [
                (rng.randrange(60), rng.randrange(60)) for _ in range(40)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            df = spark.createDataFrame(edges, "src long, dst long")
            try:
                spark.conf.set(
                    "spark.osm2mp.components.driverMaxEdges", "1000000"
                )
                drv = sorted(
                    (int(r.vertex), int(r.label))
                    for r in min_label_components(df).collect()
                )
                spark.conf.set(
                    "spark.osm2mp.components.driverMaxEdges", "0"
                )
                dist = sorted(
                    (int(r.vertex), int(r.label))
                    for r in min_label_components(df).collect()
                )
            finally:
                spark.conf.unset("spark.osm2mp.components.driverMaxEdges")
            assert drv == dist, f"case {case} diverged"
            # label = component minimum: no label exceeds its vertex
            assert all(l <= v for v, l in drv)

    def test_both_sides_of_the_bound(self, spark, caplog):
        """With exactly driverMaxEdges edges the driver union-find runs,
        in ONE Spark job (the bounded pull, which also fills the lazy
        edge checkpoint); with driverMaxEdges + 1 the distributed fixpoint
        runs. Both label exactly like the distributed path, and each call
        logs one decision record naming its path, pull and bound."""
        import logging
        import random

        from osm2mp_spark.operators.chains import min_label_components

        caplog.set_level(logging.INFO, logger="osm2mp_spark.operators.chains")

        rng = random.Random(20261017)
        edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(30)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        sc = spark.sparkContext
        conf = "spark.osm2mp.components.driverMaxEdges"

        def run(bound: int, tag: str):
            spark.conf.set(conf, str(bound))
            sc.setJobGroup(tag, tag)
            caplog.clear()
            try:
                out = min_label_components(df)
            finally:
                sc.setJobGroup("", "")
                spark.conf.unset(conf)
            jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
            (record,) = caplog.records
            labels = sorted(
                (int(r.vertex), int(r.label)) for r in out.collect()
            )
            return labels, jobs, record.getMessage()

        n = len(edges)
        dist, _, _ = run(0, "mlc-bound-dist")
        at, at_jobs, at_rec = run(n, "mlc-bound-at")
        above, above_jobs, above_rec = run(n - 1, "mlc-bound-above")
        assert at == dist
        assert above == dist
        assert at_jobs == 1
        assert above_jobs > 1  # pull + the fixpoint rounds' jobs
        assert at_rec == (
            f"components: driver, edges_pulled={n}, driverMaxEdges={n}, "
            "rounds=0"
        )
        rounds = int(above_rec.rsplit("rounds=", 1)[1])
        assert above_rec == (
            f"components: distributed, edges_pulled={n}, "
            f"driverMaxEdges={n - 1}, rounds={rounds}"
        )

    def test_null_endpoints_dropped_on_both_paths(self, spark):
        """An edge with a null endpoint names no vertex: on both sides of
        driverMaxEdges the labels equal those of the null-free edge list
        (the Arrow pull would otherwise carry a NaN vertex and the fixpoint
        a null label)."""
        from osm2mp_spark.operators.chains import min_label_components

        clean = [(1, 2), (2, 3), (7, 8), (5, 3)]
        dirty = clean + [(3, None), (None, 9), (None, None)]
        conf = "spark.osm2mp.components.driverMaxEdges"
        for bound in (len(clean), 0):  # driver union-find, distributed
            spark.conf.set(conf, str(bound))
            try:
                got = [
                    sorted(
                        (r.vertex, r.label) for r in min_label_components(
                            spark.createDataFrame(e, "src long, dst long")
                        ).collect()
                    )
                    for e in (clean, dirty)
                ]
            finally:
                spark.conf.unset(conf)
            assert got[1] == got[0] == [
                (1, 1), (2, 1), (3, 1), (5, 1), (7, 7), (8, 7)
            ], f"bound {bound}"

    def test_driver_path_preserves_key_type(self, spark):
        from osm2mp_spark.operators.chains import min_label_components

        df = spark.createDataFrame(
            [(1 << 40, (1 << 40) + 1)], "src long, dst long"
        )
        out = min_label_components(df)
        assert dict(out.dtypes)["vertex"] == "bigint"
        assert {(int(r.vertex), int(r.label)) for r in out.collect()} == {
            (1 << 40, 1 << 40), ((1 << 40) + 1, 1 << 40)
        }
