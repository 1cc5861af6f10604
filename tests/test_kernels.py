"""Unit tests for the numpy geometry kernels (no Spark needed)."""

import numpy as np
import pytest

from osm2mp_spark.geometry.kernels import (
    INSIDE,
    ON_EDGE,
    OUTSIDE,
    centroid,
    clip_chain_parts,
    is_clockwise,
    lcos,
    planar_dist_m,
    points_in_polygon,
    points_in_ring,
    segment_intersection,
    shoelace_area,
    signed_area,
    spherical_area_km2,
    sutherland_hodgman,
)

SQUARE = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
TRIANGLE = [(0, 0), (4, 0), (0, 4), (0, 0)]


class TestPointsInRing:
    def test_inside_outside(self):
        r = points_in_ring([5, 15, -1], [5, 5, 5], SQUARE)
        assert list(r) == [INSIDE, OUTSIDE, OUTSIDE]

    def test_on_edge_and_vertex(self):
        r = points_in_ring([0, 10, 5, 0], [5, 5, 0, 0], SQUARE)
        assert list(r) == [ON_EDGE] * 4

    def test_open_ring_autoclosed(self):
        r = points_in_ring([2], [2], [(0, 0), (10, 0), (10, 10), (0, 10)])
        assert r[0] == INSIDE

    def test_concave(self):
        # U-shape: notch from above
        u = [(0, 0), (10, 0), (10, 10), (7, 10), (7, 3), (3, 3), (3, 10), (0, 10), (0, 0)]
        r = points_in_ring([5, 1, 5], [5, 5, 1], u)
        assert list(r) == [OUTSIDE, INSIDE, INSIDE]

    def test_ray_through_vertex(self):
        # point whose +x ray passes exactly through a polygon vertex
        diamond = [(0, -5), (5, 0), (0, 5), (-5, 0), (0, -5)]
        r = points_in_ring([-1, -6], [0, 0], diamond)
        assert list(r) == [INSIDE, OUTSIDE]


class TestHoles:
    def test_hole_subtraction(self):
        outer = SQUARE
        hole = [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]
        r = points_in_polygon([5, 2, 11], [5, 2, 5], [outer], [hole])
        assert list(r) == [OUTSIDE, INSIDE, OUTSIDE]

    def test_multi_outer(self):
        o2 = [(20, 0), (30, 0), (30, 10), (20, 10), (20, 0)]
        r = points_in_polygon([5, 25, 15], [5, 5, 5], [SQUARE, o2], [])
        assert list(r) == [INSIDE, INSIDE, OUTSIDE]


class TestAreaCentroid:
    def test_square_area(self):
        assert shoelace_area(SQUARE) == 100.0
        assert signed_area(SQUARE) == 100.0  # CCW positive

    def test_orientation(self):
        assert not is_clockwise(SQUARE)
        assert is_clockwise(list(reversed(SQUARE)))

    def test_centroid(self):
        cx, cy = centroid(SQUARE)
        assert (cx, cy) == (5.0, 5.0)

    def test_spherical_area_equator(self):
        # 1°×1° at equator ≈ (111.11 km)² ≈ 12345 km²
        r = [(0, -0.5), (1, -0.5), (1, 0.5), (0, 0.5), (0, -0.5)]
        a = spherical_area_km2(r)
        assert a == pytest.approx((40000.0 / 360.0) ** 2, rel=1e-6)


class TestSegmentIntersection:
    def test_crossing(self):
        p = segment_intersection((0, 0), (10, 10), (0, 10), (10, 0))
        assert p == (5.0, 5.0)

    def test_parallel(self):
        assert segment_intersection((0, 0), (10, 0), (0, 1), (10, 1)) is None

    def test_half_open_end_excluded(self):
        # intersection exactly at p12 (t=1) must be excluded
        assert segment_intersection((0, 0), (5, 5), (5, 0), (5, 10)) is None
        # but at p11 (t=0) included
        assert segment_intersection((5, 5), (0, 0), (5, 0), (5, 10)) == (5.0, 5.0)


class TestDistancesAngles:
    def test_dist_equator(self):
        d = planar_dist_m(0.0, 0.0, 1.0, 0.0)
        assert d == pytest.approx(111_111.11, rel=1e-4)

    def test_dist_lat_correction(self):
        d = planar_dist_m(0.0, 60.0, 1.0, 60.0)
        assert d == pytest.approx(111_111.11 * 0.5, rel=1e-3)

    def test_lcos_straight(self):
        assert lcos((0, 0), (1, 0), (2, 0)) == pytest.approx(1.0)

    def test_lcos_right_angle(self):
        assert lcos((0, 0), (1, 0), (1, 1)) == pytest.approx(0.0, abs=1e-12)

    def test_lcos_reverse(self):
        assert lcos((0, 0), (1, 0), (0, 0)) == pytest.approx(-1.0)


class TestSutherlandHodgman:
    def test_identity(self):
        out = sutherland_hodgman(TRIANGLE, SQUARE)
        assert shoelace_area(np.vstack([out, out[:1]])) == pytest.approx(8.0)

    def test_partial_overlap(self):
        subj = [(5, 5), (15, 5), (15, 15), (5, 15), (5, 5)]
        out = sutherland_hodgman(subj, SQUARE)
        # intersection is the 5..10 square, area 25
        assert shoelace_area(np.vstack([out, out[:1]])) == pytest.approx(25.0)

    def test_disjoint(self):
        subj = [(20, 20), (30, 20), (30, 30), (20, 30), (20, 20)]
        out = sutherland_hodgman(subj, SQUARE)
        assert len(out) == 0

    def test_cw_clip_ring_normalized(self):
        subj = [(5, 5), (15, 5), (15, 15), (5, 15), (5, 5)]
        out = sutherland_hodgman(subj, list(reversed(SQUARE)))
        assert shoelace_area(np.vstack([out, out[:1]])) == pytest.approx(25.0)


class TestClipChainParts:
    """osm2mp.pl:1821-1838 keep-one-outside-vertex rule."""

    def test_fully_inside(self):
        assert clip_chain_parts([1, 1, 1]) == [(0, 2)]

    def test_fully_outside(self):
        assert clip_chain_parts([-1, -1, -1]) == []

    def test_enters_once(self):
        # out out in in -> keep one outside vertex before the run
        assert clip_chain_parts([-1, -1, 1, 1]) == [(1, 3)]

    def test_exits_once(self):
        assert clip_chain_parts([1, 1, -1, -1]) == [(0, 2)]

    def test_in_out_in(self):
        # two parts, each extended into the outside gap
        assert clip_chain_parts([1, 1, -1, -1, 1, 1]) == [(0, 2), (3, 5)]

    def test_single_inside_vertex_with_neighbors(self):
        assert clip_chain_parts([-1, 1, -1]) == [(0, 2)]

    def test_single_inside_vertex_alone_dropped(self):
        assert clip_chain_parts([1]) == []

    def test_on_edge_counts_inside(self):
        assert clip_chain_parts([-1, 0, 1, 0, -1]) == [(0, 4)]
