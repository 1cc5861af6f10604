"""Broadcastable polygon index — the one point-in-polygon (PIP) kernel.

Replaces the reference's per-process R-tree (`lib/AreaTree.pm:28-44`,
Tree::R of bbox → polygon) with a structure designed for Spark:

  filter phase:  a dense grid over the Z-order cells (geometry/cells.py) of
                 the index level; each grid cell holds two bitmasks over the
                 polygons in canonical (area, area_id) rank order — the
                 candidates whose cover touches the cell, and the polygons
                 that contain the cell entirely;
  refine phase:  exact three-state ray-casting PIP (geometry/kernels.py) for
                 the candidates of cells that are not full.

Cells fully inside a polygon skip the exact test (the reference's
rough-containment early accept, osm2mp.pl:1711-1720). The index is small
dimension data: operators broadcast it and call `smallest` / `containing`
inside one Arrow-vectorized pandas UDF.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..geometry.kernels import (
    INSIDE,
    points_in_polygon,
    points_in_ring,
    ring_bbox,
    shoelace_area,
)
from ..geometry.cells import (
    CELL_LEVEL_DEFAULT,
    cell_bounds,
    cell_cover_bbox,
    cell_ixiy,
)

# bitmask width of the grids: one int64 bit per polygon
MAX_POLYGONS = 64


@dataclass
class Polygon:
    """One area: id, outer rings, inner rings (holes), optional payload tags."""

    area_id: str
    outers: list  # list of Nx2 [lon, lat] arrays
    inners: list = field(default_factory=list)
    tags: dict = field(default_factory=dict)

    def __post_init__(self):
        self.outers = [np.asarray(r, dtype=np.float64) for r in self.outers]
        self.inners = [np.asarray(r, dtype=np.float64) for r in self.inners]
        self.area = sum(shoelace_area(r) for r in self.outers) - sum(
            shoelace_area(r) for r in self.inners
        )

    def contains(self, px, py) -> np.ndarray:
        """Three-state containment incl. hole subtraction."""
        return points_in_polygon(px, py, self.outers, self.inners)


class PolygonIndex:
    """Cell-cover index over at most MAX_POLYGONS polygons.

    `entries()` lists (cell_id, area_id, full) rows — `full=True` when the
    cell is entirely inside the polygon (exact test skippable). `ranked_ids`
    is the canonical (area, area_id) order: bit r of the grid masks and of
    `containing`'s result is polygon `ranked_ids[r]`.
    """

    def __init__(self, polygons: list[Polygon], level: int = CELL_LEVEL_DEFAULT):
        self.level = level
        self.polygons: dict[str, Polygon] = {p.area_id: p for p in polygons}
        if len(self.polygons) > MAX_POLYGONS:
            raise NotImplementedError(
                f"PolygonIndex supports at most {MAX_POLYGONS} polygons, "
                f"got {len(self.polygons)}"
            )
        self.ranked_ids = [
            p.area_id
            for p in sorted(self.polygons.values(), key=lambda p: (p.area, p.area_id))
        ]
        self._entries: list[tuple[int, str, bool]] = []
        for p in polygons:
            seen: set[int] = set()
            for ring in p.outers:
                minlon, minlat, maxlon, maxlat = ring_bbox(ring)
                for cid in cell_cover_bbox(minlon, minlat, maxlon, maxlat, level):
                    cid = int(cid)
                    if cid in seen:
                        continue
                    seen.add(cid)
                    cls = self._classify_cell(cid, p)
                    if cls == "outside":
                        continue
                    self._entries.append((cid, p.area_id, cls == "full"))
        self._build_grids()

    def _build_grids(self):
        """Dense (2^level)² candidate/full bitmask grids, indexed iy·n + ix:
        a point's candidates are then two numpy gathers."""
        n = 1 << self.level
        rank = {aid: r for r, aid in enumerate(self.ranked_ids)}
        b = np.array([cell_bounds(cid) for cid, _, _ in self._entries]).reshape(-1, 4)
        ix, iy = cell_ixiy((b[:, 0] + b[:, 2]) / 2, (b[:, 1] + b[:, 3]) / 2, self.level)
        pos = iy * n + ix
        bits = np.int64(1) << np.array([rank[a] for _, a, _ in self._entries], np.int64)
        full = np.array([f for _, _, f in self._entries], dtype=bool)
        self._cgrid = np.zeros(n * n, dtype=np.int64)
        self._fgrid = np.zeros(n * n, dtype=np.int64)
        np.bitwise_or.at(self._cgrid, pos, bits)
        np.bitwise_or.at(self._fgrid, pos[full], bits[full])

    @staticmethod
    def _classify_cell(cell_id: int, p: Polygon) -> str:
        """'full' if all 4 cell corners strictly inside and no ring edge can
        cross the cell (conservative: no edge bbox overlaps the cell bbox);
        'outside' if corners all outside and nothing crosses; else 'partial'.
        Misclassifying toward 'partial' is safe — it only costs an exact test."""
        minlon, minlat, maxlon, maxlat = cell_bounds(cell_id)
        cx = np.array([minlon, maxlon, maxlon, minlon])
        cy = np.array([minlat, minlat, maxlat, maxlat])
        res = points_in_polygon(cx, cy, p.outers, p.inners)
        # conservative crossing test: any ring EDGE whose bbox overlaps the cell
        crossed = False
        for ring in list(p.outers) + list(p.inners):
            x, y = ring[:, 0], ring[:, 1]
            ex0 = np.minimum(x[:-1], x[1:])
            ex1 = np.maximum(x[:-1], x[1:])
            ey0 = np.minimum(y[:-1], y[1:])
            ey1 = np.maximum(y[:-1], y[1:])
            if np.any(
                (ex1 >= minlon) & (ex0 <= maxlon) & (ey1 >= minlat) & (ey0 <= maxlat)
            ):
                crossed = True
                break
        if not crossed and np.all(res == INSIDE):
            return "full"
        if not crossed and np.all(res == -1):
            return "outside"
        return "partial"

    def entries(self) -> list[tuple[int, str, bool]]:
        return list(self._entries)

    def refine(self, px: np.ndarray, py: np.ndarray, area_id: str) -> np.ndarray:
        """Exact containment for a batch of points against one polygon."""
        return self.polygons[area_id].contains(px, py)

    def _hits(self, lons, lats, first_only: bool):
        """The kernel loop: yields (area_id, rank bit, inside) per polygon in
        rank order, `inside` a boolean array over the points. Points with a
        non-finite coordinate have no candidates. With `first_only` a point
        leaves the loop at its first (smallest) container; the loop ends
        once no point has a candidate left."""
        lons = np.asarray(lons, dtype=np.float64)
        lats = np.asarray(lats, dtype=np.float64)
        ok = np.isfinite(lons) & np.isfinite(lats)
        ix, iy = cell_ixiy(np.where(ok, lons, 0.0), np.where(ok, lats, 0.0), self.level)
        pos = iy * (1 << self.level) + ix
        cmask = np.where(ok, self._cgrid[pos], 0)
        fmask = self._fgrid[pos]
        for r, aid in enumerate(self.ranked_ids):
            if not cmask.any():
                return
            bit = np.int64(1) << np.int64(r)
            has = (cmask & bit) != 0
            if not has.any():
                continue
            inside = has & ((fmask & bit) != 0)
            rest = np.flatnonzero(has & ~inside)
            if len(rest):
                inside[rest[self.refine(lons[rest], lats[rest], aid) >= 0]] = True
            yield aid, bit, inside
            if first_only:
                cmask[inside] = 0
            else:
                cmask[has] &= ~bit

    def containing(self, lons, lats) -> np.ndarray:
        """int64 bitmask per point: bit r set ⇔ the point is inside (or on
        the boundary of) polygon `ranked_ids[r]`."""
        out = np.zeros(np.shape(lons), dtype=np.int64)
        for _aid, bit, inside in self._hits(lons, lats, first_only=False):
            out[inside] |= bit
        return out

    def smallest(self, lons, lats) -> np.ndarray:
        """Object array: per point, the area_id of its smallest-area
        container (ties by area_id), or None."""
        out = np.full(np.shape(lons), None, dtype=object)
        for aid, _bit, inside in self._hits(lons, lats, first_only=True):
            out[inside] = aid
        return out

    def find_smallest_containing(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Single-node oracle path: for each point, the containing polygon of
        smallest area (ties by area_id) — the canonical deterministic rule
        replacing the reference's nondeterministic `first {}` match
        (lib/AreaTree.pm:67, SURVEY §7.3 risk 1). Returns object array of
        area_id or None."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        order = sorted(self.polygons.values(), key=lambda p: (p.area, p.area_id))
        out = np.full(px.shape, None, dtype=object)
        unresolved = np.ones(px.shape, dtype=bool)
        for p in order:
            if not unresolved.any():
                break
            res = p.contains(px[unresolved], py[unresolved])
            hit = res >= 0
            idx = np.where(unresolved)[0][hit]
            out[idx] = p.area_id
            unresolved[idx] = False
        return out
