"""Z-order (Morton/quadkey) cell encoding — the engine's spatial cell scheme.

The north star names H3/S2; neither wheel ships in this container, and the
cell scheme is pluggable (SURVEY §7.1.2): determinism matters, not the brand.
We use a quadtree Z-order cell id over the lon/lat plane:

    level L splits the world into 2^L × 2^L cells;
    cell id = L << 58 | morton(ix, iy)   (level tag keeps ids unique per level)

Everything is pure int64 numpy — exact, portable, vectorized, and therefore
safe to reproduce inside Spark SQL expressions when the encode should run
JVM-side (`spark_cell_expr`, `with_cell_column`: the cell rollups). The PIP
kernel (spatial/index.py) maps points to cells with `cell_ixiy`, the same
formula its cell cover uses, so boundary points land in the covered cell.
"""

from __future__ import annotations

import numpy as np

CELL_LEVEL_DEFAULT = 7  # 128×128 world grid ≈ 2.8°×1.4° cells

_LON_SPAN = 360.0
_LAT_SPAN = 180.0


def _spread_classic(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 29 bits of v (Morton spread)."""
    v = v.astype(np.int64) & 0x1FFFFFFF
    v = (v | (v << 16)) & 0x0000FFFF0000FFFF
    v = (v | (v << 8)) & 0x00FF00FF00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v << 2)) & 0x3333333333333333
    v = (v | (v << 1)) & 0x5555555555555555
    return v


def cell_ixiy(lon, lat, level: int = CELL_LEVEL_DEFAULT):
    """Integer cell coordinates (ix, iy) at the given level, clamped."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = 1 << level
    ix = np.floor((lon + 180.0) / _LON_SPAN * n).astype(np.int64)
    iy = np.floor((lat + 90.0) / _LAT_SPAN * n).astype(np.int64)
    np.clip(ix, 0, n - 1, out=ix)
    np.clip(iy, 0, n - 1, out=iy)
    return ix, iy


def cell_of(lon, lat, level: int = CELL_LEVEL_DEFAULT) -> np.ndarray:
    """Vectorized cell id for points."""
    ix, iy = cell_ixiy(lon, lat, level)
    return (np.int64(level) << 58) | _spread_classic(ix) | (_spread_classic(iy) << 1)


def cell_id_from_ixiy(ix, iy, level: int = CELL_LEVEL_DEFAULT) -> np.ndarray:
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    return (np.int64(level) << 58) | _spread_classic(ix) | (_spread_classic(iy) << 1)


def cell_bounds(cell_id: int) -> tuple[float, float, float, float]:
    """(minlon, minlat, maxlon, maxlat) of a cell."""
    level = int(cell_id) >> 58
    n = 1 << level
    m = int(cell_id) & ((1 << 58) - 1)
    ix = _compact(m)
    iy = _compact(m >> 1)
    w = _LON_SPAN / n
    h = _LAT_SPAN / n
    return (-180.0 + ix * w, -90.0 + iy * h, -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h)


def _compact(v: int) -> int:
    v &= 0x5555555555555555
    v = (v | (v >> 1)) & 0x3333333333333333
    v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
    v = (v | (v >> 16)) & 0x00000000FFFFFFFF
    return int(v)


def cell_cover_bbox(
    minlon: float, minlat: float, maxlon: float, maxlat: float,
    level: int = CELL_LEVEL_DEFAULT,
) -> np.ndarray:
    """All cell ids at `level` whose cells intersect the bbox (filter phase of
    the filter-refine spatial join — replaces the reference's R-tree bbox
    prefilter, lib/AreaTree.pm:59-71)."""
    n = 1 << level
    ix0, iy0 = cell_ixiy(np.array([minlon]), np.array([minlat]), level)
    ix1, iy1 = cell_ixiy(np.array([maxlon]), np.array([maxlat]), level)
    ixs = np.arange(ix0[0], min(ix1[0], n - 1) + 1, dtype=np.int64)
    iys = np.arange(iy0[0], min(iy1[0], n - 1) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys)
    return cell_id_from_ixiy(gx.ravel(), gy.ravel(), level)


def spark_cell_expr(lon_col: str, lat_col: str, level: int = CELL_LEVEL_DEFAULT) -> str:
    """SQL expression string computing the SAME cell id JVM-side.

    Spark evaluates this in whole-stage codegen, so the coarse phase of the
    spatial join never touches Python. The bit-spread matches
    `_spread_classic` exactly (integer ops — bit-identical to numpy).
    """
    n = 1 << level

    def spread(expr: str, shift: int = 0) -> str:
        v = f"(CAST({expr} AS BIGINT) & 536870911)"
        v = f"(({v} | ({v} << 16)) & 281470681808895)"
        v = f"(({v} | ({v} << 8)) & 71777214294589695)"
        v = f"(({v} | ({v} << 4)) & 1085102592571150095)"
        v = f"(({v} | ({v} << 2)) & 3689348814741910323)"
        v = f"(({v} | ({v} << 1)) & 6148914691236517205)"
        return f"({v} << {shift})" if shift else v

    ix = f"GREATEST(0L, LEAST({n - 1}L, CAST(FLOOR(({lon_col} + 180.0D) / 360.0D * {n}) AS BIGINT)))"
    iy = f"GREATEST(0L, LEAST({n - 1}L, CAST(FLOOR(({lat_col} + 90.0D) / 180.0D * {n}) AS BIGINT)))"
    return f"(CAST({level} AS BIGINT) << 58) | {spread(ix)} | {spread(iy, 1)}"


_SPREAD_STEPS = (
    (16, 281470681808895),
    (8, 71777214294589695),
    (4, 1085102592571150095),
    (2, 3689348814741910323),
    (1, 6148914691236517205),
)


def with_cell_column(df, out_col: str, lon_col: str, lat_col: str,
                     level: int = CELL_LEVEL_DEFAULT):
    """Append `out_col` = the same cell id as spark_cell_expr/cell_of, but
    via STAGED projections: each Morton spread step lives in its own
    select, referencing the previous step's column. The single-expression
    form duplicates its input text twice per step (2^5 copies of the FLOOR
    subtree per coordinate), which costs real driver time to parse,
    optimize and codegen on every invocation — measured 0.74 s → 0.43 s
    warm build+plan+run on cell_rollup, plan text 24.8 kB → 3.4 kB.
    CollapseProject keeps the stages separate (each step references a
    non-cheap producer twice), and whole-stage codegen still fuses them
    into one compute stage with local variables. Bit-identical output.
    Raises ValueError when a staging column name is already taken."""

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    base = [q(c) for c in df.columns]
    ix, iy = f"__{out_col}_ix", f"__{out_col}_iy"
    taken = sorted({ix, iy} & set(df.columns))
    if taken:
        raise ValueError(
            f"with_cell_column: staging column(s) {taken} already in df"
        )
    ix, iy = q(ix), q(iy)
    n = 1 << level
    df = df.selectExpr(
        *base,
        f"(GREATEST(0L, LEAST({n - 1}L, CAST(FLOOR(({lon_col} + 180.0D) / "
        f"360.0D * {n}) AS BIGINT))) & 536870911) AS {ix}",
        f"(GREATEST(0L, LEAST({n - 1}L, CAST(FLOOR(({lat_col} + 90.0D) / "
        f"180.0D * {n}) AS BIGINT))) & 536870911) AS {iy}",
    )
    for shift, mask in _SPREAD_STEPS:
        df = df.selectExpr(
            *base,
            f"(({ix} | ({ix} << {shift})) & {mask}) AS {ix}",
            f"(({iy} | ({iy} << {shift})) & {mask}) AS {iy}",
        )
    return df.selectExpr(
        *base,
        f"((CAST({level} AS BIGINT) << 58) | {ix} | ({iy} << 1)) "
        f"AS {q(out_col)}",
    )


def duck_cell_expr(lon_col: str, lat_col: str, level: int = CELL_LEVEL_DEFAULT) -> str:
    """DuckDB twin of spark_cell_expr — identical integer bit-spread, DuckDB
    literal/cast syntax (no 0L/D suffixes). Used by the cell_encode oracle."""
    n = 1 << level

    def spread(expr: str, shift: int = 0) -> str:
        v = f"(CAST({expr} AS BIGINT) & 536870911)"
        v = f"(({v} | ({v} << 16)) & 281470681808895)"
        v = f"(({v} | ({v} << 8)) & 71777214294589695)"
        v = f"(({v} | ({v} << 4)) & 1085102592571150095)"
        v = f"(({v} | ({v} << 2)) & 3689348814741910323)"
        v = f"(({v} | ({v} << 1)) & 6148914691236517205)"
        return f"({v} << {shift})" if shift else v

    ix = (f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({n - 1} AS BIGINT), "
          f"CAST(FLOOR(({lon_col} + 180.0) / 360.0 * {n}) AS BIGINT)))")
    iy = (f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({n - 1} AS BIGINT), "
          f"CAST(FLOOR(({lat_col} + 90.0) / 180.0 * {n}) AS BIGINT)))")
    return (f"((CAST({level} AS BIGINT) << 58) | {spread(ix)} | "
            f"{spread(iy, 1)})")
