"""Point-in-polygon (PIP) operators — both run `PolygonIndex`'s one kernel.

Re-expresses the reference's indexed nested-loop PIP joins (J2/J3/J4/J5/J6,
`lib/AreaTree.pm:55-75`, `osm2mp.pl:2183-2210`) as one Arrow-vectorized
pandas UDF per operator. The UDF reads a sparkContext broadcast of the
index and resolves each batch through its mask-grid kernel
(spatial/index.py): two numpy gathers give each point's candidate and
full-cell bitmasks, and only candidates of partial cells run the exact
three-state ray cast.

  - `pip_resolve`: the smallest-area container per point (ties by area_id)
    — the canonical deterministic replacement for the reference's
    first-match (SURVEY §7.3 risk 1). "Contained by any polygon" is
    `pip_resolve(..., keep_unmatched=True)` non-null.
  - `pip_flags_or`: the OR of the masks of every container (J5).

Both are one projection over the input rows: no join, no aggregation, no
shuffle, and one output row per input row. A null or non-finite coordinate
is contained by nothing. The UDF sees only (lon, lat), so wide payload
columns (image bytes) never reach Python (risk 5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..spatial.index import PolygonIndex


def _broadcast(df: DataFrame, value):
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    return df.sparkSession.sparkContext.broadcast(value)


def pip_resolve(
    df: DataFrame,
    index: PolygonIndex,
    lon: str = "lon",
    lat: str = "lat",
    area_col: str = "area_id",
    keep_unmatched: bool = False,
) -> DataFrame:
    """Smallest-wins PIP containment with zero shuffle (the SURVEY J2 shape).

    Returns df + area_col; unmatched rows dropped unless keep_unmatched
    (then area_col is null). This is the hot path for the 100 TB flagship."""
    bidx = _broadcast(df, index)

    @F.pandas_udf("string")
    def _resolve(lon_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        return pd.Series(
            bidx.value.smallest(lon_s.to_numpy(dtype=float), lat_s.to_numpy(dtype=float))
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
    rank_masks = [int(masks.get(aid, 0)) for aid in index.ranked_ids]
    bidx = _broadcast(df, index)

    @F.pandas_udf("int")
    def _flags(lon_s: pd.Series, lat_s: pd.Series) -> pd.Series:
        bits = bidx.value.containing(
            lon_s.to_numpy(dtype=float), lat_s.to_numpy(dtype=float)
        )
        out = np.zeros(len(bits), dtype=np.int32)
        for r, m in enumerate(rank_masks):
            out[((bits >> r) & 1).astype(bool)] |= m
        return pd.Series(out)

    return df.withColumn(out_col, _flags(F.col(lon), F.col(lat)))
