"""Generate committed golden parquet artifacts for queries whose semantics
are not SQL-expressible (driver gate would otherwise record rows-only).

Each golden is the query's own output at sf0.01, canonically sorted, written
as ONE parquet file under tests/golden/. The DuckDB oracle for such a query
is `SELECT * FROM read_parquet('<repo>/tests/golden/<name>.parquet')`, so the
driver's rows+schema+hash gate pins the output byte-for-byte across rounds.

The goldens are NOT self-fulfilling snapshots of arbitrary behavior: each
gated kernel is independently held to hand-computed fixtures and invariant
fuzz tests in tests/ (see FIXTURES.md §golden); the golden adds cross-round
drift detection at full sf0.01 scale on top.

Usage: PYTHONPATH=/root/repo python tools/make_golden.py [query ...]
       (default: all GOLDEN_QUERIES)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq
from spark_session import make_session

GOLDEN_QUERIES = [
    "bsp_tiles", "sea_synthesis", "clip_polygons_concave",
    # multimodal payload queries: engine-generated tables, no DuckDB view
    # possible — all aggregates are order-independent exact arithmetic
    "image_verify", "image_spatial_join", "image_dhash", "image_dhash_multi",
    "image_dhash_wide", "image_dhash_wide_multi", "image_captions",
    "image_resize_stats", "video_frame_sample",
    "audio_verify", "audio_features", "audio_spectrogram",
    # spatial leg of the composed flagship_dedup oracle — regenerate with
    # the rest so it can't silently go stale when spatial kernels change
    "flagship_image_assign",
]
SF_DIR = "/root/testdata/sf0.01"
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "tests", "golden")


def main():
    import __spark_entry__ as entry

    names = sys.argv[1:] or GOLDEN_QUERIES
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = make_session("make_golden")
    qs = entry.queries()
    for name in names:
        pdf = qs[name](spark, SF_DIR).toPandas()
        pdf = pdf.sort_values(list(pdf.columns), kind="stable").reset_index(drop=True)
        path = os.path.join(OUT_DIR, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        print(f"wrote {path}: {len(pdf)} rows, cols={list(pdf.columns)}")
    spark.stop()


if __name__ == "__main__":
    main()
