"""Row counts from parquet footers — driver-side, no Spark job.

A Spark `count()` over a parquet path submits a schema-inference job and
a count job; the footers already hold the row count of every row group.
The streaming stores size their reads and ledgers from these helpers, and
the image queries size their corpus from the customer table the same way.
Anything pyarrow cannot footer-read falls back to Spark (`parquet_rows`)
or reports None (`rowgroup_stats`), so a caller never gets a wrong count.
"""

from __future__ import annotations

import os


def rowgroup_stats(path: str) -> tuple[int, int] | None:
    """(total_rows, max_rowgroup_rows) of a parquet file, or of the flat
    directory of part files Spark writes. Like Spark, a listing skips
    names starting with `_` or `.`. None when the path scheme can't be
    footer-read, or the listing holds anything but `.parquet` files (a
    partitioned layout, or files of another naming), whose rows Spark
    would read but these footers would not count."""
    try:
        import pyarrow.parquet as pq

        if "://" in path:
            from pyarrow import fs as pafs

            fsys, inner = pafs.FileSystem.from_uri(path)
            info = fsys.get_file_info(inner)
            listed = info.type != pafs.FileType.File
            entries = [
                (e.path, e.type == pafs.FileType.File)
                for e in (
                    fsys.get_file_info(pafs.FileSelector(inner))
                    if listed else [info]
                )
            ]
            opener = lambda f: pq.ParquetFile(f, filesystem=fsys)  # noqa: E731
        else:
            listed = not os.path.isfile(path)
            entries = (
                [(e.path, e.is_file()) for e in os.scandir(path)]
                if listed else [(path, True)]
            )
            opener = pq.ParquetFile
        if listed:
            entries = [
                (f, is_file) for f, is_file in entries
                if not os.path.basename(f).startswith(("_", "."))
            ]
            if not all(
                is_file and f.endswith(".parquet") for f, is_file in entries
            ):
                return None
        files = [f for f, _ in entries]
        total, biggest = 0, 1
        for f in files:
            md = opener(f).metadata
            total += md.num_rows
            for i in range(md.num_row_groups):
                biggest = max(biggest, md.row_group(i).num_rows)
        return total, biggest
    except Exception:
        return None


def parquet_rows(spark, paths: list[str]) -> int:
    """Total rows of parquet files or dirs, summed from their footers —
    no Spark job. Falls back to a Spark count only for a path pyarrow
    cannot footer-read."""
    total = 0
    for p in paths:
        stats = rowgroup_stats(p)
        if stats is None:
            return spark.read.parquet(*paths).count()
        total += stats[0]
    return total
