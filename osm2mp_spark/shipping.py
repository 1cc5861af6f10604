"""Runtime package shipping — the `spark-submit --py-files` contract.

In production the job ships as `spark-submit --py-files osm2mp_spark.zip`
(north rule). When the engine is driven from an interactive session instead,
`ensure_shipped(spark)` builds the same zip once and registers it with
`sparkContext.addPyFile`, so executor Python workers can unpickle broadcast
indexes and Arrow UDF closures that reference this package.

The executor-side Python environment is also tuned here: a PySpark worker
calls `importlib.invalidate_caches()` at the start of every task, which on
CPython < 3.13 re-reads the directory of every zip on `sys.path` (pyspark.zip
alone has ~1.3k entries, and each of its ~16 zipimporters re-reads it).
`install_lazy_zip_invalidation` makes that call re-read only an archive that
changed on disk.
"""

from __future__ import annotations

import os
import sys
import zipfile

_FLAG = "_osm2mp_spark_shipped"


def build_zip(out_path: str | None = None) -> str:
    """Zip the package deterministically (stable entry order + timestamps).

    If the package itself was imported FROM a zip (spark-submit --py-files
    already shipped it), return that archive — walking a zip-internal path
    yields nothing and would overwrite the archive we are running from
    with an empty one."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_root):
        container = pkg_root
        while container and not os.path.isfile(container):
            container = os.path.dirname(container)
        if container and zipfile.is_zipfile(container):
            return container
        raise RuntimeError(f"cannot locate package source at {pkg_root}")
    parent = os.path.dirname(pkg_root)
    out_path = out_path or os.path.join("/tmp", "osm2mp_spark.zip")
    entries = []
    for dirpath, dirnames, filenames in os.walk(pkg_root):
        dirnames.sort()
        if "__pycache__" in dirpath:
            continue
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                entries.append((full, os.path.relpath(full, parent)))
    # write-then-rename: the default path is SHARED across sessions
    # (/tmp/osm2mp_spark.zip) — an in-place zipfile write lets a concurrent
    # session read a half-written archive (observed: 0-entry zip handed to
    # spark-submit). os.replace is atomic on one filesystem.
    tmp = f"{out_path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, rel in entries:
            info = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
            with open(full, "rb") as f:
                zf.writestr(info, f.read())
    os.replace(tmp, out_path)
    return out_path


def ensure_shipped(spark) -> None:
    sc = spark.sparkContext
    if sc._jsc is None or getattr(sc, _FLAG, False):
        return
    sc.addPyFile(build_zip())
    setattr(sc, _FLAG, True)


def install_lazy_zip_invalidation() -> bool:
    """Make `zipimporter.invalidate_caches` keep an archive's directory
    while the archive is unchanged on disk — same (inode, size, mtime_ns)
    as at its last read — and re-read it, as before, once it changed or
    vanished. Every zipimporter of one archive shares the directory through
    `zipimport._zip_directory_cache`, so a task-start invalidation costs one
    stat per archive instead of one directory parse per importer.

    CPython >= 3.13 already invalidates lazily (its `invalidate_caches`
    only drops the cache entry), so nothing is installed there. Returns
    True when this call installed the wrapper."""
    if sys.version_info >= (3, 13):
        return False
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    if getattr(eager, "_lazy", False):
        return False
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and (
            read_at.get(self.archive) == stamp
        ):
            self._files = files
            return
        # stat BEFORE the read: an archive rewritten in between leaves a
        # stale stamp, so the next call re-reads rather than trusting it
        eager(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = stamp
        else:
            read_at.pop(self.archive, None)

    invalidate_caches._lazy = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
