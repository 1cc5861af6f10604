"""The workloads: their seeded inputs, one timed pass, the traced pass
with its layer decomposition, and the output checks.

Four workload bodies, run as two benchmark workloads: `batch_rollup` runs
geo_tiles, image_dedup and image_table in one process, one query after
another, and `stream_ingest` runs alone. On a shared 4-core VM each run
pays a fixed ~45 s for its Spark session, three set-ups and a checked
warm-up, so four separate workloads would not fit the benchmark's time
budget.

Every call goes through a public function of an `osm2mp_spark` module (or
the query registry); the benchmark times those calls and forces each
layer's output at its boundary. Nothing here changes engine behaviour.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Clock, dir_bytes, noop, tree_cpu_s

# Sizes per scale. "full" is the benchmark; "tiny" is the smoke test's
# sf0.001-sized copy of every workload.
SCALES = {
    "full": dict(customers=3_000, orders=6_000, corpus=2_000, table_rows=1_000,
                 stream_files=4, stream_per_file=40, compact_every=2),
    "tiny": dict(customers=150, orders=375, corpus=300, table_rows=200,
                 stream_files=2, stream_per_file=70, compact_every=1),
}

# The geometry queries that exercise the JVM layers: broadcast PIP, kNN,
# clipping with its shuffle, the windowed chain closure over tiles, and the
# fused PIP+BSP flagship kernel. Each query costs ~2.5 s a run (its cold
# compile in the checked warm-up plus its timed execution), so the rest of
# the registered geometry set is left out to keep a run near a minute.
GEO_QUERIES = ["pip_city", "knn_city", "clip_chains", "tile_chain_closure",
               "flagship_lineitem"]
MAX_HAMMING = 7
BSP_POINTS = 15_000  # points of the tile model each setup builds
DUP_EVERY = 7  # the corpus generator plants a near-duplicate of every 7th image
# the engine's PHASH_CORPUS_SCHEMA and IMAGES_SCHEMA, as arrow schemas
LANDING_SCHEMA = pa.schema([("image_id", pa.string()), ("bytes", pa.binary()),
                            ("w", pa.int32()), ("h", pa.int32()),
                            ("fmt", pa.string()), ("caption", pa.string())])
IMAGES_TABLE_SCHEMA = LANDING_SCHEMA.append(pa.field("phash", pa.int64())).append(
    pa.field("lon", pa.float64())).append(pa.field("lat", pa.float64()))


def point_offset(seed: int) -> int:
    """Shift of every generated point id (customer and order keys)."""
    return seed * 1_000_000


def image_offset(seed: int) -> int:
    """Shift of every generated image index. A multiple of DUP_EVERY, so
    each seed plants the same number of near-duplicates."""
    return (seed % 1000) * 700_000


def with_dups(n: int) -> int:
    """Images in a corpus of n originals: plus one duplicate of every 7th."""
    return n + -(-n // DUP_EVERY)


def median(xs: list[float]) -> float:
    """Median, or 0 for a layer that did no work (e.g. a failed stream)."""
    return float(np.median(xs)) if xs else 0.0


# --- inputs --------------------------------------------------------------------


def write_geo_tables(out: str, customers: int, orders: int, seed: int) -> int:
    """customer and lineitem parquet tables with the columns the geometry
    queries read; keys are shifted by the seed. Returns the lineitem rows."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    off = point_offset(seed)
    pq.write_table(
        pa.table({"c_custkey": off + np.arange(1, customers + 1, dtype=np.int64)}),
        os.path.join(out, "customer.parquet"))
    lines = rng.integers(1, 8, orders)
    orderkey = np.repeat(off + np.arange(1, orders + 1, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    pq.write_table(pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, 20_001, orderkey.size),
        "l_suppkey": rng.integers(1, 1_001, orderkey.size),
        "l_linenumber": (np.arange(orderkey.size) - first + 1).astype(np.int32),
    }), os.path.join(out, "lineitem.parquet"))
    return int(orderkey.size)


def write_corpus_size(out: str, n: int) -> None:
    """`flagship_dedup` sizes its corpus by the customer table of the
    directory it is given: n rows give images 0..n-1 as originals."""
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({"c_custkey": np.arange(1, n + 1, dtype=np.int64)}),
                   os.path.join(out, "customer.parquet"))


def write_rows(out: str, rows: list[dict], schema: pa.Schema, files: int) -> None:
    """Rows as `files` parquet files in `out`, in order. Generated inputs
    are small, so they are written from the driver: a Spark job here would
    start the Python workers inside the set-up's timing."""
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, len(rows), files + 1).astype(np.int64)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(pa.Table.from_pylist(rows[a:b], schema=schema),
                       os.path.join(out, f"part-{i:05d}.parquet"))


def write_image_table(out: str, rows: int, offset: int, files: int) -> None:
    """The stored image+caption table (bytes, fmt, lon, lat, ...) scanned by
    `flagship_images`, from the engine's own row generator."""
    from osm2mp_spark.sources.images import image_row

    write_rows(out, [image_row(i) for i in range(offset, offset + rows)],
               IMAGES_TABLE_SCHEMA, files)


def write_landing(out: str, start: int, n: int, files: int) -> None:
    """Dedup-corpus rows (originals plus a near-duplicate of every 7th) for
    indices [start, start + n), from the engine's row generator, landed as
    `files` parquet files in index order."""
    from osm2mp_spark.sources.images import phash_corpus_row

    rows = []
    for idx in range(start, start + n):
        rows.append(phash_corpus_row(idx, dup=False))
        if idx % DUP_EVERY == 0:
            rows.append(phash_corpus_row(idx, dup=True))
    write_rows(out, rows, LANDING_SCHEMA, files)


# --- independent spatial reference (numpy) ---------------------------------------


def resolve_cities(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force city of each point: the smallest containing city polygon
    (ties by id), else the nearest city centre (ties by id). Returns the
    city ids and the mask of points that no city contains."""
    from osm2mp_spark.sources.layers import CITIES, city_polygons

    city = np.full(lon.shape, None, dtype=object)
    open_ = np.ones(lon.shape, dtype=bool)
    for poly in sorted(city_polygons(), key=lambda p: (p.area, p.area_id)):
        hit = np.zeros(lon.shape, dtype=bool)
        hit[open_] = poly.contains(lon[open_], lat[open_]) >= 0
        city[hit] = poly.area_id
        open_ &= ~hit
    ids = [c["area_id"] for c in CITIES]
    order = np.argsort(ids, kind="stable")
    d2 = np.stack([(lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)
                   for cx, cy in (CITIES[i]["center"] for i in order)])
    nearest = np.asarray(ids, dtype=object)[order][np.argmin(d2, axis=0)]
    city[open_] = nearest[open_]
    return city, open_


def tile_rollup(spark, lon, lat, weights: dict[str, np.ndarray]) -> pd.DataFrame:
    """Expected per-(city, tile) sums of `weights` for the given points,
    tiles from the engine's BSP tile model."""
    from osm2mp_spark.plans.flagship import _bsp_tree_cached

    city, _ = resolve_cities(lon, lat)
    frame = pd.DataFrame({"city_id": city,
                          "tile_id": _bsp_tree_cached(spark).assign(lon, lat),
                          **weights})
    return frame.groupby(["city_id", "tile_id"], as_index=False).sum()


def planted_hamming(idx: int) -> int:
    """Hamming distance between corpus image `idx` and its planted
    near-duplicate, from the engine's signature function."""
    from osm2mp_spark.operators.images import wide_signature
    from osm2mp_spark.sources.images import decode, phash_corpus_row

    a, b = (phash_corpus_row(idx, dup=d) for d in (False, True))
    sa, sb = (wide_signature(decode(r["bytes"], r["fmt"])) for r in (a, b))
    return sum(bin((x ^ y) & (2**64 - 1)).count("1") for x, y in zip(sa, sb))


# --- output checks -----------------------------------------------------------------
# Each check also proves itself: the same comparison must reject the output
# with one row dropped, or the check fails.


def same_rows(expected: pd.DataFrame, actual: pd.DataFrame) -> bool:
    """Exact multiset equality of two frames over the expected columns."""
    cols = list(expected.columns)
    if len(expected) != len(actual) or not set(cols) <= set(actual.columns):
        return False
    a = expected[cols].astype(str).sort_values(cols).reset_index(drop=True)
    b = actual[cols].astype(str).sort_values(cols).reset_index(drop=True)
    return bool((a == b).all().all())


def check_rows(name: str, expected: pd.DataFrame, actual: pd.DataFrame) -> dict:
    """Compare, and prove the comparison would catch one dropped row."""
    ok = same_rows(expected, actual)
    catches = len(actual) > 0 and not same_rows(expected, actual.iloc[1:])
    return {"name": name, "ok": ok and catches, "rows": len(actual),
            "drop_one_row_caught": catches}


def check_against_oracle(con, name: str, oracle_sql: str, out_dir: str) -> dict:
    """Spark's written output against the query's DuckDB oracle, compared
    as multisets inside DuckDB."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {oracle_sql}")
    cols = ", ".join(f'"{c}"' for c in (r[0] for r in con.execute(
        "DESCRIBE o").fetchall()))
    con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT {cols} "
                f"FROM read_parquet('{out_dir}/*.parquet')")
    con.execute("CREATE OR REPLACE TEMP TABLE s1 AS SELECT * FROM s "
                "WHERE rowid <> (SELECT MIN(rowid) FROM s)")

    def diff(s_table: str) -> int:
        return con.execute(
            f"SELECT (SELECT COUNT(*) FROM (SELECT * FROM o EXCEPT ALL "
            f"SELECT * FROM {s_table})) + (SELECT COUNT(*) FROM (SELECT * "
            f"FROM {s_table} EXCEPT ALL SELECT * FROM o))").fetchone()[0]

    rows = con.execute("SELECT COUNT(*) FROM s").fetchone()[0]
    ok = diff("s") == 0
    catches = rows > 0 and diff("s1") != 0
    return {"name": name, "ok": ok and catches, "rows": rows,
            "drop_one_row_caught": catches}


# --- workloads -------------------------------------------------------------------


class Workload:
    """One workload. `setup` may run several times (the last inputs win);
    `warm_up` runs once before the timed passes and runs the output checks,
    which `check` then reports; `run_pass` is the timed unit and returns
    (wall s, CPU s) of each unit of work it certified (a query's result
    written, or a micro-batch's metrics row); `units` is how many it
    attempts; `traced_pass` repeats it inside spans; `layers` decomposes
    it into one span per layer with each layer's output forced."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = SCALES[ctx.scale]

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.ctx.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def setup(self, rep: int) -> dict:
        """The spatial models, then this workload's inputs; the previous
        repetition's inputs are dropped."""
        t = self.models()
        t0 = time.perf_counter()
        self.make_inputs(self.fresh_dir(f"inputs-{rep}"))
        t["setup.inputs_s"] = time.perf_counter() - t0
        if rep:
            shutil.rmtree(os.path.join(self.ctx.work, f"inputs-{rep - 1}"),
                          ignore_errors=True)
        return t

    def models(self) -> dict:
        """Build the city index and a tile model; returns their times."""
        from osm2mp_spark.operators.tiles import build_bsp_tiles_spark
        from osm2mp_spark.sources.layers import city_polygons
        from osm2mp_spark.sources.points import with_derived_position
        from osm2mp_spark.spatial.index import PolygonIndex

        t = {}
        t0 = time.perf_counter()
        PolygonIndex(city_polygons())
        t["spatial.index_build_s"] = time.perf_counter() - t0
        # a tile model over seeded points (the flagship's own model, over a
        # fixed 200k-point sample, is built once per session by its first call)
        t0 = time.perf_counter()
        off = point_offset(self.ctx.seed)
        build_bsp_tiles_spark(with_derived_position(
            self.spark.range(off, off + BSP_POINTS).selectExpr("id AS point_id"), "point_id"))
        t["spatial.bsp_build_s"] = time.perf_counter() - t0
        return t

    def check(self) -> list[dict]:
        return self.results


class QueryWorkload(Workload):
    """A batch workload: a pass calls registered query builders one after
    another and writes each result to a noop sink. A query's unit of work
    runs from its builder call to its result written."""

    def queries(self) -> list[tuple[str, str, object]]:
        """(name, span prefix, builder) in pass order."""
        raise NotImplementedError

    @property
    def units(self) -> int:
        return len(self.queries())

    def run_pass(self) -> list[tuple[float, float]]:
        units = []
        for _name, _prefix, build in self.queries():
            clock = Clock()
            noop(build())
            units.append(clock.lap())
        return units

    def traced_pass(self, tr) -> None:
        for _name, prefix, build in self.queries():
            with tr.span(prefix):
                with tr.span(f"{prefix}.build"):
                    df = build()
                with tr.span(f"{prefix}.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span(f"{prefix}.{self.exec_span}"):
                    noop(df)

    exec_span = "exec"


class GeoTiles(QueryWorkload):
    """The geometry query set plus the lineitem flagship (fused PIP+BSP
    kernel with expression kNN) over seeded customer and lineitem points:
    cell encode, broadcast PIP, shuffles and windows."""

    name = "geo_tiles"

    def make_inputs(self, root: str) -> None:
        s = self.size
        self.geo = root
        self.lineitems = write_geo_tables(root, s["customers"], s["orders"], self.ctx.seed)

    @property
    def input_rows(self) -> int:
        return self.size["customers"] + self.lineitems

    def queries(self):
        from osm2mp_spark import queries as Q
        from osm2mp_spark.plans.flagship import flagship_lineitem

        Q.load_all()
        build = dict(Q.QUERIES, flagship_lineitem=flagship_lineitem)
        return [(q, f"queries.{q}", lambda q=q: build[q](self.spark, self.geo))
                for q in GEO_QUERIES]

    def warm_up(self) -> None:
        """Every query written out once and checked: the geometry queries
        against their DuckDB oracles, the flagship against a numpy rollup."""
        import duckdb

        from osm2mp_spark import queries as Q
        from osm2mp_spark.sources.points import derived_points_np

        built = {name: build for name, _p, build in self.queries()}
        out_root = self.fresh_dir("check")
        con = duckdb.connect()
        for t in ("customer", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.geo}/{t}.parquet')")
        results = []
        for q in GEO_QUERIES[:-1]:
            out = os.path.join(out_root, q)
            built[q]().write.parquet(out)
            results.append(check_against_oracle(con, q, Q.ORACLES[q], out))
        con.close()
        shutil.rmtree(out_root, ignore_errors=True)

        li = pq.read_table(os.path.join(self.geo, "lineitem.parquet")).to_pandas()
        keys = li.l_orderkey.to_numpy() * 10 + li.l_linenumber.to_numpy()
        lon, lat = derived_points_np(keys)
        _city, uncontained = resolve_cities(lon, lat)
        self.fallback_ratio = float(uncontained.mean())
        expected = tile_rollup(self.spark, lon, lat,
                               {"count": np.ones(len(keys), dtype=np.int64)})
        results.append(check_rows("flagship_lineitem", expected,
                                  built["flagship_lineitem"]().toPandas()))
        self.results = results

    def layers(self, tr) -> dict:
        from osm2mp_spark.plans.flagship import flagship_assign
        from osm2mp_spark.sources.points import with_derived_position

        with tr.span("layers"):
            with tr.span("sources.lineitem_scan"):
                pts = with_derived_position(
                    self.spark.read.parquet(os.path.join(self.geo, "lineitem.parquet"))
                    .selectExpr("(CAST(l_orderkey AS BIGINT) * 10 + l_linenumber)"
                                " AS point_id"),
                    "point_id").localCheckpoint(eager=True)
            with tr.span("plans.flagship.assign"):
                noop(flagship_assign(pts))
        return {"plans.flagship.fallback_ratio": (self.fallback_ratio, "ratio")}


class ImageDedup(QueryWorkload):
    """`flagship_dedup`: corpus generation, codecs, the wide signature
    kernel, the banded self-join, driver-side union-find, then the flagship
    assignment of the keepers. The timing includes the query's builder,
    which runs the component jobs from the driver.

    The registered query generates its corpus from its size alone (images
    0..n-1), so the seed reaches it through the size: n = corpus + seed % 97."""

    name = "image_dedup"

    def make_inputs(self, root: str) -> None:
        self.n = self.size["corpus"] + self.ctx.seed % 97
        self.dedup = root
        write_corpus_size(root, self.n)

    @property
    def input_rows(self) -> int:
        return with_dups(self.n)

    def queries(self):
        from osm2mp_spark import queries as Q

        Q.load_all()
        return [("flagship_dedup", "driver",
                 lambda: Q.QUERIES["flagship_dedup"](self.spark, self.dedup))]

    def warm_up(self) -> None:
        """Every original keeps itself, and a planted near-duplicate folds
        into its original when their signatures (the engine's pure
        signature function, on the decoded generator rows) lie within the
        threshold; an unfolded duplicate is a keeper of its own. Unrelated
        images lie ~100 bits apart, so no other pair exists. Keys follow
        the query's packing: 4 * index, + 1 for the duplicate."""
        from osm2mp_spark.sources.points import derived_points_np

        idx = np.arange(self.n, dtype=np.int64)
        folded = np.zeros(len(idx), dtype=bool)
        for i in idx[idx % DUP_EVERY == 0]:
            folded[i] = planted_hamming(int(i)) <= MAX_HAMMING
        dups = idx[(idx % DUP_EVERY == 0) & ~folded]
        keys = np.concatenate([idx * 4, dups * 4 + 1])
        lon, lat = derived_points_np(keys)
        expected = tile_rollup(
            self.spark, lon, lat,
            {"n_keepers": np.ones(len(keys), dtype=np.int64),
             "n_images": np.concatenate([np.where(folded, 2, 1),
                                         np.ones(len(dups), dtype=np.int64)])})
        got = self.queries()[0][2]().toPandas()
        self.results = [
            check_rows("flagship_dedup", expected, got),
            check_rows("flagship_dedup_images_sum",
                       pd.DataFrame({"n_images": [self.input_rows]}),
                       pd.DataFrame({"n_images": [int(got.n_images.sum())]})),
        ]

    def layers(self, tr) -> dict:
        from pyspark.sql import functions as F

        from osm2mp_spark.operators.chains import min_label_components
        from osm2mp_spark.operators.images import (
            dhash_wide_images,
            wide_band_explode,
            wide_hamming_pairs,
        )
        from osm2mp_spark.plans.flagship import flagship_assign
        from osm2mp_spark.sources.images import generate_phash_corpus_df
        from osm2mp_spark.sources.points import with_derived_position

        sp = self.spark
        with tr.span("layers"):
            with tr.span("sources.images.gen"):
                corpus = generate_phash_corpus_df(sp, self.n).localCheckpoint(eager=True)
            with tr.span("operators.images.sigs"):
                sigs = dhash_wide_images(corpus).localCheckpoint(eager=True)
            with tr.span("operators.images.pairs"):
                pairs = wide_hamming_pairs(sigs, MAX_HAMMING).localCheckpoint(eager=True)
            with tr.span("operators.chains.components"):
                labels = min_label_components(pairs, src="id_a", dst="id_b")
                labels = labels.localCheckpoint(eager=True)
            with tr.span("plans.flagship.assign"):
                pts = with_derived_position(
                    sigs.selectExpr("CAST(regexp_extract(image_id, '([0-9]+)', 1)"
                                    " AS BIGINT) * 4 AS point_id"), "point_id")
                noop(flagship_assign(pts))
        bands = wide_band_explode(sigs).select("image_id", "band", "key")
        candidates = (bands.alias("a").join(bands.alias("b"), ["band", "key"])
                      .filter(F.col("a.image_id") < F.col("b.image_id")).count())
        n_pairs = pairs.count()
        return {
            "operators.images.candidates": (candidates, "count"),
            "operators.images.pairs": (n_pairs, "count"),
            "operators.images.pair_yield": (n_pairs / candidates if candidates else 0.0,
                                            "ratio"),
            "operators.chains.edges_in": (n_pairs, "count"),
            "operators.chains.components": (labels.select("label").distinct().count(),
                                            "count"),
        }


class ImageTable(QueryWorkload):
    """`flagship_images` over a stored image+caption parquet table: the
    only workload that scans stored binary payloads and decodes them in
    the fused kernel of `plans.images_flagship`."""

    name = "image_table"
    exec_span = "kernel"

    def make_inputs(self, root: str) -> None:
        self.table = root
        write_image_table(root, self.size["table_rows"], image_offset(self.ctx.seed),
                          self.spark.sparkContext.defaultParallelism)

    @property
    def input_rows(self) -> int:
        return self.size["table_rows"]

    def queries(self):
        from osm2mp_spark.plans.images_flagship import flagship_images

        return [("flagship_images", "plans.images_flagship",
                 lambda: flagship_images(self.spark, self.table))]

    def warm_up(self) -> None:
        """Rows per (city, tile) and their pixel sums against a numpy
        rollup of the stored table's positions and sizes."""
        tab = pq.read_table(self.table, columns=["lon", "lat", "w", "h"]).to_pandas()
        expected = tile_rollup(
            self.spark, tab.lon.to_numpy(), tab.lat.to_numpy(),
            {"n_images": np.ones(len(tab), dtype=np.int64),
             "total_pixels": (tab.w * tab.h).to_numpy(dtype=np.int64)})
        self.results = [check_rows("flagship_images", expected,
                                   self.queries()[0][2]().toPandas())]

    def layers(self, tr) -> dict:
        with tr.span("layers"):
            with tr.span("sources.images.table_scan"):
                noop(self.spark.read.parquet(self.table)
                     .select("image_id", "bytes", "fmt", "lon", "lat"))
        return {"sources.images.table_mb": (dir_bytes(self.table) / 2**20, "MB")}


def _progress_ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


class StreamIngest(Workload):
    """Incremental near-duplicate detection over a landing zone: one file
    per micro-batch, the store compacted every few batches, a fresh store
    and checkpoint per pass."""

    name = "stream_ingest"

    def make_inputs(self, root: str) -> None:
        s = self.size
        self.land = root
        write_landing(root, image_offset(self.ctx.seed),
                      s["stream_files"] * s["stream_per_file"], s["stream_files"])

    @property
    def input_rows(self) -> int:
        return with_dups(self.size["stream_files"] * self.size["stream_per_file"])

    @property
    def units(self) -> int:
        return self.size["stream_files"]

    def stream(self, base: str, land: str, every: int) -> dict:
        """One stream over a landing zone from a fresh store. A batch's
        wall time runs from its trigger's start (Spark's progress
        timestamp) to its certified metrics row; its CPU time from the end
        of the previous batch (or compaction, or the stream's start) to its
        certification. The store is compacted after every `every` batches,
        except after the last one. A stream that fails keeps the batches
        certified before the failure."""
        from osm2mp_spark.sources.images import PHASH_CORPUS_SCHEMA
        from osm2mp_spark.streaming.dedup import compact_store, start_incremental_dedup

        files = sum(f.endswith(".parquet") for f in os.listdir(land))
        store = os.path.join(base, "store")
        certified: dict[int, tuple[float, float]] = {}  # batch: (time, CPU s)
        compacts: list[tuple[int, float, float]] = []
        cpu_mark = [tree_cpu_s()]

        def on_batch(batch_id: int) -> None:
            now, cpu = time.time(), tree_cpu_s()
            certified[batch_id] = (now, cpu - cpu_mark[0])
            if (batch_id + 1) % every == 0 and batch_id + 1 < files:
                compact_store(self.spark, store)
                compacts.append((batch_id, now, time.time()))
            cpu_mark[0] = tree_cpu_s()

        t0 = time.time()
        q = start_incremental_dedup(
            self.spark, land, PHASH_CORPUS_SCHEMA, store_path=store,
            pairs_path=os.path.join(base, "pairs"),
            checkpoint_path=os.path.join(base, "ckpt"),
            max_hamming=MAX_HAMMING, max_files_per_trigger=1,
            on_batch_complete=on_batch)
        error = None
        try:
            q.awaitTermination()
        except Exception as e:  # the stream's failure, counted by the caller
            error = e
        finally:
            q.stop()
        wall = time.time() - t0
        started = {p["batchId"]: _progress_ts(p["timestamp"]) for p in q.recentProgress}
        batches, prev = [], t0
        for b in sorted(certified):
            end, cpu = certified[b]
            after = any(c < b for c, _a, _b in compacts)
            batches.append((b, started.get(b, prev), end, cpu, after))
            prev = end
        return {"wall": wall, "files": files, "batches": batches,
                "compacts": compacts, "base": base, "error": error}

    def run_pass(self) -> list[tuple[float, float]]:
        r = self.last = self.stream(self.fresh_dir("stream"), self.land,
                                    self.size["compact_every"])
        if r["error"] is not None:
            print(f"perfbench: stream failed: {r['error']!r}", file=sys.stderr,
                  flush=True)
        return [(end - start, cpu) for _b, start, end, cpu, _after in r["batches"]]

    def warm_up(self) -> None:
        """A two-file stream over a small landing zone of its own, with a
        compaction between the files, so both store-join paths are warm."""
        land = self.fresh_dir("landing-warm")
        write_landing(land, image_offset(self.ctx.seed) + 700_000, 14, 2)
        self.stream(self.fresh_dir("stream-warm"), land, every=1)

    def check(self) -> list[dict]:
        """The last timed stream's accumulated pairs against the batch join
        over the same landing files, and every landed image certified once,
        one batch per file."""
        from osm2mp_spark.operators.images import dhash_wide_images, wide_hamming_pairs
        from osm2mp_spark.streaming.dedup import read_batch_metrics, read_pairs

        base = self.last["base"]
        got = read_pairs(self.spark, os.path.join(base, "pairs")).toPandas()
        want = wide_hamming_pairs(
            dhash_wide_images(self.spark.read.parquet(self.land)), MAX_HAMMING
        ).toPandas()
        metrics = read_batch_metrics(self.spark, os.path.join(base, "store")).toPandas()
        return [
            check_rows("stream_pairs", want, got),
            check_rows("stream_images_certified",
                       pd.DataFrame({"n_images": [self.input_rows],
                                     "batches": [self.last["files"]]}),
                       pd.DataFrame({"n_images": [int(metrics.n_images.sum())],
                                     "batches": [len(metrics)]})),
        ]

    def traced_pass(self, tr) -> None:
        with tr.span("pass") as sid:
            self.run_pass()
        for _b, start, end, _cpu, _after in self.last["batches"]:
            tr.add("streaming.dedup.batch", start, end, parent=sid)
        for _b, start, end in self.last["compacts"]:
            tr.add("streaming.dedup.compact", start, end, parent=sid)

    def layers(self, tr) -> dict:
        from osm2mp_spark.operators.images import dhash_wide_images
        from osm2mp_spark.streaming.dedup import (
            read_batch_metrics,
            read_pairs,
            read_store_signatures,
        )

        s, sp = self.size, self.spark
        with tr.span("layers"):
            with tr.span("sources.images.gen"):
                write_landing(self.fresh_dir("landing-gen"), image_offset(self.ctx.seed),
                              s["stream_files"] * s["stream_per_file"], s["stream_files"])
            with tr.span("operators.images.sigs"):
                dhash_wide_images(sp.read.parquet(self.land)).localCheckpoint(eager=True)
        r = self.last
        store = os.path.join(r["base"], "store")
        m = read_batch_metrics(sp, store).toPandas()
        n_sigs = read_store_signatures(sp, store).count()
        lat = [(end - start, after) for _b, start, end, _cpu, after in r["batches"]]
        return {
            "streaming.dedup.batch_s_before_compaction":
                (median([x for x, after in lat if not after]), "s"),
            "streaming.dedup.batch_s_after_compaction":
                (median([x for x, after in lat if after]), "s"),
            "streaming.dedup.compact_s": (median([b - a for _c, a, b in r["compacts"]]), "s"),
            "streaming.dedup.store_rows_scanned": (int(m.store_rows_scanned.sum()), "count"),
            "streaming.dedup.read_mb": (float(m.read_bytes.sum()) / 2**20, "MB"),
            "streaming.dedup.store_bytes_per_sig": (dir_bytes(store) / max(n_sigs, 1), "B"),
            "streaming.dedup.pairs": (read_pairs(sp, os.path.join(r["base"], "pairs")).count(),
                                      "count"),
        }


class BatchRollup(Workload):
    """geo_tiles, image_dedup and image_table in one pass, each body one
    unit of work: the registered batch queries from rows to per-(city,
    tile) results."""

    name = "batch_rollup"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = [GeoTiles(ctx), ImageDedup(ctx), ImageTable(ctx)]

    def make_inputs(self, root: str) -> None:
        for p in self.parts:
            p.make_inputs(os.path.join(root, p.name))

    @property
    def input_rows(self) -> int:
        return sum(p.input_rows for p in self.parts)

    @property
    def units(self) -> int:
        return len(self.parts)

    def run_pass(self) -> list[tuple[float, float]]:
        """One unit per body: a single query's cost swings with the JVM's
        background compile and GC work, a body's much less. A body that
        raises is left out, and counts as failed."""
        units = []
        for p in self.parts:
            clock = Clock()
            try:
                p.run_pass()
            except Exception as e:  # counted by the caller as a missing unit
                print(f"perfbench: {p.name} failed: {e!r}", file=sys.stderr, flush=True)
                continue
            units.append(clock.lap())
        return units

    def traced_pass(self, tr) -> None:
        with tr.span("pass"):
            for p in self.parts:
                p.traced_pass(tr)

    def warm_up(self) -> None:
        for p in self.parts:
            p.warm_up()
        self.results = [r for p in self.parts for r in p.results]

    def layers(self, tr) -> dict:
        counts = {}
        for p in self.parts:
            counts.update(p.layers(tr))
        return counts


WORKLOADS = {w.name: w for w in (BatchRollup, StreamIngest)}
