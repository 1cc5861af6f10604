"""Dump .explain('formatted') for named registry queries to plans/r06/.

Usage: python tools/dump_plans.py <suffix> [query ...]
Writes plans/r06/<query>_<suffix>.txt for each query (default: a fixed hot set)
and prints, per query, how many Python-evaluation operators its physical
plan holds (ArrowEvalPython, MapInPandas, BatchEvalPython,
FlatMapGroupsInPandas): each is one Python worker evaluation per task, so
a UDF evaluated twice or an unfused Python stage shows up in the dump.
For each banded Hamming join a query builds, it also prints the layout
operators.hamming chose (kind, band count, key bits, probes per band) and
the join's id rule; for each connected-components labeling, the path
operators.chains.min_label_components took (driver or distributed), the
edges it pulled, the driverMaxEdges bound and the fixpoint rounds run.

Exchange `plan_id`s and `#N` expression ids count up across the session,
so a query that runs Spark jobs while it is built (road_merge,
dedup_clusters, raster_contour_rings) would print different ids on each
run. Both are renumbered in order of first appearance before a dump is
written, so two runs of one tree give byte-identical dumps and a diff of
two trees shows only plan changes.
"""

from __future__ import annotations

import logging
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [
    "simhash_pairs",
    "simhash_wide_pairs",
    "image_dedup_phash",
    "image_dedup_wide",
    "image_dedup_clusters",
    "image_dedup_clusters_wide",
    "flagship_dedup",
    "image_ann_topk",
    "image_ann_topk_wide",
    "multimodal_dedup",
    "caption_exact_pairs",
    "node_degree",
    "tile_chain_closure",
    "clip_chains",
    "cell_rollup",
    # the PIP queries: each runs the PolygonIndex kernel in one Python
    # evaluation
    "pip_city",
    "pip_hierarchy",
    "knn_city",
    "access_flags",
    "cityside_chains",
    "pip_concave_city",
    "image_spatial_join",
    "flagship_image_assign",
    # connected components: road_merge and dedup_clusters print the
    # min_label_components decision; raster_contour_rings always labels
    # on the driver (its graph is bounded by the pixel grid)
    "road_merge",
    "dedup_clusters",
    "raster_contour_rings",
]


def normalize_ids(plan: str) -> str:
    """`plan` with its exchange plan ids and expression ids renumbered
    from 0 in order of first appearance."""
    for pattern in (r"(plan_id=)(\d+)", r"(#)(\d+)"):
        seen: dict[str, int] = {}
        plan = re.sub(
            pattern,
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen))),
            plan,
        )
    return plan


class _Lines(logging.Handler):
    """Keeps the messages of the records it is handed."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.lines: list[str] = []

    def emit(self, record):
        self.lines.append(record.getMessage())


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry
    from spark_session import make_session

    from osm2mp_spark.metrics import python_eval_counts

    qs = entry.queries()
    spark = make_session("dump-plans")
    records = _Lines()
    for logger in ("osm2mp_spark.operators.hamming",
                   "osm2mp_spark.operators.chains"):
        logging.getLogger(logger).setLevel(logging.INFO)
        logging.getLogger(logger).addHandler(records)
    for name in names:
        if name not in qs:
            print(f"skip {name}: not in registry")
            continue
        records.lines.clear()
        df = qs[name](spark, SF_DIR)
        plan = normalize_ids(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        evals = python_eval_counts(df)
        summary = " ".join(f"{k}={v}" for k, v in evals.items())
        print(f"wrote {path} ({len(plan)} chars); python evals "
              f"{sum(evals.values())}: {summary}")
        for line in records.lines:
            print(f"  {line}")
    spark.stop()


if __name__ == "__main__":
    main()
