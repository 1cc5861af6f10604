"""osm2mp_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the geospatial query semantics of
liosha/osm2mp (reference at /root/reference, Perl) as idiomatic Spark:
DataFrame/SQL logical plans, Arrow-vectorized geometry kernels, broadcast
polygon indexes, salted repartitioning for hot-tile skew, and a BSP tile
partitioner. Nothing in here is a port — the reference defines WHAT is
computed (SURVEY.md), this package defines HOW on Spark.

Layout:
  geometry/   numpy kernels (PIP, clip, shoelace, intersections) + cell ids
  spatial/    broadcastable polygon index, BSP tile tree
  operators/  spatial joins, clipping, chain ops, dedup, similarity, text
  functions/  rule engine (YAML-rule → Column compiler), string/access kernels
  sources/    deterministic fixture generators (images table, polygon layers)
  plans/      end-to-end pipelines (flagship spatial pipeline)
  streaming/  per-partition checkpoint/lineage manifests
  oracle/     pure-python single-node oracle of the reference semantics
"""

__version__ = "0.1.0"

import os as _os

# Inside a PySpark worker (the daemon sets the factory secret in every
# worker's environment, never in the driver's): the first engine closure a
# worker unpickles imports this package, and every later task the reused
# worker runs skips the per-task zip directory re-read.
if "PYTHON_WORKER_FACTORY_SECRET" in _os.environ:
    from .shipping import install_lazy_zip_invalidation

    install_lazy_zip_invalidation()
