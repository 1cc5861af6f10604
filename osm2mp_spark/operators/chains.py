"""Chain/graph operators that need per-chain state or fixpoint iteration:
W1 self-intersection splitting and I1 road merging.

W1 runs as applyInPandas per chain (chains are ≤ a few hundred vertices —
the per-group Python cost is trivial, the parallelism is across millions of
chains). I1 reduces to connected components: the mergeable-successor
relation is a functional graph (each road keeps at most one best
successor, each road is claimed by at most one predecessor), so every
merged chain is one component of it (SURVEY §2.8 I1).

This module is also the engine's one connected-components path:
`min_label_components` (a driver union-find at or below the
`driverMaxEdges` crossover, a distributed fixpoint above it),
`MinUnionFind` (the one driver union-find, also used by the streaming
cluster fold and contour-ring assembly), `component_sizes` (the
per-vertex cluster keep/drop decision of every dedup clustering query)
and `component_keepers` (only the keepers and their cluster sizes).
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..oracle.reference import (
    self_intersection_breaks_oracle,
    split_parts_from_breaks,
)

log = logging.getLogger(__name__)


def split_self_intersections(
    pts: DataFrame,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
    lon: str = "lon",
    lat: str = "lat",
    node_col: str | None = None,
    max_road_nodes: int | None = None,
) -> DataFrame:
    """W1 (osm2mp.pl:715-756): split a chain using the reference break rule
    — non-immediate repeats break at the last routing node (`$prev`),
    immediate repeats at the midpoint `(i + prev) >> 1`. Adjacent parts
    SHARE the break vertex (osm2mp.pl:770-775): break rows are emitted
    twice, once closing part k and once opening part k+1, so per-part
    chains stay topologically connected. Output adds part_no per row.

    `node_col`: optional boolean column marking routing nodes (the
    reference's %nodid — junction vertices); None = every vertex.

    Executes via grouped_map_in_pandas — one Python transition per Arrow
    batch instead of per chain (chains are tiny, there are millions)."""
    from .grouped import grouped_map_in_pandas

    schema = f"{chain_col} bigint, part_no int, {seq_col} bigint, {lon} double, {lat} double"

    def split(pdf: pd.DataFrame) -> pd.DataFrame:
        coords = list(zip(pdf[lon], pdf[lat]))
        routing = None
        if node_col is not None:
            flags = pdf[node_col].to_numpy()
            routing = {coords[i] for i in range(len(coords)) if flags[i]}
        # the reference RE-SPLITS new parts (osm2mp.pl:713 iterates a
        # growing @roadids; :772 pushes parts back) — a part may still
        # self-intersect when the break lands before the repeated vertex.
        # Guard: a child spanning its whole parent is kept as-is (the
        # reference would loop forever on e.g. a duplicated first vertex).
        done: list[list[int]] = []
        work: list[list[int]] = [list(range(len(coords)))]
        while work:
            idxs = work.pop()
            sub = [coords[j] for j in idxs]
            breaks = self_intersection_breaks_oracle(
                sub, routing_nodes=routing, max_road_nodes=max_road_nodes
            )
            if not breaks:
                done.append(idxs)
                continue
            for s, e in split_parts_from_breaks(len(sub), breaks):
                child = idxs[s : e + 1]
                if not child:
                    # breaks can DECREASE when routing nodes are sparse
                    # (midpoint break doesn't advance prev) — the Perl
                    # slice chain[b1..b0] is empty there too; skip it
                    continue
                (done if len(child) >= len(idxs) else work).append(child)
        done.sort(key=lambda ix: (ix[0], ix[-1]))
        idx: list[int] = []
        part: list[int] = []
        for p, idxs in enumerate(done):
            idx.extend(idxs)
            part.extend([p] * len(idxs))
        return pd.DataFrame(
            {
                chain_col: pdf[chain_col].to_numpy()[idx],
                "part_no": part,
                seq_col: pdf[seq_col].to_numpy()[idx],
                lon: pdf[lon].to_numpy()[idx],
                lat: pdf[lat].to_numpy()[idx],
            }
        )

    return grouped_map_in_pandas(
        pts, chain_col, split, schema=schema, order=seq_col
    )


def merge_roads(
    roads: DataFrame,
    merge_cos: float = 0.2,
) -> DataFrame:
    """I1 (osm2mp.pl:596-661): merge mergeable road chains to fixpoint.

    Input: (road_id bigint, attrs string, chain array<struct<lon,lat>>).
    Output: (road_id, head_id) — every road labeled with the head of its
    merged chain; the merged geometry is then a groupBy(head_id) concat.

    Plan shape: one self-join builds candidate junction edges; two window
    top-1 passes make the relation functional both ways (best successor per
    road, best predecessor per successor — ties by cosine then id, the
    canonical determinism rule); min_label_components then labels the
    merged chains — on the driver at or below its edge crossover, by the
    distributed fixpoint above it.
    """
    r = roads.select(
        "road_id",
        "attrs",
        F.element_at("chain", 1).alias("p_first"),
        F.element_at("chain", 2).alias("p_second"),
        F.element_at("chain", -1).alias("p_last"),
        F.element_at("chain", -2).alias("p_penult"),
        F.size("chain").alias("n"),
    ).filter(F.col("n") >= 2)

    # The junction-angle test depends only on the GEOMETRY triple
    # (q0=penultimate, q1=shared endpoint, q2=second-of-successor), never on
    # road ids — so hoist it to distinct geometries first. At a hub endpoint
    # shared by m outgoing and n incoming roads the naive road-level join
    # materializes m·n rows before the cosine can reject the junction; the
    # geometry-level prefilter evaluates each distinct (q0,q1)×(q1,q2) pair
    # once and only PASSING junctions rejoin the road level (measured 15M →
    # 0.5M candidate rows on the 300-position contention fixture, 9.6 → ~3 s).
    ga = r.select("attrs", F.col("p_penult").alias("q0"), F.col("p_last").alias("q1")).distinct()
    gb = r.select(
        F.col("attrs").alias("b_attrs"),
        F.col("p_first").alias("g1"),
        F.col("p_second").alias("q2"),
    ).distinct()
    gpairs = ga.join(
        gb,
        (F.col("q1.lon") == F.col("g1.lon"))
        & (F.col("q1.lat") == F.col("g1.lat"))
        & (F.col("attrs") == F.col("b_attrs")),
    )
    # junction angle cosine, lat-corrected (osm2mp.pl:1179-1193)
    clat = F.expr("cos(radians(q1.lat))")
    ax = (F.col("q1.lon") - F.col("q0.lon")) * clat
    ay = F.col("q1.lat") - F.col("q0.lat")
    bx = (F.col("q2.lon") - F.col("q1.lon")) * clat
    by = F.col("q2.lat") - F.col("q1.lat")
    cosv = (ax * bx + ay * by) / (
        F.sqrt(ax * ax + ay * ay) * F.sqrt(bx * bx + by * by)
    )
    geo = (
        gpairs.withColumn("cosv", cosv)
        .filter(F.col("cosv") > merge_cos)
        .select("attrs", "q0", "q1", "q2", "cosv")
    )
    # Two-level argmax — road-level m·n pairs are NEVER materialized. All
    # successor roads sharing one junction geometry are interchangeable up
    # to id: the best-successor rule (max cosv, then smallest succ id) picks
    # the geometry group's MIN road id, or its second-min when the min is
    # the pred itself. So per geometry keep the two smallest succ ids, give
    # every pred one candidate row per DISTINCT successor geometry at its
    # junction (not per successor road), and run the top-1 window on that.
    wb = Window.partitionBy("attrs", "p_first", "p_second").orderBy("road_id")
    btop = (
        r.select("attrs", "p_first", "p_second", "road_id")
        .withColumn("rn", F.row_number().over(wb))
        .filter("rn <= 2")
        .groupBy("attrs", "p_first", "p_second")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("road_id"))).alias("s1"),
            F.min(F.when(F.col("rn") == 2, F.col("road_id"))).alias("s2"),
        )
    )
    geo2 = geo.join(
        btop,
        (btop.attrs == geo.attrs)
        & (btop.p_first == geo.q1)
        & (btop.p_second == geo.q2),
    ).select(geo.attrs, "q0", "q1", "q2", "cosv", "s1", "s2")
    a = r.alias("a")
    edges = (
        a.join(
            geo2.alias("g"),
            (F.col("a.attrs") == F.col("g.attrs"))
            & (F.col("a.p_penult") == F.col("g.q0"))
            & (F.col("a.p_last") == F.col("g.q1")),
        )
        .select(
            F.col("a.road_id").alias("pred"),
            F.when(F.col("g.s1") != F.col("a.road_id"), F.col("g.s1"))
            .otherwise(F.col("g.s2"))
            .alias("succ"),
            F.col("g.cosv").alias("cosv"),
        )
        .filter(F.col("succ").isNotNull())
    )

    # functionalize: best successor per pred, then best pred per succ
    w1 = Window.partitionBy("pred").orderBy(F.col("cosv").desc(), F.col("succ"))
    best_succ = edges.withColumn("rn", F.row_number().over(w1)).filter("rn = 1")
    w2 = Window.partitionBy("succ").orderBy(F.col("cosv").desc(), F.col("pred"))
    func = (
        best_succ.withColumn("rn2", F.row_number().over(w2))
        .filter("rn2 = 1")
        .select("pred", "succ")
    )
    # materialize the functional edge set ONCE: every propagation round and
    # the final head resolution reuse it, and without the checkpoint Spark
    # re-executes the candidate self-join + both windows per round
    # (measured 25 s → ~4 s at sf0.1, 150k roads, ~14 rounds)
    func = func.localCheckpoint(eager=True)

    # Component labeling by min road_id over the UNDIRECTED functional
    # graph — unlike predecessor-pointer chasing this also handles CYCLES
    # (roundabout loops of same-attr ways), where the canonical head is the
    # cycle's smallest road_id (matches the oracle's break-at-min rule).
    # Only roads that PARTICIPATE in a merge (2·|func| rows) are labeled —
    # every other road is a singleton component whose head is itself.
    labels = min_label_components(
        func, src="pred", dst="succ"
    ).withColumnRenamed("vertex", "road_id")
    # head per component: the unique no-predecessor road (path start) when
    # one exists, else the component's min label (cycle break point)
    starts = (
        labels.join(
            func.select(F.col("succ").alias("road_id")).distinct(),
            "road_id",
            "left_anti",
        )
        .groupBy("label")
        .agg(F.min("road_id").alias("head_id"))
    )
    resolved = labels.join(starts, "label", "left").select(
        "road_id", F.coalesce("head_id", "label").alias("head_id")
    )
    # singletons: head = self (left join keeps the participant resolution)
    return (
        roads.select("road_id")
        .join(resolved, "road_id", "left")
        .select("road_id", F.coalesce("head_id", "road_id").alias("head_id"))
    )


def fix_close_nodes_walk(
    pts: DataFrame,
    fix_dist: float = 5.0,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """G14, the reference's SEQUENTIAL variant (osm2mp.pl:880-890 walk +
    fix_close_nodes :1145-1175): walk each chain in order; every too-close
    adjacent pair is pushed apart symmetrically to fix_dist around its
    midpoint, and the mutation COMPOUNDS — the next pair reads the moved
    vertex (the accordion dynamic the one-pass variant linearizes away).

    Canonical deviations (documented, SURVEY §7.3 risk 4): chains process
    independently in any order (the reference's Perl-hash road order only
    matters for nodes shared across roads); the lat-correction klon is fixed
    to 1 (equator-planar) so every output coordinate is exact-arithmetic
    (+ - * / sqrt abs sign) and bit-portable to the DuckDB oracle — the
    reference's cos(clat·3.14159/180) factor is a per-pair scale, not a
    structural difference. Pairs with identical coordinates are skipped
    (the reference's `$_ ne $cnode` node-identity guard).

    Output: (chain_col, seq_col, lon, lat) — FINAL positions of every vertex.
    """
    from .grouped import batched_map_in_pandas

    ldist = float(fix_dist)
    schema = f"{chain_col} bigint, {seq_col} bigint, {lon} double, {lat} double"

    def walk_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        """Step-synchronous vectorization ACROSS chains: pairs at the same
        in-chain position s belong to different chains and are independent,
        so step s fixes every chain's pair s in one numpy pass (≤ max chain
        length passes per batch — no per-group pandas slicing). Elementwise
        expressions are identical to the scalar walk, so output doubles are
        bit-equal (oracle-gated)."""
        import numpy as np

        lons = pdf[lon].to_numpy().copy()
        lats = pdf[lat].to_numpy().copy()
        chains = pdf[chain_col].to_numpy()
        n = len(lons)
        if n == 0:
            return pdf
        same = chains[1:] == chains[:-1]  # pair (i, i+1) stays in one chain
        idx = np.arange(n)
        starts = np.r_[True, ~same]
        pos = idx - np.maximum.accumulate(np.where(starts, idx, 0))
        max_pos = int(pos[:-1].max()) if n > 1 else -1
        for s in range(max_pos + 1):
            m = (pos[:-1] == s) & same
            j = np.nonzero(m)[0]
            if not len(j):
                break
            dlon = lons[j + 1] - lons[j]
            dlat = lats[j + 1] - lats[j]
            close = (dlat * dlat + dlon * dlon < ldist * ldist) & ~(
                (dlon == 0.0) & (dlat == 0.0)
            )
            if not close.any():
                continue
            j = j[close]
            dlon = dlon[close]
            dlat = dlat[close]
            clon = (lons[j] + lons[j + 1]) / 2.0
            clat = (lats[j] + lats[j + 1]) / 2.0
            vert = dlon == 0.0
            azim = dlat / np.where(vert, 1.0, dlon)
            ndlon = np.sqrt(ldist * ldist / (1.0 + azim * azim)) / 2.0
            ndlat = ndlon * np.abs(azim)
            slon = np.where(dlon > 0.0, 1.0, -1.0)
            slat = np.where(dlat == 0.0, 0.0, np.where(dlat > 0.0, 1.0, -1.0))
            sgn0 = np.where(dlat >= 0.0, 1.0, -1.0)  # dlat==0 → 1 (Perl rule)
            lons[j] = np.where(vert, clon, clon - ndlon * slon)
            lats[j] = np.where(
                vert, clat - ldist / 2.0 * sgn0, clat - ndlat * slat
            )
            lons[j + 1] = np.where(vert, clon, clon + ndlon * slon)
            lats[j + 1] = np.where(
                vert, clat + ldist / 2.0 * sgn0, clat + ndlat * slat
            )
        return pd.DataFrame(
            {
                chain_col: chains,
                seq_col: pdf[seq_col].to_numpy(),
                lon: lons,
                lat: lats,
            }
        )

    return batched_map_in_pandas(
        pts, chain_col, walk_batch, schema=schema, order=seq_col
    )


# Crossover for min_label_components: at or below this many (one-
# direction) edges the component labeling runs as a DRIVER union-find over
# the pulled edge list instead of the distributed fixpoint. Rationale
# (measured r3/r5): each fixpoint round costs ~0.4-0.5 s of FIXED job
# overhead at local[32] regardless of data volume, and the round count
# grows with component diameter — while a driver union-find over ≤200k
# edges is milliseconds and a few MB. Above the bound the distributed path
# is the only one that scales (a 100-TB corpus' near-dup pair graph can
# hold billions of edges); the bound is what keeps driver memory safe,
# exactly like the pruned-scan key crossover bounds plan size.
_DRIVER_EDGES_CONF = "spark.osm2mp.components.driverMaxEdges"
_DEFAULT_DRIVER_EDGES = 200_000


class MinUnionFind:
    """Driver union-find whose every root is its component's MINIMUM
    vertex: `union` hangs the larger root under the smaller, so `find(v)`
    is the min-label every components consumer and oracle uses. A vertex
    never passed to `union` is its own root."""

    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        parent = self.parent
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def min_label_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components of the undirected graph `edges` — (vertex,
    label = the component's minimum vertex) for every vertex appearing in
    an edge (callers add singletons back themselves, see component_sizes;
    at scale the participant set is typically a small fraction of the
    vertex table). Edges with a null endpoint name no vertex and are
    dropped. The distributed path needs integer vertex ids: its
    convergence witness sums labels.

    ADAPTIVE, and the only place that decides it: the edge list is
    checkpointed LAZILY, and ONE bounded pull of at most driverMaxEdges + 1
    edges both materializes it and picks the plan. When the pull comes back
    within the bound, the graph is already on the driver: MinUnionFind
    labels it, and the returned table — bounded at 2·driverMaxEdges rows —
    carries a broadcast hint, so callers join it without shuffling their
    own side. Beyond the edges' own shuffle stages that is one job.

    Above the bound the distributed fixpoint runs over the checkpoint the
    pull filled. Each round takes the min of own and neighbors' labels,
    then jumps through the label; one action per round (the convergence
    witness, which also materializes the round's lazy checkpoint). The
    round count is NOT logarithmic in general: it is when vertex ids
    follow path order (10 rounds for a 1024-vertex path), but a path whose
    ids are shuffled needs ~0.4·n rounds in the median and up to ~0.9·n
    (a numpy replay of this round over 200 shuffled paths: median 23, max
    55 at 64 vertices). So the loop runs until the witness stops moving —
    labels only decrease, so it terminates, and a round that changes
    nothing proves every label is its component's minimum.

    Logs one INFO record per call: the path taken, the edges pulled, the
    bound and the fixpoint rounds run."""
    spark = edges.sparkSession
    max_edges = int(
        spark.conf.get(_DRIVER_EDGES_CONF, str(_DEFAULT_DRIVER_EDGES))
    )
    # a null endpoint names no vertex: drop its edge on both paths (the
    # Arrow pull would turn it into a NaN vertex, the fixpoint into a null
    # label)
    one = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    ).localCheckpoint(eager=False)
    # Arrow toPandas + .tolist() (python-native values, same semantics
    # as Row indexing) measured ~2× faster than toLocalIterator for the
    # bounded edge pull, and the pandas createDataFrame path ships the
    # result back through Arrow instead of pickled rows
    pdf = one.limit(max_edges + 1).toPandas()
    if len(pdf) <= max_edges:
        log.info("components: driver, edges_pulled=%d, driverMaxEdges=%d, "
                 "rounds=0", len(pdf), max_edges)
        uf = MinUnionFind()
        verts = set()
        for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            verts.add(a)
            verts.add(b)
            uf.union(a, b)
        from pyspark.sql import types as T

        vt = one.schema[0].dataType
        schema = T.StructType([
            T.StructField("vertex", vt), T.StructField("label", vt)
        ])
        ordered = sorted(verts)
        return F.broadcast(spark.createDataFrame(
            pd.DataFrame(
                {"vertex": ordered, "label": [uf.find(v) for v in ordered]}
            ),
            schema,
        ))
    und = one.unionByName(
        one.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        und.select(F.col("a").alias("vertex")).distinct()
        .withColumn("label", F.col("vertex"))
    )
    prev_sum, rounds = None, 0
    while True:
        nb = (
            labels.join(und, labels.vertex == und.a, "inner")
            .select(F.col("b").alias("vertex"), F.col("label"))
        )
        merged = (
            labels.unionByName(nb)
            .groupBy("vertex")
            .agg(F.min("label").alias("label"))
        )
        l2 = merged.select(
            F.col("vertex").alias("j_v"), F.col("label").alias("j_label")
        )
        new = merged.join(
            l2, merged.label == l2.j_v, "left"
        ).select("vertex", F.least("label", "j_label").alias("label"))
        # lazy checkpoint: the convergence agg below is the action that
        # materializes it, so each round costs ONE action, not two
        new = new.localCheckpoint(eager=False)
        # labels only ever DECREASE (min-propagation), so their total is a
        # strictly monotone convergence witness: one cheap agg on the
        # checkpointed frame instead of a self-join count per round. The
        # sum is exact in decimal(38,0): a bigint sum of large keys would
        # overflow (an error under ANSI mode)
        s = new.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        labels, rounds = new, rounds + 1
        if s == prev_sum:
            break
        prev_sum = s
    log.info("components: distributed, edges_pulled=%d, driverMaxEdges=%d, "
             "rounds=%d", len(pdf), max_edges, rounds)
    return labels


def _labeled(vertices: DataFrame, labels: DataFrame, key: str) -> DataFrame:
    """(key, cluster_id) for every row of `vertices`: its
    min_label_components label, or the key itself for a vertex in no edge.
    A label row whose vertex is not in `vertices` is dropped."""
    return (
        vertices.select(key)
        .join(labels.withColumnRenamed("vertex", key), key, "left")
        .select(key, F.coalesce("label", key).alias("cluster_id"))
    )


def component_sizes(
    vertices: DataFrame, labels: DataFrame, key: str
) -> DataFrame:
    """The cluster keep/drop decision: every row of `vertices` (one per
    `key` value) with its min_label_components label → (key, cluster_id,
    cluster_size, keep). A vertex in no edge is its own singleton cluster
    (cluster_id = key); a label row whose vertex is not in `vertices` is
    dropped; cluster_size counts the cluster's `vertices` rows; `keep`
    marks the keeper, the row whose key is its cluster's minimum. Plan: a
    left join of the (usually broadcast) labels, then a groupBy of the
    cluster sizes joined back. A caller that needs only the keepers
    reads `component_keepers`, which skips the join back."""
    allv = _labeled(vertices, labels, key)
    sizes = allv.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return allv.join(sizes, "cluster_id").select(
        key, "cluster_id", "cluster_size",
        (F.col(key) == F.col("cluster_id")).alias("keep"),
    )


def component_keepers(
    vertices: DataFrame, labels: DataFrame, key: str
) -> DataFrame:
    """The keepers of component_sizes and nothing else → (key,
    cluster_size), one row per cluster whose minimum vertex is a
    `vertices` row: the rows of `component_sizes(...).filter("keep")`.
    A cluster whose minimum is a label vertex missing from `vertices`
    has no keeper, and a null key keeps nothing. Plan: the same left
    join of the labels, then ONE aggregate per cluster (its size and
    whether its minimum is present), so `vertices` is read once and no
    per-vertex join back is planned."""
    return (
        _labeled(vertices, labels, key)
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max(F.col(key) == F.col("cluster_id")).alias("keep"),
        )
        .filter("keep")
        .select(F.col("cluster_id").alias(key), "cluster_size")
    )
