"""Embedding similarity search over `embeddings` (vec_id, embedding
float[], label).

Cross-engine exactness: embeddings are quantized to integers
(floor(x·1000)) so dot products and norms are EXACT integer sums —
order-independent, parallelism-independent, engine-identical. The cosine
then divides through correctly-rounded sqrt/division, which is bit-portable.

Scale shape: the query set is broadcast; the corpus side stays columnar and
is scanned once; per-pair arithmetic is `zip_with`+`aggregate` higher-order
expressions (JVM codegen, no Python). The LSH variant buckets by seeded
hyperplane signs, turning top-k into a bucket-equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import register

_QUANT = "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e3) AS BIGINT))"
_N_QUERY = 10
_TOP_K = 5


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e3) AS BIGINT)) AS q
  FROM embeddings),
norms AS (
  SELECT vec_id, q,
         LIST_SUM(LIST_TRANSFORM(q, x -> x * x)) AS nrm
  FROM e),
qs AS (SELECT vec_id AS qid, q AS qq, nrm AS qn FROM norms WHERE vec_id < {_N_QUERY}),
pairs AS (
  SELECT qs.qid, n.vec_id AS vid,
         LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qs.qq, n.q),
                  t -> t[1] * t[2])) AS dot,
         qs.qn, n.nrm
  FROM qs CROSS JOIN norms n WHERE n.vec_id <> qs.qid),
scored AS (
  SELECT qid, vid,
         CAST(dot AS DOUBLE) / (SQRT(CAST(qn AS DOUBLE)) * SQRT(CAST(nrm AS DOUBLE)))
           AS cosine
  FROM pairs),
ranked AS (
  SELECT qid, vid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vid) AS rn
  FROM scored)
SELECT CAST(qid AS BIGINT) AS query_id, CAST(vid AS BIGINT) AS neighbor_id,
       cosine, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {_TOP_K}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN baseline): broadcast query set ×
    corpus scan, zip_with/aggregate dot products, window top-k."""
    e = _emb(spark, sf_dir).select("vec_id", F.expr(_QUANT).alias("q"))
    norms = e.withColumn(
        "nrm",
        F.expr("aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (a, x) -> a + x)"),
    )
    qs = norms.filter(F.col("vec_id") < _N_QUERY).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq"), F.col("nrm").alias("qn")
    )
    pairs = (
        norms.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "dot",
            F.expr(
                "aggregate(zip_with(qq, q, (x, y) -> x * y), CAST(0 AS BIGINT), (a, x) -> a + x)"
            ),
        )
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("nrm").cast("double"))
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            F.col("qid").cast("bigint").alias("query_id"),
            F.col("vec_id").cast("bigint").alias("neighbor_id"),
            "cosine",
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# LSH-bucketed variant: seeded pseudo-hyperplane sign bits → bucket join.
# The hyperplane for seed s has components h_i = ((i+1)*(s+1)*2654435761
# mod 1000003) - 501001 (a deterministic integer pattern) — sign of
# <h, q> gives one bucket bit. Exact integer dot products.
# ---------------------------------------------------------------------------

_N_PLANES = 6


def _plane_expr(engine: str) -> str:
    """sign-bit bucket id over _N_PLANES seeded integer hyperplanes."""
    bits = []
    for s in range(_N_PLANES):
        if engine == "spark":
            dot = (
                f"aggregate(zip_with(q, sequence(1, size(q)), (x, i) -> "
                f"x * ((i * {s + 1} * 2654435761) % 1000003 - 501001)), "
                f"CAST(0 AS BIGINT), (a, x) -> a + x)"
            )
        else:
            dot = (
                f"LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q, RANGE(1, LEN(q) + 1)), "
                f"t -> t[1] * ((t[2] * {s + 1} * 2654435761) % 1000003 - 501001)))"
            )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << s} ELSE 0 END)")
    return " + ".join(bits)


@register(
    "ann_lsh_buckets",
    oracle=f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e3) AS BIGINT)) AS q
  FROM embeddings),
b AS (SELECT vec_id, CAST({_plane_expr('duckdb')} AS BIGINT) AS bucket FROM e)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
FROM b GROUP BY bucket
""",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucketing (the ANN scale path): 6 seeded integer hyperplane sign
    bits → 64 buckets; top-k then only scans the query's bucket ring."""
    e = _emb(spark, sf_dir).select("vec_id", F.expr(_QUANT).alias("q"))
    b = e.select(
        "vec_id", F.expr(f"CAST({_plane_expr('spark')} AS BIGINT)").alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_vecs"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    )


# ---------------------------------------------------------------------------
# Banded (AND/OR-construction) sign-LSH for near-dup pairs.
#
# _N_BAND_PLANES total hyperplanes split into _N_BANDS bands of R =
# total/bands sign bits. Candidates = pairs agreeing on ALL R bits of at
# least one band (OR over bands of AND over bits); exact quantized cosine
# confirms. Scaling rule (the 100 TB knob): per-band bucket population is
# n / 2^R, so R grows as log2(n / target_bucket_size) while the band count
# B sets recall: P(candidate | per-plane agreement p) = 1 - (1 - p^R)^B.
# Pinned here at R=4, B=4 (16 planes) for the synthetic corpus; the bucket
# fan-out is 2^R per band — never a fixed-64 global bucket table, and the
# per-bucket group size is bounded by construction.
# ---------------------------------------------------------------------------

_N_BAND_PLANES = 16
_N_BANDS = 4


def _band_exprs(engine: str) -> list[str]:
    """Per-band integer bucket ids; band b uses seeded planes
    [b*R, (b+1)*R) with the same integer-hyperplane family as
    _plane_expr (exact integer dots — engine-identical)."""
    per = _N_BAND_PLANES // _N_BANDS
    out = []
    for b in range(_N_BANDS):
        bits = []
        for j in range(per):
            s = b * per + j
            if engine == "spark":
                dot = (
                    f"aggregate(zip_with(q, sequence(1, size(q)), (x, i) -> "
                    f"x * ((i * {s + 1} * 2654435761) % 1000003 - 501001)), "
                    f"CAST(0 AS BIGINT), (a, x) -> a + x)"
                )
            else:
                dot = (
                    f"LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q, RANGE(1, LEN(q) + 1)), "
                    f"t -> t[1] * ((t[2] * {s + 1} * 2654435761) % 1000003 - 501001)))"
                )
            bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
        out.append(" + ".join(bits))
    return out


def _duck_bands_cte() -> str:
    selects = [
        f"SELECT vec_id, q, nrm, {b} AS band_no, "
        f"CAST({e} AS BIGINT) AS band_val FROM norms"
        for b, e in enumerate(_band_exprs("duckdb"))
    ]
    return " UNION ALL ".join(selects)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e3) AS BIGINT)) AS q
  FROM embeddings),
norms AS (
  SELECT vec_id, q, LIST_SUM(LIST_TRANSFORM(q, x -> x * x)) AS nrm FROM e),
bands AS ({_duck_bands_cte()}),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b,
         LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.q, c.q), t -> t[1] * t[2])) AS dot,
         a.nrm AS na, c.nrm AS nb
  FROM bands a JOIN bands c
    ON a.band_no = c.band_no AND a.band_val = c.band_val
   AND a.vec_id < c.vec_id)
SELECT CAST(vec_a AS BIGINT) AS vec_a, CAST(vec_b AS BIGINT) AS vec_b,
       CAST(dot AS DOUBLE) / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))
         AS cosine
FROM pairs
WHERE CAST(dot AS DOUBLE) / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))
      >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via banded sign-LSH (AND/OR construction):
    per-band (band_no, band_val) equi-joins produce candidates, exact
    quantized cosine confirms. The band width R — not a fixed global
    bucket count — is the scale knob: R ~ log2(n / target_bucket_size)
    bounds per-bucket population; the band count B sets recall
    1-(1-p^R)^B. Never an all-pairs or fixed-64-bucket join."""
    e = _emb(spark, sf_dir).select("vec_id", F.expr(_QUANT).alias("q"))
    norms = e.withColumn(
        "nrm",
        F.expr("aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (a, x) -> a + x)"),
    )
    band_structs = ", ".join(
        f"named_struct('band_no', {b}, 'band_val', CAST({e_} AS BIGINT))"
        for b, e_ in enumerate(_band_exprs("spark"))
    )
    # the band frame carries only (vec_id, band_no, band_val) — vectors and
    # norms rejoin after the pair-id distinct, so they never ride the
    # candidate shuffle
    bd = norms.select(
        "vec_id",
        F.explode(F.expr(f"array({band_structs})")).alias("bv"),
    ).select("vec_id", "bv.band_no", "bv.band_val")
    l = bd.alias("l")
    r = bd.alias("r")
    # distinct the candidate IDs first: a pair colliding in k of the B bands
    # would otherwise pay the O(dim) exact-dot verification k times (measured
    # 550k collisions → ~140k unique pairs on this corpus). The vector table
    # is dimension-scale, so the q/nrm lookback is a broadcast join.
    cand = (
        l.join(
            r,
            (F.col("l.band_no") == F.col("r.band_no"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    na = norms.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"),
        F.col("nrm").alias("na"),
    )
    nb = norms.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    # The norms frame is CORPUS-sized (one row per vector), so the lookback
    # broadcast must be size-gated: the estimate reads parquet footers
    # driver-side (no Spark job — construction stays lazy), and past the
    # ceiling the planner shuffles instead (sort-merge on vec_id — the
    # candidate side is already shuffled by the distinct).
    from ..plans.hints import maybe_broadcast
    from ..sources.parquet_footers import rowgroup_stats

    stats = rowgroup_stats(f"{sf_dir}/embeddings.parquet")
    n_vec = None if stats is None else stats[0]
    pairs = (
        cand.join(maybe_broadcast(na, est_rows=n_vec), "vec_a")
        .join(maybe_broadcast(nb, est_rows=n_vec), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("dot"),
            "na",
            "nb",
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return pairs.withColumn("cosine", cos).filter(F.col("cosine") >= 0.35).select(
        F.col("vec_a").cast("bigint"), F.col("vec_b").cast("bigint"), "cosine"
    )


# ---------------------------------------------------------------------------
# IVF ANN: coarse-quantizer buckets (argmax centroid dot) + probed search.
# The centroid table is a broadcast dimension (VALUES in the oracle);
# centroid vectors derive from k via the same integer family as the LSH
# hyperplanes, so every dot is an exact integer sum — engine-identical.
# ---------------------------------------------------------------------------

_N_CENTROIDS = 8
_N_PROBE = 2
_IVF_TOP_K = 5

_CENT_DOT_SPARK = (
    "aggregate(zip_with(q, sequence(1, size(q)), (x, i) -> "
    "x * ((i * (k + 7) * 48271) % 997 - 498)), "
    "CAST(0 AS BIGINT), (a, x) -> a + x)"
)
_CENT_DOT_DUCK = (
    "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q, RANGE(1, LEN(q) + 1)), "
    "t -> t[1] * ((t[2] * (k + 7) * 48271) % 997 - 498)))"
)


@register(
    "ann_ivf_topk",
    oracle=f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e3) AS BIGINT)) AS q
  FROM embeddings),
norms AS (
  SELECT vec_id, q, LIST_SUM(LIST_TRANSFORM(q, x -> x * x)) AS nrm FROM e),
cent AS (SELECT UNNEST(range(0, {_N_CENTROIDS})) AS k),
scored AS (
  SELECT n.vec_id, n.q, n.nrm, c.k,
         {_CENT_DOT_DUCK} AS cdot,
         ROW_NUMBER() OVER (PARTITION BY n.vec_id
                            ORDER BY {_CENT_DOT_DUCK} DESC, c.k) AS rn
  FROM norms n CROSS JOIN cent c),
assign AS (SELECT vec_id, q, nrm, k AS bucket FROM scored WHERE rn = 1),
probes AS (
  SELECT vec_id AS qid, q AS qq, nrm AS qn, k AS bucket
  FROM scored WHERE vec_id < {_N_QUERY} AND rn <= {_N_PROBE}),
cand AS (
  SELECT p.qid, p.qq, p.qn, a.vec_id AS vid, a.q, a.nrm
  FROM probes p JOIN assign a ON p.bucket = a.bucket
  WHERE a.vec_id <> p.qid),
cos AS (
  SELECT qid, vid,
         CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qq, q), t -> t[1] * t[2]))
              AS DOUBLE)
           / (SQRT(CAST(qn AS DOUBLE)) * SQRT(CAST(nrm AS DOUBLE))) AS cosine
  FROM cand),
ranked AS (
  SELECT qid, vid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vid) AS rn
  FROM cos)
SELECT CAST(qid AS BIGINT) AS query_id, CAST(vid AS BIGINT) AS neighbor_id,
       cosine, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {_IVF_TOP_K}
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the coarse-quantizer scale path next to LSH): every vector
    is assigned to its argmax-dot centroid bucket (8 deterministic integer
    centroids — at deployment these come from a sampled k-means, the plan
    shape is identical); queries probe their {_N_PROBE} best buckets and
    brute-force exact cosine only within the probed candidates. The
    centroid scoring is a broadcast cross join (8 rows); the candidate
    join is bucket-keyed equi — per-bucket population n/{_N_CENTROIDS}
    bounds the scan."""
    e = _emb(spark, sf_dir).select("vec_id", F.expr(_QUANT).alias("q"))
    norms = e.withColumn(
        "nrm",
        F.expr("aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (a, x) -> a + x)"),
    )
    cent = spark.range(_N_CENTROIDS).selectExpr("CAST(id AS INT) AS k")
    scored = (
        norms.crossJoin(F.broadcast(cent))
        .withColumn("cdot", F.expr(_CENT_DOT_SPARK))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("cdot").desc(), F.col("k")
                )
            ),
        )
    )
    assign = scored.filter("rn = 1").select(
        "vec_id", "q", "nrm", F.col("k").alias("bucket")
    )
    probes = scored.filter(f"vec_id < {_N_QUERY} AND rn <= {_N_PROBE}").select(
        F.col("vec_id").alias("qid"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qn"),
        F.col("k").alias("bucket"),
    )
    cand = probes.join(assign, "bucket").filter(
        F.col("vec_id") != F.col("qid")
    )
    cos = cand.select(
        "qid",
        F.col("vec_id").alias("vid"),
        (
            F.expr(
                "aggregate(zip_with(qq, q, (x, y) -> x * y), CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).cast("double")
            / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("nrm").cast("double")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vid"))
    return (
        cos.withColumn("rn", F.row_number().over(w))
        .filter(f"rn <= {_IVF_TOP_K}")
        .select(
            F.col("qid").cast("bigint").alias("query_id"),
            F.col("vid").cast("bigint").alias("neighbor_id"),
            "cosine",
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Recall measurement: the quality gate every ANN deployment needs — how much
# of the exact top-k does the IVF path return? Oracle composes the two
# registered oracles verbatim (nested CTEs), so the measurement itself is
# cross-engine-verified, not just the two inputs.
# ---------------------------------------------------------------------------

from . import ORACLES as _ORACLES  # noqa: E402  (registered above)


@register(
    "ann_recall",
    oracle=f"""
WITH exact_r AS ({_ORACLES['ann_cosine_topk']}),
ivf_r AS ({_ORACLES['ann_ivf_topk']}),
hits AS (
  SELECT e.query_id, COUNT(i.neighbor_id) AS n_hits
  FROM exact_r e LEFT JOIN ivf_r i
    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
  GROUP BY e.query_id)
SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_hits AS DOUBLE) / {_TOP_K} AS recall_at_k
FROM hits
""",
)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{_TOP_K} of IVF (probed coarse-quantizer search)
    against the exact brute-force baseline — the accuracy/throughput
    trade-off number an ANN deployment tunes n_probe by."""
    ex = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    iv = ann_ivf_topk(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_nid")
    )
    hits = (
        ex.join(
            iv,
            (F.col("query_id") == F.col("i_qid"))
            & (F.col("neighbor_id") == F.col("i_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("i_nid").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        (F.col("n_hits").cast("double") / _TOP_K).alias("recall_at_k"),
    )
