"""Chain clipping (operators/clip.py) against its DuckDB twin
`clip_oracle_sql` on the edge cases of the gaps-and-islands formulation:
null coordinates, single-vertex chains, on-edge vertices, runs at both
ends of a chain and lone inside vertices.

Both sides read the same Python rows. The Spark input is built from the
rows, not from pandas: pandas would turn a None coordinate into NaN,
which Spark flags as outside while DuckDB's pandas scan reads it as
NULL."""

import random

import pytest

BBOX = (0.0, 0.0, 10.0, 10.0)
# an L-shaped (concave) ring with a square hole in its foot
RING = [(0, 0), (10, 0), (10, 4), (4, 4), (4, 10), (0, 10), (0, 0)]
HOLE = [(6, 1), (8, 1), (8, 3), (6, 3), (6, 1)]

# (chain_id, seq, lon, lat)
EDGE_ROWS = [
    # a lone inside vertex: the chain's only vertex
    (1, 1, 5.0, 5.0),
    # a single outside vertex
    (2, 1, 20.0, 5.0),
    # inside at both ends: two runs around one outside vertex, which
    # both parts keep
    (3, 1, 1.0, 1.0), (3, 2, 2.0, 2.0), (3, 3, 20.0, 2.0),
    (3, 4, 3.0, 3.0), (3, 5, 4.0, 3.0),
    # on-edge and corner vertices count inside the bbox
    (4, 1, -1.0, 5.0), (4, 2, 0.0, 5.0), (4, 3, 10.0, 10.0),
    (4, 4, 11.0, 10.0),
    # a lone inside vertex between outside vertices: a 3-vertex part
    (5, 1, -1.0, 5.0), (5, 2, 5.0, 5.0), (5, 3, 11.0, 5.0),
    # a lone inside vertex at each end, next to an outside vertex
    (6, 1, 5.0, 5.0), (6, 2, 15.0, 5.0), (6, 3, 5.0, 15.0),
    (6, 4, 5.0, 6.0),
    # null coordinates: a null flag joins no part and breaks runs, so
    # the first vertex is lone; the last two form a part
    (7, 1, 5.0, 5.0), (7, 2, None, None), (7, 3, 6.0, 6.0),
    (7, 4, 7.0, 7.0),
    # a lone inside vertex between two null vertices
    (8, 1, None, 1.0), (8, 2, 5.0, 5.0), (8, 3, 2.0, None),
    # a half-null vertex outside on its known axis is an outside
    # neighbour (x < 0 makes the predicate FALSE, not NULL)
    (9, 1, -3.0, None), (9, 2, 1.0, 1.0),
    # all outside
    (10, 1, 20.0, 20.0), (10, 2, 30.0, 30.0),
    # all inside
    (11, 1, 1.0, 1.0), (11, 2, 2.0, 2.0), (11, 3, 3.0, 3.0),
    # a chain of null vertices
    (12, 1, None, None), (12, 2, None, None),
]


def _fuzz_rows(n_chains: int, seed: int) -> list:
    """Random chains of 1-8 vertices on a grid that straddles the bbox
    edges, with some null coordinates."""
    rng = random.Random(seed)
    grid = [-2.0, -1.0, 0.0, 1.0, 4.0, 5.0, 7.0, 9.0, 10.0, 11.0, 12.0]

    def coord():
        return None if rng.random() < 0.08 else rng.choice(grid)

    rows = []
    for c in range(n_chains):
        for s in range(rng.randint(1, 8)):
            rows.append((100 + c, s, coord(), coord()))
    return rows


def _key(row):
    return tuple((v is None, v) for v in row)


def _spark_clip(spark, rows, inside_sql):
    from osm2mp_spark.operators.clip import clip_chains_by_predicate

    df = spark.createDataFrame(
        rows, "chain_id long, seq long, lon double, lat double"
    )
    out = clip_chains_by_predicate(df, inside_sql)
    return sorted((tuple(r) for r in out.collect()), key=_key)


def _duck_clip(rows, inside_sql):
    import duckdb

    from osm2mp_spark.operators.clip import clip_oracle_sql

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE src (chain_id BIGINT, seq BIGINT, "
                    "lon DOUBLE, lat DOUBLE)")
        con.executemany("INSERT INTO src VALUES (?, ?, ?, ?)", rows)
        got = con.execute(clip_oracle_sql(
            "pts AS (SELECT * FROM src)", inside_sql=inside_sql
        )).fetchall()
    finally:
        con.close()
    return sorted((tuple(r) for r in got), key=_key)


def _predicates():
    from osm2mp_spark.operators.clip import bbox_inside_expr, ring_inside_expr

    return {
        "bbox": bbox_inside_expr("lon", "lat", BBOX),
        "ring": ring_inside_expr("lon", "lat", RING, [HOLE]),
    }


@pytest.mark.parametrize("shape", ["bbox", "ring"])
def test_edge_cases_match_oracle(spark, shape):
    inside = _predicates()[shape]
    got = _spark_clip(spark, EDGE_ROWS, inside)
    assert got == _duck_clip(EDGE_ROWS, inside)


def test_edge_cases_bbox_parts(spark):
    """The bbox parts, spelled out: (chain_id, part_no, seq) rows."""
    from osm2mp_spark.operators.clip import clip_chains_to_bbox

    df = spark.createDataFrame(
        EDGE_ROWS, "chain_id long, seq long, lon double, lat double"
    )
    got = sorted(
        (r.chain_id, r.part_no, r.seq)
        for r in clip_chains_to_bbox(df, BBOX).collect()
    )
    assert got == [
        (3, 1, 1), (3, 1, 2), (3, 1, 3), (3, 2, 3), (3, 2, 4), (3, 2, 5),
        (4, 1, 1), (4, 1, 2), (4, 1, 3), (4, 1, 4),
        (5, 1, 1), (5, 1, 2), (5, 1, 3),
        (6, 1, 1), (6, 1, 2), (6, 2, 3), (6, 2, 4),
        # chain 7's lone first vertex took part_no 1
        (7, 2, 3), (7, 2, 4),
        (9, 1, 1), (9, 1, 2),
        (11, 1, 1), (11, 1, 2), (11, 1, 3),
    ]


@pytest.mark.parametrize("shape", ["bbox", "ring"])
def test_random_chains_match_oracle(spark, shape):
    rows = _fuzz_rows(300, seed={"bbox": 11, "ring": 12}[shape])
    inside = _predicates()[shape]
    got = _spark_clip(spark, rows, inside)
    assert got and got == _duck_clip(rows, inside)
