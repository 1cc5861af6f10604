"""The golden-pinned oracles, run in DuckDB alone.

test_query_matches_oracle skips every oracle marked `GOLDEN sf0.01` at
sf0.001, so a broken rewrite of one would pass tier-1 unseen. Here each
runs over the committed golden tables (no Spark, a few seconds), and the
near-duplicate pair oracles are checked against an all-pairs popcount in
numpy over the same signature table.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from osm2mp_spark import queries as Q
from osm2mp_spark.queries.images_q import NARROW, WIDE

Q.load_all()
GOLDEN = sorted(n for n, sql in Q.ORACLES.items() if "GOLDEN sf0.01" in sql)

# set bits of every byte value
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int32)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_golden_oracles_present():
    # the committed goldens back every image-family oracle
    assert {"image_dedup_phash", "image_dedup_wide", "flagship_dedup",
            "streaming_incremental_ann"} <= set(GOLDEN)


@pytest.mark.parametrize("name", GOLDEN)
def test_golden_oracle_returns_rows(con, name):
    assert len(con.sql(Q.ORACLES[name]).df()) > 0


def _numpy_pairs(sigs: pd.DataFrame, words, max_hamming: int) -> set:
    """(id_a, id_b, hamming) of every id pair a < b within max_hamming, by
    XOR and byte-table popcount over all pairs."""
    sigs = sigs.sort_values("image_id").reset_index(drop=True)
    ids = sigs.image_id.to_numpy()
    w = np.ascontiguousarray(sigs[list(words)].to_numpy(dtype=np.int64))
    out = set()
    for i in range(len(w) - 1):
        x = (w[i + 1:] ^ w[i]).view(np.uint8).reshape(len(w) - i - 1, -1)
        ham = _POP8[x].sum(axis=1)
        for j in np.flatnonzero(ham <= max_hamming):
            out.add((ids[i], ids[i + 1 + j], int(ham[j])))
    return out


@pytest.mark.parametrize("spec", [NARROW, WIDE], ids=["64bit", "256bit"])
def test_pairs_oracle_equals_numpy_all_pairs(con, spec):
    name = {NARROW: "image_dedup_phash", WIDE: "image_dedup_wide"}[spec]
    sigs = pd.read_parquet(Q.golden_path(spec.golden))
    assert len(sigs) == 1715
    want = _numpy_pairs(sigs, spec.words, spec.max_hamming)
    got = con.sql(Q.ORACLES[name]).df()
    assert len(got) == len(want) > 0
    assert set(got.itertuples(index=False, name=None)) == want
