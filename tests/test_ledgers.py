"""tools/ledgers.py's incremental-family ledger, run small on the test
session: its per-batch counts must add up to the corpus it landed."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ledgers():
    path = os.path.join(REPO, "tools", "ledgers.py")
    spec = importlib.util.spec_from_file_location("ledgers", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_inc_ledger_counts_add_up(spark, tmp_path):
    from osm2mp_spark.streaming.dedup import STORE_LAYOUT

    out = _ledgers().inc_ledger(spark, str(tmp_path), n_batches=2,
                                batch_images=35)
    landed = spark.read.parquet(str(tmp_path / "landing")).count()
    batches = out["batches"]
    assert [b["batch"] for b in batches] == [0, 1]
    # the first batch meets an empty store
    assert batches[0]["store_rows_scanned"] == 0
    assert sum(b["n_images"] for b in batches) == landed
    bands = len(STORE_LAYOUT.bands)
    assert [b["store_banded_rows_before"] for b in batches] == [
        0, bands * batches[0]["n_images"]
    ]
    assert out["final_store_signatures"] == landed
    assert len(out["compaction_secs"]) == 1  # after batch 1
    assert out["rollup_cells"] > 0


def test_codegen_ledger_warm_calls_compile_nothing(spark, sf_dir):
    """Each batch_rollup query, called again right after its first call,
    finds every generated class cached: no per-call literal in generated
    source, and no plan that changes between calls."""
    ledgers = _ledgers()
    out = ledgers.codegen(spark, sf_dir)
    warm = {q: out[q]["warm"]["compiles"] for q in ledgers.CODEGEN_QUERIES}
    assert warm == dict.fromkeys(ledgers.CODEGEN_QUERIES, 0)
