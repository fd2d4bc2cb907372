"""Doc-id resolution over the resident budget (engine._doc_ids_for).

A convmap whose `conv_int`/`conv_id` columns (summed from the parquet
footers) exceed `DRIVER_RESIDENT_MAX_BYTES` never becomes resident: each
resolution reads only the conv ints its ids name, with one filtered
pyarrow read and no Spark job. Small and large (>256) id sets must map
exactly as the resident convmap does, end-to-end through `search()`
hydration too.

Reference parity: doc-id hydration per SURVEY.md S8 (reference
`indexer.py` doc-store lookup); the budget exists because a 10^12-doc
deployment cannot hold the conv map on the driver.
"""

import os

import pyarrow.dataset as pads

from text_indexing_and_retrieval_system_spark import engine


def _over_budget(spark, idx):
    """A fresh handle on `idx`'s index with nothing driver-resident."""
    filtered = engine.InvertedIndex(spark, idx.dir)
    filtered.DRIVER_RESIDENT_MAX_BYTES = 0
    return filtered


def test_doc_ids_for_fallback_small_and_large(spark, built_index):
    resident = engine.InvertedIndex(spark, built_index.dir)
    doclen = pads.dataset(os.path.join(built_index.dir, "doclen"), partitioning="hive")
    all_ids = sorted(doclen.to_table(columns=["doc_id_int"]).column(0).to_pylist())[:300]
    small, large = all_ids[:17], all_ids
    assert len(large) > 256
    want_small = resident._doc_ids_for(small)
    want_large = resident._doc_ids_for(large)
    assert resident._convmap is not None  # resident path really ran

    idx = _over_budget(spark, built_index)
    sc = spark.sparkContext
    group = "test-convmap-over-budget"
    sc.setJobGroup(group, "must launch no job")
    try:
        got_small = idx._doc_ids_for(small)
        got_large = idx._doc_ids_for(large)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert idx._convmap is None  # the filtered read never made it resident
    assert got_small == want_small
    assert got_large == want_large
    # sanity: mapping is the build-side format conv-XXXXXXXX:NNNN
    any_id = want_small[small[0]]
    conv, turn = any_id.rsplit(":", 1)
    assert conv.startswith("conv-") and len(turn) == 4


def test_search_hydration_under_fallback(spark, built_index, oracle_index):
    by_df = sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))
    q = f'"{by_df[0]}" OR "{by_df[20]}"'
    want = built_index.search_collect(q, k=20, scorer="bm25")
    idx = _over_budget(spark, built_index)
    got = idx.search_collect(q, k=20, scorer="bm25")
    assert idx._convmap is None
    assert len(want.docs) == 20
    assert want.docs == got.docs
    assert [round(s, 9) for s in want.scores] == [round(s, 9) for s in got.scores]
