"""Resumable build: kill mid-way, restart, identical final index
(north_rule requirement; the reference can only rebuild from scratch,
`index_custom.py:654-750`)."""

import json
import os

import pytest

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.operators.index_build import (
    IndexBuildConfig,
)


def _rows(spark, index_dir, table, cols):
    path = os.path.join(index_dir, table)
    return spark.read.parquet(path).select(*cols).orderBy(*cols[:3]).collect()


LEX_COLS = ["term", "df", "cf", "idf", "max_impact", "n_blocks"]
POST_COLS = [
    "term", "range_bucket", "first_doc", "last_doc", "n", "max_tf", "min_dl", "sum_tf",
    "payload", "pos_payload",
]
DOCLEN_COLS = ["doc_id_int", "doc_id", "dl"]


def test_crash_resume_identical(spark, corpus_df, built_index, tmp_path):
    crash_dir = str(tmp_path / "crash_idx")
    cfg = IndexBuildConfig(n_term_buckets=8, n_range_buckets=8, n_segment_chunks=3, chunk_min_convs=0)

    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.build(
            spark, corpus_df, crash_dir, cfg, input_desc="resume-test",
            fail_after_chunk=1,
        )

    # chunk 0 and 1 are checkpointed, chunk 2 + later stages are not
    manifests = os.listdir(os.path.join(crash_dir, "_manifests"))
    assert "stage1_chunk_001.json" in manifests
    assert "stage3_postings.json" not in manifests

    # resume: completes the remaining units only
    resumed = engine.build(
        spark, corpus_df, crash_dir, cfg, input_desc="resume-test"
    )

    # row-identical to the independently built 2-chunk reference index:
    # stages 2-3 run once over all segments, whatever the chunk count
    ref_dir = built_index.dir
    for table, cols in (("doclen", DOCLEN_COLS), ("lexicon", LEX_COLS), ("postings", POST_COLS)):
        assert _rows(spark, crash_dir, table, cols) == _rows(spark, ref_dir, table, cols), table
    with open(os.path.join(crash_dir, "stats.json")) as f:
        stats_b = json.load(f)
    # `generation` is a random per-build id (theta-seed cache key) —
    # intentionally different between two builds of the same corpus
    drop_gen = lambda s: {k: v for k, v in s.items() if k != "generation"}
    assert drop_gen(stats_b) == drop_gen(built_index.stats)

    # search results identical too
    q = '"said" OR "index"'
    a = built_index.search_collect(q, k=10)
    b = resumed.search_collect(q, k=10)
    assert a.docs == b.docs and a.scores == b.scores


def test_manifest_lineage_and_metrics(built_index):
    mdir = os.path.join(built_index.dir, "_manifests")
    with open(os.path.join(mdir, "stage1_chunk_000.json")) as f:
        m = json.load(f)
    assert m["status"] == "complete"
    assert m["rows"] > 0
    assert m["seconds"] >= 0
    assert m["config"]["block_size"] == 128
    assert m["conv_range"][0] == 0
    with open(os.path.join(mdir, "build.json")) as f:
        b = json.load(f)
    assert b["stats"]["n_docs"] == built_index.stats["n_docs"]
