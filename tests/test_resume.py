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
from text_indexing_and_retrieval_system_spark.sources.transcripts import (
    generate_transcripts_pandas,
)


def _rows(spark, index_dir, table, cols):
    path = os.path.join(index_dir, table)
    return spark.read.parquet(path).select(*cols).orderBy(*cols[:3]).collect()


LEX_COLS = ["term", "df", "cf", "idf", "n_blocks"]
POST_COLS = [
    "term", "range_bucket", "first_doc", "last_doc", "n", "sum_tf", "payload", "pos_payload",
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
    assert stats_b == built_index.stats

    # search results identical too
    q = '"said" OR "index"'
    a = built_index.search_collect(q, k=10)
    b = resumed.search_collect(q, k=10)
    assert a.docs == b.docs and a.scores == b.scores


def test_resume_under_another_config_raises(spark, tmp_path):
    """A crashed build resumed with a different chunk count must not
    reuse the old chunks: chunk 0 of 3 covers conversations [0, 13) and
    chunk 1 of 2 starts at 20, so reusing it would leave conversations
    13-19 unindexed. Every unit a resume would skip is checked."""
    crash_dir = str(tmp_path / "crash_idx")
    df = spark.createDataFrame(generate_transcripts_pandas(40, seed=42))

    def cfg(n_chunks):
        return IndexBuildConfig(
            n_term_buckets=4, n_range_buckets=4, n_segment_chunks=n_chunks, chunk_min_convs=0
        )

    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.build(spark, df, crash_dir, cfg(3), input_desc="reconfig", fail_after_chunk=0)
    with pytest.raises(ValueError, match="built with different config"):
        engine.build(spark, df, crash_dir, cfg(2), input_desc="reconfig")


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
