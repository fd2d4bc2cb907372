"""Streaming and batch incremental ingest: batch-built index over convs
[0,60) + streamed ingestion of convs [60,80) + refresh must equal a
one-shot batch build over all 80 conversations (doc ids, lexicon, search
results), and a streamed turn can then be deleted; replayed
micro-batches are skipped; a build + add + refresh writes the same
tables as a one-shot build, for one or several segment chunks; a failed
stats write leaves the previous stats.json loadable."""

import dataclasses
import json
import os
import shutil

import pytest

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.functions.normalize import (
    normalize_to_tokens,
)
from text_indexing_and_retrieval_system_spark.operators import index_build as ib
from text_indexing_and_retrieval_system_spark.operators.index_build import (
    IndexBuildConfig,
)
from text_indexing_and_retrieval_system_spark.operators.segments import (
    Manifests,
    parquet_num_rows,
)
from text_indexing_and_retrieval_system_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA_DDL,
)
from text_indexing_and_retrieval_system_spark.streaming import incremental as inc

CFG = IndexBuildConfig(n_term_buckets=8, n_range_buckets=8, n_segment_chunks=2, chunk_min_convs=0)


@pytest.fixture(scope="module")
def split_corpus(spark, corpus_df):
    first = corpus_df.filter(corpus_df.conv_id < "conv-00000060")
    rest = corpus_df.filter(corpus_df.conv_id >= "conv-00000060")
    return first, rest


def test_stream_ingest_equals_batch_build(
    spark, corpus_df, corpus_pdf, split_corpus, built_index, tmp_path
):
    first, rest = split_corpus
    idx_dir = str(tmp_path / "inc_idx")
    engine.build(spark, first, idx_dir, CFG, input_desc="stream-base")

    # stage the remaining convs as parquet files and stream them in
    stream_src = str(tmp_path / "arrivals")
    rest.write.mode("overwrite").parquet(stream_src)
    convmap = inc.extend_convmap(spark, idx_dir, rest)
    stream_df = spark.readStream.schema(TRANSCRIPT_SCHEMA_DDL).parquet(stream_src)
    q = inc.ingest_stream(
        stream_df,
        idx_dir,
        convmap,
        CFG,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    stats = inc.refresh_postings(spark, idx_dir, CFG)

    # equivalence vs the one-shot index over all 80 convs (built_index)
    assert stats["n_docs"] == built_index.stats["n_docs"]
    assert stats["avgdl"] == pytest.approx(built_index.stats["avgdl"], rel=1e-12)

    inc_idx = engine.load(spark, idx_dir)
    for qtext in ['"said"', '"said" OR "index"', 'NOT "said"']:
        a = built_index.search_collect(qtext, k=10)
        b = inc_idx.search_collect(qtext, k=10)
        assert a.docs == b.docs, qtext
        assert a.scores == b.scores, qtext

    # a streamed turn reached the docs store, so it can be deleted
    streamed = corpus_pdf[corpus_pdf.conv_id >= "conv-00000060"]
    victim, term = next(
        (d, toks[0])
        for d, toks in zip(streamed.doc_id, normalize_to_tokens(streamed.text))
        if toks
    )
    n = stats["n_docs"]
    assert victim in inc_idx.search_collect(f'"{term}"', k=n).docs
    assert inc.delete_documents(spark, idx_dir, [victim]) == 1
    assert inc.refresh_postings(spark, idx_dir, CFG)["n_docs"] == n - 1
    inc_idx = engine.load(spark, idx_dir)
    assert victim not in inc_idx.search_collect(f'"{term}"', k=n).docs
    assert inc_idx.docs().filter(f"doc_id = '{victim}'").count() == 0


def test_stream_batch_manifests(tmp_path, spark, split_corpus):
    """A replayed micro-batch is skipped by its manifest (no new segment
    dir), and the manifest's row count is the segment's footer count."""
    _, rest = split_corpus
    idx_dir = str(tmp_path / "stream_idx")
    stream_src = str(tmp_path / "arrivals")
    rest.write.mode("overwrite").parquet(stream_src)
    convmap = ib.assign_conv_ids(spark, rest)

    def ingest(ckpt):
        stream_df = spark.readStream.schema(TRANSCRIPT_SCHEMA_DDL).parquet(stream_src)
        q = inc.ingest_stream(
            stream_df, idx_dir, convmap, CFG, checkpoint_dir=str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    seg_root = os.path.join(idx_dir, "segments")
    ingest("ckpt_a")
    segs = sorted(os.listdir(seg_root))
    assert segs == ["chunk=stream000000"]
    seg_dir = os.path.join(seg_root, segs[0])
    mtimes = {f: os.path.getmtime(os.path.join(seg_dir, f)) for f in os.listdir(seg_dir)}
    info = Manifests(idx_dir).read("stream_batch_000000")
    assert info["rows"] == parquet_num_rows(seg_dir) > 0

    # a fresh checkpoint replays the source from micro-batch 0
    ingest("ckpt_b")
    assert sorted(os.listdir(seg_root)) == segs
    assert {f: os.path.getmtime(os.path.join(seg_dir, f)) for f in os.listdir(seg_dir)} == mtimes


EQ_CFG = IndexBuildConfig(
    n_term_buckets=8, n_range_buckets=8, n_segment_chunks=1, chunk_min_convs=0
)


def _rows(spark, index_dir, table, cols, order):
    path = os.path.join(index_dir, table)
    return spark.read.parquet(path).select(*cols).orderBy(*order).collect()


@pytest.mark.parametrize("n_chunks", [1, 3])
def test_refresh_equals_rebuild(spark, corpus_df, corpus_pdf, tmp_path, n_chunks):
    """build(48 convs) + add_documents(16) + refresh writes the tables a
    one-shot build of the same 64 convs writes: same doc-id geometry,
    stats, lexicon and posting blocks, so every query shape answers
    bit-identically. Both builds run n_chunks segment chunks; posting
    rows must not depend on the chunk count."""
    cfg = dataclasses.replace(EQ_CFG, n_segment_chunks=n_chunks)
    base = corpus_df.filter(corpus_df.conv_id < "conv-00000048")
    added = corpus_df.filter(
        (corpus_df.conv_id >= "conv-00000048") & (corpus_df.conv_id < "conv-00000064")
    )
    inc_dir = str(tmp_path / "inc")
    engine.build(spark, base, inc_dir, cfg, input_desc="eq")
    inc.add_documents(spark, inc_dir, added)
    inc.refresh_postings(spark, inc_dir)
    got = engine.load(spark, inc_dir)
    want = engine.build(
        spark, base.unionByName(added), str(tmp_path / "ref"), cfg, input_desc="eq"
    )

    assert (got.range_shift, got.kernel_buckets) == (want.range_shift, want.kernel_buckets)
    for key in ("n_docs", "avgdl", "total_tokens", "n_convs"):
        assert got.stats[key] == want.stats[key], key
    lex_cols = ["term", "df", "cf", "idf", "n_blocks"]
    lex = _rows(spark, want.dir, "lexicon", lex_cols, ["term"])
    assert _rows(spark, got.dir, "lexicon", lex_cols, ["term"]) == lex
    post_cols = ["term", "range_bucket", "first_doc", "last_doc", "payload"]
    post_order = ["term", "range_bucket", "first_doc"]
    assert _rows(spark, got.dir, "postings", post_cols, post_order) == _rows(
        spark, want.dir, "postings", post_cols, post_order
    )

    by_df = sorted((-r["df"], r["term"]) for r in lex if r["term"])
    hot, mid = by_df[0][1], by_df[20][1]
    conv = corpus_pdf.conv_id
    tokens = normalize_to_tokens(
        corpus_pdf[(conv >= "conv-00000048") & (conv < "conv-00000064")]["text"]
    )
    phrase = next(f"{lst[0]} {lst[1]}" for lst in tokens if len(lst) >= 2)
    for q in (
        f'"{mid}"',
        f'"{hot}" OR "{mid}"',
        f'"{hot}" AND "{mid}"',
        f'NOT "{hot}"',
        f'"{mid}" AND NOT "{hot}"',
        f'PHRASE "{phrase}"',
    ):
        a = got.search_collect(q, k=20)
        b = want.search_collect(q, k=20)
        assert a.docs, q
        assert (a.docs, a.scores) == (b.docs, b.scores), q


def test_failed_stats_write_keeps_previous_stats(spark, built_index, tmp_path, monkeypatch):
    """stats.json is replaced atomically: a refresh whose stats write
    fails part-way leaves the previous stats.json, and the index loads."""
    idx_dir = str(tmp_path / "idx")
    shutil.copytree(built_index.dir, idx_dir)
    real_dump = json.dump

    def failing_dump(obj, fp, *args, **kwargs):
        if "avgdl" in obj:  # the stats payload
            fp.write("{")
            raise OSError("disk full")
        return real_dump(obj, fp, *args, **kwargs)

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="disk full"):
        inc.refresh_postings(spark, idx_dir)
    monkeypatch.undo()
    assert engine.load(spark, idx_dir).stats == built_index.stats
