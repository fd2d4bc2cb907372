"""The build's Arrow stages at their edges: pack's carry of a (term,
range_bucket) run across Arrow batches, and tokenize's sentinel row for
documents with no tokens."""

import os
from contextlib import contextmanager
from itertools import groupby

import pandas as pd

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.functions import codec
from text_indexing_and_retrieval_system_spark.operators import index_build as ib
from text_indexing_and_retrieval_system_spark.operators.index_build import IndexBuildConfig
from text_indexing_and_retrieval_system_spark.oracle import OracleIndex
from text_indexing_and_retrieval_system_spark.sources.transcripts import (
    generate_transcripts_pandas,
)

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
BLOCK_COLS = (
    "term", "range_bucket", "first_doc", "last_doc", "n", "sum_tf", "payload", "pos_payload"
)


@contextmanager
def arrow_batch_rows(spark, n: int):
    prev = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, str(n))
    try:
        yield
    finally:
        spark.conf.set(BATCH_CONF, prev)


def _block_rows(blocks) -> list[tuple]:
    return sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in blocks.select(*BLOCK_COLS).collect()
    )


def test_pack_carry_crosses_batches(spark, built_index):
    """Five-row Arrow batches split (term, range_bucket) runs, and 4-row
    blocks end inside and across batches: the blocks equal those of the
    default batch size, and each block's payload and pos_payload equal
    the per-block reference recomputed from the segment rows."""
    cfg = IndexBuildConfig(block_size=4, n_term_buckets=8, n_range_buckets=8)
    shift = built_index.range_shift
    segs = spark.read.parquet(os.path.join(built_index.dir, "segments")).drop("chunk")
    default = _block_rows(ib.build_blocks(segs, cfg, shift))
    with arrow_batch_rows(spark, 5):
        tiny = _block_rows(ib.build_blocks(segs, cfg, shift))
    assert tiny == default

    rows = sorted(
        (r.term, r.doc_id_int >> shift, r.doc_id_int, r.tf, r.dl, bytes(r.positions))
        for r in segs.filter("term != ''").collect()
    )
    want = []
    run_lens = []
    for (term, bucket), run in groupby(rows, key=lambda r: r[:2]):
        run = list(run)
        run_lens.append(len(run))
        for s in range(0, len(run), cfg.block_size):
            blk = run[s : s + cfg.block_size]
            docs, tfs, dls = ([r[i] for r in blk] for i in (2, 3, 4))
            want.append(
                (
                    term, bucket, docs[0], docs[-1], len(blk), sum(tfs),
                    codec.pack_postings(docs, tfs, dls), b"".join(r[5] for r in blk),
                )
            )
    # some runs span several batches and several blocks
    assert sum(n > 2 * cfg.block_size > 5 for n in run_lens) > 10
    assert tiny == sorted(want)


def test_zero_token_docs(spark, tmp_path):
    """Null, empty, all-stopword and all-punctuation turns reach doclen
    with dl 0 and count in n_docs and avgdl. One-row Arrow batches make
    every empty turn a tokenize batch of its own; a NOT query, whose
    universe holds them, matches the oracle."""
    pdf = generate_transcripts_pandas(8, seed=3)
    empty_texts = [None, "", "the and of it is", "!!! ... ??? -- ()", None, "   "]
    empty = pd.DataFrame(
        {
            "conv_id": "conv-0000000a-empty",
            "turn_idx": range(len(empty_texts)),
            "role": "user",
            "text": empty_texts,
            "tool": "",
            "ts": pdf["ts"].iloc[0],
        }
    ).astype({"turn_idx": "int32"})
    pdf = pd.concat([pdf, empty], ignore_index=True)
    pdf.loc[3, "text"] = None  # a null inside an otherwise tokenized conversation
    pdf["doc_id"] = pdf["conv_id"] + ":" + pdf["turn_idx"].map("{:04d}".format)
    oracle = OracleIndex.build(pdf, id_col="doc_id", text_col="text")
    zero = sorted(d for d, n in oracle.doclen.items() if n == 0)
    assert len(zero) == len(empty_texts) + 1

    cfg = IndexBuildConfig(n_term_buckets=4, n_range_buckets=4, n_segment_chunks=1, chunk_min_convs=0)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    with arrow_batch_rows(spark, 1):
        idx = engine.build(
            spark, spark.createDataFrame(pdf[cols]), str(tmp_path / "zero"), cfg,
            input_desc="zero-token",
        )
    doclen = spark.read.parquet(os.path.join(idx.dir, "doclen")).toPandas()
    assert sorted(doclen.loc[doclen["dl"] == 0, "doc_id"]) == zero
    assert idx.stats["n_docs"] == oracle.n_docs == len(pdf)
    assert idx.stats["avgdl"] == oracle.avgdl
    segs = spark.read.parquet(os.path.join(idx.dir, "segments")).filter("term = ''").toPandas()
    assert len(segs) == len(zero)
    assert (segs["tf"] == 0).all() and (segs["dl"] == 0).all()
    assert all(bytes(p) == b"" for p in segs["positions"])

    hot = max(oracle.postings, key=lambda t: len(oracle.postings[t]))
    q = f'NOT "{hot}"'
    want = oracle.search(q, k=len(pdf))
    assert set(zero) <= {d for d, _ in want}
    distributed = engine.InvertedIndex(spark, idx.dir)
    distributed.DRIVER_MAX_ROWS = 0  # route every kernel query to Spark
    for handle in (idx, distributed):
        for k in (len(pdf), 5):
            got = handle.search_collect(q, k=k)
            assert got.docs == [d for d, _ in want[:k]]
            assert got.scores == [s for _, s in want[:k]]
