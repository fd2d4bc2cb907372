"""Round-3 regression tests: ADVICE fixes (kernel scorer dispatch,
ranked_topk duplicate terms, idempotent docs append) + the >4-digit
turn_idx doc_id collision fix."""

import os

import pandas as pd
import pytest

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.operators.index_build import (
    IndexBuildConfig,
)
from text_indexing_and_retrieval_system_spark.streaming import incremental as inc

CFG = IndexBuildConfig(n_term_buckets=8, n_range_buckets=8, n_segment_chunks=2, chunk_min_convs=0)


def test_kernel_strategy_respects_scorer(built_index, oracle_index):
    """The kernel with a non-bm25 scorer must not silently return BM25
    scores (ADVICE r2 medium): it scores tfidf exactly."""
    q = '"said" OR "index"'
    via_kernel = built_index.search_collect(q, k=10, scorer="tfidf")
    want = oracle_index.search(q, k=10, scorer="tfidf")
    assert via_kernel.docs == [d for d, _ in want]
    assert via_kernel.scores == [s for _, s in want]
    # and it genuinely differs from the BM25 ranking scores
    bm25 = built_index.search_collect(q, k=10, scorer="bm25")
    assert bm25.scores != via_kernel.scores


def test_ranked_topk_dedupes_terms(spark, corpus_pdf):
    from text_indexing_and_retrieval_system_spark.operators import docquery

    docs = spark.createDataFrame(corpus_pdf[["doc_id", "text"]])
    once = docquery.ranked_topk(docs, ["said", "index"], "bm25", k=10).collect()
    dup = docquery.ranked_topk(docs, ["said", "index", "said"], "bm25", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in once] == [
        (r["doc_id"], r["score"]) for r in dup
    ]


def test_deep_conversation_doc_ids(spark, tmp_path):
    """A conversation with >9,999 turns keeps collision-free doc_id
    strings (VERDICT r2 wrong-#3: lpad truncated '10020' -> '1002')."""
    n_turns = 10_050

    def letters(i: int) -> str:  # digits are stripped by normalization
        return "".join(chr(ord("a") + int(c)) for c in str(i))

    pdf = pd.DataFrame(
        {
            "conv_id": "deepconv",
            "turn_idx": range(n_turns),
            "role": "user",
            "text": [f"filler uniqtok{letters(i)}" for i in range(n_turns)],
            "tool": "",
            "ts": pd.Timestamp("2026-01-01"),
        }
    )
    df = spark.createDataFrame(pdf)
    idx = engine.build(spark, df, str(tmp_path / "deep"), CFG, input_desc="deep")
    doclen = spark.read.parquet(os.path.join(idx.dir, "doclen")).toPandas()
    assert len(doclen) == n_turns
    assert doclen["doc_id"].nunique() == n_turns  # no truncation collisions
    assert "deepconv:10020" in set(doclen["doc_id"])
    # the driver-side convmap resolution path must agree with the build
    tok = f"uniqtok{letters(10020)}"
    res = idx.search_collect(f'"{tok}"', k=3)
    assert res.docs == ["deepconv:10020"]
    # and through the set-evaluation kernel (a one-term AND)
    res_kernel = idx.search_collect(f'"{tok}" AND "filler"', k=3)
    assert res_kernel.docs == ["deepconv:10020"]


def test_add_documents_replay_is_idempotent(spark, corpus_df, tmp_path):
    """A replayed add_documents (crash between the docs append and the
    manifest record) must not duplicate hydration rows (ADVICE r2 low)."""
    first = corpus_df.filter(corpus_df.conv_id < "conv-00000060")
    rest = corpus_df.filter(corpus_df.conv_id >= "conv-00000060")
    idx_dir = str(tmp_path / "replay_idx")
    engine.build(spark, first, idx_dir, CFG, input_desc="replay-base")

    unit = inc.add_documents(spark, idx_dir, rest, CFG)
    # simulate the crash-before-manifest replay: drop the manifest and re-run
    os.remove(os.path.join(idx_dir, "_manifests", f"{unit}.json"))
    unit2 = inc.add_documents(spark, idx_dir, rest, CFG)
    assert unit2 == unit

    docs = spark.read.parquet(os.path.join(idx_dir, "docs"))
    dup = docs.groupBy("doc_id_int").count().filter("count > 1").count()
    assert dup == 0


def test_jaccard_hot_shingle_guard(spark):
    """Boilerplate shingles above max_shingle_df are dropped before the
    self-join (VERDICT r2 #8): the quadratic fan-out on a shared
    boilerplate string is bounded, semantics stay oracle-reproducible."""
    import duckdb

    from text_indexing_and_retrieval_system_spark.operators import dedup

    boiler = "this content is provided as is without any warranty of any kind"
    rows = [(f"d{i:03d}", f"{boiler} unique body number {'x' * (i % 7 + 1)} item {i}")
            for i in range(40)]
    # one true near-dup pair that shares real (non-boilerplate) content
    rows.append(("d900", "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append(("d901", "alpha beta gamma delta epsilon zeta eta iota"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)

    got = (
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_shingle_df=10)
        .orderBy("doc_a", "doc_b")
        .toPandas()
    )
    # the boilerplate-only pairs are gone; the real near-dup pair survives
    assert ("d900", "d901") in set(zip(got["doc_a"], got["doc_b"]))
    boiler_pairs = got[(got["doc_a"] < "d900") & (got["doc_b"] < "d900")]
    assert len(boiler_pairs) < 100  # unguarded would be 40*39/2 = 780 candidates

    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(
        dedup.sql_ngram_jaccard_pairs(n=3, threshold=0.3, max_shingle_df=10)
        + " order by doc_a, doc_b"
    ).df()
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
