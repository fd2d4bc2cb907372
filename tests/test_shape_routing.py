"""Routing: the removed `strategy` option and misspelled keywords raise,
boolean queries are evaluated as boolean queries, the driver-local
kernel scores all of a query's blocks as one group for every query
shape, and an index over the driver block budget is read per query,
filtered to the query's terms."""

import pytest

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.operators import wand

AND_Q = '"flastouck" AND "shaidan"'


def _assert_oracle(oracle_index, got, q, k):
    want = oracle_index.search(q, k=k)
    assert got.docs == [d for d, _ in want], q
    assert got.scores == [s for _, s in want], q


def test_stale_or_misspelled_keywords_raise(built_index, oracle_index):
    with pytest.raises(TypeError, match="strategy"):
        built_index.search_collect(AND_Q, k=10, strategy="wand")
    with pytest.raises(TypeError, match="strategy"):
        built_index.search(AND_Q, k=10, strategy="kernel")
    with pytest.raises(TypeError, match="scorrer"):
        built_index.search_collect(AND_Q, k=10, scorrer="bm25")
    # the default path evaluates the AND (a disjunction would match more)
    got = built_index.search_collect(AND_Q, k=10)
    assert got.docs
    assert len(oracle_index.search(AND_Q.replace("AND", "OR"), k=10)) > len(got.docs)
    _assert_oracle(oracle_index, got, AND_Q, 10)


def test_driver_kernel_scores_one_group(built_index, oracle_index, corpus_pdf, monkeypatch):
    """One boolean_score_bucket call per query over all its blocks,
    every shape including BM25 disjunctions and single terms (a
    group of whole range buckets scores like one bucket), bit-exact
    against the oracle."""
    from text_indexing_and_retrieval_system_spark.functions.normalize import (
        normalize_to_tokens,
    )

    by_df = sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))
    hot, mid = by_df[0], by_df[20]
    tokens = normalize_to_tokens(corpus_pdf["text"].head(50))
    phrase = next(f"{lst[0]} {lst[1]}" for lst in tokens if len(lst) >= 2)
    calls = []
    real = wand.boolean_score_bucket

    def counting(*args, **kw):
        calls.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(wand, "boolean_score_bucket", counting)
    assert built_index.kernel_buckets > 1
    for q in (
        f'NOT "{hot}"',
        f'"{mid}" AND NOT "{hot}"',
        f'PHRASE "{phrase}"',
        f'"{hot}" AND "{mid}"',
        AND_Q,
        f'"{hot}" OR "{mid}"',
        f'"{mid}"',
    ):
        calls.clear()
        got = built_index.search_collect(q, k=20)
        assert len(calls) == 1, q
        _assert_oracle(oracle_index, got, q, 20)


def test_preload_over_cache_budget_stays_per_term(spark, built_index, oracle_index):
    """An index whose kernel columns (summed from the parquet footers)
    exceed DRIVER_RESIDENT_MAX_BYTES never becomes resident: every
    driver-leaf query reads only its own terms' blocks."""
    idx = engine.InvertedIndex(spark, built_index.dir)
    idx.DRIVER_RESIDENT_MAX_BYTES = 4096
    assert idx._footer_bytes("postings", wand.KERNEL_COLS) > idx.DRIVER_RESIDENT_MAX_BYTES
    for q in ('"said" OR "index"', '"said" AND "order"'):
        got = idx.search_collect(q, k=10)
        assert idx._bulk_blocks is False
        assert idx._blocks is None and idx._block_cache_bytes == 0
        _assert_oracle(oracle_index, got, q, 10)
