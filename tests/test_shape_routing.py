"""Routing by query shape alone: the removed `strategy` option and
misspelled keywords raise, boolean queries are evaluated as boolean
queries, the driver-local kernel scores the whole cached frame as one
group, and a block preload over the cache budget falls back to per-term
fetches."""

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
    """One boolean_score_bucket call per NOT, PHRASE or AND query over the
    whole cached frame (a group of whole range buckets scores like one
    bucket), bit-exact against the oracle."""
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
    ):
        calls.clear()
        got = built_index.search_collect(q, k=20)
        assert len(calls) == 1, q
        _assert_oracle(oracle_index, got, q, 20)


def test_preload_over_cache_budget_stays_per_term(spark, built_index, oracle_index):
    """The preload gate estimates size from df; the LRU charges real
    bytes. A preload that does not fit BLOCK_CACHE_MAX_BYTES is dropped
    instead of being evicted piecemeal and refetched per term."""
    idx = engine.InvertedIndex(spark, built_index.dir)
    idx.BLOCK_CACHE_MAX_BYTES = 4096
    for q in ('"said" OR "index"', '"said" AND "order"'):
        got = idx.search_collect(q, k=10)
        assert idx._total_df <= idx.BULK_PRELOAD_MAX_DF  # the df gate admits it
        assert idx._bulk_blocks is False
        assert idx._block_cache_bytes <= idx.BLOCK_CACHE_MAX_BYTES
        _assert_oracle(oracle_index, got, q, 10)
