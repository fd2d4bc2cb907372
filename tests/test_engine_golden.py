"""End-to-end golden tests: Spark engine vs the pure-Python oracle.

Rank-identical AND score-identical (bit-exact — both sides fix the same
float expression tree and summation order) on generated boolean queries
covering all 15 reference templates (`generate_queries.py:24-40`).
"""

import pandas as pd
import pytest

from text_indexing_and_retrieval_system_spark import engine, querygen
from text_indexing_and_retrieval_system_spark.functions.normalize import (
    normalize_to_tokens,
)
from text_indexing_and_retrieval_system_spark.operators import query_parser as qp

K = 20

POOLS_SPEC = querygen.PoolSpec(min_word_freq=3, high=(5, 40), mid=(41, 200), low=(201, 1200))


@pytest.fixture(scope="session")
def query_set(corpus_pdf):
    tokens = normalize_to_tokens(corpus_pdf["text"])
    freq = (
        pd.Series([t for lst in tokens for t in lst])
        .value_counts()
        .sort_values(ascending=False)
    )
    freqs = list(freq.items())
    freqs.sort(key=lambda kv: (-kv[1], kv[0]))
    pools = querygen.pools_from_frequencies(freqs, POOLS_SPEC)
    return querygen.generate_queries(pools, n_queries=30, seed=7)


def _assert_match(oracle_hits, engine_result, query):
    o_docs = [d for d, _ in oracle_hits]
    o_scores = [s for _, s in oracle_hits]
    assert engine_result.docs == o_docs, (
        f"doc mismatch for {query!r}:\n oracle={o_docs[:8]}\n engine={engine_result.docs[:8]}"
    )
    assert engine_result.scores == pytest.approx(o_scores, rel=0, abs=0), (
        f"score mismatch for {query!r}"
    )


SCORERS = ["bm25", "tfidf", "wordcount"]


@pytest.fixture(scope="module")
def distributed_index(spark, built_index):
    """A second handle on the same index with both driver-local gates
    closed, so every kernel query runs as a distributed Spark job."""
    idx = engine.InvertedIndex(spark, built_index.dir)
    idx.DRIVER_WAND_MAX_DF = 0
    idx.DRIVER_NOT_MAX_DOCS = 0
    return idx


@pytest.mark.parametrize("scorer", SCORERS)
def test_single_term_all_scorers(built_index, oracle_index, scorer):
    # pick a term guaranteed present: the most frequent non-stopword stem
    term = max(oracle_index.postings, key=lambda t: len(oracle_index.postings[t]))
    q = f'"{term}"'
    want = oracle_index.search(q, k=K, scorer=scorer)
    got = built_index.search_collect(q, k=K, scorer=scorer)
    _assert_match(want, got, q)


@pytest.mark.parametrize("scorer", SCORERS)
def test_query_shapes_all_scorers(
    built_index, distributed_index, oracle_index, corpus_pdf, scorer
):
    """Every scorer x term/AND/OR/NOT/PHRASE/PHRASE OR, driver-local and
    distributed, bit-exact against the oracle (every shape takes the
    set-evaluation kernel)."""
    by_df = sorted(oracle_index.postings, key=lambda t: -len(oracle_index.postings[t]))
    hot, mid = by_df[0], by_df[20]
    tokens = normalize_to_tokens(corpus_pdf["text"].head(50))
    phrase = next(f"{lst[0]} {lst[1]}" for lst in tokens if len(lst) >= 2)
    queries = [
        f'"{mid}"',
        f'"{hot}" AND "{mid}"',
        f'"{hot}" OR "{mid}"',
        f'"{mid}" AND NOT "{hot}"',
        f'NOT "{hot}"',
        f'PHRASE "{phrase}"',
        f'PHRASE "{phrase}" OR "{mid}"',
    ]
    for q in queries:
        want = oracle_index.search(q, k=K, scorer=scorer)
        for where, idx in (("driver", built_index), ("distributed", distributed_index)):
            got = idx.search_collect(q, k=K, scorer=scorer)
            _assert_match(want, got, f"{q} [{scorer}, {where}]")


def test_golden_queries_kernel(built_index, oracle_index, query_set):
    """The set-evaluation kernel must be bit-identical to the oracle on
    all 15 templates (AND/OR/NOT/phrase mixes)."""
    for q in query_set:
        want = oracle_index.search(q, k=K, scorer="bm25")
        got = built_index.search_collect(q, k=K, scorer="bm25")
        _assert_match(want, got, q)


def test_kernel_not_and_phrase(built_index, oracle_index, corpus_pdf):
    from text_indexing_and_retrieval_system_spark.functions.normalize import (
        normalize_to_tokens as _ntt,
    )

    term = max(oracle_index.postings, key=lambda t: len(oracle_index.postings[t]))
    mid = sorted(oracle_index.postings, key=lambda t: -len(oracle_index.postings[t]))[20]
    tokens = _ntt(corpus_pdf["text"].head(50))
    phrase = next(f"{lst[0]} {lst[1]}" for lst in tokens if len(lst) >= 2)
    for q in (
        f'NOT "{term}"',  # top-level complement: universe cogroup path
        f'"{mid}" AND NOT "{term}"',
        f'PHRASE "{phrase}"',
        f'PHRASE "{phrase}" OR "{mid}"',
    ):
        want = oracle_index.search(q, k=K)
        got = built_index.search_collect(q, k=K)
        _assert_match(want, got, q + " [kernel]")


def test_phrase_query(built_index, oracle_index, corpus_pdf):
    # take two adjacent tokens from a real document to guarantee >=1 hit
    tokens = normalize_to_tokens(corpus_pdf["text"].head(50))
    phrase = None
    for lst in tokens:
        if len(lst) >= 2:
            phrase = f"{lst[0]} {lst[1]}"
            break
    assert phrase
    q = f'PHRASE "{phrase}"'
    want = oracle_index.search(q, k=K)
    got = built_index.search_collect(q, k=K)
    assert len(want) > 0
    _assert_match(want, got, q)


def test_not_query(built_index, oracle_index):
    term = max(oracle_index.postings, key=lambda t: len(oracle_index.postings[t]))
    mid = sorted(oracle_index.postings, key=lambda t: -len(oracle_index.postings[t]))[20]
    q = f'"{mid}" AND NOT "{term}"'
    want = oracle_index.search(q, k=K)
    got = built_index.search_collect(q, k=K)
    _assert_match(want, got, q)


def test_missing_term_empty(built_index, oracle_index):
    q = '"zzzznonexistentzzz"'
    assert oracle_index.search(q, k=K) == []
    assert built_index.search_collect(q, k=K).docs == []


def test_lexicon_fallback_per_term_scan(spark, built_index, oracle_index, query_set):
    """A vocabulary over LEX_DRIVER_CACHE_MAX skips the driver lexicon and
    the whole-index block preload: every lookup is a per-term lexicon scan
    with a negative cache, every block fetch per term. Golden queries, an
    absent term and a batch stay bit-exact against the oracle."""
    idx = engine.InvertedIndex(spark, built_index.dir)
    idx.LEX_DRIVER_CACHE_MAX = 0
    absent = '"zzzznonexistentzzz"'
    for q in [*query_set, absent]:
        want = oracle_index.search(q, k=K, scorer="bm25")
        _assert_match(want, idx.search_collect(q, k=K, scorer="bm25"), q + " [fallback]")
    assert None in idx._lex_cache.values()  # the absent term, negatively cached
    terms = sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))
    batch = [f'"{terms[0]}"', f'"{terms[1]}" OR "{terms[5]}"', f'"{terms[2]}" OR "{terms[30]}"', absent]
    got = idx.search_batch(batch, k=K)
    for q in batch:
        _assert_match(oracle_index.search(q, k=K, scorer="bm25"), got[q], q + " [fallback batch]")
    assert idx._full_lex is None
    assert idx._bulk_blocks is not True
