"""End-to-end golden tests: Spark engine vs the pure-Python oracle.

Rank-identical AND score-identical (bit-exact — both sides fix the same
float expression tree and summation order) on generated boolean queries
covering all 15 reference templates (`generate_queries.py:24-40`).
"""

import numpy as np
import pandas as pd
import pytest

from text_indexing_and_retrieval_system_spark import engine, querygen
from text_indexing_and_retrieval_system_spark.functions.normalize import (
    normalize_to_tokens,
)
from text_indexing_and_retrieval_system_spark.operators import query_parser as qp
from text_indexing_and_retrieval_system_spark.operators.index_build import IndexBuildConfig
from text_indexing_and_retrieval_system_spark.oracle import OracleIndex

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


def _gates_closed(idx):
    """`idx` with the driver-leaf route gate closed: every kernel query
    runs as a distributed Spark job."""
    idx.DRIVER_MAX_ROWS = 0
    return idx


@pytest.fixture(scope="module")
def distributed_index(spark, built_index):
    """A second handle on the same index with the driver-local gate
    closed, so every kernel query runs as a distributed Spark job."""
    return _gates_closed(engine.InvertedIndex(spark, built_index.dir))


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


def test_kernel_not_and_phrase(
    spark, built_index, distributed_index, oracle_index, corpus_pdf, tmp_path
):
    """NOT and PHRASE on both leaves, bit-exact. The last input is a
    phrase of two hot adjacent tokens: each has more postings than a
    block holds, so a word's positions span several blocks, and every
    row has tf 2; the phrase holds in two docs of three."""
    term = max(oracle_index.postings, key=lambda t: len(oracle_index.postings[t]))
    mid = sorted(oracle_index.postings, key=lambda t: -len(oracle_index.postings[t]))[20]
    tokens = normalize_to_tokens(corpus_pdf["text"].head(50))
    phrase = next(f"{lst[0]} {lst[1]}" for lst in tokens if len(lst) >= 2)
    for q in (
        f'NOT "{term}"',  # top-level complement: universe cogroup path
        f'"{mid}" AND NOT "{term}"',
        f'PHRASE "{phrase}"',
        f'PHRASE "{phrase}" OR "{mid}"',
    ):
        want = oracle_index.search(q, k=K)
        for where, idx in (("driver", built_index), ("distributed", distributed_index)):
            _assert_match(want, idx.search_collect(q, k=K), f"{q} [{where}]")

    a, b = "zzhot", "zzpair"  # normalizer-stable tokens
    hot = corpus_pdf.copy()
    third = pd.Series(np.arange(len(hot)) % 3, index=hot.index)
    head = third.map({0: f"{a} {b} ", 1: f"{b} {a} ", 2: f"{b} {a} "})
    tail = third.map({0: f" {b} {a}", 1: f" {a} {b}", 2: f" {b} {a}"})
    hot["text"] = head + hot["text"] + tail
    hot_oracle = OracleIndex.build(hot, id_col="doc_id", text_col="text")
    for t in (a, b):
        rows = hot_oracle.postings[t]
        assert len(rows) > IndexBuildConfig().block_size
        assert all(len(p) == 2 for p in rows.values())
    cfg = IndexBuildConfig(n_term_buckets=8, n_range_buckets=8, n_segment_chunks=1, chunk_min_convs=0)
    driver = engine.build(
        spark,
        spark.createDataFrame(hot[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]),
        str(tmp_path / "hot_pair"),
        cfg,
        input_desc="hot-pair",
    )
    q = f'PHRASE "{a} {b}"'
    want = hot_oracle.search(q, k=K)
    assert len(want) == K
    distributed = _gates_closed(engine.InvertedIndex(spark, driver.dir))
    for where, idx in (("driver", driver), ("distributed", distributed)):
        _assert_match(want, idx.search_collect(q, k=K), f"{q} [{where}]")


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


def _jobs_in_group(spark, group, fn):
    """(fn(), the ids of the Spark jobs it launched), per statusTracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "must launch no job")
    try:
        got = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return got, sc.statusTracker().getJobIdsForGroup(group)


def test_driver_leaf_launches_no_spark_job(spark, built_index, oracle_index, corpus_pdf, query_set):
    """A fresh handle answers OR, AND, AND NOT and PHRASE on the driver
    leaf bit-exact without one Spark job: lexicon, convmap, NOT universe
    and blocks are read with pyarrow. With the resident budget at 0 no
    table becomes resident: every lexicon lookup and id resolution is a
    filtered pyarrow read, still with no Spark job, and the golden
    queries, an absent term and a search_batch stay bit-exact."""
    by_df = sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))
    hot, mid = by_df[0], by_df[20]
    tokens = normalize_to_tokens(corpus_pdf["text"].head(50))
    phrase = next(f"{lst[0]} {lst[1]}" for lst in tokens if len(lst) >= 2)
    queries = [
        f'"{hot}" OR "{mid}"',
        f'"{hot}" AND "{mid}"',
        f'"{mid}" AND NOT "{hot}"',
        f'PHRASE "{phrase}"',
    ]
    idx = engine.InvertedIndex(spark, built_index.dir)
    got, jobs = _jobs_in_group(
        spark, "test-driver-leaf-no-job", lambda: {q: idx.search_collect(q, k=K) for q in queries}
    )
    assert jobs == []
    for q in queries:
        _assert_match(oracle_index.search(q, k=K), got[q], q)

    filtered = engine.InvertedIndex(spark, built_index.dir)
    filtered.DRIVER_RESIDENT_MAX_BYTES = 0
    absent = '"zzzznonexistentzzz"'
    golden = [*query_set, *queries, absent]
    got, jobs = _jobs_in_group(
        spark,
        "test-driver-leaf-no-job-filtered",
        lambda: {q: filtered.search_collect(q, k=K) for q in golden},
    )
    assert jobs == []
    for q in golden:
        _assert_match(oracle_index.search(q, k=K), got[q], q + " [filtered]")
    batch = [f'"{by_df[0]}"', f'"{by_df[1]}" OR "{by_df[5]}"', f'"{by_df[2]}" OR "{by_df[30]}"', absent]
    got = filtered.search_batch(batch, k=K)
    for q in batch:
        _assert_match(oracle_index.search(q, k=K), got[q], q + " [filtered batch]")
    assert filtered._full_lex is None and filtered._convmap is None


def test_batch_of_unknown_terms_launches_no_spark_job(spark, built_index):
    """A search_batch in which no query has a term in the lexicon has
    nothing to score: empty results, and no kernel job over no blocks."""
    batch = ['"zzzznonexistentzzz"', '"qqqqunknownqqqq" OR "xxxxnothingxxxx"']
    got, jobs = _jobs_in_group(
        spark, "test-unknown-batch-no-job", lambda: built_index.search_batch(batch, k=K)
    )
    assert jobs == []
    assert {q: (r.docs, r.scores) for q, r in got.items()} == {q: ([], []) for q in batch}


def test_distributed_leaf_is_one_job_of_one_stage(spark, built_index, oracle_index):
    """With the route gate at 0, a search_batch and a NOT search_collect
    each launch exactly one Spark job of one stage: the kernel tasks read
    their own range buckets, with no scan job, no shuffle stage and no
    doclen cogroup. The batch runs first on a fresh handle, so the count
    also shows that listing the postings launches no schema or listing
    job."""
    by_df = sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))
    tracker = spark.sparkContext.statusTracker()
    idx = _gates_closed(engine.InvertedIndex(spark, built_index.dir))
    batch = [f'"{by_df[0]}"', f'"{by_df[1]}" OR "{by_df[5]}"', f'"{by_df[2]}" OR "{by_df[30]}"']
    negated = f'"{by_df[20]}" AND NOT "{by_df[0]}"'
    got, jobs = _jobs_in_group(spark, "test-batch-one-job", lambda: idx.search_batch(batch, k=K))
    assert len(jobs) == 1 and len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    for q in batch:
        _assert_match(oracle_index.search(q, k=K), got[q], q)
    got, jobs = _jobs_in_group(
        spark, "test-not-one-job", lambda: idx.search_collect(negated, k=K)
    )
    assert len(jobs) == 1 and len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    _assert_match(oracle_index.search(negated, k=K), got, negated)
