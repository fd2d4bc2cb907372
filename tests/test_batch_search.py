"""Batched query pass must equal per-query ranked retrieval for
free-text (disjunctive) queries."""

from text_indexing_and_retrieval_system_spark.operators import query_parser as qp


def test_batch_matches_single(built_index, oracle_index):
    terms = sorted(
        oracle_index.postings, key=lambda t: -len(oracle_index.postings[t])
    )
    queries = [
        f'"{terms[0]}"',
        f'"{terms[1]}" OR "{terms[5]}"',
        f'"{terms[2]}" OR "{terms[10]}" OR "{terms[30]}"',
        '"zzznonexistent"',
    ]
    batch = built_index.search_batch(queries, k=15)
    for q in queries:
        single = built_index.search_collect(q, k=15)
        want = oracle_index.search(q, k=15, scorer="bm25")
        assert batch[q].docs == single.docs == [d for d, _ in want], q
        assert batch[q].scores == single.scores == [s for _, s in want], q


def _ranked_equivalent(query: str) -> str:
    """search_batch's ranked semantics: the OR of the query's scoring
    terms (perfbench/oracle_check.py's rule), with a phrase split into
    its words — the oracle reads a multi-word TERM as an implicit AND."""
    raw = qp.scoring_terms(qp.parse(query))
    return " OR ".join(f'"{w}"' for r in raw for w in r.split())


def test_batch_answers_non_or_queries_as_disjunctions(
    built_index, oracle_index, corpus_pdf
):
    """AND, AND NOT and PHRASE queries in one batch are each answered as
    the disjunction of their scoring terms, bit-exact against the oracle."""
    from text_indexing_and_retrieval_system_spark.functions.normalize import (
        normalize_to_tokens,
    )

    by_df = sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))
    a, b, c = by_df[0], by_df[20], by_df[1]
    tokens = normalize_to_tokens(corpus_pdf["text"].head(50))
    phrase = next(f"{lst[0]} {lst[1]}" for lst in tokens if len(lst) >= 2 and lst[0] != lst[1])
    queries = [f'"{a}" AND "{b}"', f'"{a}" AND NOT "{c}"', f'PHRASE "{phrase}"']
    got = built_index.search_batch(queries, k=15)
    for q in queries:
        want = oracle_index.search(_ranked_equivalent(q), k=15, scorer="bm25")
        assert want, q
        assert got[q].docs == [d for d, _ in want], q
        assert got[q].scores == [s for _, s in want], q


def test_batch_duplicate_queries(built_index, oracle_index):
    """Repeated query strings (CLI 'batch' with duplicate lines) must not
    double the result lists — answered once, keyed by string."""
    terms = sorted(
        oracle_index.postings, key=lambda t: -len(oracle_index.postings[t])
    )
    q = f'"{terms[0]}"'
    out = built_index.search_batch([q, q, q], k=10)
    want = oracle_index.search(q, k=10, scorer="bm25")
    assert out[q].docs == [d for d, _ in want]
    assert len(out[q].docs) == len(want)


def test_batch_kernel_split_is_placement_invariant(built_index, oracle_index):
    """Placement invariance holds only in the COARSER direction: groups
    may be unions of whole doc-range buckets (the last group's open upper
    edge merges every bucket above the count into it), but never
    subdivisions of one — a sub-bucket split was tried in round 5 and
    emitted partial scores (a doc's terms' blocks have different
    first_docs, so they landed in different groups; this test caught
    it). Here every bucket from id 1 up shares the last group and
    results must not move."""
    from text_indexing_and_retrieval_system_spark import engine as eng

    terms = sorted(
        oracle_index.postings, key=lambda t: -len(oracle_index.postings[t])
    )
    queries = [
        f'"{terms[0]}"',
        f'"{terms[1]}" OR "{terms[3]}"',
        f'"{terms[2]}" OR "{terms[8]}" OR "{terms[20]}"',
    ]
    base = built_index.search_batch(queries, k=10)
    coarse = eng.InvertedIndex(built_index.spark, built_index.dir)
    coarse.kernel_buckets = 2  # buckets >= 1 all fall in the last group
    merged = coarse.search_batch(queries, k=10)
    for q in queries:
        assert merged[q].docs == base[q].docs, q
        assert merged[q].scores == base[q].scores, q


def test_driver_merge_threshold_prune_is_exact():
    """merge_query_topk_driver's per-query kth-score pre-filter (round 5:
    the full 3-key lexsort over ~1M winner rows was a 0.3 s flat driver
    constant) must stay bit-identical to the unpruned sort+cut on
    adversarial inputs: heavy score ties straddling the kth position,
    ragged per-query bucket counts, and k larger than any pool — on one
    winner table and on the same rows in several chunks."""
    import numpy as np
    import pyarrow as pa

    from text_indexing_and_retrieval_system_spark.operators import wand

    def brute(table, k):
        cols = (table.column(c).to_pylist() for c in ("query_id", "doc_ids", "scores"))
        rows = sorted(
            (q, -s, d) for q, ds, ss in zip(*cols) for d, s in zip(ds, ss)
        )  # by query, score desc, doc asc
        out = {}
        for q, s, d in rows:
            kept = out.setdefault(q, [])
            if len(kept) < k:
                kept.append((d, -s))
        return out

    rng = np.random.default_rng(7)
    qids, doc_lists, score_lists = [], [], []
    for q in rng.choice(97, 600):
        n = int(rng.integers(1, 9))
        # few distinct scores -> tie plateaus at every kth boundary
        sc = rng.choice([1.0, 2.0, 2.0, 3.0, 3.5], n)
        dc = rng.choice(10_000, n, replace=False).astype(np.int64)
        o = np.lexsort((dc, -sc))  # kernel emission order
        qids.append(int(q))
        doc_lists.append(dc[o].tolist())
        score_lists.append(sc[o].tolist())
    table = pa.table(
        {
            "query_id": pa.array(qids, pa.int32()),
            "doc_ids": pa.array(doc_lists, pa.list_(pa.int64())),
            "scores": pa.array(score_lists, pa.list_(pa.float64())),
        }
    )
    chunked = pa.concat_tables([table.slice(0, 211), table.slice(211, 0), table.slice(211)])
    for k in (1, 2, 3, 5, 40):
        assert wand.merge_query_topk_driver(table, k) == brute(table, k)
        assert wand.merge_query_topk_driver(chunked, k) == brute(table, k)
    assert wand.merge_query_topk_driver(table.slice(0, 0), 5) == {}


def test_batch_results_share_doc_id_strings(built_index, oracle_index):
    """Doc-id strings are interned: two search_batch calls that return the
    same doc hand back one string object, so results kept across batches
    hold each doc's id once."""
    term = max(oracle_index.postings, key=lambda t: len(oracle_index.postings[t]))
    q = f'"{term}"'
    a = built_index.search_batch([q], k=5)[q].docs
    b = built_index.search_batch([q], k=5)[q].docs
    assert a and a == b
    assert all(x is y for x, y in zip(a, b))
