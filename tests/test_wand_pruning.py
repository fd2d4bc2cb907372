"""MaxScore block skipping: skips blocks AND stays exactly correct."""

import numpy as np
import pandas as pd

from text_indexing_and_retrieval_system_spark.functions import codec
from text_indexing_and_retrieval_system_spark.operators import wand

AVGDL = 50.0


def _blocks_for_term(term, doc_ids, tfs, block_size=4):
    rows = []
    dls = np.full(len(doc_ids), 50, dtype=np.int64)
    for s in range(0, len(doc_ids), block_size):
        e = min(s + block_size, len(doc_ids))
        d = np.asarray(doc_ids[s:e])
        t = np.asarray(tfs[s:e])
        payload = codec.pack_postings(d, t, dls[s:e])
        tf_f = t.astype(np.float64)
        denom = tf_f + wand.K1 * (
            (1 - wand.B) + (wand.B * dls[s:e].astype(np.float64)) / AVGDL
        )
        impact = tf_f * (wand.K1 + 1.0) / denom
        rows.append(
            {
                "term": term,
                "range_bucket": 0,
                "first_doc": int(d[0]),
                "last_doc": int(d[-1]),
                "n": len(d),
                "block_max_impact": float(impact.max()),
                "sum_tf": int(t.sum()),
                "payload": payload,
            }
        )
    return rows


def _mk_case():
    rng = np.random.RandomState(3)
    # rare high-idf term: 6 docs clustered low in doc space
    rare_docs = np.array([10, 11, 12, 13, 14, 15])
    rare_tfs = np.array([5, 5, 4, 4, 3, 3])
    # common low-idf term: 200 docs spread wide -> 50 blocks of 4
    common_docs = np.sort(rng.choice(100000, size=200, replace=False)) + 1000
    common_tfs = rng.randint(1, 3, size=200)
    rows = _blocks_for_term("rare", rare_docs, rare_tfs) + _blocks_for_term(
        "common", common_docs, common_tfs
    )
    pdf = pd.DataFrame(rows)
    term_meta = {"rare": [(0, 8.0)], "common": [(1, 0.05)]}
    return pdf, term_meta


def _full_scoring(pdf, term_meta, k):
    """Exact unpruned top-k: the set-evaluation body on the OR tree."""
    tree = wand.disjunction(sorted(term_meta))
    out = wand.boolean_score_bucket(pdf, {0: (tree, term_meta)}, AVGDL, k)
    rows = wand.merge_query_topk_driver(out, k)[0]
    return [d for d, _ in rows], [s for _, s in rows]


def test_pruning_skips_blocks_and_is_exact():
    pdf, term_meta = _mk_case()
    pruned, n_total, n_decoded = wand.score_bucket_pruned(pdf, term_meta, AVGDL, k=3)
    assert n_decoded < n_total, "expected some blocks to be skipped"
    docs, scores = _full_scoring(pdf, term_meta, k=3)
    assert list(pruned["doc_id_int"]) == docs
    assert list(pruned["score"]) == scores


def test_no_candidates_all_terms_unknown():
    pdf, _ = _mk_case()
    out, n_total, n_decoded = wand.score_bucket_pruned(
        pdf, {"other": [(0, 1.0)]}, AVGDL, k=3
    )
    assert out.empty and n_decoded == 0 and n_total > 0


def test_theta_seed_skips_more_and_is_exact():
    """A certified theta seed (exact k-th score from a prior pass) must
    only increase skipping, never change results."""
    pdf, term_meta = _mk_case()
    base, n_total, dec_base = wand.score_bucket_pruned(pdf, term_meta, AVGDL, k=3)
    kth = float(base["score"].iloc[2])
    seeded, _, dec_seeded = wand.score_bucket_pruned(
        pdf, term_meta, AVGDL, k=3, theta_seed=kth
    )
    assert dec_seeded <= dec_base
    assert dec_seeded < n_total
    assert list(seeded["doc_id_int"])[:3] == list(base["doc_id_int"])[:3]
    assert list(seeded["score"])[:3] == list(base["score"])[:3]


def test_theta_seed_engine_repeat_query(built_index, oracle_index):
    """Engine-level: repeating a disjunction reuses the worker theta
    cache — results identical to the oracle both times and the repeat
    decodes no more blocks than the cold run."""
    terms = sorted(
        oracle_index.postings, key=lambda t: -len(oracle_index.postings[t])
    )[:4]
    q = " OR ".join(f'"{t}"' for t in terms)
    want = oracle_index.search(q, k=10, scorer="bm25")
    first = built_index.search_collect(q, k=10)
    s1 = dict(built_index.last_prune_stats)
    second = built_index.search_collect(q, k=10)
    s2 = dict(built_index.last_prune_stats)
    for got in (first, second):
        assert got.docs == [d for d, _ in want]
        assert got.scores == [s for _, s in want]
    assert s1["blocks_total"] == s2["blocks_total"] > 0
    assert s2["blocks_decoded"] <= s1["blocks_decoded"]


def test_k_larger_than_candidates():
    pdf, term_meta = _mk_case()
    pruned, _, _ = wand.score_bucket_pruned(pdf, term_meta, AVGDL, k=10_000)
    docs, scores = _full_scoring(pdf, term_meta, k=10_000)
    assert list(pruned["doc_id_int"]) == docs
    assert list(pruned["score"]) == scores
