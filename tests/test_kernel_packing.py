"""Kernel-group packing: the distributed kernel packs whole doc-range
buckets into one group per core slot (wand.group_bounds), and each
group's task reads its own buckets. Packing is placement only, so every
group count — one group, a few, one per bucket — must return the same
docs and bit-identical scores on every distributed kernel, and match
the oracle."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.functions import codec
from text_indexing_and_retrieval_system_spark.operators import wand

K = 12


def _force_groups(monkeypatch, n_groups):
    """Pin the kernel group count (None = one group per bucket, the
    unpacked plan)."""
    monkeypatch.setattr(
        wand,
        "kernel_groups",
        lambda spark, n_buckets: n_buckets if n_groups is None else min(n_buckets, n_groups),
    )


@pytest.fixture(scope="module")
def terms(oracle_index):
    return sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))


@pytest.fixture(scope="module")
def phrase(corpus_pdf):
    from text_indexing_and_retrieval_system_spark.functions.normalize import (
        normalize_to_tokens,
    )

    tokens = normalize_to_tokens(corpus_pdf["text"].head(50))
    return next(f"{lst[0]} {lst[1]}" for lst in tokens if len(lst) >= 2)


def _queries(terms, phrase):
    batch = [
        f'"{terms[0]}"',
        f'"{terms[1]}" OR "{terms[4]}"',
        f'"{terms[2]}" OR "{terms[9]}" OR "{terms[25]}"',
        f'"{terms[40]}" OR "{terms[60]}"',
    ]
    wand_qs = [
        " OR ".join(f'"{t}"' for t in terms[:5]),
        f'"{terms[3]}" OR "{terms[30]}"',
    ]
    bool_qs = [
        f'NOT "{terms[0]}"',
        f'"{terms[20]}" AND NOT "{terms[0]}"',
        f'"{terms[1]}" AND "{terms[6]}"',
        f'PHRASE "{phrase}"',
        f'PHRASE "{phrase}" OR "{terms[20]}"',
    ]
    return batch, wand_qs, bool_qs


def _run_all(spark, index_dir, batch, wand_qs, bool_qs):
    idx = engine.InvertedIndex(spark, index_dir)
    idx.DRIVER_MAX_ROWS = 0  # force the distributed kernels
    out = {}
    for q, res in idx.search_batch(batch, k=K).items():
        out[("batch", q)] = (res.docs, res.scores)
    for q in wand_qs:
        res = idx.search_collect(q, k=K)
        out[("wand", q)] = (res.docs, res.scores)
    for q in bool_qs:
        res = idx.search_collect(q, k=K)
        out[("kernel", q)] = (res.docs, res.scores)
    return out


def test_packed_groups_match_unpacked_and_oracle(
    spark, built_index, oracle_index, terms, phrase, monkeypatch
):
    batch, wand_qs, bool_qs = _queries(terms, phrase)
    n_buckets = built_index.kernel_buckets
    assert n_buckets > 3  # so 1, 2 and 3 groups all pack
    _force_groups(monkeypatch, None)
    unpacked = _run_all(spark, built_index.dir, batch, wand_qs, bool_qs)
    for (path, q), (docs, scores) in unpacked.items():
        want = oracle_index.search(q, k=K, scorer="bm25")
        assert docs == [d for d, _ in want], (path, q)
        assert scores == [s for _, s in want], (path, q)
    for n_groups in (1, 2, 3):
        _force_groups(monkeypatch, n_groups)
        packed = _run_all(spark, built_index.dir, batch, wand_qs, bool_qs)
        assert packed == unpacked, n_groups


def test_group_bounds_partition_the_buckets(spark, built_index, kernel_frames):
    """group_bounds cuts the buckets into contiguous runs of whole
    buckets, one per group, by the rule b * n_groups // n_buckets; the
    outer edges are open, so every bucket id, in range or not, has
    exactly one group. The engine's kernel stage has kernel_groups() of
    them: min(n_buckets, defaultParallelism) tasks."""
    for n_buckets in (1, 2, 3, 7, 8, 32, 33):
        for n_groups in range(1, n_buckets + 1):
            bounds = wand.group_bounds(n_groups, n_buckets)
            assert len(bounds) == n_groups
            assert bounds[0][0] is None and bounds[-1][1] is None
            for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
                assert hi == lo  # contiguous: no gap, no overlap
            for b in range(-2, n_buckets + 2):
                owners = [
                    g
                    for g, (lo, hi) in enumerate(bounds)
                    if (lo is None or b >= lo) and (hi is None or b < hi)
                ]
                assert len(owners) == 1, (n_buckets, n_groups, b)
                if 0 <= b < n_buckets:
                    assert owners[0] == b * n_groups // n_buckets
            # no group is empty: each owns at least one in-range bucket
            assert {b * n_groups // n_buckets for b in range(n_buckets)} == set(range(n_groups))

    n_buckets = built_index.kernel_buckets
    want = min(n_buckets, spark.sparkContext.defaultParallelism)
    assert wand.kernel_groups(spark, n_buckets) == want
    meta = {"said": [(0, 1.0)]}
    built_index._boolean_topk_winners({0: (("tok", "said"), meta)}, ["said"], K)
    assert kernel_frames[0].rdd.getNumPartitions() == want


def _synthetic_blocks(rng, bucket_bases, terms, block_rows=64):
    """Codec-packed posting blocks with positions: every term has
    postings in every bucket; docs of bucket b start at bucket_bases[b].
    Positions are drawn from the first 12 token offsets, so adjacent
    pairs are common. Returns (blocks as a pyarrow table, {(term, doc):
    positions})."""
    rows, positions = [], {}
    for b, base in enumerate(bucket_bases):
        for t in terms:
            docs = base + np.sort(rng.choice(5_000, 300, replace=False)).astype(np.int64)
            tfs = rng.integers(1, 6, docs.size)
            dls = rng.integers(5, 90, docs.size)
            pos = [np.sort(rng.choice(12, tf, replace=False)) for tf in tfs]
            positions.update({(t, int(d)): set(p.tolist()) for d, p in zip(docs, pos)})
            pos_rows = codec.encode_position_rows(np.concatenate(pos), tfs).to_pylist()
            for s in range(0, docs.size, block_rows):
                d = docs[s : s + block_rows]
                rows.append(
                    {
                        "term": t,
                        "range_bucket": b,
                        "first_doc": int(d[0]),
                        "last_doc": int(d[-1]),
                        "payload": codec.pack_postings(
                            d, tfs[s : s + block_rows], dls[s : s + block_rows]
                        ),
                        "pos_payload": b"".join(pos_rows[s : s + block_rows]),
                    }
                )
    return pa.Table.from_pylist(rows), positions


def test_packed_group_wider_than_int32_scores_like_per_bucket(spark, tmp_path):
    """A packed group whose doc span exceeds 2^31 decodes in global int64
    (the int32 group-local fast path cannot hold it); its scores must be
    bit-identical to scoring each bucket on its own — a phrase included,
    which the fallback group evaluates in global ids."""
    rng = np.random.default_rng(11)
    shift = 33
    bucket_bases = [0, 1 << shift, 2 << shift]
    terms = ["alpha", "beta", "gamma", "delta"]
    table, positions = _synthetic_blocks(rng, bucket_bases, terms)
    avgdl = 40.0
    # the fallback engages for the packed group, not for one bucket
    assert wand._decode_terms(table, avgdl)[1] == 0
    one = table.filter(pc.equal(table.column("range_bucket"), 1))
    assert wand._decode_terms(one, avgdl)[1] == pc.min(one.column("first_doc")).as_py()
    for b in range(len(bucket_bases)):
        os.makedirs(tmp_path / f"bucket={b}")
        part = table.filter(pc.equal(table.column("range_bucket"), b))
        pq.write_table(part, str(tmp_path / f"bucket={b}" / "part-0.parquet"))
    postings = pads.dataset(str(tmp_path), format="parquet", partitioning="hive")
    metas = {
        0: {"alpha": [(0, 1.5)]},
        1: {"beta": [(0, 0.7)], "gamma": [(1, 2.1)]},
        2: {"alpha": [(0, 1.1), (2, 1.1)], "delta": [(1, 0.3)]},
    }
    queries = {qid: (wand.disjunction(sorted(m)), m) for qid, m in metas.items()}
    # a set-evaluated tree in the same batch: docs of alpha AND beta
    queries[3] = (("and", ("tok", "alpha"), ("tok", "beta")), metas[1])
    queries[4] = (("phrase", ("alpha", "beta")), metas[1])

    def run(n_groups):
        n_buckets = len(bucket_bases)
        bounds = wand.group_bounds(n_groups or n_buckets, n_buckets)
        local = wand.boolean_topk(
            spark, postings, terms, queries, avgdl, K, bounds, with_positions=True
        )
        return wand.merge_query_topk_driver(local.toArrow(), K)

    per_bucket = run(None)
    packed = run(1)
    assert set(per_bucket) == set(queries)
    assert packed == per_bucket
    # winners come from more than one bucket, so the merge is exercised
    assert len({d >> shift for rows in packed.values() for d, _ in rows}) > 1
    # the phrase winners hold "alpha beta" adjacently, and there are
    # more such docs than K
    adjacent = {
        d
        for (t, d), ps in positions.items()
        if t == "alpha" and any(p + 1 in positions.get(("beta", d), ()) for p in ps)
    }
    assert len(adjacent) > K
    assert len(packed[4]) == K and {d for d, _ in packed[4]} <= adjacent


def test_decode_is_independent_of_block_order():
    """_decode_terms gathers the blocks into (term, first_doc) order only
    when they are out of it: a sorted table and a row-permuted copy must
    decode to the same per_term arrays, base and id dtype, and score to
    the same winners, a phrase included."""
    rng = np.random.default_rng(5)
    table, _ = _synthetic_blocks(rng, [0, 1 << 20], ["alpha", "beta", "gamma"])
    in_order = table.sort_by([("term", "ascending"), ("first_doc", "ascending")])
    shuffled = in_order.take(rng.permutation(in_order.num_rows))
    avgdl = 40.0
    got, want = wand._decode_terms(shuffled, avgdl), wand._decode_terms(in_order, avgdl)
    assert got[1:] == want[1:]
    assert got[0].keys() == want[0].keys() == {"alpha", "beta", "gamma"}
    for t, (docs, imps, tfs, pos) in want[0].items():
        for a, b in zip(got[0][t][:3], (docs, imps, tfs)):
            assert a.dtype == b.dtype and np.array_equal(a, b)
        assert got[0][t][3].equals(pos)
    meta = {"alpha": [(0, 1.3)], "beta": [(1, 0.6)]}
    queries = {
        0: (wand.disjunction(sorted(meta)), meta),
        1: (("phrase", ("alpha", "beta")), meta),
        2: (("and", ("tok", "alpha"), ("not", ("tok", "gamma"))), meta),
    }
    universe = np.unique(np.concatenate([v[0] for v in want[0].values()])).astype(np.int64)
    universe += want[1]
    assert wand.boolean_score_bucket(
        shuffled, queries, avgdl, K, universe
    ).equals(wand.boolean_score_bucket(in_order, queries, avgdl, K, universe))
