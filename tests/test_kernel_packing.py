"""Kernel-group packing: the bucket-kernel stages pack whole doc-range
buckets into one group per core slot (wand._with_slot). Packing is
placement only, so every group count — one group, a few, one per bucket
— must return the same docs and bit-identical scores on every
distributed kernel, and match the oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

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
    idx.DRIVER_WAND_MAX_DF = 0  # force the distributed kernels
    idx.DRIVER_NOT_MAX_DOCS = 0
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


def test_kernel_frame_has_one_nonempty_partition_per_core(spark, built_index, terms):
    """The kernel stage is min(n_buckets, defaultParallelism) wide, with
    no empty partition (each would pay a Python task for nothing)."""
    n_buckets = built_index.kernel_buckets
    want = min(n_buckets, spark.sparkContext.defaultParallelism)
    blocks = built_index.blocks_for(terms[:3]).select(*wand.KERNEL_COLS)
    dl_b = built_index.doclen().select(
        F.shiftrightunsigned("doc_id_int", built_index.range_shift)
        .cast("int")
        .alias("range_bucket"),
        "doc_id_int",
    )
    for df in (blocks, dl_b):
        frame, key = wand._kernel_frame(df, n_buckets)
        assert key == "__slot"
        assert frame.rdd.getNumPartitions() == want
        rows = frame.select(F.spark_partition_id().alias("p"), key).distinct().collect()
        assert {r["p"] for r in rows} == set(range(want))
        # one group per partition: the slot mapping never collides
        assert len({r[key] for r in rows}) == want


def _synthetic_blocks(rng, bucket_bases, terms, block_rows=64):
    """Codec-packed posting blocks: every term has postings in every
    bucket; docs of bucket b start at bucket_bases[b]."""
    rows = []
    for b, base in enumerate(bucket_bases):
        for t in terms:
            docs = base + np.sort(rng.choice(5_000, 300, replace=False)).astype(np.int64)
            tfs = rng.integers(1, 6, docs.size)
            dls = rng.integers(5, 90, docs.size)
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
                    }
                )
    return pd.DataFrame(rows)


def test_packed_group_wider_than_int32_scores_like_per_bucket(spark, monkeypatch):
    """A packed group whose doc span exceeds 2^31 decodes in global int64
    (the int32 group-local fast path cannot hold it); its scores must be
    bit-identical to scoring each bucket on its own."""
    rng = np.random.default_rng(11)
    shift = 33
    bucket_bases = [0, 1 << shift, 2 << shift]
    terms = ["alpha", "beta", "gamma", "delta"]
    pdf = _synthetic_blocks(rng, bucket_bases, terms)
    avgdl = 40.0
    # the fallback engages for the packed group, not for one bucket
    assert wand._decode_terms(pdf, avgdl)[1] == 0
    one = pdf[pdf["range_bucket"] == 1]
    assert wand._decode_terms(one, avgdl)[1] == int(one["first_doc"].min())
    blocks = spark.createDataFrame(
        pdf,
        "term string, range_bucket int, first_doc long, last_doc long, payload binary",
    )
    metas = {
        0: {"alpha": [(0, 1.5)]},
        1: {"beta": [(0, 0.7)], "gamma": [(1, 2.1)]},
        2: {"alpha": [(0, 1.1), (2, 1.1)], "delta": [(1, 0.3)]},
    }
    queries = {qid: (wand.disjunction(sorted(m)), m) for qid, m in metas.items()}
    # a set-evaluated tree in the same batch: docs of alpha AND beta
    queries[3] = (("and", ("tok", "alpha"), ("tok", "beta")), metas[1])

    def run(n_groups):
        _force_groups(monkeypatch, n_groups)
        local = wand.boolean_topk(blocks, queries, avgdl, K, n_buckets=len(bucket_bases))
        return wand.merge_query_topk_driver(local.toPandas(), K)

    per_bucket = run(None)
    packed = run(1)
    assert set(per_bucket) == set(queries)
    assert packed == per_bucket
    # winners come from more than one bucket, so the merge is exercised
    assert len({d >> shift for rows in packed.values() for d, _ in rows}) > 1
