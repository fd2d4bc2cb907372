"""The scorer-generic bucket kernel: exact TFIDF and BM25 weights, loud rejection
of unknown scorers and of the removed `strategy` option, and refusal of
indexes without doc-id range bucketing."""

import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.operators import wand
from text_indexing_and_retrieval_system_spark.operators.index_build import (
    IndexBuildConfig,
)
from text_indexing_and_retrieval_system_spark.oracle import OracleIndex

CFG = IndexBuildConfig(n_term_buckets=8, n_range_buckets=8, n_segment_chunks=2, chunk_min_convs=0)


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    """Three one-turn conversations: N=3 and df=1 is the smallest pair
    where Spark's `log` and Python's `math.log` differ by one ulp."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c2", "c3"],
            "turn_idx": [0, 0, 0],
            "role": "user",
            "text": ["alpha beta", "beta gamma", "gamma delta"],
            "tool": "",
            "ts": pd.Timestamp("2026-01-01"),
        }
    )
    index_dir = str(tmp_path_factory.mktemp("tiny") / "idx")
    idx = engine.build(spark, spark.createDataFrame(pdf), index_dir, CFG, input_desc="tiny")
    pdf["doc_id"] = pdf["conv_id"] + ":" + pdf["turn_idx"].map("{:04d}".format)
    return idx, OracleIndex.build(pdf, id_col="doc_id", text_col="text")


def test_tfidf_bit_identical_to_oracle(spark, tiny):
    idx, oracle = tiny
    dist = engine.InvertedIndex(spark, idx.dir)
    dist.DRIVER_WAND_MAX_DF = 0  # force the distributed kernel
    for q in ('"alpha"', '"alpha" AND "beta"'):
        want = oracle.search(q, k=10, scorer="tfidf")
        assert want
        for handle in (idx, dist):
            got = handle.search_collect(q, k=10, scorer="tfidf")
            assert got.docs == [d for d, _ in want], q
            assert got.scores == [s for _, s in want], q


def test_bm25_idf_bit_identical_to_oracle(spark, tiny):
    """BM25 weights are computed from df with wand.bm25_idf (math.log, as
    the oracle): Spark's `log` put "alpha" one ulp off at N=3, df=1. The
    lexicon's `idf` column holds the same values."""
    idx, oracle = tiny
    dist = engine.InvertedIndex(spark, idx.dir)
    dist.DRIVER_WAND_MAX_DF = 0  # force the distributed kernel
    for q in ('"alpha"', '"alpha" AND "beta"'):
        want = oracle.search(q, k=10, scorer="bm25")
        assert want
        for handle in (idx, dist):
            got = handle.search_collect(q, k=10, scorer="bm25")
            assert got.docs == [d for d, _ in want], q
            assert got.scores == [s for _, s in want], q
    lex = pq.read_table(os.path.join(idx.dir, "lexicon"), columns=["df", "idf"]).to_pylist()
    assert [r["idf"] for r in lex] == [wand.bm25_idf(3, r["df"]) for r in lex]


def test_unknown_strategy_or_scorer_raises_before_any_job(spark, built_index):
    sc = spark.sparkContext
    group = "test-unknown-strategy"
    sc.setJobGroup(group, "must launch no job")
    try:
        for kw, err, match in (
            ({"strategy": "dataframe"}, TypeError, "strategy"),
            ({"strategy": "bogus"}, TypeError, "strategy"),
            ({"scorer": "bm52"}, ValueError, "unknown scorer"),
        ):
            with pytest.raises(err, match=match):
                built_index.search_collect('"said" AND "index"', k=5, **kw)
            with pytest.raises(err, match=match):
                built_index.search('"said"', k=5, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_index_without_range_shift_is_refused(spark, built_index, tmp_path):
    copy = str(tmp_path / "legacy")
    shutil.copytree(built_index.dir, copy)
    man_dir = os.path.join(copy, "_manifests")
    stripped = 0
    for name in os.listdir(man_dir):
        path = os.path.join(man_dir, name)
        with open(path) as f:
            info = json.load(f)
        if isinstance(info, dict) and info.pop("range_shift", None) is not None:
            stripped += 1
            with open(path, "w") as f:
                json.dump(info, f)
    assert stripped
    engine.InvertedIndex(spark, built_index.dir)  # the original still loads
    with pytest.raises(ValueError, match="rebuild"):
        engine.InvertedIndex(spark, copy)
