"""Skew stress: a hot term present in EVERY document (df = N).

The north_rule requires the build to "handle skewed high-frequency terms
via salted repartitioning". Our salt is the contiguous doc-id range
bucket (`range_bucket = doc_id_int >> range_shift`, index_build.py
stage 3): the shuffle key is (term, range_bucket), so a term whose
postings would otherwise hash to ONE reducer is split across
n_range_buckets keys with disjoint, ordered doc ranges — no merge pass
needed afterwards (unlike random salts).

These tests drive that property directly with a worst-case corpus — one
term injected into every document — and assert:

  1. the hot term's blocks really span multiple range buckets,
     with globally disjoint ordered [first_doc, last_doc] ranges and no
     bucket holding a majority of its postings;
  2. the pack stage physically spreads the hot term over multiple
     shuffle partitions (spark_partition_id spread) — i.e. the skew is
     broken BEFORE the Python pack kernel, not inside it;
  3. queries over the hot term (alone and mixed) remain rank- and
     score-identical to the oracle.

Reference analogue: none — the reference's dict build
(`/root/reference/code/indexes/index_custom.py:199-224`) is a
single-process upsert and cannot exhibit reducer skew.
"""

import os

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.operators import index_build as ib
from text_indexing_and_retrieval_system_spark.operators.index_build import (
    IndexBuildConfig,
)
from text_indexing_and_retrieval_system_spark.operators.segments import range_shift_for

HOT = "zzhot"  # survives the normalizer unchanged (no stopword, stem-stable)


@pytest.fixture(scope="module")
def skew_pdf(corpus_pdf) -> pd.DataFrame:
    pdf = corpus_pdf.copy()
    # hot term twice per doc: tf > 1 exercises the tf path too
    pdf["text"] = HOT + " " + pdf["text"] + " " + HOT
    return pdf


@pytest.fixture(scope="module")
def skew_df(spark, skew_pdf):
    return spark.createDataFrame(
        skew_pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )


@pytest.fixture(scope="module")
def skew_oracle(skew_pdf):
    from text_indexing_and_retrieval_system_spark.oracle import OracleIndex

    return OracleIndex.build(skew_pdf, id_col="doc_id", text_col="text")


@pytest.fixture(scope="module")
def skew_index(spark, skew_df, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("skew") / "idx")
    cfg = IndexBuildConfig(
        n_term_buckets=8, n_range_buckets=8, n_segment_chunks=2, chunk_min_convs=0
    )
    return engine.build(spark, skew_df, index_dir, cfg, input_desc="skew-test")


def _hot_blocks(skew_index) -> pd.DataFrame:
    postings = pads.dataset(
        os.path.join(skew_index.dir, "postings"), format="parquet", partitioning="hive"
    )
    return postings.to_table(
        columns=["range_bucket", "first_doc", "last_doc", "n"], filter=pads.field("term") == HOT
    ).to_pandas()


def test_hot_term_splits_into_disjoint_range_buckets(skew_index, skew_pdf):
    blocks = _hot_blocks(skew_index)
    n_docs = len(skew_pdf)
    assert int(blocks["n"].sum()) == n_docs  # df == N: every doc posted

    # the salt took effect: several buckets, none dominating
    per_bucket = blocks.groupby("range_bucket")["n"].sum()
    assert len(per_bucket) >= 4, f"expected >=4 range buckets, got {per_bucket}"
    assert per_bucket.max() / n_docs <= 0.5, (
        f"one range bucket holds a majority of a df=N term: {per_bucket}"
    )

    # globally disjoint ordered ranges: sorted by first_doc, each block
    # starts after the previous one ends — WAND can traverse the term
    # across buckets without a merge pass
    b = blocks.sort_values("first_doc").reset_index(drop=True)
    assert (b["last_doc"] >= b["first_doc"]).all()
    assert (b["first_doc"].to_numpy()[1:] > b["last_doc"].to_numpy()[:-1]).all()

    # buckets themselves are contiguous in doc order (range, not hash)
    by_bucket_order = b.drop_duplicates("range_bucket", keep="first")
    assert by_bucket_order["range_bucket"].is_monotonic_increasing


def test_hot_term_pack_spreads_over_shuffle_partitions(spark, skew_df):
    """The (term, range_bucket) repartition must place a df=N term's
    blocks on multiple pack tasks (spark_partition_id spread), and no
    single task may hold a majority of its postings."""
    convmap = ib.assign_conv_ids(spark, skew_df.select("conv_id").distinct())
    docs = ib.with_doc_ids(skew_df, convmap)
    seg = ib.tokenize_to_doc_postings(
        docs.select("doc_id_int", "text"), IndexBuildConfig().normalize
    )
    n_range_buckets = 8
    range_shift = range_shift_for(convmap.count(), n_range_buckets)
    cfg = IndexBuildConfig(n_range_buckets=n_range_buckets)
    blocks = ib.build_blocks(seg, cfg, range_shift, n_partitions=8).withColumn(
        "pid", F.spark_partition_id()
    )
    hot = (
        blocks.filter(F.col("term") == HOT)
        .groupBy("pid")
        .agg(F.sum("n").alias("postings"))
        .toPandas()
    )
    total = int(hot["postings"].sum())
    assert total > 0
    assert len(hot) >= 3, f"df=N term packed on too few tasks: {hot}"
    assert hot["postings"].max() / total <= 0.5, (
        f"one pack task holds a majority of a df=N term: {hot}"
    )


@pytest.mark.parametrize("scorer", ["bm25", "tfidf", "wordcount"])
def test_hot_term_queries_rank_identical(skew_index, skew_oracle, scorer):
    for query in (f'"{HOT}"', f'"{HOT}" AND "user"', f'"user" OR "{HOT}"'):
        oracle_hits = skew_oracle.search(query, k=20, scorer=scorer)
        got = skew_index.search_collect(query, k=20, scorer=scorer)
        assert got.docs == [d for d, _ in oracle_hits], query
        np.testing.assert_allclose(
            got.scores, [s for _, s in oracle_hits], rtol=0, atol=0
        )
