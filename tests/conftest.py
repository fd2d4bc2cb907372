import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
import pytest

from text_indexing_and_retrieval_system_spark.session import get_spark
from text_indexing_and_retrieval_system_spark.sources.transcripts import (
    generate_transcripts_pandas,
)

N_CONVS_SMALL = 80
SEED = 42


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tirs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def corpus_pdf() -> pd.DataFrame:
    pdf = generate_transcripts_pandas(N_CONVS_SMALL, seed=SEED)
    pdf["doc_id"] = pdf["conv_id"] + ":" + pdf["turn_idx"].map("{:04d}".format)
    return pdf


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    df = spark.createDataFrame(
        corpus_pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )
    return df


@pytest.fixture(scope="session")
def oracle_index(corpus_pdf):
    from text_indexing_and_retrieval_system_spark.oracle import OracleIndex

    return OracleIndex.build(corpus_pdf, id_col="doc_id", text_col="text")


@pytest.fixture(scope="session")
def built_index(spark, corpus_df, tmp_path_factory):
    from text_indexing_and_retrieval_system_spark import engine
    from text_indexing_and_retrieval_system_spark.operators.index_build import (
        IndexBuildConfig,
    )

    index_dir = str(tmp_path_factory.mktemp("index") / "small")
    cfg = IndexBuildConfig(n_term_buckets=8, n_range_buckets=8, n_segment_chunks=2, chunk_min_convs=0)
    return engine.build(spark, corpus_df, index_dir, cfg, input_desc="conftest-small")


@pytest.fixture
def kernel_frames(monkeypatch):
    """The DataFrames wand.boolean_topk returns during the test, in call
    order: the distributed leaf's kernel stage, for plan and width checks."""
    from text_indexing_and_retrieval_system_spark.operators import wand

    frames = []
    topk = wand.boolean_topk

    def recording(*args, **kw):
        frames.append(topk(*args, **kw))
        return frames[-1]

    monkeypatch.setattr(wand, "boolean_topk", recording)
    return frames
