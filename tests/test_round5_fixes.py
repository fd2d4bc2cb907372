"""Round-5 fixes from ADVICE.md: docs/ stray-flat-file cleanup before the
first per-chunk write, and provider.append empty-frame skip + numeric
partition dirs."""

import glob
import os

import pytest

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.operators.index_build import (
    IndexBuildConfig,
)
from text_indexing_and_retrieval_system_spark.sources.provider import (
    ParquetDirProvider,
)


def test_stray_flat_docs_removed_before_chunk_write(spark, corpus_df, tmp_path):
    """A pre-round-4 build that crashed mid-stage-4 leaves flat
    part-*.parquet at docs/ root with NO stage4_docs manifest; resuming
    with the per-chunk writer must remove them, or mixed leaf depths
    break Spark partition discovery on the doc store."""
    d = str(tmp_path / "idx")
    cfg = IndexBuildConfig(n_term_buckets=4, n_range_buckets=4, n_segment_chunks=2)
    idx = engine.build(spark, corpus_df, d, cfg, input_desc="strays")
    want = idx.search_collect('"said" OR "index"', k=10)

    docs = os.path.join(d, "docs")
    # simulate the crashed legacy flat write: strays at docs/ root,
    # chunk 0 not yet committed
    import shutil

    shutil.rmtree(os.path.join(docs, "chunk=0"))
    os.remove(os.path.join(d, "_manifests", "stage4_chunk_000.json"))
    os.remove(os.path.join(d, "_manifests", "build.json"))
    with open(os.path.join(docs, "part-00000-dead.parquet"), "wb") as f:
        f.write(b"PAR1 not a real file")
    open(os.path.join(docs, "_SUCCESS"), "w").close()

    idx2 = engine.build(spark, corpus_df, d, cfg, input_desc="strays")
    root_entries = [e for e in os.listdir(docs) if not e.startswith("chunk=")]
    assert root_entries == [], root_entries
    assert glob.glob(os.path.join(docs, "chunk=*", "*.parquet"))
    # the store still reads as one partitioned table and queries agree
    got = idx2.search_collect('"said" OR "index"', k=10)
    assert got.docs == want.docs and got.scores == want.scores
    assert spark.read.parquet(docs).count() > 0


def test_provider_append_skips_empty_and_keeps_int_partitions(spark, tmp_path):
    p = ParquetDirProvider(str(tmp_path / "tbl"))
    df = spark.range(3).withColumnRenamed("id", "doc_id_int")
    # seed a hive-partitioned layout like docs/chunk=0
    df.write.parquet(os.path.join(p.location("docs"), "chunk=0"))

    loc = p.location("docs")
    p.append(df.limit(0), "docs")  # replay case: must be a no-op
    assert sorted(os.listdir(loc)) == ["chunk=0"]

    p.append(df, "docs")
    assert sorted(os.listdir(loc)) == ["chunk=0", "chunk=1"]
    # partition column stays numeric for every reader
    back = spark.read.parquet(loc)
    kind = dict(back.dtypes)["chunk"]
    assert kind in ("int", "bigint"), kind
    assert back.count() == 6

    # appending again continues the numeric sequence
    p.append(df, "docs")
    assert sorted(os.listdir(loc)) == ["chunk=0", "chunk=1", "chunk=2"]
