"""Round-5 fix from ADVICE.md: provider.append empty-frame skip +
numeric partition dirs."""

import os

from text_indexing_and_retrieval_system_spark.sources.provider import (
    ParquetDirProvider,
)


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
