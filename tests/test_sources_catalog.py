"""JSON / zipped-JSON sources, catalog CRUD, hydration, incremental
add/delete."""

import json
import os
import zipfile

import pandas as pd
import pytest

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.functions.normalize import (
    normalize_to_tokens,
)
from text_indexing_and_retrieval_system_spark.operators.index_build import (
    IndexBuildConfig,
)
from text_indexing_and_retrieval_system_spark.sources import catalog, documents


@pytest.fixture(scope="module")
def json_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("jsondocs")
    for i in range(6):
        with open(d / f"doc{i}.json", "w") as f:
            json.dump({"uuid": f"u{i % 5}", "text": f"hello world {i}", "extra": i}, f)
    return str(d)


def test_read_json_docs(spark, json_dir):
    df = documents.read_json_docs(
        spark, json_dir + "/*.json", id_field="uuid", attributes=["uuid", "text"]
    )
    rows = df.collect()
    # 6 files, u0 duplicated -> first-wins dedup to 5
    assert len(rows) == 5
    assert set(df.columns) == {"uuid", "text"}


def test_read_zipped_json_docs(spark, tmp_path):
    zpath = tmp_path / "arch.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for i in range(4):
            zf.writestr(
                f"inner/d{i}.json", json.dumps({"uuid": f"z{i}", "text": f"t {i}"})
            )
        zf.writestr("skipme.txt", "not json")
        zf.writestr("bad.json", "{broken")
    df = documents.read_zipped_json_docs(
        spark, str(zpath), id_field="uuid", attributes=["uuid", "text"]
    )
    rows = {r["uuid"]: r for r in df.collect()}
    assert set(rows) == {"z0", "z1", "z2", "z3"}
    assert rows["z2"]["_member"] == "inner/d2.json"


def test_catalog_crud(spark, corpus_df, tmp_path):
    storage = str(tmp_path / "storage")
    cfg = IndexBuildConfig(n_segment_chunks=2, chunk_min_convs=0)
    small = corpus_df.filter(corpus_df.conv_id < "conv-00000010")
    engine.build(spark, small, os.path.join(storage, "idx_a"), cfg, input_desc="a")
    assert catalog.list_indices(storage) == ["idx_a"]
    info = catalog.get_index_info(storage, "idx_a")
    assert info["complete"] and info["stats"]["n_docs"] > 0
    assert info["config"]["block_size"] == 128
    assert catalog.delete_index(storage, "idx_a")
    assert catalog.list_indices(storage) == []
    assert not catalog.delete_index(storage, "idx_a")


def test_hydration(built_index):
    res = built_index.search('"said"', k=3, hydrate=True).collect()
    assert res
    for r in res:
        assert r["text"] and r["conv_id"]
        assert r["doc_id"].startswith(r["conv_id"])


def test_incremental_add_and_delete(spark, corpus_df, tmp_path):
    from text_indexing_and_retrieval_system_spark.streaming import incremental as inc

    storage = str(tmp_path / "upd")
    idx_dir = os.path.join(storage, "u1")
    cfg = IndexBuildConfig(n_segment_chunks=2, chunk_min_convs=0)
    first = corpus_df.filter(corpus_df.conv_id < "conv-00000040")
    rest = corpus_df.filter(
        (corpus_df.conv_id >= "conv-00000040") & (corpus_df.conv_id < "conv-00000050")
    )
    engine.build(spark, first, idx_dir, cfg, input_desc="upd")
    idx0 = engine.load(spark, idx_dir)
    n0 = idx0.stats["n_docs"]

    # an explicit config conflicting with the build manifest must refuse
    with pytest.raises(ValueError, match="conflicts"):
        inc.add_documents(spark, idx_dir, rest, IndexBuildConfig(n_term_buckets=5))

    inc.add_documents(spark, idx_dir, rest)  # cfg from manifest
    stats1 = inc.refresh_postings(spark, idx_dir)
    assert stats1["n_docs"] == n0 + rest.count()

    # a handle held across the refresh serves stale stats until reload()
    assert idx0.stats["n_docs"] == n0
    idx0.reload()
    assert idx0.stats["n_docs"] == stats1["n_docs"]

    idx1 = engine.load(spark, idx_dir)
    hit = idx1.search_collect('"said"', k=5)
    assert hit.docs
    # newly added docs must hydrate (docs/ store follows adds)
    added = (
        idx1.docs()
        .filter("conv_id >= 'conv-00000040' and conv_id < 'conv-00000050'")
        .collect()
    )
    assert len(added) == rest.count()
    assert all(r["text"] for r in added)

    victim = hit.docs[0]
    assert inc.delete_documents(spark, idx_dir, [victim]) == 1
    stats2 = inc.refresh_postings(spark, idx_dir, cfg)
    assert stats2["n_docs"] == stats1["n_docs"] - 1
    idx2 = engine.load(spark, idx_dir)
    assert victim not in idx2.search_collect('"said"', k=5).docs
    # deleted docs must no longer be hydratable
    assert idx2.docs().filter(f"doc_id = '{victim}'").count() == 0

    # a turn added since the last refresh can be deleted before the next
    more = corpus_df.filter(
        (corpus_df.conv_id >= "conv-00000050") & (corpus_df.conv_id < "conv-00000052")
    )
    inc.add_documents(spark, idx_dir, more)
    fresh = "conv-00000050:0001"
    assert inc.delete_documents(spark, idx_dir, [fresh]) == 1
    stats3 = inc.refresh_postings(spark, idx_dir)
    assert stats3["n_docs"] == stats2["n_docs"] + more.count() - 1
    idx3 = engine.load(spark, idx_dir)
    doclen = spark.read.parquet(os.path.join(idx_dir, "doclen"))
    assert doclen.filter(f"doc_id = '{fresh}'").count() == 0
    assert idx3.docs().filter(f"doc_id = '{fresh}'").count() == 0
    assert idx3.docs().filter("conv_id = 'conv-00000050'").count() == 2
    text = more.filter(
        "conv_id = 'conv-00000050' and turn_idx = 1"
    ).collect()[0]["text"]
    term = normalize_to_tokens(pd.Series([text]))[0][0]
    assert fresh not in idx3.search_collect(f'"{term}"', k=stats3["n_docs"]).docs


def test_provider_contract(spark, tmp_path):
    """The TableProvider seam: every operation the index storage layer
    needs, exercised against the parquet backend (the Iceberg backend
    maps the same calls onto catalog SQL and must refuse cleanly when no
    catalog is configured)."""
    from text_indexing_and_retrieval_system_spark.sources.provider import (
        IcebergProvider,
        ParquetDirProvider,
    )

    p = ParquetDirProvider(str(tmp_path / "tbls"))
    df = spark.range(5).withColumnRenamed("id", "doc_id_int")
    p.write(df, "doclen")
    assert p.exists("doclen") and p.list_tables() == ["doclen"]
    assert p.num_rows("doclen") == 5
    p.append(spark.range(5, 8).withColumnRenamed("id", "doc_id_int"), "doclen")
    assert p.num_rows("doclen") == 8

    # staged replace: readers of the live table never see the new version
    # until commit; commit skips tables without a staged version
    p.write_staged(spark.range(2).withColumnRenamed("id", "doc_id_int"), "doclen")
    assert p.num_rows("doclen") == 8
    p.commit_staged(["doclen", "postings"])  # postings never staged: no-op
    assert p.num_rows("doclen") == 2
    assert p.list_tables() == ["doclen"]  # stage dirs hidden from listing

    assert p.drop("doclen") and not p.exists("doclen")
    assert not p.drop("doclen")

    # no Iceberg catalog on this session -> construction must refuse
    with pytest.raises(RuntimeError, match="not configured"):
        IcebergProvider(spark, "ice", "tirs")


def test_es_shaped_results(built_index):
    out = built_index.search_es_shaped('"said"', k=3)
    hits = out["hits"]["hits"]
    assert out["hits"]["total"]["value"] == len(hits) <= 3
    for h in hits:
        assert set(h) == {"_index", "_id", "_score", "_source"}
        assert h["_source"]["text"]
    scores = [h["_score"] for h in hits]
    assert scores == sorted(scores, reverse=True)
