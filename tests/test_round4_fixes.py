"""Round-4 fixes: ADVICE r3 items + the per-chunk doc store.

- terms with backslashes and quotes go through the distributed leaf's
  term read (engine._boolean_topk_winners) without error
- phrase query on a store_positions=False index raises a clear error
- add_documents replay stays idempotent with zero-token docs at the
  range extremes (bounds now come from the docs frame, not the segment)
- per-chunk docs store: layout, hydration, and single-input-scan build
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.operators.index_build import (
    IndexBuildConfig,
)
from text_indexing_and_retrieval_system_spark.functions.normalize import (
    NormalizeConfig,
)
from text_indexing_and_retrieval_system_spark.streaming import incremental as inc

CFG = IndexBuildConfig(n_term_buckets=8, n_range_buckets=8, n_segment_chunks=2, chunk_min_convs=0)


def test_in_list_escapes_backslash(built_index):
    # a term ending in a backslash (reachable with remove_punctuation=False)
    # or holding a quote is a plain value of the kernel tasks' term
    # filter: absent from the index, it finds no winners and raises nothing
    for weird in ["foo\\", "a\\'b", "it's", "\\"]:
        meta = {weird: [(0, 1.0)]}
        assert built_index._boolean_topk_winners({0: (("tok", weird), meta)}, [weird], 10) == {}


def test_backslash_term_roundtrip(spark, tmp_path):
    # with punctuation kept, a backslash-suffixed token is indexed and
    # findable — exercises the escaped IN path end-to-end
    norm = NormalizeConfig(
        remove_punctuation=False,
        remove_special_characters=False,
        stopword_languages=(),
        stemming=None,
    )
    cfg = IndexBuildConfig(
        normalize=norm, n_term_buckets=4, n_range_buckets=4, n_segment_chunks=1
    )
    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c0", "c1"],
            "turn_idx": [0, 1, 0],
            "role": ["user", "assistant", "user"],
            "text": ["path c:\\ and more", "plain words here", "tail slash\\"],
            "tool": ["", "", ""],
            "ts": pd.to_datetime(["2026-01-01"] * 3),
        }
    )
    idx = engine.build(
        spark, spark.createDataFrame(pdf), str(tmp_path / "bs"), cfg,
        input_desc="backslash",
    )
    res = idx.search_collect('"slash\\"', k=5)  # term: slash\
    assert res.docs == ["c1:0000"]


def test_phrase_without_positions_raises(spark, corpus_df, tmp_path):
    cfg = IndexBuildConfig(
        n_term_buckets=4, n_range_buckets=4, n_segment_chunks=1,
        store_positions=False,
    )
    idx = engine.build(
        spark, corpus_df.limit(50), str(tmp_path / "nopos"), cfg,
        input_desc="nopos",
    )
    with pytest.raises(ValueError, match="store_positions"):
        idx.search_collect('PHRASE "said index"', k=5)
    # non-phrase queries still work
    assert idx.search_collect('"said" OR "index"', k=5).docs is not None


def test_replay_idempotent_with_zero_token_edge_docs(spark, corpus_df, tmp_path):
    """Zero-token docs at BOTH extremes of the added id range: the replay
    anti-join bounds must cover them (ADVICE r3 — segment-derived bounds
    could miss ids outside the tokenized range)."""
    idx_dir = str(tmp_path / "zt_idx")
    engine.build(spark, corpus_df.limit(100), idx_dir, CFG, input_desc="zt-base")

    pdf = pd.DataFrame(
        {
            # zzz* conv ids sort after the base corpus -> genuinely new convs
            "conv_id": ["zzz-aaa", "zzz-mmm", "zzz-zzz"],
            "turn_idx": [0, 0, 0],
            "role": ["user"] * 3,
            # first and last docs of the new id range tokenize to nothing
            "text": ["...", "real words in the middle", "!!!"],
            "tool": [""] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3),
        }
    )
    new_df = spark.createDataFrame(pdf)
    unit = inc.add_documents(spark, idx_dir, new_df, CFG)
    os.remove(os.path.join(idx_dir, "_manifests", f"{unit}.json"))
    unit2 = inc.add_documents(spark, idx_dir, new_df, CFG)
    assert unit2 == unit
    docs = spark.read.parquet(os.path.join(idx_dir, "docs"))
    dup = docs.groupBy("doc_id_int").count().filter("count > 1").count()
    assert dup == 0
    # all three docs (incl. zero-token) hydrated exactly once
    assert docs.filter(F.col("conv_id").startswith("zzz")).count() == 3


def test_docs_store_is_per_chunk(built_index):
    """Fresh builds write docs/chunk=<i>/ inside the chunk pipelines —
    no separate full-input stage-4 job (VERDICT r3 next-#1)."""
    docs_dir = os.path.join(built_index.dir, "docs")
    chunks = sorted(d for d in os.listdir(docs_dir) if d.startswith("chunk="))
    assert chunks == ["chunk=0", "chunk=1"]  # n_segment_chunks=2
    man_dir = os.path.join(built_index.dir, "_manifests")
    assert os.path.exists(os.path.join(man_dir, "stage4_chunk_000.json"))
    assert not os.path.exists(os.path.join(man_dir, "stage4_docs.json"))
    # the public docs() relation hides the partition column
    assert "chunk" not in built_index.docs().columns
    # hydration joins against it
    res = built_index.search('"said" OR "index"', k=3, hydrate=True)
    rows = res.collect()
    assert rows and all(r["text"] is not None for r in rows)


def test_driver_paths_bit_identical_to_distributed(spark, built_index):
    """The interactive driver-local leaf (head cache) must be
    bit-identical to the distributed applyInPandas kernel."""
    dist = engine.InvertedIndex(spark, built_index.dir)
    dist.DRIVER_WAND_MAX_DF = 0  # force the distributed paths
    dist.DRIVER_NOT_MAX_DOCS = 0
    queries = [
        '"said" OR "index" OR "the"',
        '"said" OR "order"',
        '"said" AND "index"',
        '"said" AND NOT "index"',
        'NOT "said"',
        'PHRASE "it said"',
        'PHRASE "it said" OR "order"',
    ]
    for q in queries:
        a = built_index.search_collect(q, k=25)
        b = dist.search_collect(q, k=25)
        assert a.docs == b.docs, q
        assert a.scores == b.scores, q


def test_realistic_spread_generator_deterministic():
    from text_indexing_and_retrieval_system_spark.sources.transcripts import (
        generate_conversation,
    )

    a = generate_conversation(7, seed=42, spread="realistic")
    b = generate_conversation(7, seed=42, spread="realistic")
    assert a.equals(b)
    u = generate_conversation(7, seed=42, spread="uniform")
    assert list(a.columns) == list(u.columns)
    assert not a["text"].equals(u["text"])
    # bursty mode actually produces within-turn repeats somewhere
    import collections

    found_rep = False
    for i in range(40):
        conv = generate_conversation(i, seed=1, spread="realistic")
        for t in conv["text"]:
            c = collections.Counter(t.split())
            if c and c.most_common(1)[0][1] >= 3:
                found_rep = True
                break
        if found_rep:
            break
    assert found_rep


def test_realistic_spread_distributed_matches_pandas(spark):
    from text_indexing_and_retrieval_system_spark.sources import transcripts as tr

    pdf = tr.generate_transcripts_pandas(6, seed=9, spread="realistic")
    sdf = tr.generate_transcripts(spark, 6, seed=9, spread="realistic").toPandas()
    sdf = sdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (sdf["text"] == pdf["text"]).all()
