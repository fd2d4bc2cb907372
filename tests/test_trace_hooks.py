"""The traced benchmark run (`perfbench/run.py --trace 1`) wraps engine
functions by name (`perfbench/tracing.py`, Tracer.install_engine_spans);
a renamed hook makes it fail at install. Every query leaf runs here under
the installed spans, which must record the path and kernel spans and
uninstall cleanly. The traced run also reads build layer walls from the
build's manifest-unit names (`layers.BUILD_UNITS`); a renamed unit
drops its layer's wall."""

import os
import sys

from text_indexing_and_retrieval_system_spark import engine

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))

import layers  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_engine_spans_install_record_and_uninstall(spark, built_index, oracle_index):
    by_df = sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))
    hot, mid = by_df[0], by_df[20]
    tracer = Tracer("t")
    tracer.install_engine_spans()
    patches = list(tracer._patches)
    try:
        assert patches
        for owner, attr, orig in patches:
            assert getattr(owner, attr) is not orig, attr
        built_index.search_collect(f'"{hot}" OR "{mid}"', k=10)  # driver kernel
        built_index.search_collect(f'"{hot}" AND "{mid}"', k=10)  # driver kernel
        distributed = engine.InvertedIndex(spark, built_index.dir)
        distributed.DRIVER_MAX_ROWS = 0
        distributed.search_collect(f'"{hot}" AND "{mid}"', k=10)
        built_index.search_batch([f'"{hot}"', f'"{mid}" OR "{by_df[5]}"'], k=10)
    finally:
        tracer.uninstall()
    names = {sp.name for sp in tracer.spans}
    for name in ("engine.path.driver_kernel", "engine.path.distributed", "wand.kernel"):
        assert name in names, (name, sorted(names))
    # the former MaxScore leaf and block-store names are wrapped but
    # never called
    for name in ("engine.path.driver_wand", "engine.block_fetch", "engine.preload"):
        assert name not in names, name
    assert sum(sp.name == "engine.path.driver_kernel" for sp in tracer.spans) == 2
    assert sum(sp.name == "engine.path.distributed" for sp in tracer.spans) == 2
    for owner, attr, orig in patches:
        assert getattr(owner, attr) is orig, attr


def test_lexicon_and_id_resolution_spans_mark_the_cold_call(spark, built_index, oracle_index):
    """`engine.cold.lexicon_load_ms` and `engine.cold.convmap_load_ms`
    sum the `engine.lexicon` and `engine.id_resolution` spans whose
    `cold` attr is set: on a fresh handle only the first call of each is
    cold, the one that makes its table resident."""
    by_df = sorted(oracle_index.postings, key=lambda t: (-len(oracle_index.postings[t]), t))
    queries = [f'"{by_df[0]}" OR "{by_df[20]}"', f'"{by_df[1]}" AND "{by_df[5]}"', f'"{by_df[30]}"']
    tracer = Tracer("t")
    tracer.install_engine_spans()
    try:
        fresh = engine.InvertedIndex(spark, built_index.dir)
        for q in queries:
            assert fresh.search_collect(q, k=10).docs, q
    finally:
        tracer.uninstall()
    for name in ("engine.lexicon", "engine.id_resolution"):
        colds = [sp.attrs["cold"] for sp in tracer.spans if sp.name == name]
        assert colds == [True] + [False] * (len(queries) - 1), (name, colds)


def test_build_manifest_walls_cover_every_layer(built_index):
    walls = layers._manifest_walls(built_index.dir)
    for layer in (
        "segments.convmap",
        "index_build.tokenize",
        "segments.doclen",
        "index_build.pack",
        "segments.docstore",
        "segments.lexicon",
    ):
        assert layer in walls, (layer, sorted(walls))
