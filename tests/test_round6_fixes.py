"""The driver block store must be result-invariant: the resident Arrow
table and the per-query filtered read (the budget at 0) answer alike,
and positions never enter the resident table."""

from text_indexing_and_retrieval_system_spark import engine


def _run_queries(idx, queries):
    out = []
    for q in queries:
        r = idx.search_collect(q, k=10)
        out.append((q, tuple(r.docs), tuple(r.scores)))
    return out


def test_bulk_preload_bit_identical(built_index, spark):
    """Same queries, filtered reads vs the resident table: identical docs
    + scores (the store only changes HOW blocks reach the driver
    kernel)."""
    queries = [
        '"said" OR "time"',
        '"the" AND "of"',
        '"people" OR "government" OR "the"',
        '"missingterm12345"',
    ]
    # fresh handles so store state cannot leak between the two modes
    off = engine.load(spark, built_index.dir)
    off.DRIVER_RESIDENT_MAX_BYTES = 0
    res_off = _run_queries(off, queries)
    assert off._bulk_blocks is False and off._blocks is None  # filtered reads

    on = engine.load(spark, built_index.dir)
    res_on = _run_queries(on, queries)
    assert on._bulk_blocks is True  # whole index resident
    assert res_on == res_off

    # the row index covers the whole vocabulary, so an absent term is a
    # miss in it, not a read
    assert set(on._term_rows) == set(on._full_lex)
    assert on._blocks_pdf_for(["zzz_never_seen"]).num_rows == 0
    assert on._block_cache_bytes == on._blocks.nbytes > 0


def test_positions_stay_per_term(built_index, spark):
    """Phrase queries (pos_payload) read their terms' blocks with a
    filtered read: the resident table holds the kernel columns only."""
    on = engine.load(spark, built_index.dir)
    on.search_collect('"said" OR "time"', k=5)  # loads the resident table
    assert on._bulk_blocks is True
    assert "pos_payload" not in on._blocks.column_names
    table = on._blocks_pdf_for(["said"], with_positions=True)
    assert table.num_rows and "pos_payload" in table.column_names
    assert set(table.column("term").to_pylist()) == {"said"}
