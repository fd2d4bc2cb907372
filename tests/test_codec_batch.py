"""The batch codecs against their per-block references and their
inverses: pack_postings_batch is wire-identical to per-block
pack_postings, and the `pos_payload` rows round-trip through
encode_position_rows / decode_position_rows. The batch encoders return
Arrow binary arrays; the batch decoders read Arrow binary columns, which
reach them whole, as slices with a non-zero offset, and in several
chunks."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from text_indexing_and_retrieval_system_spark.functions import codec


def _column_forms(values: list[bytes]) -> dict[str, pa.Array | pa.ChunkedArray]:
    """`values` as the binary columns the decoders are fed: one array; a
    slice at a non-zero offset of a longer array; and the multi-chunk
    column that pa.concat_tables of slices of a table yields (each chunk
    a slice too, one of them possibly empty)."""
    padded = pa.array([b"\x81\x01", *values, b"\x82"], pa.binary())
    table = pa.table({"col": padded})
    half = len(values) // 2
    chunked = pa.concat_tables([table.slice(1, half), table.slice(1 + half, len(values) - half)])
    sliced = padded.slice(1, len(values))
    assert sliced.offset == 1 and chunked.column("col").num_chunks == 2
    return {
        "array": pa.array(values, pa.binary()),
        "sliced": sliced,
        "chunked": chunked.column("col"),
    }


@given(
    st.lists(  # blocks: each a list of (doc_id, tf, dl)
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10**12),
                st.integers(min_value=1, max_value=40),
                st.integers(min_value=1, max_value=5000),
            ),
            min_size=1,
            max_size=20,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=10,
    ),
)
@settings(max_examples=60, deadline=None)
def test_batch_equals_per_block(blocks):
    doc_ids, tfs, dls = [], [], []
    block_starts = []
    for blk in blocks:
        blk = sorted(blk)
        block_starts.append(len(doc_ids))
        for d, tf, dl in blk:
            doc_ids.append(d)
            tfs.append(tf)
            dls.append(dl)
    doc_ids = np.array(doc_ids)
    tfs = np.array(tfs)
    dls = np.array(dls)
    starts = np.array(block_starts)

    got = codec.pack_postings_batch(doc_ids, tfs, dls, starts).to_pylist()

    ends = list(starts[1:]) + [len(doc_ids)]
    for b, (s, e) in enumerate(zip(starts, ends)):
        assert got[b] == codec.pack_postings(doc_ids[s:e], tfs[s:e], dls[s:e]), f"block {b} differs"
        d, t, l = codec.unpack_postings(got[b])
        assert list(d) == list(doc_ids[s:e])

    # batch unpack must invert batch pack, and match the per-block
    # decode, in every column form
    per_block = [np.concatenate(c).tolist() for c in zip(*map(codec.unpack_postings, got))]
    for form, col in _column_forms(got).items():
        bn, d_all, t_all, l_all = codec.unpack_postings_batch(col)
        assert list(bn) == [e - s for s, e in zip(starts, ends)], form
        assert list(d_all) == list(doc_ids), form
        assert list(t_all) == list(tfs), form
        assert list(l_all) == list(dls), form
        assert [d_all.tolist(), t_all.tolist(), l_all.tolist()] == per_block, form


@given(
    st.lists(  # rows: each a set of token positions, tf = its size
        st.sets(st.integers(min_value=0, max_value=70000), min_size=1, max_size=40),
        min_size=1,
        max_size=60,
    ),
    st.lists(st.integers(min_value=1, max_value=16), min_size=1, max_size=60),
)
@settings(max_examples=100, deadline=None)
def test_position_rows_round_trip(rows, block_rows):
    """Random position rows, split into blocks whose `pos_payload` is the
    concatenation of the rows' encodings, decode back unchanged in one
    pass; a tf that disagrees with a row's stored len is refused."""
    rows = [np.array(sorted(r), dtype=np.int64) for r in rows]
    tfs = np.array([r.size for r in rows])
    encoded = codec.encode_position_rows(np.concatenate(rows), tfs).to_pylist()
    assert len(encoded) == len(rows)
    cuts = np.cumsum(block_rows)
    cuts = [0, *cuts[cuts < len(rows)].tolist(), len(rows)]
    pos_payloads = [b"".join(encoded[s:e]) for s, e in zip(cuts, cuts[1:])]
    for form, col in _column_forms(pos_payloads).items():
        flat = codec.decode_position_rows(col, tfs)
        assert flat.tolist() == np.concatenate(rows).tolist(), form
    bad = tfs.copy()
    bad[-1] += 1
    with pytest.raises(ValueError, match="corrupt"):
        codec.decode_position_rows(pa.array(pos_payloads, pa.binary()), bad)


@given(
    st.integers(min_value=0, max_value=(1 << 40)),  # bucket base
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=(1 << 31) - 1),  # local doc
                st.integers(min_value=1, max_value=40),
                st.integers(min_value=1, max_value=70000),
            ),
            min_size=1,
            max_size=20,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=60, deadline=None)
def test_batch_local32_mode(base, blocks):
    """local32 mode (first_docs + base) must reproduce the global decode
    exactly, as int32 offsets — including >=2^28 gaps (5-byte varints)
    whose top bits exercise the uint32 shift edge."""
    doc_ids, tfs, dls, starts, first_docs = [], [], [], [], []
    for blk in blocks:
        blk = sorted(blk)
        starts.append(len(doc_ids))
        first_docs.append(base + blk[0][0])
        for d, tf, dl in blk:
            doc_ids.append(base + d)
            tfs.append(tf)
            dls.append(dl)
    doc_ids, tfs, dls = np.array(doc_ids), np.array(tfs), np.array(dls)
    payloads = codec.pack_postings_batch(doc_ids, tfs, dls, np.array(starts))
    bn, d_loc, t_loc, l_loc = codec.unpack_postings_batch(
        payloads, first_docs=np.array(first_docs, dtype=np.int64), base=base
    )
    assert d_loc.dtype == np.int32 and t_loc.dtype == np.int32
    assert list(d_loc.astype(np.int64) + base) == list(doc_ids)
    assert list(t_loc) == list(tfs)
    assert list(l_loc) == list(dls)
