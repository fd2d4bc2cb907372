"""Codec unit + property tests.

Byte-layout oracle reimplements the reference semantics
(`/root/reference/code/indexes/encoder.py:61-116`: little-endian 7-bit
groups, stop bit on the final byte) as a tiny per-int loop, written
independently here — our numpy codec must be wire-identical.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from text_indexing_and_retrieval_system_spark.functions import codec


def _oracle_varbyte(nums):
    out = bytearray()
    for n in nums:
        while True:
            b = n & 127
            n >>= 7
            if n == 0:
                out.append(b | 128)
                break
            out.append(b)
    return bytes(out)


def test_varbyte_known_layout():
    # 127 fits in one byte with stop bit: 0xFF; 128 -> 0x00 0x81
    assert codec.varbyte_encode(np.array([127])) == b"\xff"
    assert codec.varbyte_encode(np.array([128])) == b"\x00\x81"
    assert codec.varbyte_encode(np.array([0])) == b"\x80"
    assert list(codec.varbyte_decode(b"\x00\x81")) == [128]


def test_gap_known():
    assert list(codec.gap_encode(np.array([5, 12, 15]))) == [5, 7, 3]
    assert list(codec.gap_decode(np.array([5, 7, 3]))) == [5, 12, 15]
    assert codec.gap_encode(np.array([], dtype=np.int64)).size == 0


def test_gap_unsorted_raises():
    with pytest.raises(ValueError):
        codec.gap_encode(np.array([5, 3]))


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varbyte_matches_reference_layout(nums):
    ours = codec.varbyte_encode(np.array(nums, dtype=np.int64)) if nums else codec.varbyte_encode(np.array([], dtype=np.int64))
    assert ours == _oracle_varbyte(list(nums))
    assert list(codec.varbyte_decode(ours)) == nums


@given(st.lists(st.integers(min_value=0, max_value=2**31), min_size=0, max_size=300))
@settings(max_examples=100, deadline=None)
def test_sorted_roundtrip(nums):
    arr = np.array(sorted(nums), dtype=np.int64)
    assert list(codec.decode_sorted(codec.encode_sorted(arr))) == sorted(nums)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),  # doc_id
            st.integers(min_value=1, max_value=500),  # tf
            st.integers(min_value=1, max_value=10000),  # doclen
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=50, deadline=None)
def test_pack_postings_roundtrip(rows):
    rows.sort()
    doc_ids = np.array([r[0] for r in rows])
    tfs = np.array([r[1] for r in rows])
    dls = np.array([r[2] for r in rows])
    d, t, l = codec.unpack_postings(codec.pack_postings(doc_ids, tfs, dls))
    assert list(d) == list(doc_ids)
    assert list(t) == list(tfs)
    assert list(l) == list(dls)
