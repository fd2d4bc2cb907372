"""Integer codecs for posting payloads: delta-gap + variable-byte.

Byte layout is wire-compatible with the reference's codec
(`/root/reference/code/indexes/encoder.py:61-116`): each integer is
emitted as little-endian 7-bit groups, and the **stop bit (0x80) is set
on the final byte** of each integer. Gap coding keeps the first element
absolute and subsequent elements as diffs (`encoder.py:11-59`).

Unlike the reference (per-int Python loops), everything here is
numpy-vectorized so it can run inside Arrow-batched UDFs at full speed —
one call encodes/decodes a whole posting list (or a whole batch of
concatenated lists) without per-row Python. The batch encoders emit,
and the batch decoders read, an Arrow binary column through its offsets
and data buffers (_binary_array / _binary_stream), with no per-value
Python `bytes`.

This module owns both block columns' layouts: `payload` (doc ids, tfs,
doc lengths; pack_postings_batch / unpack_postings_batch) and
`pos_payload` (per-row positions; encode_position_rows /
decode_position_rows). Each has one batch encoder and one batch decoder;
pack_postings / unpack_postings are the per-block reference of the
`payload` pair.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_MAX_VARINT_BYTES = 10  # 64 bits / 7


def gap_encode(numbers: np.ndarray) -> np.ndarray:
    """Sorted ints -> [first, diffs...]. Raises on unsorted input."""
    numbers = np.asarray(numbers, dtype=np.int64)
    if numbers.size == 0:
        return numbers
    gaps = np.diff(numbers, prepend=np.int64(0))
    gaps[0] = numbers[0]
    if numbers.size > 1 and np.any(gaps[1:] < 0):
        raise ValueError("Input list must be sorted in ascending order.")
    return gaps


def gap_decode(gaps: np.ndarray) -> np.ndarray:
    gaps = np.asarray(gaps, dtype=np.int64)
    if gaps.size == 0:
        return gaps
    return np.cumsum(gaps)


def varbyte_encode_with_sizes(numbers: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized VByte returning (stream as a uint8 array, bytes-per-
    integer array) — the sizes let callers cut one big encode into
    per-block values."""
    v = np.asarray(numbers, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    if np.any(np.asarray(numbers, dtype=np.int64) < 0):
        raise ValueError("varbyte_encode requires non-negative integers")
    # bytes needed per value (loop over at most 10 shift levels, vectorized)
    nb = np.ones(v.size, dtype=np.int64)
    shifted = v >> np.uint64(7)
    while np.any(shifted):
        nb += (shifted > 0).astype(np.int64)
        shifted >>= np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(int(nb.max())):
        mask = nb > k
        out[starts[mask] + k] = ((v[mask] >> np.uint64(7 * k)) & np.uint64(127)).astype(
            np.uint8
        )
    out[ends - 1] |= 128  # stop bit on the final byte of each integer
    return out, nb


def varbyte_encode(numbers: np.ndarray) -> bytes:
    """Vectorized VByte: little-endian 7-bit groups, stop bit on last byte."""
    return varbyte_encode_with_sizes(numbers)[0].tobytes()


def _varbyte_decode_raw(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint8 array -> (int64 values, int32 byte index of each value's
    stop byte). int32 index arrays halve the memory traffic of the
    gather loop — this decode is the measured hot spot of the batch
    query kernel (~60% of its python core-seconds), and it is memory-
    bandwidth-bound, so byte traffic is wall time."""
    if b.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, np.empty(0, dtype=np.int32)
    ends = np.flatnonzero(b & 128).astype(np.int32)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts
    vals = (b[starts] & np.uint8(127)).astype(np.uint64)
    # continuation bytes only for multi-byte ints (gaps/tf/dl are mostly
    # 1 byte; the mask shrinks fast) — mask the 7-bit payload on the
    # gathered slice instead of materializing a full (b & 127) copy
    for k in range(1, int(lengths.max(initial=0)) + 1):
        mask = lengths >= k
        vals[mask] |= (b[starts[mask] + k] & np.uint8(127)).astype(
            np.uint64
        ) << np.uint64(7 * k)
    return vals.astype(np.int64), ends


def varbyte_decode(stream: bytes) -> np.ndarray:
    """Inverse of :func:`varbyte_encode`; returns int64 array."""
    return _varbyte_decode_raw(np.frombuffer(stream, dtype=np.uint8))[0]


def encode_sorted(numbers: np.ndarray) -> bytes:
    """delta-gap + varint pack of a sorted int list (CODE compression,
    reference `index_custom.py:355-365`)."""
    return varbyte_encode(gap_encode(numbers))


def decode_sorted(stream: bytes) -> np.ndarray:
    return gap_decode(varbyte_decode(stream))


# ---------------------------------------------------------------------------
# Posting-block payload (the `payload` column):
#   header  : varint [n_docs]
#   doc ids : varint gaps (sorted, first absolute)
#   tfs     : varint (tf per doc, aligned with doc ids)
#   doclens : varint (token length of each doc — lets BM25 score a block
#             without a doclen join)
# Positions live in their own `pos_payload` column, so ranked queries
# never scan, shuffle or decode them: per row varint [len] + position
# gaps, len == the row's tf (encode_position_rows / decode_position_rows).
# ---------------------------------------------------------------------------


def pack_postings(doc_ids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray) -> bytes:
    """One block's payload — the per-block reference of
    :func:`pack_postings_batch`."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    n = doc_ids.size
    parts = [varbyte_encode(np.array([n], dtype=np.int64))]
    parts.append(encode_sorted(doc_ids))
    parts.append(varbyte_encode(np.asarray(tfs, dtype=np.int64)))
    parts.append(varbyte_encode(np.asarray(doclens, dtype=np.int64)))
    return b"".join(parts)


def pack_postings_batch(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_starts: np.ndarray,
) -> pa.BinaryArray:
    """Pack MANY blocks in one vectorized pass; value b is wire-identical
    to :func:`pack_postings` of block b.

    doc_ids/tfs/dls: flat row arrays (doc-id-sorted within each block).
    block_starts: int array of B block start row-indices (ascending,
    first = 0); block b covers rows [block_starts[b], block_starts[b+1]).

    The per-block int sequence [n][doc gaps][tfs][dls] is assembled for
    all blocks into one flat array with index arithmetic, varbyte-encoded
    once, and cut at per-block byte offsets into one binary array.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n_rows = doc_ids.size
    block_starts = np.asarray(block_starts, dtype=np.int64)
    n_blocks = block_starts.size
    if n_blocks == 0:
        return pa.array([], pa.binary())
    block_ends = np.empty(n_blocks, dtype=np.int64)
    block_ends[:-1] = block_starts[1:]
    block_ends[-1] = n_rows
    nb_rows = block_ends - block_starts  # rows per block

    row_block = np.repeat(np.arange(n_blocks), nb_rows)  # block id per row
    rel = np.arange(n_rows) - block_starts[row_block]  # row index within block

    # doc gaps with per-block reset
    gaps = doc_ids.copy()
    gaps[1:] -= doc_ids[:-1]
    gaps[block_starts] = doc_ids[block_starts]
    if n_rows > 1 and np.any(gaps < 0):
        raise ValueError("doc ids must be sorted ascending within each block")

    ints_per_block = 1 + 3 * nb_rows
    block_int_ends = np.cumsum(ints_per_block)
    base = block_int_ends - ints_per_block  # first int index of each block
    total_ints = int(block_int_ends[-1])

    S = np.empty(total_ints, dtype=np.int64)
    S[base] = nb_rows  # header [n]
    idx_gap = base[row_block] + 1 + rel
    nbr = nb_rows[row_block]
    S[idx_gap] = gaps
    S[idx_gap + nbr] = tfs
    S[idx_gap + 2 * nbr] = dls

    stream, nb_bytes = varbyte_encode_with_sizes(S)
    return _binary_array(stream, np.add.reduceat(nb_bytes, base))


def encode_position_rows(positions: np.ndarray, lens: np.ndarray) -> pa.BinaryArray:
    """Per row: varbyte([len] + position gaps), as one binary array.
    `positions` holds every row's ascending positions concatenated; row r
    owns the lens[r] entries after sum(lens[:r]). The build encodes each
    (doc, term) row ONCE, at tokenize time, so the big pack shuffle moves
    compact binary instead of Arrow int lists, and a block's
    `pos_payload` is the concatenation of its rows' encodings."""
    lens = np.asarray(lens, dtype=np.int64)
    n_rows = lens.size
    if n_rows == 0:
        return pa.array([], pa.binary())
    flat = np.asarray(positions, dtype=np.int64)
    row_ends = np.cumsum(lens)
    row_starts = row_ends - lens
    gaps = flat.copy()
    gaps[1:] -= flat[:-1]
    nz = lens > 0
    gaps[row_starts[nz]] = flat[row_starts[nz]]
    # interleave [len, gaps...] per row
    out_ints = np.empty(n_rows + flat.size, dtype=np.int64)
    len_idx = row_starts + np.arange(n_rows)
    out_ints[len_idx] = lens
    mask = np.ones(out_ints.size, dtype=bool)
    mask[len_idx] = False
    out_ints[mask] = gaps
    stream, nb = varbyte_encode_with_sizes(out_ints)
    return _binary_array(stream, np.add.reduceat(nb, len_idx))


def _binary_array(stream: np.ndarray, lens: np.ndarray) -> pa.BinaryArray:
    """Inverse of :func:`_binary_stream`: one uint8 byte stream cut into
    consecutive values of byte lengths `lens`, as a binary Arrow array
    over the stream's buffer (no copy of the bytes)."""
    offsets = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError("binary column over 2 GiB in one batch")
    return pa.Array.from_buffers(
        pa.binary(),
        lens.size,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(stream)],
    )


def _binary_stream(column: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """A binary Arrow column -> (its values' bytes concatenated, as one
    uint8 array; each value's byte length), read from the offsets and
    data buffers at the array's `offset`. One chunk is zero-copy;
    several (Spark's Arrow batches, concat_tables of table slices) are
    combined first, one copy of their bytes."""
    if isinstance(column, pa.ChunkedArray):
        column = column.chunk(0) if column.num_chunks == 1 else column.combine_chunks()
    if len(column) == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    width = np.int64 if pa.types.is_large_binary(column.type) else np.int32
    _, offsets, values = column.buffers()
    offs = np.frombuffer(offsets, dtype=width)[column.offset : column.offset + len(column) + 1]
    return np.frombuffer(values, dtype=np.uint8)[offs[0] : offs[-1]], np.diff(offs).astype(np.int64)


def decode_position_rows(pos_payloads: pa.Array | pa.ChunkedArray, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_position_rows` over MANY blocks in one
    varbyte pass: `pos_payloads` (a binary Arrow column, one value per
    block) concatenated cover rows
    whose tfs are `tfs`, in order. Returns every row's absolute positions
    concatenated (row r owns the tfs[r] entries after sum(tfs[:r])).

    Row boundaries are a cumsum of tf + 1 and the per-row gap reset a
    vectorized cumsum. A row whose stored len differs from its tf is a
    corrupt block, and raises ValueError."""
    tfs = np.asarray(tfs, dtype=np.int64)
    S = _varbyte_decode_raw(_binary_stream(pos_payloads)[0])[0]
    row_ends = np.cumsum(tfs + 1)
    row_starts = row_ends - (tfs + 1)
    if S.size != (int(row_ends[-1]) if tfs.size else 0) or np.any(S[row_starts] != tfs):
        raise ValueError("pos_payload rows do not match their tfs: corrupt block")
    is_gap = np.ones(S.size, dtype=bool)
    is_gap[row_starts] = False
    tot = np.cumsum(S[is_gap])
    # gap decode with per-row reset: subtract the running total carried
    # in from the rows before
    pos_starts = row_starts - np.arange(tfs.size)
    carry = np.zeros(tfs.size, dtype=np.int64)
    carry[pos_starts > 0] = tot[pos_starts[pos_starts > 0] - 1]
    return tot - np.repeat(carry, tfs)


def _varbyte_decode_raw_u32(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint32 variant of :func:`_varbyte_decode_raw` for streams whose
    NON-FIRST-doc values all fit 31 bits (the caller certifies this and
    patches first-doc entries from a side column). Values wider than 32
    bits decode to garbage in their low bits — by the precondition only
    first-doc absolutes can be that wide, and the caller overwrites
    them. Halves the bandwidth of the decode loop and every downstream
    gather — this path is memory-bandwidth-bound."""
    ends = np.flatnonzero(b & 128).astype(np.int32)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts
    vals = (b[starts] & np.uint8(127)).astype(np.uint32)
    for k in range(1, int(lengths.max(initial=0)) + 1):
        if 7 * k >= 32:
            # a uint32 shift by >=32 is undefined in C; bytes at k>=5
            # only carry bits >=35, which a <2^31 value never sets —
            # wider entries are first-doc absolutes, patched below
            break
        mask = lengths >= k
        vals[mask] |= (b[starts[mask] + k] & np.uint8(127)).astype(
            np.uint32
        ) << np.uint32(7 * k)
    return vals, ends


def unpack_postings_batch(
    payloads: pa.Array | pa.ChunkedArray, first_docs: np.ndarray | None = None, base: int = 0
) -> tuple[np.ndarray, ...]:
    """Decode MANY blocks in one vectorized pass.

    `payloads` is a binary Arrow column of `payload` values (varint [n] +
    doc gaps + tfs + dls), read zero-copy (_binary_stream).
    Returns (block_n, doc_ids, tfs, dls): `block_n[b]` rows per block,
    and the per-row arrays concatenated in block order (doc ids already
    gap-decoded with per-block reset).

    Default mode returns int64 global doc ids. When `first_docs` (the
    per-block first absolute doc id, aligned with `payloads`) is given,
    the decode runs in uint32 internally and returns **int32 doc ids
    relative to `base`** plus int32 tfs/dls — the caller must certify
    max(last_doc) - base < 2^31 (true for one doc-range bucket). The
    wide first-doc varints are never decoded; their gap entries are
    patched from `first_docs`. ~40% less memory traffic, which is wall
    time in the bandwidth-bound batch query kernel.

    Equivalent to calling :func:`unpack_postings` per block but ~10x
    faster: one varbyte pass over the concatenated byte stream + index
    arithmetic, instead of per-block numpy setup overhead (~90us/block
    measured on 128-row blocks)."""
    b, lens = _binary_stream(payloads)
    n_blocks = lens.size
    if n_blocks == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, z
    # one stop-bit scan shared by value decode and block-boundary mapping
    # (ints end at stop-bit bytes); int32 index arrays throughout — the
    # whole routine is memory-bandwidth-bound
    local32 = first_docs is not None
    if local32:
        S, int_end_bytes = _varbyte_decode_raw_u32(b)
    else:
        S, int_end_bytes = _varbyte_decode_raw(b)
    byte_starts = np.cumsum(lens) - lens
    int_start = np.searchsorted(int_end_bytes, byte_starts).astype(np.int32)
    block_n = S[int_start].astype(np.int64)
    total_rows = int(block_n.sum())
    if total_rows == 0:
        z = np.empty(0, dtype=np.int64)
        return block_n, z, z, z
    block_n32 = block_n.astype(np.int32)
    row_block = np.repeat(np.arange(n_blocks, dtype=np.int32), block_n32)
    row_starts = np.cumsum(block_n32, dtype=np.int32) - block_n32
    rel = np.arange(total_rows, dtype=np.int32) - row_starts[row_block]
    idx = int_start[row_block] + np.int32(1) + rel
    nbr = block_n32[row_block]
    if local32:
        gaps = S[idx].astype(np.int32)
        # first gap of each block = the (possibly mangled) absolute first
        # doc id: overwrite with the base-relative offset from the column
        gaps[row_starts] = (
            np.asarray(first_docs, dtype=np.int64) - np.int64(base)
        ).astype(np.int32)
        tfs = S[idx + nbr].view(np.int32)
        dls = S[idx + 2 * nbr].view(np.int32)
        tot = np.cumsum(gaps, dtype=np.int64)
    else:
        gaps = S[idx]
        tfs = S[idx + nbr]
        dls = S[idx + 2 * nbr]
        tot = np.cumsum(gaps)
    # gap decode with per-block reset: cumsum, then subtract the running
    # total carried in from previous blocks
    carry = np.zeros(n_blocks, dtype=np.int64)
    carry[1:] = tot[row_starts[1:] - 1]
    doc_ids = tot - carry[row_block]
    if local32:
        doc_ids = doc_ids.astype(np.int32)
    return block_n, doc_ids, tfs, dls


def unpack_postings(payload: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block's payload -> (doc_ids, tfs, doclens) — the per-block
    reference of :func:`unpack_postings_batch`."""
    ints = varbyte_decode(payload)  # decode everything in one pass
    n = int(ints[0])
    return gap_decode(ints[1 : 1 + n]), ints[1 + n : 1 + 2 * n], ints[1 + 2 * n : 1 + 3 * n]
