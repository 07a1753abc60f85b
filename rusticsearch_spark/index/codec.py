"""Posting-block codec: docID-delta + varbyte compression, numpy-vectorized.

The reference stores postings as Roaring bitmaps per
``(field, term, segment)`` key (rocksdb/key_builder.rs:60-69).  This
engine replaces them — per the build's north rule — with
delta-encoded, varbyte-compressed docID runs plus parallel varbyte
term frequencies and raw one-byte quantized doc lengths, grouped into
*blocks* keyed by ``segment = doc_id >> SEGMENT_BITS`` (the direct
analogue of the reference's 65,536-doc segment,
/root/reference/src/search/document.rs:10).

Everything here runs inside Arrow-batched UDFs on executors (build
encode, merge decode, query decode) or on the driver's serving tier;
no per-row Python at the Spark level.
"""

from __future__ import annotations

import numpy as np

# Local doc-id space within one segment: 2^16 docs, the reference's
# segment capacity (segment_ops.rs:260-262).
SEGMENT_BITS = 16
SEGMENT_SIZE = 1 << SEGMENT_BITS
LOCAL_MASK = SEGMENT_SIZE - 1

# Doc-id layout: bucket << BUCKET_SHIFT | ordinal-within-bucket.
# Bucket ordinals get 2^40 of space, so one hash bucket may hold up
# to ~1.1e12 docs; segment ids remain dense per bucket.
BUCKET_SHIFT = 40


def varbyte_encode_offsets(values: np.ndarray):
    """LEB128-style varbyte over a whole value array at once.

    Returns ``(buf uint8 ndarray, offsets int64 ndarray)`` where
    ``buf[offsets[i]:offsets[i+1]]`` is the encoding of ``values[i]``
    — lets one vectorized pass encode MANY posting blocks (the caller
    slices per block), instead of one Python call per block.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), offsets
    nbytes = np.ones(v.size, dtype=np.int64)
    x = v >> np.uint64(7)
    while x.any():
        nbytes += (x > 0).astype(np.int64)
        x = x >> np.uint64(7)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    rem = v.copy()
    idx = offsets[:-1].copy()
    mask = np.ones(v.size, dtype=bool)
    while mask.any():
        byte = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem = rem >> np.uint64(7)
        cont = rem > 0
        out[idx[mask]] = byte[mask] | (cont[mask].astype(np.uint8) << 7)
        idx += 1
        mask &= cont
    return out, offsets


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-style varbyte: 7 data bits per byte, MSB = continuation."""
    buf, _ = varbyte_encode_offsets(values)
    return buf.tobytes()


def _accumulate_varbyte(b: np.ndarray, group: np.ndarray,
                        pos: np.ndarray, n: int) -> np.ndarray:
    """Sum ``(b & 0x7F) << 7*pos`` into ``n`` values by ``group``.

    A value has at most one byte at any position, so iterating byte
    positions (≤ 10 for u64) lets each pass use plain fancy-index
    ``+=`` — orders of magnitude faster than one ``np.add.at`` over
    the whole buffer (np.add.at is per-element; this is ~2 passes for
    typical 1-2-byte varbytes over a 100M-byte buffer)."""
    vals = np.zeros(n, dtype=np.uint64)
    payload = (b & 0x7F).astype(np.uint64)
    for p in range(int(pos.max()) + 1 if pos.size else 0):
        m = np.flatnonzero(pos == p)
        vals[group[m]] += payload[m] << np.uint64(7 * p)
    return vals


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`varbyte_encode`; returns uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    n = int(is_last.sum())
    group = np.zeros(b.size, dtype=np.int64)
    # cast before cumsum: accumulating a BOOL into int64 takes a
    # dtype-converting scalar loop (~100x slower than the same-dtype
    # SIMD path)
    np.cumsum(is_last[:-1].astype(np.int64), out=group[1:])
    starts = np.empty(b.size, dtype=bool)
    starts[0] = True
    starts[1:] = is_last[:-1]
    run_start = np.where(starts, np.arange(b.size), 0)
    np.maximum.accumulate(run_start, out=run_start)
    pos = np.arange(b.size) - run_start
    return _accumulate_varbyte(b, group, pos, n)


def varbyte_decode_concat(buf: np.ndarray, offsets: np.ndarray):
    """Decode MANY concatenated varbyte streams in one vectorized pass.

    ``buf`` is a uint8 array holding ``len(offsets) - 1`` varbyte
    streams laid end to end; ``buf[offsets[i]:offsets[i+1]]`` is
    stream ``i``.  Varbyte streams are self-delimiting (every value
    ends at a continuation-bit-0 byte), so decoding the concatenation
    equals concatenating the decodes — one pass replaces a Python
    loop of per-block :func:`varbyte_decode` calls (the serving
    tier's load path decodes every posting block of a shard at once).

    Returns ``(values uint64, counts int64)`` where ``counts[i]`` is
    the number of decoded values belonging to stream ``i``.
    """
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    n_blocks = offsets.size - 1
    b = np.ascontiguousarray(buf, dtype=np.uint8)
    if b.size == 0:
        return (np.zeros(0, dtype=np.uint64),
                np.zeros(n_blocks, dtype=np.int64))
    is_last = (b & 0x80) == 0
    cum_last = np.zeros(b.size + 1, dtype=np.int64)
    # same-dtype cumsum (see varbyte_decode): bool input is a trap
    np.cumsum(is_last.astype(np.int64), out=cum_last[1:])
    counts = cum_last[offsets[1:]] - cum_last[offsets[:-1]]
    n = int(cum_last[-1])
    group = np.zeros(b.size, dtype=np.int64)
    group[1:] = cum_last[1:-1]
    starts = np.empty(b.size, dtype=bool)
    starts[0] = True
    starts[1:] = is_last[:-1]
    run_start = np.where(starts, np.arange(b.size), 0)
    np.maximum.accumulate(run_start, out=run_start)
    pos = np.arange(b.size) - run_start
    return _accumulate_varbyte(b, group, pos, n), counts


def decode_blocks_concat(segments: np.ndarray,
                         doc_buf: np.ndarray, doc_offsets: np.ndarray,
                         tf_buf: np.ndarray, tf_offsets: np.ndarray,
                         len_buf: np.ndarray, len_offsets: np.ndarray):
    """Vectorized inverse of many :func:`encode_block` calls.

    Inputs are the concatenated ``doc_bytes`` / ``tf_bytes`` /
    ``len_bytes`` columns of a posting-block table (one entry per
    block row, ``segments[i]`` the row's segment id).  Returns
    ``(doc_ids int64, tfs int64, lens int64, counts int64)`` where
    ``counts[i]`` postings belong to block ``i``, laid out in block
    order — the segmented-cumsum delta reconstruction happens in one
    numpy pass instead of per block.
    """
    deltas, counts = varbyte_decode_concat(doc_buf, doc_offsets)
    tfs, _ = varbyte_decode_concat(tf_buf, tf_offsets)
    # one raw byte per posting: len counts must agree with doc counts
    lens = np.ascontiguousarray(len_buf, dtype=np.uint8).astype(np.int64)
    # segmented cumsum: excl[i] = sum(deltas[:i]); local value i is
    # excl[i + 1] - excl[block_start(i)]
    excl = np.empty(deltas.size + 1, dtype=np.int64)
    excl[0] = 0
    np.cumsum(deltas.astype(np.int64), out=excl[1:])
    block_starts = np.empty(counts.size + 1, dtype=np.int64)
    block_starts[0] = 0
    np.cumsum(counts, out=block_starts[1:])
    local = excl[1:] - np.repeat(excl[block_starts[:-1]], counts)
    seg_base = (np.ascontiguousarray(segments, dtype=np.int64)
                << SEGMENT_BITS)
    doc_ids = np.repeat(seg_base, counts) + local
    return doc_ids, tfs.astype(np.int64), lens, counts


def concat_binary(col):
    """(uint8 buffer, int64 offsets) view of a (large_)binary
    ``pa.ChunkedArray``: the per-row byte strings laid end to end,
    zero-copy per chunk — the input shape :func:`decode_blocks_concat`
    wants."""
    import pyarrow.types as pat
    parts = []
    lens = []
    for chunk in col.chunks:
        if len(chunk) == 0:
            continue
        off_dt = (np.int64 if pat.is_large_binary(chunk.type)
                  else np.int32)
        offs = np.frombuffer(chunk.buffers()[1], dtype=off_dt)[
            chunk.offset:chunk.offset + len(chunk) + 1].astype(np.int64)
        data = np.frombuffer(chunk.buffers()[2] or b"", dtype=np.uint8)
        parts.append(data[offs[0]:offs[-1]])
        lens.append(np.diff(offs))
    if not parts:
        return np.zeros(0, np.uint8), np.zeros(1, np.int64)
    buf = np.concatenate(parts)
    ln = np.concatenate(lens)
    offsets = np.zeros(ln.size + 1, np.int64)
    np.cumsum(ln, out=offsets[1:])
    return buf, offsets


def batch_decode(rb):
    """One vectorized decode of every posting block in an Arrow
    ``RecordBatch`` with ``segment`` / ``doc_bytes`` / ``tf_bytes`` /
    ``len_bytes`` columns (the merge's posting decode).

    Returns ``(doc_ids, tfs, lens, counts)`` — ``counts[i]`` postings
    belong to block row ``i`` of the batch, laid out in row order."""
    import pyarrow as pa

    segs = rb.column("segment").to_numpy(zero_copy_only=False)
    doc_buf, doc_off = concat_binary(
        pa.chunked_array([rb.column("doc_bytes")]))
    tf_buf, tf_off = concat_binary(
        pa.chunked_array([rb.column("tf_bytes")]))
    len_buf, len_off = concat_binary(
        pa.chunked_array([rb.column("len_bytes")]))
    return decode_blocks_concat(segs, doc_buf, doc_off,
                                tf_buf, tf_off, len_buf, len_off)


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, len_bytes: np.ndarray):
    """Encode one sorted (doc_id, tf, len_byte) run for a
    ``(field, term, segment)`` block.

    Doc ids are stored as varbyte deltas relative to the segment base
    (``segment << SEGMENT_BITS``); the first entry is absolute-local.
    Returns ``(doc_bytes, tf_bytes, len_bytes_raw)``.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order]
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)[order]
    len_bytes = np.ascontiguousarray(len_bytes, dtype=np.int64)[order]
    base = (doc_ids[0] >> SEGMENT_BITS) << SEGMENT_BITS
    local = (doc_ids - base).astype(np.uint64)
    deltas = np.empty_like(local)
    deltas[0] = local[0]
    np.subtract(local[1:], local[:-1], out=deltas[1:])
    return (
        varbyte_encode(deltas),
        varbyte_encode(tfs.astype(np.uint64)),
        np.clip(len_bytes, 0, 255).astype(np.uint8).tobytes(),
    )


def decode_block(segment: int, doc_bytes: bytes, tf_bytes: bytes,
                 len_bytes: bytes):
    """Inverse of :func:`encode_block`.

    Returns ``(doc_ids int64, tfs int64, len_bytes int64)`` arrays.
    """
    deltas = varbyte_decode(doc_bytes)
    local = np.cumsum(deltas.astype(np.int64))
    doc_ids = (np.int64(segment) << SEGMENT_BITS) + local
    tfs = varbyte_decode(tf_bytes).astype(np.int64)
    lens = np.frombuffer(len_bytes, dtype=np.uint8).astype(np.int64)
    return doc_ids, tfs, lens
