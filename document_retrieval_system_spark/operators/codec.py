"""docID-delta + variable-byte posting compression (vectorized numpy).

The reference keeps posting lists as uncompressed Python lists
(indexer.py:28-30).  BASELINE.json mandates "docID-delta + varbyte
compressed" posting blocks with "block-level max-score metadata" — this
module is that codec, and the only module that knows a block's byte
layout: ``encode_block``/``decode_block`` for the doc/tf/dl payloads,
``encode_position_payloads``/``decode_block_positions`` for the position
payload.  Every index writer and reader goes through them.

Encoding is classic LEB128 varbyte (7 payload bits/byte, MSB =
continuation), applied to docID deltas so sorted dense docIDs compress to
~1 byte/posting.  Both encode and decode are numpy-vectorized (the inner
loop is over *byte position* — max 10 iterations — never over values), so
they run at memory bandwidth inside Arrow UDF workers.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # postings per block (block-max WAND granularity)
FORMAT_VERSION = 2  # bump on any on-disk posting layout change


def vb_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    vals = np.ascontiguousarray(values, dtype=np.uint64)
    if vals.size == 0:
        return b""
    # byte length of each value: ceil(bits/7), min 1
    lengths = np.ones(vals.shape, dtype=np.int64)
    tmp = vals >> np.uint64(7)
    while tmp.any():
        lengths[tmp > 0] += 1
        tmp >>= np.uint64(7)
    offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    out = np.zeros(int(lengths.sum()), dtype=np.uint8)
    max_len = int(lengths.max())
    for j in range(max_len):
        mask = lengths > j
        byte = ((vals[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (lengths[mask] - 1 > j).astype(np.uint8) << 7
        out[offsets[mask] + j] = byte | cont
    return out.tobytes()


def vb_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    vals = np.zeros(n, dtype=np.uint64)
    max_len = int((ends - starts).max()) + 1
    for j in range(max_len):
        idx = starts + j
        mask = idx <= ends
        vals[mask] |= (b[idx[mask]] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return vals


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """[5, 9, 12] -> [5, 4, 3]; requires strictly increasing input."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return ids
    out = np.empty_like(ids)
    out[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(deltas, dtype=np.uint64)


def encode_block(docs: np.ndarray, tfs: np.ndarray,
                 dls: np.ndarray) -> tuple[bytes, bytes, bytes]:
    """A posting block's (doc_bytes, tf_bytes, dl_bytes) payloads: the
    strictly increasing docIDs delta+varbyte, term frequencies and doc
    lengths plain varbyte."""
    return vb_encode(delta_encode(docs)), vb_encode(tfs), vb_encode(dls)


def decode_block(doc_bytes: bytes, tf_bytes: bytes,
                 dl_bytes: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of ``encode_block``: (docIDs int64, tfs int32, dls int32),
    the dtypes of the ``local_no``/``tf``/``doc_len`` columns."""
    return (
        delta_decode(vb_decode(doc_bytes)).astype(np.int64),
        vb_decode(tf_bytes).astype(np.int32),
        vb_decode(dl_bytes).astype(np.int32),
    )


def encode_position_payloads(positions_per_term: list[list[int]]) -> list[bytes]:
    """Per-term position payloads ``[n_pos, pos0, delta1, ...]`` encoded in
    ONE vectorized varbyte pass over the whole document, then sliced per
    term.  The concatenation of these per-(doc, term) payloads in docID
    order is byte-identical to ``encode_positions`` over the same lists,
    which is what the block builder exploits (it only joins bytes)."""
    flat: list[int] = []
    seg_value_counts: list[int] = []
    for pos in positions_per_term:
        flat.append(len(pos))
        prev = 0
        for p in pos:
            flat.append(p - prev)
            prev = p
        seg_value_counts.append(len(pos) + 1)
    vals = np.asarray(flat, dtype=np.uint64)
    if vals.size == 0:
        return []
    # per-value byte lengths (same loop as vb_encode)
    lengths = np.ones(vals.shape, dtype=np.int64)
    tmp = vals >> np.uint64(7)
    while tmp.any():
        lengths[tmp > 0] += 1
        tmp >>= np.uint64(7)
    buf = vb_encode(vals)
    out: list[bytes] = []
    byte_pos = 0
    val_pos = 0
    for count in seg_value_counts:
        seg_bytes = int(lengths[val_pos : val_pos + count].sum())
        out.append(buf[byte_pos : byte_pos + seg_bytes])
        byte_pos += seg_bytes
        val_pos += count
    return out


def encode_positions(positions_per_doc: list[list[int]]) -> bytes:
    """Per-doc positional payload: [n_pos, pos0, delta1, delta2, ...] each."""
    flat: list[int] = []
    for pos in positions_per_doc:
        flat.append(len(pos))
        prev = 0
        for p in pos:
            flat.append(p - prev)
            prev = p
    return vb_encode(np.asarray(flat, dtype=np.uint64))


def split_position_payloads(buf: bytes, n_docs: int) -> list[bytes]:
    """Slice a block's concatenated per-doc payloads back into the
    per-(doc, term) byte segments — the exact inverse of the block
    builder's ``b"".join``.  Pure byte slicing (no decode/re-encode
    round trip), so re-blocking postings (compaction, shard rewrites)
    moves payloads byte-identically."""
    if n_docs == 0:
        return []
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.nonzero((b & 0x80) == 0)[0]  # last byte index of each value
    vals = vb_decode(buf)
    out: list[bytes] = []
    vi = 0
    byte_start = 0
    for _ in range(n_docs):
        n = int(vals[vi])
        byte_end = int(ends[vi + n]) + 1  # value vi is the count, vi+n the last delta
        out.append(buf[byte_start:byte_end])
        byte_start = byte_end
        vi += n + 1
    return out


def decode_positions(buf: bytes, n_docs: int) -> list[np.ndarray]:
    """Inverse of encode_positions."""
    vals = vb_decode(buf)
    out: list[np.ndarray] = []
    i = 0
    for _ in range(n_docs):
        n = int(vals[i])
        i += 1
        out.append(np.cumsum(vals[i : i + n], dtype=np.uint64))
        i += n
    return out


def decode_block_positions(buf: bytes, n_docs: int,
                           sliced: bool = False) -> list:
    """A block's position payload, one entry per posting: its position
    list, or with ``sliced`` its own payload bytes (byte-sliced, so
    re-blocking them is byte-identical)."""
    if sliced:
        return split_position_payloads(buf, n_docs)
    return [p.tolist() for p in decode_positions(buf, n_docs)]
