"""docID-delta + variable-byte posting compression (vectorized numpy).

The reference keeps posting lists as uncompressed Python lists
(/root/reference/core/retrieval/index/indexer.py:28-30).  BASELINE.json
mandates "docID-delta + varbyte compressed" posting blocks with
"block-level max-score metadata" — this module is that codec.

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


# ---------------------------------------------------------------------------
# Simple8b (Anh & Moffat 2010, "Index compression using 64-bit words") —
# the word-aligned alternative to varbyte: each 64-bit word carries a
# 4-bit selector + 60 payload bits packing 1..240 equal-width values.
# Decode is branch-free per selector class (no per-byte continuation-bit
# scan), which is why column stores and time-series engines favor it;
# varbyte stays the on-disk default here because BASELINE.json mandates
# it, and tools/bench_codec.py records the measured trade between the
# two on real posting deltas.
# ---------------------------------------------------------------------------

_S8B_COUNTS = (240, 120, 60, 30, 20, 15, 12, 10, 8, 7, 6, 5, 4, 3, 2, 1)
_S8B_BITS = (0, 0, 1, 2, 3, 4, 5, 6, 7, 8, 10, 12, 15, 20, 30, 60)
_S8B_MAX = (1 << 60) - 1


def _bit_widths(vals: np.ndarray) -> np.ndarray:
    """Bit width of each uint64 value (0 for value 0), vectorized —
    the loop is over BIT POSITION (<= 60 iterations), never values."""
    widths = np.zeros(vals.shape, dtype=np.int64)
    tmp = vals.copy()
    while tmp.any():
        widths[tmp > 0] += 1
        tmp >>= np.uint64(1)
    return widths


def s8b_encode(values: np.ndarray) -> bytes:
    """Simple8b-encode a uint64 array (values < 2^60) to little-endian
    64-bit words.  Greedy packing: each word takes the densest selector
    whose width covers the next `count` values; every word is FULLY
    populated (tail words fall back to smaller counts), so decode
    yields exactly the encoded count with no padding sentinel.

    The per-word Python loop runs once per OUTPUT word — posting
    blocks are 128 deltas, i.e. a handful of words; inside, only numpy
    slice ops.
    """
    vals = np.ascontiguousarray(values, dtype=np.uint64)
    if vals.size == 0:
        return b""
    if int(vals.max()) > _S8B_MAX:
        raise ValueError("simple8b value exceeds 60 bits")
    widths = _bit_widths(vals)
    # running max of widths over each candidate window via cummax per
    # word start (windows are <= 240 long, slices are cheap)
    out = []
    i = 0
    n = vals.size
    while i < n:
        remaining = n - i
        for sel, (count, bits) in enumerate(zip(_S8B_COUNTS, _S8B_BITS)):
            if count > remaining:
                continue
            window = widths[i:i + count]
            if int(window.max()) <= bits or (bits == 0 and not window.any()):
                word = np.uint64(sel) << np.uint64(60)
                if bits:
                    shifts = (np.arange(count, dtype=np.uint64)
                              * np.uint64(bits))
                    word |= np.bitwise_or.reduce(
                        vals[i:i + count] << shifts)
                out.append(word)
                i += count
                break
        else:  # pragma: no cover - sel 15 (1 x 60 bits) always fits
            raise AssertionError("no selector matched")
    return np.asarray(out, dtype="<u8").tobytes()


def s8b_decode(buf: bytes) -> np.ndarray:
    """Decode Simple8b words back to uint64 — vectorized per selector
    CLASS: words are grouped by selector, each class unpacks with one
    broadcast shift matrix, and results scatter back into encoded
    order.  No per-value Python loop."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    words = np.frombuffer(buf, dtype="<u8")
    sels = (words >> np.uint64(60)).astype(np.int64)
    counts = np.asarray(_S8B_COUNTS, dtype=np.int64)[sels]
    offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.zeros(int(counts.sum()), dtype=np.uint64)
    for sel in np.unique(sels):
        count, bits = _S8B_COUNTS[sel], _S8B_BITS[sel]
        if bits == 0:
            continue  # zero-width runs decode to the zeros already there
        mask = sels == sel
        shifts = (np.arange(count, dtype=np.uint64) * np.uint64(bits))
        vals = (words[mask][:, None] >> shifts[None, :]) \
            & np.uint64((1 << bits) - 1)
        idx = offsets[mask][:, None] + np.arange(count, dtype=np.int64)
        out[idx.ravel()] = vals.ravel()
    return out
