"""VarByte + delta-gap codec, numpy-vectorized.

Same wire semantics as the reference codec
(``query_processor/src/Lexicon.cpp:9-41``): little-endian 7-bit
groups, MSB set on every byte except the last of a value.

One deliberate deviation (SURVEY §2.12.3): the reference's
``varbyteEncode`` emits **zero bytes** for the value 0 (its
``while (value > 0)`` loop never runs), which would corrupt a stream
containing a 0.  The reference never encodes 0 (tf >= 1 and docID
gaps within a chunk are > 0; the chunk-leading docID is absolute and
could be 0 only for docID 0 exactly once).  We encode 0 as ``0x00``
so the codec is total; a property test pins both behaviors.

Delta-gap framing matches ``Lexicon.cpp:131-146``: docIDs are encoded
as gaps from the previous docID, and the base resets to 0 at every
chunk boundary (``POSTINGS_PER_CHUNK`` = 64 postings), so each chunk
opens with an absolute docID and decodes independently.
"""

from __future__ import annotations

import numpy as np


def _encode_arr(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """VarByte-encode to (byte array, per-value byte counts)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # Number of 7-bit groups per value (>=1 so 0 encodes as 0x00).
    nbits = np.maximum(64 - _clz64(v), 1)
    ngroups = (nbits + 6) // 7
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    # Byte offsets where each value starts.
    starts = np.zeros(v.size, dtype=np.int64)
    np.cumsum(ngroups[:-1], out=starts[1:])
    # Fill groups: for group j of value i: byte = (v >> (7*j)) & 0x7F,
    # with MSB set unless it is the last group.
    max_groups = int(ngroups.max())
    for j in range(max_groups):
        mask = ngroups > j
        idx = starts[mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        last = ngroups[mask] == j + 1
        out[idx] = chunk.astype(np.uint8) | np.where(last, 0, 0x80).astype(np.uint8)
    return out, ngroups


def encode(values: np.ndarray) -> bytes:
    """VarByte-encode a 1-D array of unsigned ints (vectorized)."""
    out, _ = _encode_arr(values)
    return out.tobytes()


def _clz64(v: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 values (0 → 64)."""
    res = np.full(v.shape, 64, dtype=np.int64)
    x = v.copy()
    nz = x > 0
    res[nz] = 0
    x = x[nz]
    bits = np.zeros(x.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        big = x >= (np.uint64(1) << np.uint64(shift))
        bits[big] += shift
        x = np.where(big, x >> np.uint64(shift), x)
    res[nz] = 63 - bits
    return res


def decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode a VarByte stream to int64 values (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (raw & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # Position of each byte within its value.
    value_id = np.zeros(raw.size, dtype=np.int64)
    value_id[starts[1:]] = 1
    value_id = np.cumsum(value_id)
    within = np.arange(raw.size, dtype=np.int64) - starts[value_id]
    contrib = (raw.astype(np.int64) & 0x7F) << (7 * within)
    # every value owns >= 1 byte, so the starts are strictly increasing
    # and one segmented sum replaces the (much slower) unbuffered add.at
    out = np.add.reduceat(contrib, starts)
    if count is not None and out.size != count:
        raise ValueError(f"decoded {out.size} values, expected {count}")
    return out


def delta_encode(doc_ids: np.ndarray, chunk: int) -> np.ndarray:
    """docIDs → gaps with base reset every ``chunk`` postings."""
    d = np.asarray(doc_ids, dtype=np.int64)
    gaps = np.empty_like(d)
    gaps[0::1] = d
    gaps[1:] -= d[:-1]
    gaps[0::chunk] = d[0::chunk]  # chunk-leading docID is absolute
    return gaps


def delta_decode(gaps: np.ndarray, chunk: int) -> np.ndarray:
    """Inverse of :func:`delta_encode` — one global cumsum with the
    pre-chunk prefix subtracted per chunk (no per-chunk Python loop)."""
    g = np.asarray(gaps, dtype=np.int64)
    n = g.size
    if n == 0:
        return g
    c = np.cumsum(g)
    starts = np.arange(0, n, chunk)
    prev = np.zeros(starts.size, dtype=np.int64)
    prev[1:] = c[starts[1:] - 1]
    counts = np.diff(np.append(starts, n))
    return c - np.repeat(prev, counts)


def decode_blocks(n_postings, gap_bufs, tf_bufs,
                  chunk: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode many block rows at once → (doc_ids, tfs), concatenated in
    row order.

    Row ``i`` holds ``n_postings[i]`` postings: its gap stream
    ``gap_bufs[i]`` restarts the delta base every ``chunk`` postings
    from the row's start (each block row is whole chunks of one
    group).  The payloads are joined and decoded in one VarByte pass
    each, and the delta decode resets on the rows' joint chunk grid —
    the same values as per-row :func:`decode` + :func:`delta_decode`,
    at a fixed number of numpy calls per batch instead of per row.
    """
    n = np.asarray(n_postings, dtype=np.int64)
    total = int(n.sum())
    gaps = decode(b"".join(gap_bufs), total)
    tfs = decode(b"".join(tf_bufs), total)
    if total == 0:
        return gaps, tfs
    row_starts = np.cumsum(n) - n
    nck = (n + chunk - 1) // chunk
    row_of_chunk = np.repeat(np.arange(n.size), nck)
    k = np.arange(row_of_chunk.size) - np.repeat(np.cumsum(nck) - nck, nck)
    chunk_starts = row_starts[row_of_chunk] + k * chunk
    c = np.cumsum(gaps)
    prev = np.zeros(chunk_starts.size, dtype=np.int64)
    prev[1:] = c[chunk_starts[1:] - 1]
    counts = np.diff(np.append(chunk_starts, total))
    return c - np.repeat(prev, counts), tfs
