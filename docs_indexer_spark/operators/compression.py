"""Posting-list block compression: delta-gap + varint (SURVEY.md §2 C1).

Vectorized numpy encode/decode — runs inside applyInPandas / mapInPandas
workers, never per-row Python.  Format per block (≤ BLOCK_SIZE postings):

- ``doc_ids``: strictly increasing int64 → delta gaps (first value stored
  as-is) → LEB128 varint stream (vectorized, ≤10 bytes per value)
- ``tfs``: term frequencies → varint stream
- ``tf_norms``: float32 little-endian array — the precomputed BM25
  length-normalized term frequency tf/(tf + k1*(1-b+b*dl/avgdl)); storing
  it per posting makes scoring self-contained (no doc-length join at query
  time — at 10^12 docs the doclen table is not broadcastable).

Per-block metadata kept alongside (columns, not in the payload): n_docs,
first/last doc_id, max_tf, max_tf_norm.  Block-max WAND upper-bounds a
term's contribution by idf * max_tf_norm without decoding the block.

PForDelta was considered (Zukowski et al., ICDE 2006); plain varint wins
here because numpy-vectorized LEB128 already decodes at >100M ints/sec/core
and keeps the oracle trivially equivalent.
"""

from __future__ import annotations

import numpy as np

_SHIFTS = np.arange(10, dtype=np.uint64) * np.uint64(7)
_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array, vectorized; also returns the
    per-value byte length so callers can slice the stream by value index
    (the block encoder cuts ONE encoded stream into per-block payloads)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += (v >= t).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        pos = starts[mask] + j
        byte = ((v[mask] >> _SHIFTS[j]) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[pos] = byte | cont
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, vectorized."""
    return varint_encode_with_lengths(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 stream into a uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    last_idx = np.nonzero((b & 0x80) == 0)[0]
    starts = np.empty_like(last_idx)
    starts[0] = 0
    starts[1:] = last_idx[:-1] + 1
    vals = np.zeros(len(starts), dtype=np.uint64)
    for j in range(10):
        pos = starts + j
        mask = pos <= last_idx
        if not mask.any():
            break
        vals[mask] |= (b[pos[mask]].astype(np.uint64) & np.uint64(0x7F)) << _SHIFTS[j]
    return vals


def varint_decode_streams(
    data, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the LEB128 streams lying back to back in ``data`` (stream
    i is bytes ``offsets[i]:offsets[i+1]``) in ONE vectorized pass:
    → (all values in order, number of values per stream)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    b = np.frombuffer(data, dtype=np.uint8)[offsets[0]:offsets[-1]]
    ends = np.flatnonzero((b & 0x80) == 0)
    counts = np.diff(np.searchsorted(ends, offsets - offsets[0]))
    return varint_decode(b), counts


def _binary_buffers(col):
    """(data buffer, value offsets) of a binary Arrow column, whose data
    buffer holds its values back to back; None for a zero-length column
    (it may carry no offsets buffer)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if not len(col):
        return None
    width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    _, offs_buf, data_buf = col.buffers()
    offs = np.frombuffer(offs_buf, dtype=width)[
        col.offset: col.offset + len(col) + 1
    ]
    return data_buf or b"", offs


def varint_decode_column(col) -> tuple[np.ndarray, np.ndarray]:
    """:func:`varint_decode_streams` over a binary Arrow column."""
    bufs = _binary_buffers(col)
    if bufs is None:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    return varint_decode_streams(*bufs)


def binary_column_bytes(col) -> np.ndarray:
    """The values of a binary Arrow column joined, as a uint8 array —
    no per-value copy."""
    bufs = _binary_buffers(col)
    if bufs is None:
        return np.empty(0, dtype=np.uint8)
    data, offs = bufs
    return np.frombuffer(data, dtype=np.uint8)[offs[0]:offs[-1]]


def segmented_cumsum(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Running sums of ``gaps`` restarted at every run of ``counts``
    values — many delta streams undone in one pass (int64, wrapping
    like the per-stream decode)."""
    c = np.cumsum(gaps.astype(np.int64))
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    prefix = np.concatenate(([0], c))[starts]
    return c - np.repeat(prefix, counts)


def delta_encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Strictly-increasing int64 docIDs → gap-encoded varint stream."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if len(ids) == 0:
        return b""
    gaps = np.empty(len(ids), dtype=np.uint64)
    gaps[:1] = ids[:1].astype(np.uint64)  # wraps negatives (modular; decode inverts)
    gaps[1:] = np.diff(ids).astype(np.uint64)
    return varint_encode(gaps)


def delta_decode_doc_ids(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf)
    if len(gaps) == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(gaps.astype(np.int64))


def encode_tf_norms(tf_norms: np.ndarray, dtype=np.float32) -> bytes:
    """float32 by default (4 B/posting, ~1e-7 relative error — rank-safe);
    float64 available when bit-exact score parity with an external oracle
    is required (entry-point correctness gate)."""
    return np.ascontiguousarray(tf_norms, dtype=dtype).tobytes()


def decode_tf_norms(buf: bytes, n_values: int | None = None) -> np.ndarray:
    """Width is self-describing given the posting count: len(buf)/n."""
    if n_values:
        dtype = np.float64 if len(buf) == 8 * n_values else np.float32
    else:
        dtype = np.float32
    return np.frombuffer(buf, dtype=dtype)
