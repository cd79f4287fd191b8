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
first/last doc_id, max_tf, max_tf_norm.  The serving kernels prune
blocks by their first/last doc_id only; no reader uses the max columns.

PForDelta was considered (Zukowski et al., ICDE 2006); plain varint stays
because it keeps the oracle trivially equivalent and the vectorized LEB128
decode below is fast where the bytes are: on the `serve` phrase pool
(BENCH/phrase_kernel.py, one core of a 4-core machine) it decodes the
1-byte-dominant position streams at ~160-175M values/s (~25M/s before
the terminator-gather decode) and the hashed doc ids' 7-10-byte gaps at
~7M values/s.
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


def _varint_values(b: np.ndarray, cuts=()) -> tuple[np.ndarray, np.ndarray]:
    """Decode the LEB128 bytes ``b`` (uint8): → (uint64 values, number
    of values ending before each byte offset in ``cuts``).  Raises
    ValueError on a value that still continues at the end of ``b`` or
    that runs past 64 bits (10 bytes).

    One scan splits terminator bytes from continuation bytes.  When
    continuation bytes are few (position gaps), every value starts as
    its terminator byte in one masked gather, and only the continuation
    bytes are visited again: each belongs to value ``cont[i] - i``, and
    a run's 7-bit groups OR in below its terminator's.  When they are
    many (doc-id gaps of hashed ids), every value's low 7 bits come in
    one gather and only the multi-byte values loop over their further
    bytes."""
    cuts = np.asarray(cuts, dtype=np.int64)
    if not len(b):
        return np.empty(0, dtype=np.uint64), np.zeros(len(cuts), np.int64)
    if b[-1] & 0x80:
        raise ValueError("truncated varint: the last byte continues")
    if b.max() < 0x80:
        return b.astype(np.uint64), cuts
    term = b < 0x80
    n_vals = int(np.count_nonzero(term))
    if 2 * (len(b) - n_vals) > n_vals:
        ends = np.flatnonzero(term)
        starts = np.concatenate(([0], ends[:-1] + 1))
        vals = (b[starts] & 0x7F).astype(np.uint64)
        multi = np.flatnonzero(ends > starts)
        for j in range(1, 10):
            if not len(multi):
                break
            pos = starts[multi] + j
            byte = b[pos]
            if j == 9 and (byte > 1).any():
                raise ValueError("varint value longer than 64 bits")
            vals[multi] |= (byte & 0x7F).astype(np.uint64) << _SHIFTS[j]
            multi = multi[ends[multi] > pos]
        return vals, np.searchsorted(ends, cuts)
    vals = b[term].astype(np.uint64)
    cont = np.flatnonzero(~term)
    owner = cont - np.arange(len(cont))
    run = np.flatnonzero(np.concatenate(([True], owner[1:] != owner[:-1])))
    n_cont = np.diff(np.append(run, len(cont)))
    multi = owner[run]
    if n_cont.max() > 9 or (vals[multi[n_cont == 9]] > 1).any():
        raise ValueError("varint value longer than 64 bits")
    group = np.arange(len(cont)) - np.repeat(run, n_cont)
    low = np.bitwise_or.reduceat(
        (b[cont] & 0x7F).astype(np.uint64) << (group * 7).astype(np.uint64),
        run,
    )
    vals[multi] = (vals[multi] << (n_cont * 7).astype(np.uint64)) | low
    return vals, cuts - np.searchsorted(cont, cuts)


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 stream into a uint64 array, vectorized."""
    return _varint_values(np.frombuffer(buf, dtype=np.uint8))[0]


def varint_decode_streams(
    data, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the LEB128 streams lying back to back in ``data`` (stream
    i is bytes ``offsets[i]:offsets[i+1]``) in ONE vectorized pass:
    → (all values in order, number of values per stream).  Raises
    ValueError when a non-empty stream ends inside a value, which
    would otherwise run on into the next stream."""
    offsets = np.asarray(offsets, dtype=np.int64)
    b = np.frombuffer(data, dtype=np.uint8)[offsets[0]:offsets[-1]]
    rel = offsets - offsets[0]
    last = rel[1:][rel[1:] > rel[:-1]] - 1
    if len(last) and (b[last] & 0x80).any():
        raise ValueError("truncated varint stream: ends inside a value")
    vals, before = _varint_values(b, rel)
    return vals, np.diff(before)


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
    like the per-stream decode).  Each run's first gap is lowered by the
    sum of the run before it, so one plain cumsum restarts at every run."""
    g = gaps.astype(np.int64)
    counts = np.asarray(counts)
    starts = (np.cumsum(counts) - counts)[counts > 0]
    if len(starts) > 1:
        g[starts[1:]] -= np.add.reduceat(g, starts)[:-1]
    return np.cumsum(g, out=g)


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
