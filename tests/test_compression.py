"""Round-trip property tests for posting-block compression (SURVEY §5)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docs_indexer_spark.operators.compression import (
    decode_tf_norms,
    delta_decode_doc_ids,
    delta_encode_doc_ids,
    encode_tf_norms,
    segmented_cumsum,
    varint_decode,
    varint_decode_streams,
    varint_encode,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert (varint_decode(varint_encode(arr)) == arr).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=400, unique=True
    )
)
def test_delta_docids_roundtrip(ids):
    arr = np.sort(np.array(ids, dtype=np.int64))
    assert (delta_decode_doc_ids(delta_encode_doc_ids(arr)) == arr).all()


def test_adversarial_gap_distributions():
    for arr in [
        np.zeros(100, dtype=np.uint64),                      # all-zero
        np.full(10, 2**64 - 1, dtype=np.uint64),             # max values
        np.array([0, 127, 128, 16383, 16384], dtype=np.uint64),  # boundaries
        np.arange(1000, dtype=np.uint64),                    # all-equal gaps
    ]:
        assert (varint_decode(varint_encode(arr)) == arr).all()
    # max-gap docids
    ids = np.array([0, 2**62], dtype=np.int64)
    assert (delta_decode_doc_ids(delta_encode_doc_ids(ids)) == ids).all()
    assert len(varint_encode(np.empty(0, dtype=np.uint64))) == 0
    assert len(varint_decode(b"")) == 0


def _py_leb128(buf: bytes) -> list[int]:
    """Reference decoder: one value at a time, in plain Python."""
    out, v, shift = [], 0, 0
    for byte in buf:
        v |= (byte & 0x7F) << shift
        shift += 7
        if not byte & 0x80:
            out.append(v)
            v, shift = 0, 0
    assert shift == 0, "reference given a truncated stream"
    return out


def _check_streams(streams: list[list[int]]) -> None:
    bufs = [varint_encode(np.array(s, dtype=np.uint64)) for s in streams]
    offsets = np.concatenate(([0], np.cumsum([len(b) for b in bufs])))
    # a prefix the offsets skip, so streams start mid-buffer
    vals, counts = varint_decode_streams(b"\x85\x01" + b"".join(bufs),
                                         offsets + 2)
    want = [_py_leb128(b) for b in bufs]
    assert counts.tolist() == [len(w) for w in want]
    assert vals.tolist() == [v for w in want for v in w]


_VALUE = st.one_of(
    st.integers(0, 127),                    # 1 byte
    st.integers(0, 2**64 - 1),              # 1-10 bytes
    st.integers(2**56, 2**64 - 1),          # 9-10 bytes
    st.just(2**64 - 1),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(_VALUE, max_size=12), max_size=20))
def test_varint_streams_match_per_stream_reference(streams):
    """Concatenated streams, empty ones among them, decode to the values
    and per-stream counts of a per-stream Python decoder."""
    _check_streams(streams)


@pytest.mark.parametrize("long_share", [0.0, 0.02, 0.3, 0.9, 1.0])
def test_varint_streams_short_and_long_value_mixes(long_share):
    """Both decode strategies — few continuation bytes (position gaps)
    and many (hashed doc-id gaps) — against the reference."""
    rng = np.random.default_rng(int(long_share * 100))
    streams = []
    for _ in range(60):
        n = int(rng.integers(0, 40))
        long = rng.random(n) < long_share
        v = np.where(long, rng.integers(0, 2**63, n, dtype=np.uint64) * 2 + 1,
                     rng.integers(0, 128, n).astype(np.uint64))
        streams.append([int(x) for x in v])
    _check_streams(streams)


@pytest.mark.parametrize("buf", [
    b"\x01\x80",                       # last value truncated
    b"\x80",                            # a lone continuation byte
    b"\x80" * 10 + b"\x01",            # an 11-byte value
    b"\xff" * 9 + b"\x02",             # 10 bytes, past 64 bits
    b"\x01" * 40 + b"\xff" * 9 + b"\x02",
    b"\xff" * 40 + b"\x80" * 10 + b"\x01",
])
def test_varint_decode_rejects_malformed(buf):
    with pytest.raises(ValueError):
        varint_decode(buf)


def test_varint_decode_streams_rejects_truncated_stream():
    """A stream ending inside a value must not run on into the next."""
    with pytest.raises(ValueError):
        varint_decode_streams(b"\x01\x80\x02", [0, 2, 3])
    with pytest.raises(ValueError):
        varint_decode_streams(b"\x01\x80\x80\x02", [0, 2, 2, 4])
    # the largest value takes exactly 10 bytes and decodes
    assert varint_decode(b"\xff" * 9 + b"\x01").tolist() == [2**64 - 1]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(st.integers(0, 2**64 - 1), max_size=8), max_size=12))
def test_segmented_cumsum_restarts_per_run(runs):
    """Running sums restart at every run, empty runs included, and wrap
    modulo 2**64 like a per-run int64 cumsum."""
    gaps = np.array([v for r in runs for v in r], dtype=np.uint64)
    counts = np.array([len(r) for r in runs], dtype=np.int64)
    want = [v for r in runs
            for v in np.cumsum(np.array(r, dtype=np.uint64).astype(np.int64))]
    assert segmented_cumsum(gaps, counts).tolist() == want


def test_tf_norms_roundtrip():
    f = np.array([0.0, 0.5, 1.0, 0.123456], dtype=np.float32)
    assert (decode_tf_norms(encode_tf_norms(f)) == f).all()


def test_negative_docids_roundtrip():
    """xxhash64 doc ids are signed; delta coding must wrap modularly."""
    ids = np.array(
        [-9223372036854775000, -7785330373092500946, -5, 3, 9223372036854775000],
        dtype=np.int64,
    )
    assert (delta_decode_doc_ids(delta_encode_doc_ids(ids)) == ids).all()


# ---- winnowing properties (pure-python reference of the Spark operator;
# the Spark/oracle identity is pinned in test_dedup_similarity /
# test_entry_contract — these pin the ALGORITHM's guarantees) ----

def _py_winnow(tokens, k=3, w=4, h=None):
    import hashlib

    def default_h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    h = h or default_h
    if not tokens:
        return set()
    if len(tokens) < k:
        sh = [" ".join(tokens)]
    else:
        sh = [" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)]
    hs = [h(s) for s in sh]
    if len(hs) >= w:
        return {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}
    return {min(hs)}


@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=40),
    st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=40),
    st.lists(st.sampled_from("abcdefgh"), min_size=6, max_size=12),
)
def test_winnowing_shared_run_guarantee(prefix_a, prefix_b, shared):
    """Schleimer et al. Theorem: any shared token run of length
    ≥ k + w - 1 (= 6 at k=3, w=4) between two documents yields at least
    one SHARED fingerprint, wherever the run sits in each document."""
    doc_a = list(prefix_a) + list(shared)
    doc_b = list(prefix_b) + list(shared) + ["z"]
    fa, fb = _py_winnow(doc_a), _py_winnow(doc_b)
    assert fa & fb


@given(st.lists(st.sampled_from("abcdefghij"), min_size=7, max_size=120))
def test_winnowing_density_and_subset(tokens):
    """Fingerprints are a subset of the shingle hashes and at most one
    per window position."""
    fps = _py_winnow(tokens)
    sh = [" ".join(tokens[i:i + 3]) for i in range(len(tokens) - 2)]
    import hashlib
    all_h = {int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh}
    assert fps <= all_h
    assert 1 <= len(fps) <= max(1, len(sh) - 4 + 1)
