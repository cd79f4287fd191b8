"""``phrase.phrase_topk`` against a pure-Python phrase matcher, on
randomly generated positional block tables (no Spark): repeated terms,
stopword gaps in the offsets, terms that co-occur but never adjacently,
several doc-range buckets, hashed (signed 64-bit) doc ids, the rarest-
lead block pruning, ``k=None`` and block rows given in shuffled order."""

import numpy as np
import pyarrow as pa
import pytest

from docs_indexer_spark.operators.compression import (
    delta_encode_doc_ids,
    varint_encode,
)
from docs_indexer_spark.operators.phrase import phrase_topk

VOCAB = [101, -202, 303, 404, -505]


def _blocks(docs: dict[int, list[int]], n_buckets: int, block_size: int):
    """Positional block rows of ``docs`` (doc_id → term ids by
    position), laid out as the build lays them out: doc-range buckets,
    each term's postings cut into blocks of ``block_size`` docs."""
    order = sorted(docs)
    bounds = [order[i * len(order) // n_buckets]
              for i in range(1, n_buckets)]
    postings: dict[tuple[int, int], dict[int, list[int]]] = {}
    for d in order:
        bucket = int(np.searchsorted(bounds, d, side="right"))
        for p, t in enumerate(docs[d]):
            if t is not None:
                postings.setdefault((t, bucket), {}).setdefault(d, []).append(p)
    rows = []
    for (t, _), by_doc in sorted(postings.items()):
        ids = sorted(by_doc)
        for s in range(0, len(ids), block_size):
            blk = ids[s:s + block_size]
            gaps = []
            for d in blk:
                ps = by_doc[d]
                gaps += [ps[0]] + [b - a for a, b in zip(ps, ps[1:])]
            rows.append({
                "term_id": t, "first_doc_id": blk[0], "last_doc_id": blk[-1],
                "doc_ids_bin": delta_encode_doc_ids(np.array(blk)),
                "tfs_bin": varint_encode(
                    np.array([len(by_doc[d]) for d in blk], dtype=np.uint64)),
                "positions_bin": varint_encode(np.array(gaps, dtype=np.uint64)),
            })
    return pa.Table.from_pylist(rows, schema=pa.schema([
        ("term_id", pa.int64()), ("first_doc_id", pa.int64()),
        ("last_doc_id", pa.int64()), ("doc_ids_bin", pa.binary()),
        ("tfs_bin", pa.binary()), ("positions_bin", pa.binary()),
    ]))


def _reference(docs, terms, offsets, k):
    """(doc_id, n_occurrences, first_pos) rows ranked by occurrences
    desc, doc_id asc: anchors ``a`` with ``a + offsets[i]`` at a
    position of ``terms[i]`` for every i."""
    hits = []
    for d, toks in docs.items():
        at = {}
        for p, t in enumerate(toks):
            at.setdefault(t, set()).add(p)
        anchors = None
        for t, o in zip(terms, offsets):
            a = {p - o for p in at.get(t, ())}
            anchors = a if anchors is None else anchors & a
        if anchors:
            hits.append((d, len(anchors), min(anchors) + offsets[0]))
    hits.sort(key=lambda h: (-h[1], h[0]))
    return hits[:k]


def _rows(res):
    return list(zip(res["doc_id"].tolist(), res["n_occurrences"].tolist(),
                    res["first_pos"].tolist()))


def _random_docs(rng, n_docs, hashed):
    ids = (rng.choice(np.arange(-2**62, 2**62, 2**40), n_docs, replace=False)
           if hashed else rng.choice(10 * n_docs, n_docs, replace=False))
    docs = {}
    for d in ids.tolist():
        n = int(rng.integers(0, 40))
        # None is a removed stopword: it still takes a position
        toks = rng.choice(len(VOCAB) + 1, n, p=[.3, .25, .2, .1, .05, .1])
        docs[d] = [VOCAB[t] if t < len(VOCAB) else None for t in toks]
    return docs


def _random_phrase(rng):
    n = int(rng.integers(1, 5))
    terms = [VOCAB[i] for i in rng.choice(4, n)]       # repeats allowed
    offsets = np.cumsum(rng.choice([1, 1, 2], n)) - 1 + int(rng.integers(0, 2))
    return terms, offsets.tolist()


def _check(docs, terms, offsets, blocks, rng):
    want_all = _reference(docs, terms, offsets, None)
    shuffled = blocks.take(rng.permutation(blocks.num_rows))
    for table in (blocks, shuffled):
        for lead in [None] + sorted(set(terms)):
            assert _rows(phrase_topk(table, terms, offsets, None, lead=lead)) \
                == want_all, (terms, offsets, lead)
            assert _rows(phrase_topk(table, terms, offsets, 3, lead=lead)) \
                == want_all[:3], (terms, offsets, lead)
    return want_all


@pytest.mark.parametrize("seed", range(12))
def test_phrase_topk_matches_reference(seed):
    rng = np.random.default_rng(seed)
    hashed = bool(seed % 2)
    docs = _random_docs(rng, int(rng.integers(20, 120)), hashed)
    n_buckets = int(rng.integers(1, 5))
    blocks = _blocks(docs, n_buckets, block_size=int(rng.integers(2, 9)))
    matched = 0
    for _ in range(8):
        terms, offsets = _random_phrase(rng)
        matched += bool(_check(docs, terms, offsets, blocks, rng))
    assert matched, "no generated phrase matched anything"


def test_phrase_topk_per_bucket_union_equals_whole():
    """The distributed route runs the kernel once per bucket with no
    cut and merges: that union must be the whole-table answer."""
    rng = np.random.default_rng(99)
    docs = _random_docs(rng, 150, hashed=True)
    order = sorted(docs)
    n_buckets = 4
    bounds = [order[i * len(order) // n_buckets] for i in range(1, n_buckets)]
    blocks = _blocks(docs, n_buckets, block_size=4)
    firsts = blocks.column("first_doc_id").to_numpy()
    bucket = np.searchsorted(bounds, firsts, side="right")
    for terms, offsets in [([101, -202], [0, 1]), ([101, 101], [0, 1]),
                           ([-202, 303, 101], [0, 2, 3])]:
        merged = []
        for b in range(n_buckets):
            part = blocks.filter(pa.array(bucket == b))
            merged += _rows(phrase_topk(part, terms, offsets, None))
        merged.sort(key=lambda h: (-h[1], h[0]))
        assert merged == _reference(docs, terms, offsets, None)
        assert merged == _rows(phrase_topk(blocks, terms, offsets, None))


def test_phrase_topk_terms_never_adjacent():
    """Both terms in every doc, never at the phrase's offsets: no
    match, while the reversed order and a one-apart gap do match."""
    a, b = VOCAB[0], VOCAB[1]
    docs = {7: [a, None, b], 3: [b, a, None, None, b], 11: [a, a, None, b]}
    blocks = _blocks(docs, 2, block_size=2)
    rng = np.random.default_rng(0)
    assert _check(docs, [a, b], [0, 1], blocks, rng) == []
    assert _check(docs, [b, a], [0, 1], blocks, rng) == [(3, 1, 0)]
    assert _check(docs, [a, b], [0, 2], blocks, rng) == [(7, 1, 0), (11, 1, 1)]


def test_phrase_topk_no_blocks_of_a_term():
    docs = {1: [101, -202], 2: [-202, 101]}
    blocks = _blocks(docs, 1, block_size=4)
    res = phrase_topk(blocks, [101, 303], [0, 1], None)
    assert _rows(res) == []
    res = phrase_topk(blocks.slice(0, 0), [101, -202], [0, 1], 10)
    assert _rows(res) == []
