"""The one build path against a Python reference.

``build_index`` (staged, resumable) and ``fused_build_blocks`` (the same
two steps, unstaged) must publish blocks that decode to the analyzer's
postings — per (term, doc) tf and positions from the pure-Python chains
— with df, N and avgdl equal to the reference and ``max_score`` equal to
idf · max norm recomputed in numpy."""

import glob
import math
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from docs_indexer_spark.config import BM25Params
from docs_indexer_spark.functions.analysis import (
    ENGLISH_STOPWORDS,
    analyze_simple,
    analyze_with_positions,
)
from docs_indexer_spark.functions.xxh import spark_xxhash64_str
from docs_indexer_spark.operators.compression import (
    delta_decode_doc_ids,
    varint_decode,
)
from docs_indexer_spark.operators.fused import fused_build_blocks
from docs_indexer_spark.operators.spimi import decode_positions
from tests.conftest import SF_DIR

SF = f"{SF_DIR}/documents.parquet"


def _decoded_positions(table):
    """{(term_id, doc_id): positions} of positional block rows, through
    the phrase kernel's decode (spimi.decode_positions)."""
    dec = decode_positions(table)
    lists = np.split(dec.positions, np.cumsum(dec.tf)[:-1])
    return {
        (int(t), int(d)): p.tolist()
        for t, d, p in zip(dec.term_id, dec.doc_id, lists)
    }

# stopwords mid-text, possessives and conflated forms on top of the
# generated corpus (whose only stopwords are "the" and "a")
EXTRA_DOCS = [
    (10_001, "The dog's bones are running quickly"),
    (10_002, "merge the sort, and the runs of the run"),
    (10_003, "Don't stop-me now, 42nd batches batching batch"),
    (10_004, "the and of"),
    (10_005, ""),
]


def _docs(spark, limit=200):
    base = spark.read.parquet(SF).filter(F.col("doc_id") < limit).select(
        "doc_id", "text"
    )
    return base.unionByName(
        spark.createDataFrame(EXTRA_DOCS, "doc_id long, text string")
    )


def _analyzed(text, analyzer):
    """[(term, position)] of the build's analyzer chains in pure Python:
    english is the oracle tokenizer + possessive/stop/Porter; simple and
    stop split on [^a-z0-9]+ and (stop) drop stopwords keeping their
    position increments."""
    if analyzer == "english":
        return analyze_with_positions(text, "english")
    toks = enumerate(analyze_simple(text))
    if analyzer == "simple":
        return [(t, i) for i, t in toks]
    return [(t, i) for i, t in toks if t not in ENGLISH_STOPWORDS]


def _reference(rows, analyzer):
    """({(term_id, doc_id): [positions]}, {doc_id: dl}, {term_id: df},
    n_docs, avgdl) for [(doc_id, text)]."""
    postings, dl = {}, {}
    for doc_id, text in rows:
        toks = _analyzed(text, analyzer)
        dl[doc_id] = len(toks)
        for term, pos in toks:
            postings.setdefault((spark_xxhash64_str(term), doc_id), []).append(pos)
    df = Counter(tid for tid, _ in postings)
    return postings, dl, dict(df), len(rows), sum(dl.values()) / len(rows)


def _decode(block_rows, positions):
    """{(term_id, doc_id): (tf, float32 norm)} — tf only where blocks
    store it (positional) — checking each block's metadata against its
    decoded doc ids on the way."""
    out = {}
    for r in block_rows:
        ids = delta_decode_doc_ids(r["doc_ids_bin"])
        norms = np.frombuffer(r["tf_norms_bin"], dtype=np.float32)
        tfs = (
            varint_decode(r["tfs_bin"]).astype(np.int64) if positions else None
        )
        assert r["n_docs"] == len(ids) == len(norms)
        assert (r["first_doc_id"], r["last_doc_id"]) == (ids[0], ids[-1])
        assert np.all(np.diff(ids) > 0)
        for j, d in enumerate(ids):
            key = (r["term_id"], int(d))
            assert key not in out
            out[key] = (None if tfs is None else int(tfs[j]), norms[j])
    return out


def _norm(tf, dl, avgdl, p=BM25Params()):
    return np.float32(tf / (tf + p.k1 * (1.0 - p.b + p.b * dl / avgdl)))


def _idf(df, n):
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


@pytest.mark.parametrize("positions", [False, True], ids=["tf", "positions"])
@pytest.mark.parametrize("analyzer", ["english", "stop"])
def test_build_index_blocks_match_reference(
    spark, tmp_path, analyzer, positions
):
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    docs = _docs(spark)
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want, dl, want_df, n, avgdl = _reference(rows, analyzer)

    cat = SnapshotCatalog(str(tmp_path / "wh"))
    metrics = build_index(
        spark, docs, cat, fingerprint="fp-ref", id_col="doc_id",
        n_build_partitions=2, n_buckets=8, analyzer=analyzer,
        positions=positions,
    )
    assert metrics["n_docs"] == n
    assert abs(metrics["avgdl"] - avgdl) < 1e-9
    gen = cat.generation_path("index")
    table = pq.read_table(glob.glob(f"{gen}/blocks.parquet/*.parquet"))
    blocks = table.to_pylist()

    got = _decode(blocks, positions)
    assert set(got) == set(want)
    for key, (tf, norm) in got.items():
        ref_tf = len(want[key])
        if positions:
            assert tf == ref_tf, key
        # the stored float32 norm is bit-equal to the reference's
        assert norm == _norm(ref_tf, dl[key[1]], avgdl), key
    if positions:
        got_pos = _decoded_positions(table)
        assert got_pos == {k: sorted(v) for k, v in want.items()}

    df_pub = {
        r["term_id"]: r["df"]
        for r in pq.read_table(
            glob.glob(f"{gen}/df_stats.parquet/*.parquet")
        ).to_pylist()
    }
    assert df_pub == want_df
    for r in blocks:
        ids = delta_decode_doc_ids(r["doc_ids_bin"])
        max_norm = max(
            float(_norm(len(want[(r["term_id"], int(d))]), dl[int(d)], avgdl))
            for d in ids
        )
        want_score = _idf(want_df[r["term_id"]], n) * max_norm
        assert abs(r["max_score"] - want_score) < 1e-9, r["term_id"]
        assert r["max_tf"] == max(len(want[(r["term_id"], int(d))]) for d in ids)


@pytest.mark.parametrize("analyzer", ["simple", "stop", "english"])
def test_fused_positions_equal_postings(spark, analyzer):
    """Fused positional blocks decode to the exact positional postings,
    with stopword position increments kept: simple and stop against
    ``phrase.token_positions``, english against the oracle's
    ``analyze_with_positions``."""
    from docs_indexer_spark.operators.phrase import token_positions

    docs = _docs(spark)
    fused = fused_build_blocks(
        docs, analyzer=analyzer, n_buckets=4, positions=True
    )
    got = _decoded_positions(fused.blocks.toArrow())
    fused.unpersist()
    if analyzer == "english":
        want = {}
        for r in docs.collect():
            for term, pos in analyze_with_positions(r["text"], "english"):
                want.setdefault(
                    (spark_xxhash64_str(term), r["doc_id"]), []
                ).append(pos)
    else:
        want = {
            (r["term_id"], r["doc_id"]): list(r["positions"])
            for r in token_positions(docs, analyzer=analyzer)
            .withColumn("term_id", F.xxhash64("term"))
            .select("term_id", "doc_id", "positions")
            .collect()
        }
    assert got == want
    # "merge the sort": the removed stopword still advances the position
    if analyzer != "simple":
        assert got[(spark_xxhash64_str("sort"), 10_002)] == [2]


def test_fused_df_stats_match(spark):
    docs = _docs(spark, limit=400)
    fused = fused_build_blocks(docs, analyzer="english", n_buckets=8)
    _, _, want, n, avgdl = _reference(
        [(r["doc_id"], r["text"]) for r in docs.collect()], "english"
    )
    got = {r["term_id"]: r["df"] for r in fused.df_stats().collect()}
    assert got == want
    assert fused.n_docs == n
    assert abs(fused.avgdl - avgdl) < 1e-9
    fused.unpersist()


def test_auto_buckets_bound_df_under_stemming(spark):
    """The automatic bucket count bounds df by the per-STEM collection
    frequency: run/runs/running in three docs are df 3 for "run" while
    every raw form has cf 1, so a raw-form bound would pick one bucket
    and put all three postings in one run."""
    from docs_indexer_spark.operators import spimi
    from docs_indexer_spark.operators.postings import token_relations

    docs = spark.createDataFrame(
        [(0, "run"), (1, "runs"), (2, "running")], "doc_id long, text string"
    )
    rel = token_relations(docs, analyzer="english")
    assert spimi.index_stats(docs, rel.dictionary).max_df == 3
    rel.unpersist()
    fused = fused_build_blocks(docs, analyzer="english", target_run_postings=2)
    runs = [
        r["n"] for r in fused.blocks.groupBy("term_id", "bucket")
        .agg(F.sum("n_docs").alias("n")).collect()
    ]
    assert sum(runs) == 3
    assert len(runs) == 2  # ceil(3 / 2) doc-range buckets
    assert max(runs) <= 2
    fused.unpersist()


def _block_key(r):
    return (r["term_id"], r["bucket"], r["block_seq"])


def test_tfs_bin_dropped_by_default(spark):
    """Scoring never reads per-posting tfs, so the default tf-path block
    row omits tfs_bin; store_tf=True opts back in with identical
    doc_ids/norm streams; positional blocks always keep it (it segments
    positions_bin on decode)."""
    docs = spark.read.parquet(SF).filter(F.col("doc_id") < 200)
    lean = fused_build_blocks(docs, analyzer="stop", n_buckets=4)
    assert "tfs_bin" not in lean.blocks.columns
    fat = fused_build_blocks(docs, analyzer="stop", n_buckets=4, store_tf=True)
    assert "tfs_bin" in fat.blocks.columns
    want = {_block_key(r): (bytes(r["doc_ids_bin"]), bytes(r["tf_norms_bin"]))
            for r in lean.blocks.collect()}
    got = {_block_key(r): (bytes(r["doc_ids_bin"]), bytes(r["tf_norms_bin"]))
           for r in fat.blocks.collect()}
    assert got == want
    # the opted-in stream is real and non-empty
    row = fat.blocks.filter(F.length("tfs_bin") > 0).first()
    assert row is not None
    lean.unpersist()
    fat.unpersist()
