"""Positional postings, block positions roundtrip, phrase matching
(reference term_vector with_positions_offsets, mappings/hugo.json:6,48,60)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from docs_indexer_spark.functions.xxh import spark_xxhash64_str
from docs_indexer_spark.operators.phrase import (
    phrase_match_blocks,
    phrase_occurrences,
    token_positions,
)
from tests.conftest import on_both_routes


@pytest.fixture(scope="module")
def phrase_docs(spark):
    rows = [
        (0, "merge sort beats bubble sort on merge sort workloads"),
        (1, "sort merge join is not merge sort"),
        (2, "the quick merge then a sort"),          # no adjacency
        (3, "merge sort"),
        (4, "sort sort sort"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_positions_simple(spark, phrase_docs):
    pos = {
        (r["term"], r["doc_id"]): (r["tf"], r["positions"])
        for r in token_positions(phrase_docs).collect()
    }
    assert pos[("merge", 0)] == (2, [0, 6])
    assert pos[("sort", 0)] == (3, [1, 4, 7])
    assert pos[("sort", 4)] == (3, [0, 1, 2])
    assert ("", 5) not in pos


def test_token_positions_stop_keeps_increments(spark, phrase_docs):
    """Stopword removal must NOT compact positions (Lucene position
    increments): in doc 2, 'quick' stays at index 1 ('the' removed)."""
    pos = {
        (r["term"], r["doc_id"]): r["positions"]
        for r in token_positions(phrase_docs, analyzer="stop").collect()
    }
    assert pos[("quick", 2)] == [1]
    assert pos[("merge", 2)] == [2]
    assert ("the", 2) not in pos


def test_phrase_occurrences(spark, phrase_docs):
    postings = token_positions(phrase_docs).persist()
    hits = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in phrase_occurrences(postings, ["merge", "sort"]).collect()
    }
    assert hits == {0: (2, 0), 1: (1, 5), 3: (1, 0)}
    # repeated-term phrase
    rep = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_occurrences(postings, ["sort", "sort"]).collect()
    }
    assert rep == {4: 2}
    # three-term phrase
    tri = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_occurrences(postings, ["merge", "sort", "beats"]).collect()
    }
    assert tri == {0: 1}
    postings.unpersist()


def _build_pos_blocks(spark, docs, n_buckets=4):
    from docs_indexer_spark.operators import spimi
    from docs_indexer_spark.operators.postings import token_relations

    rel = token_relations(docs, analyzer="simple", positions=True)
    stats = spimi.index_stats(docs, rel.dictionary)
    return spimi.build_blocks(rel.rows, stats, n_buckets=n_buckets)


def _decoded_positions(blocks):
    """{(term_id, doc_id): positions} of positional blocks, through the
    phrase kernel's decode (spimi.decode_positions)."""
    from docs_indexer_spark.operators.spimi import decode_positions

    dec = decode_positions(blocks.toArrow())
    lists = np.split(dec.positions, np.cumsum(dec.tf)[:-1])
    return {
        (int(t), int(d)): p.tolist()
        for t, d, p in zip(dec.term_id, dec.doc_id, lists)
    }


def test_position_blocks_roundtrip(spark, phrase_docs):
    """Decoded (term_id, doc_id, positions) must equal the uncompressed
    positional postings exactly."""

    postings = token_positions(phrase_docs).withColumn(
        "term_id", F.xxhash64("term")
    )
    want = {
        (r["term_id"], r["doc_id"]): list(r["positions"])
        for r in postings.collect()
    }
    blocks = _build_pos_blocks(spark, phrase_docs)
    assert _decoded_positions(blocks) == want


def test_position_blocks_roundtrip_corpus(spark):
    """Roundtrip across real block boundaries: sf0.001 corpus has head
    terms with df ~900 ≫ BLOCK_SIZE, so multi-block chains + bucket splits
    are exercised."""

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 300
    )
    postings = token_positions(docs).withColumn("term_id", F.xxhash64("term"))
    want = {
        (r["term_id"], r["doc_id"]): list(r["positions"])
        for r in postings.collect()
    }
    blocks = _build_pos_blocks(spark, docs, n_buckets=8)
    assert _decoded_positions(blocks) == want


def test_published_positional_index_phrase_search(
    spark, tmp_path, monkeypatch
):
    """End-to-end: build_index(positions=True) → published index →
    IndexReader.search_phrase, with english-analyzer position increments
    (a stopword in the query keeps its gap), on both reader routes."""
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    rows = [
        (0, "the merge sort algorithm beats the bubble sort"),
        (1, "merge the sort"),          # stopword between: gap of 2
        (2, "sort merge"),              # wrong order
        (3, "merge fast sort"),         # any word in the gap matches a
                                        # 2-gap query (Lucene increments)
        (4, "merge sort merge sort"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    catalog = SnapshotCatalog(str(tmp_path / "wh"))
    metrics = build_index(
        spark, docs, catalog, fingerprint="fp-pos", id_col="doc_id",
        n_build_partitions=1, positions=True,
    )
    assert metrics["positions"] is True
    reader = IndexReader(spark, catalog)

    for _ in on_both_routes(monkeypatch):
        hits = {
            r["doc_id"]: r["n_occurrences"]
            for r in reader.search_phrase("merge sort").collect()
        }
        # english analyzer drops 'the', so doc 1 ("merge the sort") keeps a
        # 2-gap and does NOT match the adjacent phrase...
        assert hits == {0: 1, 4: 2}
        # ...but the query "merge the sort" carries the same increment: docs
        # with a 2-gap match — doc 1 (stopword hole) AND doc 3 (any token may
        # fill a position-increment hole, exactly Lucene match_phrase); doc 0
        # ("the merge sort...": merge@1, sort@2 — gap 1) does not.
        gap_hits = {
            r["doc_id"]: r["n_occurrences"]
            for r in reader.search_phrase("merge the sort").collect()
        }
        assert gap_hits == {1: 1, 3: 1}
        # unindexed term → empty, no error
        assert reader.search_phrase("merge zzzmissing").count() == 0

    # a non-positional index refuses phrase queries with a clear error
    cat2 = SnapshotCatalog(str(tmp_path / "wh2"))
    build_index(spark, docs, cat2, fingerprint="fp-nopos", id_col="doc_id",
                n_build_partitions=1)
    with pytest.raises(ValueError, match="positions"):
        IndexReader(spark, cat2).search_phrase("merge sort")


def test_phrase_match_blocks_equals_postings(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 300
    )
    postings = token_positions(docs)
    phrase = ["merge", "sort"]
    want = {
        (r["doc_id"], r["n_occurrences"], r["first_pos"])
        for r in phrase_occurrences(postings, phrase).collect()
    }
    assert want, "fixture phrase must occur"
    blocks = _build_pos_blocks(spark, docs, n_buckets=8)
    tids = [
        spark.createDataFrame([(t,)], "t string")
        .select(F.xxhash64("t"))
        .collect()[0][0]
        for t in phrase
    ]
    got = {
        (r["doc_id"], r["n_occurrences"], r["first_pos"])
        for r in phrase_match_blocks(blocks, tids).collect()
    }
    assert got == want


def test_phrase_blocks_offsets_first_pos(spark, phrase_docs):
    """A leading-stopword query ('the merge sort' → analyzed terms
    [merge, sort] at offsets [1, 2]) must report first_pos as the ACTUAL
    stream position of the first matched term, not the anchor shifted
    down by offsets[0] (ADVICE r2)."""
    blocks = _build_pos_blocks(spark, phrase_docs)
    tids = [
        spark.createDataFrame([(t,)], "t string")
        .select(F.xxhash64("t"))
        .collect()[0][0]
        for t in ["merge", "sort"]
    ]
    got = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in phrase_match_blocks(blocks, tids, offsets=[1, 2]).collect()
    }
    # doc 0: merge@{0,6}, sort@{1,4,7} → adjacent at 0 and 6 → first 'merge' @0
    # doc 1: merge@{1,5}, sort@{0,6}   → adjacent at 5     → first 'merge' @5
    # doc 3: merge@{0},  sort@{1}      → adjacent at 0
    assert got == {0: (2, 0), 1: (1, 5), 3: (1, 0)}


def test_phrase_blocks_rarest_lead_pruning(spark, monkeypatch):
    """Lead-with-the-rarest (round 4): a skewed phrase (head term +
    rarer co-occurring term) must produce matches identical to the
    position-postings oracle through the pruned block path, and a
    phrase containing a term absent from the index answers empty
    WITHOUT decoding any blocks (metadata-only early-out).  The same
    phrase with the lead switched off gives the same matches."""
    from docs_indexer_spark.operators import phrase as phrase_mod

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") < 300)
    postings = token_positions(docs)
    # pick the most frequent term (head) and a term that co-occurs
    # adjacently with it somewhere, preferring a rare one
    from collections import Counter

    rows = postings.select("term", "doc_id", "positions").collect()
    df_count = Counter(r["term"] for r in rows)
    head = df_count.most_common(1)[0][0]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["term"]] = set(r["positions"])
    partner = None
    for d, terms in by_doc.items():
        if head not in terms:
            continue
        for t, ps in terms.items():
            if t != head and any(p + 1 in ps for p in terms[head]):
                if partner is None or df_count[t] < df_count[partner]:
                    partner = t
    assert partner, "fixture must contain an adjacent pair"
    phrase = [head, partner]

    want = {
        (r["doc_id"], r["n_occurrences"], r["first_pos"])
        for r in phrase_occurrences(postings, phrase).collect()
    }
    blocks = _build_pos_blocks(spark, docs, n_buckets=8)
    tids = [
        spark.createDataFrame([(t,)], "t string")
        .select(F.xxhash64("t"))
        .collect()[0][0]
        for t in phrase
    ]
    # 300 docs are too few for df_rare · BLOCK_SIZE ≤ df_head: a smaller
    # calibration block size engages the lead over the same blocks
    nd = dict(zip(tids, (df_count[t] for t in phrase)))
    lead_b = nd[tids[0]] // nd[tids[1]]
    assert phrase_mod.rarest_lead(tids, nd, lead_b) == tids[1]

    def run():
        return {
            (r["doc_id"], r["n_occurrences"], r["first_pos"])
            for r in phrase_match_blocks(
                blocks, tids, block_size=lead_b
            ).collect()
        }

    got = run()
    assert got == want and got
    with monkeypatch.context() as m:
        m.setattr(phrase_mod, "rarest_lead", lambda *a, **kw: None)
        assert run() == want

    # absent term → empty without decode
    missing = spark.createDataFrame([("zz-not-a-term",)], "t string") \
        .select(F.xxhash64("t")).collect()[0][0]
    assert phrase_match_blocks(blocks, [tids[0], missing]).count() == 0


def test_search_phrase_rarest_lead_equals_positions(
    spark, serving_docs, positional_index, phrase_pairs, monkeypatch
):
    """A published-index phrase query whose rarest-lead pruning engages
    (the kernel drops the head term's blocks that hold no rare-term doc)
    equals phrase_occurrences over the token positions — doc ids,
    occurrence counts and first positions, in rank order — on both
    routes, and so does the same query with the lead switched off.  The
    distributed route runs the kernel once per bucket."""
    from docs_indexer_spark.operators import phrase as phrase_mod
    from docs_indexer_spark.plans import query
    from docs_indexer_spark.plans.query import IndexReader

    phrase = list(phrase_pairs["rare_lead"])
    postings = token_positions(serving_docs, analyzer="stop")
    want = sorted(
        ((r["doc_id"], r["n_occurrences"], r["first_pos"])
         for r in phrase_occurrences(postings, phrase).collect()),
        key=lambda x: (-x[1], x[0]),
    )
    assert want
    reader = IndexReader(spark, positional_index)
    tids = [spark_xxhash64_str(t) for t in phrase]
    assert phrase_mod.rarest_lead(
        tids, reader._dfs(tids), reader.meta["metrics"].get("block_size")
    ) is not None, "rarest-lead pruning must engage"

    def run():
        res = reader.search_phrase(" ".join(phrase), k=1000)
        got = [(r["doc_id"], r["n_occurrences"], r["first_pos"])
               for r in res.collect()]
        return got, res._jdf.queryExecution().executedPlan().toString()

    for lead in ("on", "off"):
        if lead == "off":
            monkeypatch.setattr(
                phrase_mod, "rarest_lead", lambda *a, **kw: None
            )
        monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 10**9)
        assert run()[0] == want, lead
        monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 0)
        got, plan = run()
        assert "FlatMapGroupsInArrow" in plan, lead
        assert got == want, lead
    reader.close()
