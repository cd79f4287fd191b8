"""Rank-identity gate: the Spark engine (both scoring paths) must
match the single-process oracle — docIDs exactly, scores to 1e-6 relative —
on a query set covering rare terms, head terms, stopword-only queries,
stemmer conflation, absent terms (SURVEY.md §5, FIXTURES.md §6)."""

import pytest
from pyspark.sql import functions as F

from docs_indexer_spark.config import BM25Params
from docs_indexer_spark.functions.analysis import analyze_text
from docs_indexer_spark.operators import bm25, spimi
from docs_indexer_spark.operators.postings import (
    corpus_stats,
    df_stats,
    doc_lengths,
    idf_col,
    token_postings,
    token_relations,
    with_tokens,
)
from docs_indexer_spark.oracle import OracleIndex
from tests.conftest import on_both_routes, rank_identical

ANALYZER = "english"

QUERIES = [
    "spark join",
    "the window",            # head term + stopword
    "the and of",            # stopword-only → empty result set
    "batches joining windows",  # stemmer conflation (batch/join/window)
    "zzzmissing spark",      # absent term + present term
    "merge sort scan table filter",
    "customer",
    "vector",
]


@pytest.fixture(scope="module")
def corpus(documents):
    rows = documents.select("doc_id", "text").collect()
    return [(int(r["doc_id"]), r["text"]) for r in rows]


@pytest.fixture(scope="module")
def oracle(corpus):
    idx = OracleIndex(analyzer=ANALYZER)
    for doc_id, text in corpus:
        idx.add(doc_id, text)
    return idx


@pytest.fixture(scope="module")
def index(spark, documents):
    toks = with_tokens(documents, "text", ANALYZER).select("doc_id", "tokens")
    toks = toks.cache()
    postings = token_postings(toks).cache()
    doclens = doc_lengths(toks).cache()
    n, avgdl = corpus_stats(doclens)
    dfs = df_stats(postings)
    rel = token_relations(documents, analyzer=ANALYZER)
    blocks = spimi.build_blocks(
        rel.rows, spimi.index_stats(documents, rel.dictionary), n_buckets=8
    ).cache()
    idf_rows = (
        dfs.withColumn("idf", idf_col(F.col("df"), n))
        .withColumn("term_id", F.xxhash64("term"))
        .collect()
    )
    idf = {int(r["term_id"]): float(r["idf"]) for r in idf_rows}
    term_to_id = {r["term"]: int(r["term_id"]) for r in idf_rows}
    return {
        "postings": postings,
        "doclens": doclens,
        "n": n,
        "avgdl": avgdl,
        "blocks": blocks,
        "idf": idf,
        "term_to_id": term_to_id,
    }


def _terms(q):
    return analyze_text(q, ANALYZER)


@pytest.mark.parametrize("query", QUERIES)
def test_exact_from_tokens_rank_identical(index, oracle, query):
    expected = oracle.topk(query, k=10)
    got = bm25.score_from_tokens(
        index["postings"], index["doclens"], index["n"], index["avgdl"],
        _terms(query), k=10,
    ).collect()
    actual = [(int(r["doc_id"]), float(r["score"])) for r in got]
    rank_identical(expected, actual)


def _ids(index, query):
    return [index["term_to_id"][t] for t in set(_terms(query)) if t in index["term_to_id"]]


@pytest.mark.parametrize("query", QUERIES)
def test_exact_from_blocks_rank_identical(index, oracle, query):
    expected = oracle.topk(query, k=10)
    got = bm25.score_from_blocks(
        index["blocks"], index["idf"], _ids(index, query), k=10
    ).collect()
    actual = [(int(r["doc_id"]), float(r["score"])) for r in got]
    rank_identical(expected, actual, tol=1e-5)  # float32 tf_norm storage


def test_oracle_score_sanity(oracle, corpus):
    """Single-doc score agrees with topk's accumulation."""
    top = oracle.topk("spark join", k=1)
    assert top, "nonempty corpus must match"
    doc_id, score = top[0]
    assert abs(oracle.score("spark join", doc_id) - score) < 1e-12


def test_search_fuzzy_published_index(spark, tmp_path, monkeypatch):
    """Fuzzy serving path: a 1-edit misspelling scores against the
    expansion's own idf — equal to an exact search when the expansion
    resolves to exactly the intended vocabulary term."""
    from pyspark.sql import functions as F

    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    cat = SnapshotCatalog(str(tmp_path / "wh_fz"))
    build_index(spark, docs, cat, fingerprint="fp-fz", id_col="doc_id",
                n_build_partitions=1, analyzer="stop")
    reader = IndexReader(spark, cat)
    for _ in on_both_routes(monkeypatch):
        want = [(r["doc_id"], round(r["score"], 9))
                for r in reader.search("window", k=5).collect()]
        # "windoq" is 1 edit from "window" and from nothing else in the vocab
        got = [(r["doc_id"], round(r["score"], 9))
               for r in reader.search_fuzzy("windoq", k=5).collect()]
        assert got == want and got
        # unmatched gibberish → empty
        assert reader.search_fuzzy("zzzzqqqq", k=5).count() == 0
    reader.close()


def test_more_like_this_serving(spark, tmp_path, monkeypatch):
    """Serving-path MLT over a published index: related docs share the
    seed's representative terms; the seed itself is excluded."""
    from pyspark.sql import functions as F

    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    cat = SnapshotCatalog(str(tmp_path / "wh_mlt"))
    build_index(spark, docs, cat, fingerprint="fp-mlt", id_col="doc_id",
                n_build_partitions=1, analyzer="stop")
    reader = IndexReader(spark, cat)
    for _ in on_both_routes(monkeypatch):
        rows = reader.more_like_this(7, docs, k=10).collect()
        got = [r["doc_id"] for r in rows]
        assert len(got) == 10 and 7 not in got
        assert all(rows[i]["score"] >= rows[i + 1]["score"]
                   for i in range(len(rows) - 1))
        # a missing seed yields empty, not an error
        assert reader.more_like_this(10**15, docs).count() == 0
    reader.close()


def test_most_fields_single_field_equals_plain_and_boost_scales(index):
    """score_most_fields with one boost-1.0 field must equal
    score_from_tokens; boost b scales every score by exactly b."""
    postings, doclens, n, avgdl = (
        index["postings"], index["doclens"], index["n"], index["avgdl"],
    )
    terms = ["merge", "query", "sort"]
    plain = bm25.score_from_tokens(
        postings, doclens, n, avgdl, terms, k=10
    ).collect()
    one = bm25.score_most_fields(
        [(postings, doclens, n, avgdl, 1.0)], terms, k=10
    ).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in plain] == [
        (r["doc_id"], round(r["score"], 9)) for r in one
    ]
    boosted = bm25.score_most_fields(
        [(postings, doclens, n, avgdl, 2.5)], terms, k=10
    ).collect()
    for p, b in zip(plain, boosted):
        assert p["doc_id"] == b["doc_id"]
        assert abs(b["score"] - 2.5 * p["score"]) < 1e-9


def test_most_fields_sums_across_fields(index):
    """Two identical boost-1.0 fields double every doc's score and keep
    the ranking — the union-then-aggregate shape, no per-field cut."""
    postings, doclens, n, avgdl = (
        index["postings"], index["doclens"], index["n"], index["avgdl"],
    )
    terms = ["merge", "query"]
    plain = bm25.score_from_tokens(
        postings, doclens, n, avgdl, terms, k=10
    ).collect()
    two = bm25.score_most_fields(
        [(postings, doclens, n, avgdl, 1.0),
         (postings, doclens, n, avgdl, 1.0)],
        terms, k=10,
    ).collect()
    for p, t in zip(plain, two):
        assert p["doc_id"] == t["doc_id"]
        assert abs(t["score"] - 2.0 * p["score"]) < 1e-9
