"""Route identity: IndexReader's driver-local route (plans/query.py,
below LOCAL_MAX_BLOCKS) must answer every query kind exactly like the
distributed route — doc ids equal (up to score ties), scores within 1e-9
relative, phrase rows identical.  Each test forces the two routes by
monkeypatching LOCAL_MAX_BLOCKS (conftest.on_both_routes) over the
shared positional serving index."""

import sys
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from tests.conftest import on_both_routes, rank_identical

Q = "spark join window"


@pytest.fixture(scope="module")
def reader(spark, positional_index):
    from docs_indexer_spark.plans.query import IndexReader

    r = IndexReader(spark, positional_index)
    yield r
    r.close()


def _scored(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


def _phrase(rows):
    return [(r["doc_id"], r["n_occurrences"], r["first_pos"]) for r in rows]


def _both(monkeypatch, run):
    """``run()``'s collected rows on each route: (local, distributed)."""
    out = {route: run().collect() for route in on_both_routes(monkeypatch)}
    return out["local"], out["distributed"]


def _same_scored(monkeypatch, run, nonempty=True):
    local, dist = _both(monkeypatch, run)
    assert bool(local) == nonempty
    rank_identical(_scored(dist), _scored(local), tol=1e-9)
    return local


def _same_phrase(monkeypatch, run, nonempty=True):
    local, dist = _both(monkeypatch, run)
    assert _phrase(local) == _phrase(dist) and bool(local) == nonempty
    return local


@pytest.fixture(scope="module")
def positions(serving_docs):
    """{doc_id: {term: sorted positions}} of the serving docs under the
    stop analyzer (the index's own positions)."""
    from docs_indexer_spark.operators.phrase import token_positions

    out = {}
    for r in token_positions(serving_docs, analyzer="stop").collect():
        out.setdefault(r["doc_id"], {})[r["term"]] = list(r["positions"])
    return out


def _most_common(pairs):
    return Counter(pairs).most_common(1)[0][0]


def test_bm25_exact_and_match(reader, monkeypatch):
    for kw in ({}, {"operator": "and"}):
        _same_scored(monkeypatch, lambda: reader.search(Q, k=10, **kw))
    _same_scored(monkeypatch, lambda: reader.search("spark", k=10))
    # an unindexed term AND-matches nothing, on either route
    _same_scored(
        monkeypatch,
        lambda: reader.search("spark zzzunindexed", k=10, operator="and"),
        nonempty=False,
    )
    # a stopword-only query has no terms
    _same_scored(
        monkeypatch, lambda: reader.search("the and of", k=10),
        nonempty=False,
    )


def test_k_beyond_hit_count(reader, monkeypatch, serving_docs):
    from docs_indexer_spark.functions.analysis import analyze_text

    docs = [
        set(analyze_text(r["text"], "stop"))
        for r in serving_docs.select("text").collect()
    ]
    n_hits = sum("quokka" in d for d in docs)
    local = _same_scored(
        monkeypatch, lambda: reader.search("quokka", k=1000)
    )
    assert len(local) == n_hits
    # hit blocks that decode to postings, yet nothing qualifies: a
    # search_after cursor at the last hit, and an AND of two indexed
    # terms that share no doc
    last = local[-1]
    _same_scored(
        monkeypatch,
        lambda: reader.search(
            "quokka", k=10, search_after=(last["score"], last["doc_id"])
        ),
        nonempty=False,
    )
    other = next(
        t for t in sorted(set().union(*docs))
        if t.isalpha() and not any("quokka" in d and t in d for d in docs)
    )
    _same_scored(
        monkeypatch,
        lambda: reader.search(f"quokka {other}", k=10, operator="and"),
        nonempty=False,
    )


def test_selective_filters(reader, monkeypatch):
    from pyspark.broadcast import Broadcast

    from docs_indexer_spark.plans import query

    where = "lang = 'de'"
    for kw in ({}, {"operator": "and"}):
        # twice: the second resolves from the filter memo
        for _ in range(2):
            _same_scored(
                monkeypatch,
                lambda: reader.search(Q, k=10, where=where, **kw),
            )
    col = F.col("n_chars") >= 400
    for kw in ({}, {"operator": "and"}):
        _same_scored(
            monkeypatch, lambda: reader.search(Q, k=10, where=col, **kw)
        )
    for w in ("n_chars < 0", F.col("n_chars") < 0):
        _same_scored(
            monkeypatch, lambda: reader.search(Q, k=10, where=w),
            nonempty=False,
        )
    # the memo's broadcast is made only once a distributed route needs
    # it, and the local route never does
    local_only = "lang = 'en'"
    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 10**9)
    assert reader.search(Q, k=10, where=local_only).collect()
    assert reader._filters[local_only][1] is None
    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 0)
    assert reader.search(Q, k=10, where=local_only).collect()
    assert isinstance(reader._filters[local_only][1], Broadcast)


def test_search_after_chain(reader, monkeypatch):
    pages = {}
    for route in on_both_routes(monkeypatch):
        cursor, got = None, []
        for _ in range(3):
            rows = _scored(
                reader.search(Q, k=4, search_after=cursor).collect()
            )
            assert len(rows) == 4
            got += rows
            cursor = (rows[-1][1], rows[-1][0])
        pages[route] = got
        rank_identical(_scored(reader.search(Q, k=12).collect()), got)
    rank_identical(pages["distributed"], pages["local"], tol=1e-9)


def test_fuzzy(reader, monkeypatch):
    _same_scored(monkeypatch, lambda: reader.search_fuzzy("winodw", k=10))
    _same_scored(
        monkeypatch,
        lambda: reader.search_fuzzy("winodw spakr", k=10, where="lang = 'de'"),
    )
    _same_scored(
        monkeypatch, lambda: reader.search_fuzzy("zzzzqqqq", k=10),
        nonempty=False,
    )


def test_prefix_and_more_like_this(reader, monkeypatch, serving_docs):
    _same_scored(monkeypatch, lambda: reader.search_prefix("sp", k=10))
    _same_scored(
        monkeypatch,
        lambda: reader.search_prefix("sp", k=10, where="lang = 'de'"),
    )
    local = _same_scored(
        monkeypatch,
        lambda: reader.more_like_this(7, serving_docs, k=10, min_doc_freq=1),
    )
    assert len(local) == 10 and 7 not in {r["doc_id"] for r in local}


def test_phrase_offsets_and_repeats(
    reader, monkeypatch, positions, phrase_pairs
):
    # a stopword inside the query keeps its gap: "a the b" matches b two
    # positions after a; a leading stopword shifts first_pos
    gap = _most_common(
        (a, b) for terms in positions.values()
        for a, pa in terms.items() for b, pb in terms.items()
        if a != b and a.isalpha() and b.isalpha()
        and any(p + 2 in pb for p in pa)
    )
    for q in (f"{gap[0]} the {gap[1]}", f"the {gap[0]} the {gap[1]}"):
        _same_phrase(monkeypatch, lambda: reader.search_phrase(q, k=50))
    # a repeated term: "t x t" as "t the t"
    rep = _most_common(
        t for terms in positions.values() for t, ps in terms.items()
        if t.isalpha() and any(p + 2 in ps for p in ps)
    )
    _same_phrase(
        monkeypatch, lambda: reader.search_phrase(f"{rep} the {rep}", k=50)
    )

    # terms that share docs but never meet at the phrase offsets: both
    # routes answer nothing
    def adjacent(a, b):
        return any(
            p + 1 in terms[b] for terms in positions.values()
            if a in terms and b in terms for p in terms[a]
        )

    b, a = phrase_pairs["dense"]
    if adjacent(a, b):  # the reversed pair occurs too: take another
        a, b = _most_common(
            (x, y) for terms in positions.values()
            for x in terms for y in terms
            if x != y and x.isalpha() and y.isalpha() and not adjacent(x, y)
        )
    assert any(a in t and b in t for t in positions.values())
    _same_phrase(
        monkeypatch, lambda: reader.search_phrase(f"{a} {b}", k=50),
        nonempty=False,
    )


def test_phrase_rarest_lead_settings(reader, monkeypatch, phrase_pairs):
    from docs_indexer_spark.operators import phrase

    lead = phrase.rarest_lead
    for pair in phrase_pairs.values():
        q = " ".join(pair)
        for decide in (lambda *a, **kw: None, lead):
            monkeypatch.setattr(phrase, "rarest_lead", decide)
            _same_phrase(monkeypatch, lambda: reader.search_phrase(q, k=50))
    # k below the match count cuts by (n_occurrences desc, doc_id asc)
    q = " ".join(phrase_pairs["dense"])
    full = _same_phrase(monkeypatch, lambda: reader.search_phrase(q, k=1000))
    top = _same_phrase(monkeypatch, lambda: reader.search_phrase(q, k=3))
    assert _phrase(top) == _phrase(full)[:3]


def test_concurrent_queries_on_the_local_route(
    reader, monkeypatch, phrase_pairs
):
    """One reader serves 8 threads on the local route: every answer
    equals the same query run alone."""
    from docs_indexer_spark.plans import query

    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 10**9)
    phrase_q = " ".join(phrase_pairs["dense"])
    scored = [
        lambda: reader.search(Q, k=10),
        lambda: reader.search(Q, k=10, operator="and"),
        lambda: reader.search(Q, k=10, where="lang = 'de'"),
        lambda: reader.search(Q, k=10, where="n_chars >= 400"),
        lambda: reader.search_fuzzy("winodw", k=10),
    ]
    runs = [lambda run=run: _scored(run().collect()) for run in scored]
    runs.append(
        lambda: _phrase(reader.search_phrase(phrase_q, k=10).collect())
    )
    want = [run() for run in runs]
    jobs = [i % len(runs) for i in range(8 * len(runs))]
    with ThreadPoolExecutor(8) as pool:
        got = list(pool.map(lambda i: runs[i](), jobs))
    for i, g in zip(jobs, got):
        if i < len(scored):
            rank_identical(want[i], g, tol=1e-9)
        else:
            assert g == want[i]


def _driver_rows_match_jvm(df, schema):
    """``df`` is a driver-held answer whose ``collect()`` equals the rows
    its JVM relation collects: values, their Python types, field names,
    and the relation's schema is the DDL ``schema``."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.types import StructType

    from docs_indexer_spark.session import LazyFrame

    assert isinstance(df, LazyFrame)
    rows = df.collect()
    jvm = DataFrame.collect(df)
    assert rows == jvm
    assert [r.asDict() for r in rows] == [r.asDict() for r in jvm]
    assert [list(map(type, r)) for r in rows] == [
        list(map(type, r)) for r in jvm
    ]
    assert df.schema == StructType.fromDDL(schema)
    assert all(list(r.__fields__) == df.schema.names for r in rows + jvm)
    return rows


def test_driver_rows_equal_the_jvm_relation(
    reader, monkeypatch, serving_docs, phrase_pairs
):
    """Every local kind and every early-out answers ``collect()`` on the
    driver with exactly the rows the materialised JVM relation gives."""
    import numpy as np

    from docs_indexer_spark.operators import bm25, phrase
    from docs_indexer_spark.operators.bm25 import TOPK_SCHEMA
    from docs_indexer_spark.plans import query
    from docs_indexer_spark.plans.query import PHRASE_SCHEMA

    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 10**9)
    last = reader.search(Q, k=3).collect()[-1]
    blocks = reader.blocks
    empty_bc = reader.spark.sparkContext.broadcast(np.empty(0, np.int64))
    answers = {
        "bm25": lambda: reader.search(Q, k=10),
        "and": lambda: reader.search("spark join", k=10, operator="and"),
        "search_after": lambda: reader.search(
            Q, k=10, search_after=(last["score"], last["doc_id"])
        ),
        "filtered": lambda: reader.search(Q, k=10, where="lang = 'de'"),
        "fuzzy": lambda: reader.search_fuzzy("winodw", k=10),
        "prefix": lambda: reader.search_prefix("sp", k=10),
        "more_like_this": lambda: reader.more_like_this(
            7, serving_docs, k=10, min_doc_freq=1
        ),
        # early-outs of the reader
        "and_unindexed": lambda: reader.search(
            "spark zzzunindexed", k=10, operator="and"
        ),
        "stopwords": lambda: reader.search("the and of", k=10),
        "empty_filter": lambda: reader.search(Q, k=10, where="n_chars < 0"),
        "fuzzy_no_terms": lambda: reader.search_fuzzy("the", k=10),
        "mlt_no_seed": lambda: reader.more_like_this(
            -1, serving_docs, k=10
        ),
        "mlt_no_terms": lambda: reader.more_like_this(
            7, serving_docs, k=10, min_term_freq=10**6
        ),
        # early-outs of the distributed operators
        "blocks_no_terms": lambda: bm25.score_from_blocks(blocks, {}, []),
        "blocks_empty_filter": lambda: bm25.score_from_blocks(
            blocks, {1: 1.0}, [1], allowed=[]
        ),
        "blocks_and_no_terms": lambda: bm25.score_from_blocks(
            blocks, {}, [], require_all=True, after=(1.0, 0)
        ),
        "blocks_empty_broadcast": lambda: bm25.score_from_blocks(
            blocks, {1: 1.0}, [1], allowed=empty_bc
        ),
    }
    phrases = {
        "phrase": lambda: reader.search_phrase(
            " ".join(phrase_pairs["dense"]), k=10
        ),
        "phrase_unindexed": lambda: reader.search_phrase(
            "spark zzzunindexed", k=10
        ),
        "phrase_blocks_unindexed": lambda: phrase.phrase_match_blocks(
            blocks, [1, 2], term_dfs={1: 0, 2: 3}
        ),
    }
    for schema, runs in ((TOPK_SCHEMA, answers), (PHRASE_SCHEMA, phrases)):
        for name, run in runs.items():
            rows = _driver_rows_match_jvm(run(), schema)
            assert bool(rows) == (
                name in ("bm25", "and", "search_after", "filtered",
                         "fuzzy", "prefix", "more_like_this", "phrase")
            ), name
    empty_bc.destroy()


def test_local_answer_to_pandas_and_docs(reader, monkeypatch):
    """A driver-held answer still converts and joins through Spark."""
    from docs_indexer_spark.plans import query

    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 10**9)
    rows = reader.search(Q, k=10).collect()
    assert rows
    pdf = reader.search(Q, k=10).toPandas()
    assert list(pdf.columns) == ["doc_id", "score"]
    assert list(pdf.itertuples(index=False, name=None)) == [
        tuple(r) for r in rows
    ]
    with_docs = reader.search_with_docs(Q, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in with_docs] == _scored(rows)
    assert all(r["lang"] is not None for r in with_docs)


def test_one_local_answer_collected_and_joined_by_8_threads(
    spark, reader, monkeypatch
):
    """8 threads collect and join one driver-held answer at once: every
    collect gives its rows, every join the same docs, and the JVM
    relation is built once."""
    from docs_indexer_spark.plans import query

    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 10**9)
    want = reader.search(Q, k=10).collect()
    docs = reader.docs_store().select("doc_id", "lang")
    built = []
    create = type(spark).createDataFrame

    def counting(self, *a, **kw):
        built.append(1)
        return create(self, *a, **kw)

    monkeypatch.setattr(type(spark), "createDataFrame", counting)
    df = reader.search(Q, k=10)

    def work(i):
        if i % 2:
            return df.collect()
        return sorted(r["doc_id"] for r in df.join(docs, "doc_id").collect())

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often, inside the build too
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(work, range(16), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    for i, g in enumerate(got):
        assert g == (want if i % 2 else sorted(r["doc_id"] for r in want))
    assert len(built) == 1
