"""Filtered search composed with BM25 scoring — the OpenSearch
``bool: {must: match, filter: [...]}`` request shape (the reference's
keyword ``type``/``breadcrumb_*`` fields and ``date`` exist for exactly
this: /root/reference/mappings/hugo.json:9-53).

The pinned invariant everywhere: filter-then-score.  A filtered top-k
must equal "score the ENTIRE corpus exactly, drop ineligible docs, take
top-k" — post-filtering a top-k would miss eligible hits and is the bug
these tests exist to catch.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from docs_indexer_spark.operators import bm25
from docs_indexer_spark.operators.fused import fused_build_blocks
from docs_indexer_spark.operators.postings import idf_col

from tests.conftest import on_both_routes, rank_identical

TERMS = ["spark", "join", "window"]


@pytest.fixture(scope="module")
def corpus(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )


@pytest.fixture(scope="module")
def fused(corpus):
    fb = fused_build_blocks(
        corpus, analyzer="stop", n_buckets=4, norm_dtype=np.float64
    )
    fb.blocks = fb.blocks.persist()
    return fb


def _idf_map(fb, terms):
    rows = (
        fb.terms.filter(F.col("term").isin(terms))
        .join(fb.df_stats(), "term_id")
        .withColumn("idf", idf_col(F.col("df"), fb.n_docs))
        .collect()
    )
    return {int(r["term_id"]): float(r["idf"]) for r in rows}


def _kernel_topk(fb, idf, k, allowed=None):
    """The driver-local route's kernel, :func:`bm25.blocks_topk`, over
    every hit block of ``idf``'s terms: [(doc_id, score)]."""
    blocks = (
        fb.blocks.filter(F.col("term_id").isin(sorted(idf)))
        .select(*bm25.kernel_columns(allowed is not None))
        .toArrow()
    )
    ids, scores = bm25.blocks_topk(blocks, idf, k, allowed=allowed)
    return list(zip(ids.tolist(), scores.tolist()))


def _reference_filtered_topk(fb, idf, allowed_set, k=10):
    """Ground truth: exact unfiltered scoring of the whole corpus, then a
    Python-side filter, then the pinned (score desc, doc_id asc) top-k."""
    full = bm25.score_from_blocks(
        fb.blocks, idf, sorted(idf), k=100_000
    ).collect()
    kept = [
        (r["doc_id"], r["score"]) for r in full if r["doc_id"] in allowed_set
    ]
    kept.sort(key=lambda x: (-x[1], x[0]))
    return kept[:k]


@pytest.fixture(scope="module")
def allowed(corpus):
    rows = (
        corpus.filter((F.col("lang") == "en") & (F.col("n_chars") >= 400))
        .select("doc_id")
        .collect()
    )
    ids = sorted(r["doc_id"] for r in rows)
    assert 0 < len(ids) < corpus.count(), "filter must be non-trivial"
    return ids


def test_filtered_wand_equals_filter_then_score(spark, fused, allowed):
    """The default OR under a filter bitset equals filter-then-score on
    both routes: the driver-local kernel over all hit blocks, and the
    per-bucket scorer handed the filter as a caller-owned broadcast (the
    reader's filter memo shape)."""
    idf = _idf_map(fused, TERMS)
    expected = _reference_filtered_topk(fused, idf, set(allowed), k=10)
    arr = np.array(allowed, dtype=np.int64)
    rank_identical(expected, _kernel_topk(fused, idf, 10, allowed=arr))
    bc = spark.sparkContext.broadcast(arr)
    got = bm25.score_from_blocks(
        fused.blocks, idf, sorted(idf), k=10, allowed=bc
    ).collect()
    bc.destroy()
    rank_identical(expected, [(r["doc_id"], r["score"]) for r in got])


def test_filtered_exact_blocks_array_and_df_paths_agree(spark, fused, allowed):
    idf = _idf_map(fused, TERMS)
    expected = _reference_filtered_topk(fused, idf, set(allowed), k=10)
    via_arr = bm25.score_from_blocks(
        fused.blocks, idf, sorted(idf), k=10,
        allowed=np.array(allowed, dtype=np.int64),
    ).collect()
    allowed_df = spark.createDataFrame(
        [(int(d),) for d in allowed], "doc_id long"
    )
    via_df = bm25.score_from_blocks(
        fused.blocks, idf, sorted(idf), k=10, allowed=allowed_df
    ).collect()
    rank_identical(expected, [(r["doc_id"], r["score"]) for r in via_arr])
    rank_identical(expected, [(r["doc_id"], r["score"]) for r in via_df])


def test_filtered_require_all(fused, allowed):
    """AND semantics + filter: every returned doc contains every term AND
    passes the filter; scores match the unfiltered AND run."""
    idf = _idf_map(fused, TERMS)
    unfiltered = {
        r["doc_id"]: r["score"]
        for r in bm25.score_from_blocks(
            fused.blocks, idf, sorted(idf), k=100_000, require_all=True
        ).collect()
    }
    got = bm25.score_from_blocks(
        fused.blocks, idf, sorted(idf), k=10, require_all=True,
        allowed=np.array(allowed, dtype=np.int64),
    ).collect()
    expected = sorted(
        ((d, s) for d, s in unfiltered.items() if d in set(allowed)),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    rank_identical(expected, [(r["doc_id"], r["score"]) for r in got])


def test_broad_filter_composes_with_and_and_cursor(spark, fused, allowed):
    """A DataFrame (broad) filter moves the top-k cut behind its
    semi-join: combined with ``require_all=True``, with ``after=`` and
    with both, it equals filter-then-score over the whole ranking."""
    idf = _idf_map(fused, TERMS)
    allowed_df = spark.createDataFrame(
        [(int(d),) for d in allowed], "doc_id long"
    )
    keep = set(allowed)

    def ranked(**kw):
        return [
            (r["doc_id"], r["score"])
            for r in bm25.score_from_blocks(
                fused.blocks, idf, sorted(idf), **kw
            ).collect()
        ]

    for require_all in (False, True):
        full = [
            (d, s) for d, s in ranked(k=100_000, require_all=require_all)
            if d in keep
        ]
        assert len(full) > 12, require_all
        cursor = (full[4][1], full[4][0])
        for after, want in ((None, full[:10]), (cursor, full[5:15])):
            rank_identical(want, ranked(
                k=10, require_all=require_all, allowed=allowed_df,
                after=after,
            ))


def test_empty_filter_returns_empty(fused):
    idf = _idf_map(fused, TERMS)
    assert _kernel_topk(
        fused, idf, 10, allowed=np.array([], dtype=np.int64)
    ) == []
    assert bm25.score_from_blocks(
        fused.blocks, idf, sorted(idf), k=10,
        allowed=np.array([], dtype=np.int64),
    ).count() == 0


def test_block_metadata_pruning_drops_blocks(fused, allowed):
    """A one-doc filter must prune almost every block before decode: the
    kernels' block test keeps fewer blocks than the query hits."""
    one = np.array(allowed[:1], dtype=np.int64)
    idf = _idf_map(fused, TERMS)
    hit = fused.blocks.filter(
        F.col("term_id").isin(sorted(idf))
    ).select("first_doc_id", "last_doc_id").toPandas()
    total = len(hit)
    kept = int(bm25.blocks_containing(
        hit["first_doc_id"].values, hit["last_doc_id"].values, one
    ).sum())
    assert kept < total


def test_index_reader_search_where_end_to_end(
    spark, corpus, tmp_path, monkeypatch
):
    """Full serving path: build+publish via the catalog, then
    IndexReader.search(where=...) with both filter shapes (in-kernel
    bitset, distributed semi-join) against filter-then-score, on the
    driver-local route and the distributed one."""
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    docs = corpus.filter(F.col("doc_id") % 3 == 0)
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    build_index(spark, docs, cat, fingerprint="f1", n_build_partitions=2,
                analyzer="stop", id_col="doc_id")
    reader = IndexReader(spark, cat)
    where = "lang = 'en' AND n_chars >= 400"
    allowed_set = {
        r["doc_id"] for r in docs.filter(F.expr(where)).select("doc_id").collect()
    }
    q = " ".join(TERMS)
    for _ in on_both_routes(monkeypatch):
        full = reader.search(q, k=100_000).collect()
        expected = sorted(
            ((r["doc_id"], r["score"]) for r in full
             if r["doc_id"] in allowed_set),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        for kwargs in (
            {},                                   # in-kernel bitset
            {"max_driver_filter_docs": 0},        # force distributed semi-join
        ):
            got = reader.search(q, k=10, where=where, **kwargs).collect()
            rank_identical(expected, [(r["doc_id"], r["score"]) for r in got])
        # unindexed-filter sanity: a filter matching nothing yields no hits
        assert reader.search(q, k=10, where="n_chars < 0").count() == 0
    reader.close()


def test_filtered_prefix_fuzzy_phrase_end_to_end(
    spark, corpus, tmp_path, monkeypatch
):
    """The filter composes with EVERY query type: prefix, fuzzy, and
    phrase results under `where` equal the unfiltered run minus
    ineligible docs, on both IndexReader routes."""
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    docs = corpus.filter(F.col("doc_id") % 2 == 0)
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    build_index(spark, docs, cat, fingerprint="fpp", n_build_partitions=1,
                analyzer="stop", id_col="doc_id", positions=True)
    reader = IndexReader(spark, cat)
    where = "n_chars >= 400"
    allowed_set = {
        r["doc_id"]
        for r in docs.filter(F.expr(where)).select("doc_id").collect()
    }

    def expect(rows, key):
        kept = [
            tuple(r[c] for c in ("doc_id", key))
            for r in rows if r["doc_id"] in allowed_set
        ]
        kept.sort(key=lambda x: (-x[1], x[0]))
        return kept[:10]

    for _ in on_both_routes(monkeypatch):
        pfx = reader.search_prefix("sp", k=100_000).collect()
        got = reader.search_prefix("sp", k=10, where=where).collect()
        rank_identical(
            expect(pfx, "score"),
            [(r["doc_id"], r["score"]) for r in got],
        )

        fz = reader.search_fuzzy("spak", k=100_000, fuzziness=1).collect()
        got = reader.search_fuzzy(
            "spak", k=10, fuzziness=1, where=where
        ).collect()
        rank_identical(
            expect(fz, "score"),
            [(r["doc_id"], r["score"]) for r in got],
        )

        ph = reader.search_phrase("merge sort", k=100_000).collect()
        got = reader.search_phrase("merge sort", k=10, where=where).collect()
        exp = sorted(
            ((r["doc_id"], r["n_occurrences"]) for r in ph
             if r["doc_id"] in allowed_set),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        assert [(r["doc_id"], r["n_occurrences"]) for r in got] == exp
    reader.close()


def test_search_after_pages_partition_the_ranking(fused):
    """Cursor pagination: walking pages via after=(score, doc_id) must
    reproduce the single-query ranking exactly — no gaps, no repeats —
    and compose with a filter."""
    terms = ["merge", "query", "sort"]
    idf = _idf_map(fused, terms)
    full = bm25.score_from_blocks(fused.blocks, idf, sorted(idf), k=30).collect()
    pages, cursor = [], None
    for _ in range(3):
        page = bm25.score_from_blocks(
            fused.blocks, idf, sorted(idf), k=10, after=cursor
        ).collect()
        if not page:
            break
        pages.extend(page)
        cursor = (float(page[-1]["score"]), int(page[-1]["doc_id"]))
    assert [(r["doc_id"], r["score"]) for r in pages] == [
        (r["doc_id"], r["score"]) for r in full
    ]


def test_search_after_composes_with_filter(fused, allowed):
    terms = ["merge", "query", "sort"]
    idf = _idf_map(fused, terms)
    arr = np.asarray(allowed, dtype=np.int64)
    full = bm25.score_from_blocks(
        fused.blocks, idf, sorted(idf), k=20, allowed=arr
    ).collect()
    p1 = full[:10]
    cursor = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
    p2 = bm25.score_from_blocks(
        fused.blocks, idf, sorted(idf), k=10, allowed=arr, after=cursor
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in p2] == [
        (r["doc_id"], r["score"]) for r in full[10:20]
    ]


def test_rrf_fuse_known_values(spark):
    """RRF on two hand-built lists: scores are exactly sum 1/(60+rank);
    docs in both lists outrank docs in one."""
    from docs_indexer_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(2, 0.9), (4, 0.8), (1, 0.7)], "doc_id long, score double"
    )
    rows = {r["doc_id"]: r for r in rrf_fuse([a, b], k=10, c=60).collect()}
    assert rows[1]["n_lists"] == 2 and rows[4]["n_lists"] == 1
    assert abs(rows[1]["rrf_score"] - (1 / 61 + 1 / 63)) < 1e-12
    assert abs(rows[2]["rrf_score"] - (1 / 62 + 1 / 61)) < 1e-12
    assert abs(rows[4]["rrf_score"] - 1 / 62) < 1e-12
    order = [r["doc_id"] for r in sorted(
        rows.values(), key=lambda r: (-r["rrf_score"], r["doc_id"])
    )]
    assert order[:2] == [2, 1]  # both-list docs first


def test_search_hybrid_end_to_end(spark, corpus, tmp_path):
    """Hybrid serving: search_hybrid must equal rrf_fuse of the two arms
    computed independently, and `where` must reach BOTH arms."""
    from docs_indexer_spark.operators.similarity import (
        IvfIndex,
        ivf_centroids,
        rrf_fuse,
    )
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    docs = corpus.filter(F.col("doc_id") % 3 == 0)
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    build_index(spark, docs, cat, fingerprint="f1", n_build_partitions=2,
                analyzer="stop", id_col="doc_id")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IvfIndex.build(
        emb, ivf_centroids(64, 8, seed=7), str(tmp_path / "ivf")
    )
    reader = IndexReader(spark, cat)
    q, qv = " ".join(TERMS), [1.0] * 64
    got = [
        (r["doc_id"], r["n_lists"], round(r["rrf_score"], 9))
        for r in reader.search_hybrid(q, qv, idx, k=10, k_arm=15).collect()
    ]
    text = reader.search(q, k=15).select("doc_id", "score")
    vec = idx.topk(qv, k=15).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("score")
    )
    want = [
        (r["doc_id"], r["n_lists"], round(r["rrf_score"], 9))
        for r in rrf_fuse([text, vec], k=10).collect()
    ]
    assert got == want and got
    # filtered: every fused hit must satisfy the predicate in BOTH id
    # spaces (text hits come from the doc store, vector hits from the
    # allowed semi-join on the same doc_ids)
    where = "n_chars >= 400"
    ok = {
        r["doc_id"]
        for r in docs.filter(F.expr(where)).select("doc_id").collect()
    }
    hits = reader.search_hybrid(q, qv, idx, k=10, where=where).collect()
    assert hits and all(r["doc_id"] in ok for r in hits)
    reader.close()


def test_significant_terms_planted_lift(spark):
    """A term concentrated in the foreground must rank above uniformly
    spread terms; below-min_doc_count terms are excluded."""
    from docs_indexer_spark.operators.aggregations import significant_terms

    rows = []
    for i in range(40):
        words = ["common", "filler"]
        if i < 10:
            words.append("anomaly")      # only in fg docs
        if i in (0, 1):
            words.append("rare")         # fg but below min_doc_count
        rows.append((i, " ".join(words), "en" if i < 10 else "de"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["term"]: r for r in significant_terms(
        docs, "lang = 'en'", min_doc_count=3, k=10
    ).collect()}
    assert "anomaly" in out and out["anomaly"]["fg_df"] == 10
    assert "rare" not in out                      # min_doc_count
    assert "common" not in out and "filler" not in out  # no lift


def test_search_hybrid_accepts_ivfpq_index(spark, corpus, tmp_path):
    """The documented 'IvfPqIndex-or-IvfIndex' contract: hybrid serving
    must work with the PQ-codes index too, filtered and unfiltered."""
    import numpy as np

    from docs_indexer_spark.operators.similarity import (
        IvfPqIndex,
        ivf_centroids,
        pq_train,
    )
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    docs = corpus.filter(F.col("doc_id") % 3 == 0)
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    build_index(spark, docs, cat, fingerprint="f1", n_build_partitions=2,
                analyzer="stop", id_col="doc_id")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sample = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").limit(256).collect()],
        dtype=np.float64,
    )
    idx = IvfPqIndex.build(
        emb, ivf_centroids(64, 4, seed=7),
        pq_train(sample, m=8, ks=16, iters=2, seed=5),
        str(tmp_path / "ivfpq"),
    )
    reader = IndexReader(spark, cat)
    q, qv = " ".join(TERMS), [1.0] * 64
    hits = reader.search_hybrid(q, qv, idx, k=10, k_arm=15).collect()
    assert hits and all(r["rrf_score"] > 0 for r in hits)
    where = "n_chars >= 400"
    ok = {
        r["doc_id"]
        for r in docs.filter(F.expr(where)).select("doc_id").collect()
    }
    fhits = reader.search_hybrid(q, qv, idx, k=10, where=where).collect()
    assert fhits and all(r["doc_id"] in ok for r in fhits)
    reader.close()


def test_wand_split_overflow_guard_extreme_doc_ids(spark):
    """Doc ids at both ends of int64 in ONE bucket (a full-range
    xxhash64-style span, 2^64 wide): the per-bucket scorer and the
    driver-local kernel return every matching doc with equal answers,
    and a filter down to the two extreme ids returns exactly those two
    (block pruning and the bitset stay exact at the int64 edges)."""
    imin, imax = -(1 << 63), (1 << 63) - 1
    rows = [
        (imin + i, f"spark join window doc {i} alpha beta") for i in range(6)
    ] + [
        (imax - 5 + i, f"spark join window doc tail {i} gamma")
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fb = fused_build_blocks(
        docs, analyzer="stop", n_buckets=1, norm_dtype=np.float64
    )
    idf = _idf_map(fb, TERMS)
    dist = [
        (r["doc_id"], r["score"])
        for r in bm25.score_from_blocks(
            fb.blocks, idf, sorted(idf), k=20
        ).collect()
    ]
    assert sorted(d for d, _ in dist) == sorted(d for d, _ in rows)
    rank_identical(dist, _kernel_topk(fb, idf, 20), tol=1e-9)
    ends = [imin, imax - 1]
    arr = np.array(ends, dtype=np.int64)
    got = bm25.score_from_blocks(
        fb.blocks, idf, sorted(idf), k=20, allowed=arr
    ).collect()
    assert sorted(r["doc_id"] for r in got) == ends
    assert sorted(d for d, _ in _kernel_topk(fb, idf, 20, allowed=arr)) == ends


def test_filter_emptying_buckets_equals_filter_then_score(
    spark, positional_index, monkeypatch
):
    """A filter whose docs all sit in the first doc-range bucket leaves
    every other bucket without one eligible block: the kernel prunes
    those buckets to nothing and must still give filter-then-score for
    OR and AND."""
    from docs_indexer_spark.plans.query import IndexReader

    reader = IndexReader(spark, positional_index)
    where = "doc_id < 100"
    q = " ".join(TERMS)
    ids = sorted(reader._idf(TERMS))
    hit = reader.blocks.filter(F.col("term_id").isin(ids)).select(
        "bucket", "first_doc_id", "last_doc_id"
    ).toPandas()
    kept = bm25.blocks_containing(
        hit["first_doc_id"].values, hit["last_doc_id"].values,
        np.arange(100, dtype=np.int64),
    )
    emptied = set(hit["bucket"]) - set(hit["bucket"][kept])
    assert len(emptied) >= 2, "the filter must empty whole buckets"

    def expect(rows):
        return sorted(
            ((r["doc_id"], r["score"]) for r in rows if r["doc_id"] < 100),
            key=lambda x: (-x[1], x[0]),
        )[:10]

    for _ in on_both_routes(monkeypatch):
        want = expect(reader.search(q, k=100_000).collect())
        assert want
        got = reader.search(q, k=10, where=where).collect()
        rank_identical(want, [(r["doc_id"], r["score"]) for r in got])
        want_and = expect(
            reader.search(q, k=100_000, operator="and").collect()
        )
        assert want_and
        got = reader.search(q, k=10, where=where, operator="and").collect()
        rank_identical(want_and, [(r["doc_id"], r["score"]) for r in got])
    reader.close()


def _record_broadcasts(monkeypatch):
    """Record every broadcast created and every one released (unpersisted
    or destroyed) from here on: ``(created, released)``, ``released``
    mapping ``id(bc)`` → ``"unpersist"`` / ``"destroy"``."""
    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast

    created, released = [], {}
    real = SparkContext.broadcast

    def recording(self, value):
        bc = real(self, value)
        created.append(bc)
        return bc

    def releasing(how):
        orig = getattr(Broadcast, how)

        def release(self, blocking=False):
            released.setdefault(id(self), how)
            return orig(self, blocking)

        return release

    monkeypatch.setattr(SparkContext, "broadcast", recording)
    monkeypatch.setattr(Broadcast, "unpersist", releasing("unpersist"))
    monkeypatch.setattr(Broadcast, "destroy", releasing("destroy"))
    return created, released


def test_filter_memo_bounds_and_releases_broadcasts(
    spark, positional_index, monkeypatch, distributed_route
):
    """Resolved string filters are memoized per reader in a bounded LRU:
    3× the bound of distinct filters leave at most the bound of live
    (unreleased) broadcasts, an evicted one is unpersisted but not
    destroyed (a query built before the eviction may still hold it), a
    repeated filter reuses its broadcast without a Spark job, and close()
    destroys every memoized one."""
    from docs_indexer_spark.plans.query import FILTER_MEMO_SIZE, IndexReader

    created, released = _record_broadcasts(monkeypatch)

    def live():
        return sum(id(bc) not in released for bc in created)

    reader = IndexReader(spark, positional_index)
    wheres = [f"n_chars >= {i}" for i in range(3 * FILTER_MEMO_SIZE)]
    for w in wheres:
        reader._filter_arg(w)
        assert live() <= FILTER_MEMO_SIZE
    assert len(created) == len(wheres) and live() == FILTER_MEMO_SIZE
    evicted = created[: -FILTER_MEMO_SIZE]
    assert all(released.get(id(bc)) == "unpersist" for bc in evicted)
    assert all(bc._jbroadcast.isValid() for bc in evicted)

    sc = spark.sparkContext
    sc.setJobGroup("filter-memo-hit", "memoized filter")
    try:
        again = reader._filter_arg(wheres[-1])
    finally:
        sc.setJobGroup("", "")
    assert again is created[-1] and len(created) == len(wheres)
    assert sc.statusTracker().getJobIdsForGroup("filter-memo-hit") == []

    reader.close()
    assert live() == 0
    assert not any(
        bc._jbroadcast.isValid() for bc in created[-FILTER_MEMO_SIZE:]
    )


def test_query_built_before_its_filter_is_evicted_still_runs(
    spark, positional_index, distributed_route
):
    """search() returns a lazy DataFrame whose kernel closure holds the
    memoized filter broadcast.  Evicting that filter (another client of
    the same reader resolving FILTER_MEMO_SIZE new filters) before the
    query runs must not break it: the query still returns its
    filter-then-score answer on every scorer route."""
    from docs_indexer_spark.plans.query import FILTER_MEMO_SIZE, IndexReader

    reader = IndexReader(spark, positional_index)
    where = "n_chars >= 400"
    q = " ".join(TERMS)
    routes = ({}, {"operator": "and"})
    want = [
        [(r["doc_id"], r["score"])
         for r in reader.search(q, k=10, where=where, **kw).collect()]
        for kw in routes
    ]
    assert all(want)
    reader.close()

    reader = IndexReader(spark, positional_index)
    pending = [reader.search(q, k=10, where=where, **kw) for kw in routes]
    for i in range(FILTER_MEMO_SIZE):
        reader._filter_arg(f"n_chars >= {500 + i}")
    assert where not in reader._filters
    for w, df in zip(want, pending):
        rank_identical(w, [(r["doc_id"], r["score"]) for r in df.collect()])
    reader.close()


def test_filter_memo_under_concurrent_queries(
    spark, serving_docs, positional_index, monkeypatch, distributed_route
):
    """One reader serves concurrent queries: threads resolving an
    overlapping set of 1.5× the memo bound of filters (so inserts race,
    repeat and evict) each get their filter's exact doc set, and
    afterwards exactly the memoized broadcasts are unreleased, every
    evicted one unpersisted and none of them destroyed — a lost update
    would leak one or release one still memoized."""
    import sys
    import threading

    from pyspark.broadcast import Broadcast

    from docs_indexer_spark.plans.query import FILTER_MEMO_SIZE, IndexReader

    created, released = _record_broadcasts(monkeypatch)
    rows = serving_docs.select("doc_id", "n_chars").collect()
    bounds = [300 + 20 * i for i in range(FILTER_MEMO_SIZE * 3 // 2)]
    want = {
        b: sorted(r["doc_id"] for r in rows if r["n_chars"] >= b)
        for b in bounds
    }
    reader = IndexReader(spark, positional_index)
    errors = []
    handed_out = set()

    def client(t):
        try:
            for j in range(6):
                b = bounds[(t * 5 + j * 7) % len(bounds)]
                got = reader._filter_arg(f"n_chars >= {b}")
                if isinstance(got, Broadcast):
                    handed_out.add(id(got))
                    ids = got.value
                else:
                    ids = got
                if list(ids) != want[b]:
                    errors.append((b, len(ids), len(want[b])))
        except Exception as e:  # surfaced by the assertion below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert len(reader._filters) <= FILTER_MEMO_SIZE
    memo = {id(bc) for _, bc in reader._filters.values()}
    live = {id(bc) for bc in created if id(bc) not in released}
    assert live == memo
    # a broadcast some query holds is never destroyed while the reader
    # is open; only a duplicate that lost the insert race (never handed
    # out) is
    assert not {
        i for i, how in released.items() if how == "destroy"
    } & handed_out
    reader.close()
    assert all(id(bc) in released for bc in created)
