import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from docs_indexer_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="docs-indexer-spark-tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        shuffle_partitions=8,
    )
    yield spark


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# IndexReader's two routes, as the LOCAL_MAX_BLOCKS value that sends
# every query down each: the small test indexes are all below the real
# crossover, so without forcing the distributed route no reader test
# would run it
ROUTES = {"distributed": 0, "local": 10**9}


def on_both_routes(monkeypatch):
    """Iterate once per IndexReader route, with ``LOCAL_MAX_BLOCKS``
    forcing every query onto it; yields the route's name."""
    from docs_indexer_spark.plans import query

    for name, cap in ROUTES.items():
        monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", cap)
        yield name


@pytest.fixture
def distributed_route(monkeypatch):
    """Force every IndexReader query onto the distributed route."""
    from docs_indexer_spark.plans import query

    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", ROUTES["distributed"])


def rank_identical(expected, actual, tol=1e-6):
    """Compare two [(doc_id, score)] top-k lists under the pinned tie-break,
    treating docs whose scores differ by < tol as interchangeable within a
    tie group (float sum order across engines is not defined)."""
    assert len(expected) == len(actual), (expected, actual)
    for (ed, es), (ad, asc) in zip(expected, actual):
        assert abs(es - asc) <= tol * max(1.0, abs(es)), (expected, actual)
    # doc ids must match except within score-tie groups
    i = 0
    n = len(expected)
    while i < n:
        j = i + 1
        while j < n and abs(expected[j][1] - expected[i][1]) <= tol * max(
            1.0, abs(expected[i][1])
        ):
            j += 1
        assert {d for d, _ in expected[i:j]} == {d for d, _ in actual[i:j]}, (
            expected,
            actual,
        )
        i = j


# two documents that put a rare word next to frequent corpus terms, so
# phrase rarest-lead pruning has a term rare enough to engage on
RARE_LEAD_DOCS = [
    (500, "merge quokka sort and window", "de", "web", 28),
    (501, "the quokka merge window join", "en", "web", 28),
]


@pytest.fixture(scope="session")
def serving_docs(spark, documents):
    """The 500 test documents plus :data:`RARE_LEAD_DOCS`."""
    return documents.unionByName(
        spark.createDataFrame(RARE_LEAD_DOCS, documents.schema)
    )


@pytest.fixture(scope="session")
def positional_index(spark, serving_docs, tmp_path_factory):
    """A published positional index (stop analyzer, 4 doc-range buckets)
    over :func:`serving_docs` — the serving-path fixture shared by the
    phrase, filter and plan-shape tests.  Returns its catalog."""
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path_factory.mktemp("wh_pos") / "wh"))
    build_index(
        spark, serving_docs, cat, fingerprint="fp-pos", id_col="doc_id",
        n_build_partitions=1, n_buckets=4, analyzer="stop", positions=True,
    )
    return cat


@pytest.fixture(scope="session")
def phrase_pairs(serving_docs):
    """Two adjacent term pairs of :func:`serving_docs` under the stop
    analyzer, as ``{"rare_lead": (a, b), "dense": (a, b)}`` in document
    order: in ``rare_lead`` the rarer term is rare enough for phrase
    rarest-lead pruning to engage (df_rare · BLOCK_SIZE ≤ df_head), in
    ``dense`` it is not."""
    from collections import Counter

    from docs_indexer_spark.config import BLOCK_SIZE
    from docs_indexer_spark.operators.phrase import token_positions

    rows = token_positions(serving_docs, analyzer="stop").select(
        "term", "doc_id", "positions"
    ).collect()
    df = Counter(r["term"] for r in rows)
    by_doc = {}
    for r in rows:
        if r["term"].isalpha():
            by_doc.setdefault(r["doc_id"], {})[r["term"]] = set(r["positions"])
    pairs = set()
    for terms in by_doc.values():
        for a, pa in terms.items():
            for b, pb in terms.items():
                if a != b and any(p + 1 in pb for p in pa):
                    pairs.add((a, b))

    def ratio_ok(p):
        lo, hi = sorted(df[t] for t in p)
        return lo * BLOCK_SIZE <= hi

    def key(p):  # most frequent head first, then the rarest partner
        return (-max(df[t] for t in p), min(df[t] for t in p), p)

    rare = sorted((p for p in pairs if ratio_ok(p)), key=key)
    dense = sorted((p for p in pairs if not ratio_ok(p)), key=key)
    assert rare and dense, "fixture corpus must hold both pair shapes"
    return {"rare_lead": rare[0], "dense": dense[0]}
