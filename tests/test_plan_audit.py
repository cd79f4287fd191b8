"""Physical-plan regression gates: the plans that make this engine scale
must KEEP their shape — pushed-down scans, no cartesian joins, top-k
without a global sort, broadcast where the small side is provably small.
These are the `.explain("formatted")` properties a 100-TB deployment
depends on; a silent optimizer-shape regression should fail CI, not a
cluster."""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_blocks_scan_prunes_terms(spark, tmp_path):
    """term_id IN (...) must reach the parquet scan of a published block
    index (row-group pruning via min/max stats is what makes per-query
    decode O(query terms), not O(index))."""
    from docs_indexer_spark.operators import spimi
    from docs_indexer_spark.operators.fused import fused_build_blocks

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    fb = fused_build_blocks(docs, analyzer="stop", n_buckets=4)
    path = str(tmp_path / "blocks")
    spimi.write_blocks(fb.blocks, path)
    scan = spark.read.parquet(path).filter(F.col("term_id").isin([1, 2, 3]))
    plan = _plan(scan)
    assert "PushedFilters" in plan and "In(term_id" in plan


def _final_plan(df) -> list[str]:
    """Lines of an EXECUTED adaptive plan's final plan."""
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0].splitlines()


def _subtree(lines: list[str], node: str) -> list[str]:
    """The lines strictly below the first ``node`` line of a plan tree."""
    i = next(j for j, line in enumerate(lines) if node in line)
    depth = len(lines[i]) - len(lines[i].lstrip(" +-:"))
    out = []
    for line in lines[i + 1:]:
        if len(line) - len(line.lstrip(" +-:")) <= depth:
            break
        out.append(line)
    return out


_JOIN_KEYS = re.compile(r"(?:HashJoin|SortMergeJoin)\s*\[([^\]]*)\]")


@pytest.mark.parametrize("positions", [False, True], ids=["tf", "positions"])
def test_build_plans_have_one_posting_exchange(
    spark, tmp_path, monkeypatch, positions
):
    """Build shape gate for ``build_index``.  Stage 1 (per slice): the
    dictionary joins by broadcast on the raw-form hash — no collect_list
    aggregate and no doc_id-keyed join of postings.  Stage 2: the encode
    moves posting-sized rows through exactly ONE exchange,
    hashpartitioning(term_id, bucket), ahead of the kernel."""
    from docs_indexer_spark.operators import spimi
    from docs_indexer_spark.plans import build_index as plan
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    captured = {}

    def capture(name, fn):
        def wrapped(*a, **kw):
            captured[name] = out = fn(*a, **kw)
            return out
        return wrapped

    monkeypatch.setattr(
        plan, "token_relations", capture("rel", plan.token_relations)
    )
    monkeypatch.setattr(
        spimi, "build_blocks", capture("blocks", spimi.build_blocks)
    )
    # keep the staged rows readable so the captured encode can re-run
    monkeypatch.setattr(SnapshotCatalog, "cleanup_build", lambda self, b: None)
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    plan.build_index(
        spark, docs, SnapshotCatalog(str(tmp_path / "wh")), "fp-shape",
        id_col="doc_id", n_build_partitions=2, n_buckets=4,
        analyzer="stop", positions=positions,
    )

    rows = captured["rel"].rows
    rows.collect()
    stage1 = _final_plan(rows)
    assert not any("collect_list" in line for line in stage1)
    joins = [m.group(1) for line in stage1 for m in _JOIN_KEYS.finditer(line)]
    assert joins and all("doc_id" not in keys for keys in joins), joins
    assert any("BroadcastHashJoin" in line for line in stage1)

    blocks = captured["blocks"]
    blocks.collect()
    below_kernel = _subtree(_final_plan(blocks), "MapInArrow")
    exchanges = [line for line in below_kernel if "Exchange" in line]
    assert len(exchanges) == 1, exchanges
    assert re.search(
        r"Exchange hashpartitioning\(term_id#\d+L?, bucket#\d+, \d+\)",
        exchanges[0],
    ), exchanges


def test_simhash_plan_has_no_cartesian_join(spark):
    plan = _plan(E.queries()["simhash_near_dups"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_pairs_plan_has_no_cartesian_join(spark):
    plan = _plan(E.queries()["minhash_lsh_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_topk_uses_heap_not_global_sort(spark):
    plan = _plan(E.queries()["bm25_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_join_default_broadcasts_small_dims(spark):
    plan = _plan(E.queries()["join_default"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_keyword_filter_pushes_down(spark):
    plan = _plan(E.queries()["keyword_filter_facet"](spark, SF))
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan.replace(" ", "").replace("'", "")


# Cross-join whitelist: plans where a BroadcastNestedLoopJoin is BOUNDED
# BY CONSTRUCTION, with the bound.  Anything else sweeping in a nested-
# loop or cartesian join fails CI before it fails a cluster.
_BNLJ_WHITELIST = {
    # sliced exact-math parity probes (oracle twins of candidate-driven
    # production operators): inputs hard-capped in the query text
    "ngram_jaccard_pairs",     # doc_id < 60 slice, all-pairs verify probe
    "embedding_pair_cosine",   # vec_id < 80 slice, all-pairs cosine probe
    # phrase-suggester assembly: crossJoins are per-term candidate BEAMS
    # (≤ num_candidates=5 rows each) and the 1-row corpus-stats relation
    "suggest_correction",
}


def test_every_entry_plan_is_cartesian_free(spark):
    """Sweep ALL queries() plans: no CartesianProduct anywhere; a
    BroadcastNestedLoopJoin only in the whitelisted bounded probes — a
    future edit that unbounds a slice or drops a join key fails here."""
    queries = E.queries()
    offenders = {}
    for name, fn in sorted(queries.items()):
        plan = _plan(fn(spark, SF))
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_WHITELIST:
            flags.append("BroadcastNestedLoopJoin")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_parity_probes_stay_sliced(spark):
    """The whitelisted all-pairs probes must keep their input slices: the
    bound is what makes the BNLJ acceptable."""
    import inspect

    src_jac = inspect.getsource(E.q_ngram_jaccard_pairs)
    src_cos = inspect.getsource(E.q_embedding_pair_cosine)
    assert "doc_id" in src_jac and "< 60" in src_jac.replace("<60", "< 60")
    assert "vec_id" in src_cos and "< 80" in src_cos.replace("<80", "< 80")


# physical nodes that run Python (a pandas/Arrow UDF stage or a row UDF)
_PYTHON_NODES = re.compile(
    r"\b(FlatMapGroupsInPandas|FlatMapGroupsInArrow|MapInPandas|MapInArrow"
    r"|ArrowEvalPython|BatchEvalPython)\b"
)


def _executed_python_nodes(df) -> list[str]:
    """Python nodes of an EXECUTED adaptive plan (its final plan only)."""
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    return _PYTHON_NODES.findall(plan.split("== Initial Plan ==")[0])


def test_serving_runs_one_python_stage_per_query(
    spark, positional_index, phrase_pairs, distributed_route
):
    """Serving cost gate: every Python stage pays a fixed per-task worker
    start-up (docs/DESIGN.md "Serving cost model"), so each IndexReader
    query kind must run its scoring kernel as its ONLY Python node, and
    — once a warm-up query has cached the reader's per-generation state
    and filter — building the query must start no Spark job.  This is
    the distributed route's gate; the small test index would otherwise
    take the driver-local route (test_small_queries_start_no_spark_job).
    Every kind but WAND runs the driver-local route's own kernel once
    per bucket, so no plan may shuffle rows by doc_id."""
    from docs_indexer_spark.plans.query import IndexReader

    reader = IndexReader(spark, positional_index)
    where = "lang = 'de'"
    kinds = {
        "bm25": lambda: reader.search("spark join window", k=10),
        "exact": lambda: reader.search(
            "spark join window", k=10, exact=True
        ),
        "and": lambda: reader.search("spark join", k=10, operator="and"),
        "phrase": lambda: reader.search_phrase(
            " ".join(phrase_pairs["dense"]), k=10
        ),
        "phrase_rare_lead": lambda: reader.search_phrase(
            " ".join(phrase_pairs["rare_lead"]), k=10
        ),
        "fuzzy": lambda: reader.search_fuzzy("winodw", k=10),
        "filtered": lambda: reader.search(
            "spark join window", k=10, where=where
        ),
    }
    for run in kinds.values():
        assert run().collect()
    sc = spark.sparkContext
    nodes = {}
    doc_exchanges = {}
    for name, run in kinds.items():
        group = f"plan-shape-{name}"
        sc.setJobGroup(group, name)
        try:
            df = run()
        finally:
            sc.setJobGroup("", "")
        assert sc.statusTracker().getJobIdsForGroup(group) == [], name
        df.collect()
        nodes[name] = _executed_python_nodes(df)
        doc_exchanges[name] = re.findall(
            r"Exchange hashpartitioning\(doc_id", _plan(df)
        )
    assert all(len(v) == 1 for v in nodes.values()), nodes
    assert not any(doc_exchanges.values()), doc_exchanges
    # one per-bucket kernel per kind; both phrase cases are covered: the
    # dense pair keeps every block, the rare-lead pair prunes the head
    # term's blocks by the rare term's docs inside the same kernel
    for name in ("exact", "and", "fuzzy", "phrase", "phrase_rare_lead"):
        assert nodes[name] == ["FlatMapGroupsInArrow"], nodes
    reader.close()


def test_small_queries_start_no_spark_job(
    spark, positional_index, phrase_pairs
):
    """Driver-local route gate: once a warm-up query has cached the
    reader's per-generation state and filter, a query of every kind
    whose hit blocks are below the crossover starts NO Spark job, from
    building its DataFrame through collecting it — and neither do the
    empty answers of an AND or a phrase with an unindexed term."""
    from docs_indexer_spark.plans.query import IndexReader

    reader = IndexReader(spark, positional_index)
    where = "lang = 'de'"
    last = reader.search("spark join window", k=3).collect()[-1]
    kinds = {
        "bm25": lambda: reader.search("spark join window", k=10),
        "exact": lambda: reader.search("spark join", k=10, exact=True),
        "and": lambda: reader.search("spark join", k=10, operator="and"),
        "search_after": lambda: reader.search(
            "spark join window", k=10,
            search_after=(last["score"], last["doc_id"]),
        ),
        "phrase": lambda: reader.search_phrase(
            " ".join(phrase_pairs["dense"]), k=10
        ),
        "fuzzy": lambda: reader.search_fuzzy("winodw", k=10),
        "filtered": lambda: reader.search(
            "spark join window", k=10, where=where
        ),
        "and_unindexed": lambda: reader.search(
            "spark zzzunindexed", k=10, operator="and"
        ),
        "phrase_unindexed": lambda: reader.search_phrase(
            "spark zzzunindexed", k=10
        ),
    }
    for run in kinds.values():
        run().collect()
    sc = spark.sparkContext
    started = {}
    for name, run in kinds.items():
        group = f"local-route-{name}"
        sc.setJobGroup(group, name)
        try:
            rows = run().collect()
        finally:
            sc.setJobGroup("", "")
        assert bool(rows) == ("unindexed" not in name), name
        started[name] = sc.statusTracker().getJobIdsForGroup(group)
    assert all(v == [] for v in started.values()), started
    reader.close()


def test_local_route_makes_no_jvm_round_trip(
    spark, positional_index, phrase_pairs, monkeypatch
):
    """Route-aware gate: on the driver-local route a query's search plus
    ``collect()`` builds no Spark relation and collects nothing through
    the JVM — no ``createDataFrame``, no ``spark.read``, no
    ``collectToPython`` (the classic ``DataFrame.collect``) — and starts
    0 jobs, from the manifest-pruned file list to the result rows.  The
    distributed route of the same query still runs its Python kernel
    (test_serving_runs_one_python_stage_per_query)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from docs_indexer_spark.plans import query
    from docs_indexer_spark.plans.query import IndexReader

    reader = IndexReader(spark, positional_index)
    where = "lang = 'de'"
    kinds = {
        "bm25": lambda: reader.search("spark join window", k=10),
        "exact": lambda: reader.search("spark join", k=10, exact=True),
        "and": lambda: reader.search("spark join", k=10, operator="and"),
        "phrase": lambda: reader.search_phrase(
            " ".join(phrase_pairs["dense"]), k=10
        ),
        "fuzzy": lambda: reader.search_fuzzy("winodw", k=10),
        "filtered": lambda: reader.search(
            "spark join window", k=10, where=where
        ),
        "and_unindexed": lambda: reader.search(
            "spark zzzunindexed", k=10, operator="and"
        ),
    }
    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 10**9)
    want = {name: run().collect() for name, run in kinds.items()}
    calls = []
    session = type(spark)
    create, read, collect = (
        session.createDataFrame, session.read, DataFrame.collect
    )

    def spy(name, fn):
        def wrapped(*a, **kw):
            calls.append(name)
            return fn(*a, **kw)
        return wrapped

    monkeypatch.setattr(session, "createDataFrame", spy("createDataFrame", create))
    monkeypatch.setattr(
        session, "read", property(spy("spark.read", read.fget))
    )
    monkeypatch.setattr(DataFrame, "collect", spy("collectToPython", collect))
    sc = spark.sparkContext
    started = {}
    for name, run in kinds.items():
        group = f"local-jvm-{name}"
        sc.setJobGroup(group, name)
        try:
            rows = run().collect()
        finally:
            sc.setJobGroup("", "")
        started[name] = sc.statusTracker().getJobIdsForGroup(group)
        assert rows == want[name], name
        assert bool(rows) == ("unindexed" not in name), name
    assert calls == [], calls
    assert all(v == [] for v in started.values()), started
    # the spies see the JVM path: a distributed query trips them
    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", 0)
    assert reader.search("spark join", k=10, exact=True).collect()
    assert "spark.read" in calls and "collectToPython" in calls
    reader.close()
