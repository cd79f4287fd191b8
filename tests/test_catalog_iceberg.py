"""Iceberg-semantics catalog features (round-2 verdict "missing #2"):
optimistic-concurrency commits, manifest-level file pruning, incremental
snapshot scans.  All parquet/JSON-backed — the interface swaps to real
Iceberg (commit retries, manifests, incremental reads) unchanged."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from docs_indexer_spark.sources.catalog import CommitConflictError, SnapshotCatalog
from tests.conftest import ROUTES, on_both_routes, rank_identical


def test_optimistic_commit_conflict(tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    g1, _ = cat.stage_generation("t", "fp1")
    cat.publish("t", g1, "fp1", expected_fingerprint=None)

    # two writers both based on fp1
    g2, _ = cat.stage_generation("t", "fp2")
    g3, _ = cat.stage_generation("t", "fp3")
    cat.publish("t", g2, "fp2", expected_fingerprint="fp1")
    with pytest.raises(CommitConflictError):
        cat.publish("t", g3, "fp3", expected_fingerprint="fp1")
    # rebase on the new state → commit succeeds
    cat.publish("t", g3, "fp3", expected_fingerprint="fp2")
    assert cat.current_generation("t")["fingerprint"] == "fp3"
    # unconditional publish (no expected) never conflicts
    g4, _ = cat.stage_generation("t", "fp4")
    cat.publish("t", g4, "fp4")


@pytest.fixture(scope="module")
def published_index(spark, tmp_path_factory):
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cat = SnapshotCatalog(str(tmp_path_factory.mktemp("wh_manifest")))
    build_index(spark, docs, cat, fingerprint="fp-m", id_col="doc_id",
                n_build_partitions=2)
    return cat, IndexReader(spark, cat)


def test_manifest_written_and_prunes_files(spark, published_index):
    cat, reader = published_index
    blocks_dir = os.path.join(cat.generation_path("index"), "blocks.parquet")
    with open(os.path.join(blocks_dir, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert manifest["key"] == "term_id"
    n_files = len(manifest["files"])
    assert n_files > 1, "fixture must produce several block files"
    assert all(e["min"] is not None for e in manifest["files"])

    # one mid-frequency term: pruned read must touch fewer files and
    # return the same rows as the full read + filter
    tid = int(reader.df_stats.orderBy("df", "term_id").collect()[5]["term_id"])
    pruned = cat.read_pruned(spark, "index", "blocks.parquet", "term_id", [tid])
    full = cat.read(spark, "index", "blocks.parquet")
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = sorted(
        (r["term_id"], r["bucket"], r["block_seq"])
        for r in full.filter(F.col("term_id") == tid).collect()
    )
    got = sorted(
        (r["term_id"], r["bucket"], r["block_seq"])
        for r in pruned.filter(F.col("term_id") == tid).collect()
    )
    assert got == want and got


def test_manifest_pruned_search_matches_full(spark, published_index):
    """End-to-end: IndexReader.search routes through _blocks_for (manifest
    pruning) — results must equal scoring over the unpruned relation."""
    from docs_indexer_spark.operators import bm25

    cat, reader = published_index
    query = "spark join window"
    got = [(r["doc_id"], round(r["score"], 9))
           for r in reader.search(query, k=10, exact=True).collect()]
    idf = reader._idf(sorted(set(query.split())))
    full = bm25.score_from_blocks(
        cat.read(spark, "index", "blocks.parquet"), idf, sorted(idf), k=10
    )
    want = [(r["doc_id"], round(r["score"], 9)) for r in full.collect()]
    assert got == want and got


def _manifest(cat) -> dict:
    blocks_dir = os.path.join(cat.generation_path("index"), "blocks.parquet")
    with open(os.path.join(blocks_dir, "_MANIFEST.json")) as f:
        return json.load(f)


def test_manifest_ranges_are_disjoint(published_index):
    """spimi.write_blocks range-partitions by term_id: the block files'
    [min, max] ranges never overlap, and the generation's metrics record
    the layout the manifest describes."""
    cat, _ = published_index
    files = _manifest(cat)["files"]
    spans = sorted((e["min"], e["max"]) for e in files)
    assert all(lo <= hi for lo, hi in spans)
    assert all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]))
    metrics = cat.current_generation("index")["metrics"]
    rows = [e["rows"] for e in files]
    assert metrics["block_files"] == len(files)
    assert metrics["block_rows_max_over_mean"] == pytest.approx(
        max(rows) * len(rows) / sum(rows)
    )


def test_read_pruned_keeps_one_file_per_term(spark, published_index):
    """Every indexed term lies in exactly one file's manifest range, and
    the pruned read of one term keeps exactly that file (checked through
    read_pruned_at on every file's boundary terms)."""
    cat, reader = published_index
    files = _manifest(cat)["files"]
    lo = np.array([e["min"] for e in files])
    hi = np.array([e["max"] for e in files])
    ids = reader._term_ids
    covering = ((ids[:, None] >= lo) & (ids[:, None] <= hi)).sum(axis=1)
    assert (covering == 1).all()
    gen = cat.generation_path("index")
    for e in files:
        for tid in {e["min"], e["max"]}:
            kept = SnapshotCatalog.read_pruned_at(
                spark, gen, "blocks.parquet", "term_id", [tid]
            ).inputFiles()
            assert [os.path.basename(f) for f in kept] == [e["file"]]


def test_local_search_reads_a_file_per_query_term(spark, published_index,
                                                   monkeypatch):
    """A k-term search on the driver-local route reads at most k block
    files: the file list comes from the manifest-pruned relation."""
    from docs_indexer_spark.plans import query

    cat, reader = published_index
    read_pruned_at = SnapshotCatalog.read_pruned_at
    kept = []

    def spy(*args, **kwargs):
        df = read_pruned_at(*args, **kwargs)
        kept.append(len(df.inputFiles()))
        return df

    monkeypatch.setattr(SnapshotCatalog, "read_pruned_at", staticmethod(spy))
    monkeypatch.setattr(query, "LOCAL_MAX_BLOCKS", ROUTES["local"])
    for q in ("spark", "spark join", "spark join window"):
        k = len(reader._idf(q.split()))
        kept.clear()
        assert reader.search(q, k=10).collect()
        assert kept and max(kept) <= k, (q, kept)


def test_pruned_input_files_equal_sparks(spark, published_index, tmp_path):
    """The pruned relation answers ``inputFiles()`` from the manifest with
    the URIs Spark itself reports for the kept files (also under a path
    that needs URI quoting), and builds the same relation on first use."""
    from pyspark.sql.classic.dataframe import DataFrame

    from docs_indexer_spark.plans.query import _local_path
    from docs_indexer_spark.session import LazyFrame

    cat, reader = published_index
    odd = tmp_path / "a b" / "ü%x#y"
    shutil.copytree(cat.generation_path("index"), odd)
    tids = [int(t) for t in reader._term_ids[[0, 5, -1]]]
    for gen in (cat.generation_path("index"), str(odd)):
        for values in ([tids[0]], tids, [123456789]):
            df = SnapshotCatalog.read_pruned_at(
                spark, gen, "blocks.parquet", "term_id", values
            )
            assert isinstance(df, LazyFrame)
            files = df.inputFiles()
            assert files and all(
                os.path.exists(_local_path(f)) for f in files
            )
            own = spark.read.parquet(*map(_local_path, files)).inputFiles()
            assert sorted(files) == sorted(own)
            assert sorted(DataFrame.inputFiles(df)) == sorted(files)
            want = spark.read.parquet(
                os.path.join(gen, "blocks.parquet")
            ).filter(F.col("term_id").isin(values))
            assert sorted(df.filter(F.col("term_id").isin(values)).collect()) \
                == sorted(want.collect())


def test_read_pruned_fallbacks_return_the_full_relation(
    spark, published_index, tmp_path
):
    """No values, a missing manifest, a manifest of another key and a
    file without stats each read the whole dataset, as a plain Spark
    relation."""
    from docs_indexer_spark.session import LazyFrame

    cat, reader = published_index
    gen = str(tmp_path / "gen")
    shutil.copytree(cat.generation_path("index"), gen)
    root = os.path.join(gen, "blocks.parquet")
    mpath = os.path.join(root, "_MANIFEST.json")
    with open(mpath) as f:
        manifest = json.load(f)
    full = sorted(spark.read.parquet(root).inputFiles())
    tid = int(reader._term_ids[0])

    def read(values=(tid,)):
        return SnapshotCatalog.read_pruned_at(
            spark, gen, "blocks.parquet", "term_id", list(values)
        )

    def check(df):
        assert not isinstance(df, LazyFrame)
        assert sorted(df.inputFiles()) == full

    assert len(read().inputFiles()) < len(full)
    check(read(()))
    for edit in (
        lambda m: {**m, "key": "bucket"},
        lambda m: {**m, "files": [{**m["files"][0], "min": None}]
                   + m["files"][1:]},
    ):
        with open(mpath, "w") as f:
            json.dump(edit(manifest), f)
        check(read())
    os.remove(mpath)
    check(read())


@pytest.fixture(scope="module")
def hash_layout(spark, positional_index, tmp_path_factory):
    """A copy of the positional serving index whose blocks are rewritten
    in the earlier hash layout (term_ids hashed across 32 files), as a
    generation published before range partitioning would have them."""
    from docs_indexer_spark.plans.query import IndexReader

    root = str(tmp_path_factory.mktemp("wh_hash") / "wh")
    shutil.copytree(positional_index.root, root)
    cat = SnapshotCatalog(root)
    path = os.path.join(cat.generation_path("index"), "blocks.parquet")
    (
        spark.read.parquet(path).repartition(32, "term_id")
        .sortWithinPartitions("term_id", "bucket", "block_seq")
        .write.parquet(path + ".hash")
    )
    shutil.rmtree(path)
    os.rename(path + ".hash", path)
    SnapshotCatalog.write_manifest(path, "term_id")
    reader = IndexReader(spark, cat)
    yield cat, reader
    reader.close()


def test_hash_layout_generation_serves_identically(
    spark, positional_index, hash_layout, phrase_pairs, monkeypatch
):
    """A generation written with the old hash layout still answers every
    kind exactly like the range-clustered one, on both routes; only its
    pruning keeps more files."""
    from docs_indexer_spark.plans.query import IndexReader

    hash_cat, old = hash_layout
    spans = sorted((e["min"], e["max"]) for e in _manifest(hash_cat)["files"])
    assert any(a_hi >= b_lo for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]))
    new = IndexReader(spark, positional_index)
    phrase = " ".join(phrase_pairs["dense"])
    scored = [
        lambda r: r.search("spark join window", k=10),
        lambda r: r.search("spark join window", k=10, exact=True),
        lambda r: r.search("spark join", k=10, operator="and"),
        lambda r: r.search("spark window", k=10, where="lang = 'en'"),
        lambda r: r.search_fuzzy("sprak", k=10),
    ]
    try:
        for route in on_both_routes(monkeypatch):
            for run in scored:
                want = [(x["doc_id"], x["score"]) for x in run(new).collect()]
                got = [(x["doc_id"], x["score"]) for x in run(old).collect()]
                assert want, route
                rank_identical(want, got, tol=1e-9)
            want = new.search_phrase(phrase, k=10).collect()
            got = old.search_phrase(phrase, k=10).collect()
            assert want and [tuple(x) for x in got] == [tuple(x) for x in want]
    finally:
        new.close()


def test_read_pruned_unindexed_term_is_empty(spark, published_index):
    cat, _ = published_index
    df = cat.read_pruned(spark, "index", "blocks.parquet", "term_id",
                         [123456789])
    assert df.filter(F.col("term_id") == 123456789).count() == 0


def test_incremental_scan(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "wh_inc"))
    v1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "id long, text string"
    )
    v2 = spark.createDataFrame(
        [(1, "alpha"), (2, "BETA-CHANGED"), (4, "delta")],
        "id long, text string",
    )
    g1, p1 = cat.stage_generation("docs", "s1")
    v1.write.parquet(os.path.join(p1, "rows.parquet"))
    cat.publish("docs", g1, "s1")
    g2, p2 = cat.stage_generation("docs", "s2")
    v2.write.parquet(os.path.join(p2, "rows.parquet"))
    cat.publish("docs", g2, "s2", retain=2)

    # added-or-changed rows of the current snapshot vs g1
    delta = {
        (r["id"], r["text"])
        for r in cat.incremental(spark, "docs", "rows.parquet", g1).collect()
    }
    assert delta == {(2, "BETA-CHANGED"), (4, "delta")}
    # deletions = the reverse direction
    gone = {
        (r["id"], r["text"])
        for r in cat.incremental(
            spark, "docs", "rows.parquet", g2, to_generation=g1
        ).collect()
    }
    assert gone == {(2, "beta"), (3, "gamma")}


def test_commit_with_retries_rebases_under_contention(tmp_path):
    """Two writers race: the loser's attempt re-runs against the winner's
    state (Iceberg commit-retry), and the observed base chain is linear."""
    import threading

    cat = SnapshotCatalog(str(tmp_path / "wh_race"))
    g0, _ = cat.stage_generation("t", "base")
    cat.publish("t", g0, "base")

    bases_seen = {"w1": [], "w2": []}
    barrier = threading.Barrier(2)

    def writer(name, fp):
        def attempt(cur):
            bases_seen[name].append(cur["fingerprint"] if cur else None)
            g, _ = cat.stage_generation("t", fp + str(len(bases_seen[name])))
            if len(bases_seen[name]) == 1:
                # both writers observe the same base before either commits
                barrier.wait(timeout=10)
            return g, fp, {}
        return cat.commit_with_retries("t", attempt)

    results = {}

    def run(name, fp):
        results[name] = writer(name, fp)

    t1 = threading.Thread(target=run, args=("w1", "fpA"))
    t2 = threading.Thread(target=run, args=("w2", "fpB"))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert results["w1"]["attempts"] + results["w2"]["attempts"] >= 3, (
        "at least one writer must have conflicted and rebased", results)
    loser = "w1" if results["w1"]["attempts"] > 1 else "w2"
    other_fp = "fpB" if loser == "w1" else "fpA"
    # the loser's rebase observed the winner's committed state
    assert other_fp in bases_seen[loser]
    assert cat.current_generation("t")["fingerprint"] in ("fpA", "fpB")


def test_commit_with_retries_exhausts(tmp_path):
    """A base that is ALWAYS stale exhausts the retry budget and raises."""
    cat = SnapshotCatalog(str(tmp_path / "wh_exhaust"))
    g0, _ = cat.stage_generation("t", "v0")
    cat.publish("t", g0, "v0")

    n = {"i": 0}

    def attempt(cur):
        # sabotage: advance the table after reading the base, every time
        n["i"] += 1
        g, _ = cat.stage_generation("t", f"saboteur{n['i']}")
        cat.publish("t", g, f"saboteur{n['i']}")
        g2, _ = cat.stage_generation("t", f"mine{n['i']}")
        return g2, f"mine{n['i']}", {}

    with pytest.raises(CommitConflictError):
        cat.commit_with_retries("t", attempt, max_attempts=3)
    assert n["i"] == 3
