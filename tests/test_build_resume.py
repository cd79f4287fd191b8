"""Resumability + atomic publish + fingerprint skip (north-rule C4,
reference A18/A19 semantics — SURVEY §5 'resumability test')."""

import pytest
from pyspark.sql import functions as F

from docs_indexer_spark.plans.build_index import build_index
from docs_indexer_spark.plans.query import IndexReader
from docs_indexer_spark.sources.catalog import SnapshotCatalog


@pytest.fixture()
def catalog(tmp_path):
    return SnapshotCatalog(str(tmp_path / "warehouse"))


def test_build_query_roundtrip(spark, documents, catalog):
    metrics = build_index(
        spark, documents, catalog, fingerprint="fp-1",
        id_col="doc_id", n_build_partitions=2, n_buckets=4,
    )
    assert metrics["n_docs"] == documents.count()
    reader = IndexReader(spark, catalog)
    top = reader.search("spark join", k=5).collect()
    assert len(top) == 5
    deeper = reader.search("spark join", k=10).collect()
    assert [r["doc_id"] for r in top] == [r["doc_id"] for r in deeper[:5]]


def test_fingerprint_skip(spark, documents, catalog):
    m1 = build_index(
        spark, documents, catalog, fingerprint="fp-1",
        id_col="doc_id", n_build_partitions=2,
    )
    assert not m1.get("skipped")
    m2 = build_index(
        spark, documents, catalog, fingerprint="fp-1",
        id_col="doc_id", n_build_partitions=2,
    )
    assert m2 == {"skipped": True, "fingerprint": "fp-1"}


def test_resume_after_failure(spark, documents, catalog):
    """Kill the build after partition 1 of 4; the re-run must skip the
    completed partitions and produce an identical published index."""
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, documents, catalog, fingerprint="fp-x",
            id_col="doc_id", n_build_partitions=4, fail_after_partition=1,
        )
    assert catalog.current_generation("index") is None  # nothing published

    m = build_index(
        spark, documents, catalog, fingerprint="fp-x",
        id_col="doc_id", n_build_partitions=4,
    )
    assert m["partitions_skipped"] == 2  # partitions 0,1 checkpointed
    assert m["partitions_built"] == 2

    # identical final index vs a clean one-shot build
    clean_cat = SnapshotCatalog(catalog.root + "-clean")
    build_index(
        spark, documents, catalog=clean_cat, fingerprint="fp-x",
        id_col="doc_id", n_build_partitions=4,
    )
    resumed = IndexReader(spark, catalog).search("merge sort", k=10).collect()
    clean = IndexReader(spark, clean_cat).search("merge sort", k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in resumed] == [
        (r["doc_id"], round(r["score"], 9)) for r in clean
    ]


def test_checkpoint_records_encode_rows(spark, documents, catalog):
    """A slice's lineage checkpoint records its staged encode-row count
    (read from the parquet footers) instead of a -1 placeholder."""
    import json
    import os

    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, documents, catalog, fingerprint="fp-rows",
            id_col="doc_id", n_build_partitions=2, fail_after_partition=0,
        )
    build_id = "build-fp-rows"
    with open(os.path.join(
        catalog.root, "_checkpoints", build_id, "part-00000.json"
    )) as f:
        rec = json.load(f)
    staged = spark.read.parquet(f"{catalog.root}/_stage/{build_id}/rows/p=0")
    assert rec["rows"] == staged.count() > 0


def test_concurrent_publish_serializes(tmp_path):
    """Concurrent publishers must not interleave: every snapshot-log entry
    survives and the pointer ends on one of the published generations
    (single-writer lockfile — the Iceberg commit-conflict analogue)."""
    import threading

    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    catalog = SnapshotCatalog(str(tmp_path / "wh"))
    gens = [catalog.stage_generation("index", f"fp{i}") for i in range(6)]
    errs = []

    def pub(i):
        try:
            catalog.publish("index", gens[i][0], f"fp{i}", retain=10)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=pub, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    log = catalog.snapshots("index")
    assert len(log) == 6  # no lost log appends
    assert {r["generation"] for r in log} == {g for g, _ in gens}
    assert catalog.current_generation("index")["generation"] in {
        g for g, _ in gens
    }


def test_atomic_publish_swaps_generation(spark, documents, catalog):
    build_index(spark, documents, catalog, fingerprint="fp-a",
                id_col="doc_id", n_build_partitions=1)
    gen_a = catalog.current_generation("index")["generation"]
    build_index(spark, documents.filter(F.col("doc_id") < 100), catalog,
                fingerprint="fp-b", id_col="doc_id", n_build_partitions=1)
    cur = catalog.current_generation("index")
    assert cur["fingerprint"] == "fp-b"
    assert cur["generation"] != gen_a
    import os

    # GC is DEFERRED (retain=2): the previous generation survives the swap
    # so in-flight readers keep a complete index...
    assert os.path.exists(os.path.join(catalog.root, "index", gen_a))
    # ...and expires once it falls out of the retained window.
    build_index(spark, documents.filter(F.col("doc_id") < 50), catalog,
                fingerprint="fp-c", id_col="doc_id", n_build_partitions=1)
    assert not os.path.exists(os.path.join(catalog.root, "index", gen_a))
    # staged partials + checkpoints are cleaned after a successful publish
    stage_root = os.path.join(catalog.root, "_stage")
    assert not os.path.isdir(stage_root) or os.listdir(stage_root) == []
    assert IndexReader(spark, catalog).n_docs == 50
