#!/usr/bin/env python
"""Round-5: the new serving APIs measured at 10M docs.

Builds a FRESH 10M index from the same synthetic corpus as
BENCH/run_10m.json, via the id_col path so the published doc store
carries the url/warc_ts/lang facet columns filtered search needs
(the r4 warehouse predates the full-facet doc store), positions off
(the phrase planes were measured in serve_10m_r5.json).  Then measures
over the warm reader:

  - unfiltered BM25 head-term p50/p95 (continuity anchor)
  - filtered BM25, SELECTIVE facet (lang='nl', 1.8% → driver bitset +
    metadata block pruning route)
  - filtered BM25, BROAD facet (lang='en', 51% → distributed
    left-semi route)
  - search_after page 2 (cursor from page 1)

Records BENCH/serve_10m_filtered_r5.json.  Only on an idle box.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORPUS = "/tmp/graft_bench_corpus_10000000"
WH = "/tmp/run10m_wh_facets"


def pcts(fn, qs):
    fn(qs[0])  # warm
    lat = []
    for q in qs:
        t0 = time.time()
        fn(q)
        lat.append(time.time() - t0)
    lat.sort()
    return (
        round(lat[len(lat) // 2], 4),
        round(lat[min(len(lat) - 1, int(len(lat) * 0.95))], 4),
    )


def main() -> None:
    from pyspark.sql import functions as F

    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.session import get_spark
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    cores = int(os.environ.get("CORES", "32"))
    spark = get_spark(master=f"local[{cores}]",
                      shuffle_partitions=max(2 * cores, 64))
    spark.sparkContext.setLogLevel("ERROR")
    result = {"cores": cores}

    cat = SnapshotCatalog(WH)
    docs = spark.read.parquet(CORPUS)
    t0 = time.time()
    out = build_index(
        spark, docs, cat, fingerprint="facets-10m", id_col="doc_id",
        n_build_partitions=2, analyzer="english", positions=False,
    )
    result["build_sec"] = round(time.time() - t0, 1)
    result["n_docs"] = out["n_docs"]
    print(f"# build: {result['build_sec']}s", file=sys.stderr)

    reader = IndexReader(spark, cat)
    ranked = [
        r["term"]
        for r in reader.df_stats.orderBy(F.desc("df")).limit(100).collect()
    ]
    head = ranked[:24]
    qs = [" ".join(head[i::12][:3]) for i in range(12)] + head[:12]

    result["bm25_p50_sec"], result["bm25_p95_sec"] = pcts(
        lambda q: reader.search(q, k=10).collect(), qs
    )
    print(f"# unfiltered: {result['bm25_p50_sec']}/"
          f"{result['bm25_p95_sec']}", file=sys.stderr)
    result["filtered_selective_p50_sec"], result[
        "filtered_selective_p95_sec"
    ] = pcts(
        lambda q: reader.search(q, k=10, where="lang = 'nl'").collect(), qs
    )
    print(f"# nl: {result['filtered_selective_p50_sec']}/"
          f"{result['filtered_selective_p95_sec']}", file=sys.stderr)
    result["filtered_broad_p50_sec"], result["filtered_broad_p95_sec"] = pcts(
        lambda q: reader.search(q, k=10, where="lang = 'en'").collect(), qs
    )
    print(f"# en: {result['filtered_broad_p50_sec']}/"
          f"{result['filtered_broad_p95_sec']}", file=sys.stderr)

    def page2(q):
        p1 = reader.search(q, k=10).collect()
        cur = (float(p1[-1]["score"]), int(p1[-1]["doc_id"]))
        return reader.search(q, k=10, search_after=cur).collect()

    result["search_after_p50_sec"], result["search_after_p95_sec"] = pcts(
        page2, qs[:12]
    )
    print(f"# after: {result['search_after_p50_sec']}/"
          f"{result['search_after_p95_sec']}", file=sys.stderr)

    reader.close()
    with open(os.path.join(REPO, "BENCH",
                           "serve_10m_filtered_r5.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
