#!/usr/bin/env python
"""Round-5 serve-only re-measurement over the SAME published 10M index
as BENCH/run_10m.json (warehouse /tmp/run10m_wh_10000000, built r4):

  - BM25 head-term p50/p95 through ``IndexReader.search``'s one plan
    (the per-bucket exhaustive block kernel above the driver-local cap).
    The committed JSON predates it: its ``bm25_split*`` keys time the
    block-max WAND plan at 1, 4 and 8 slices per bucket
  - phrase (both-mid + head+rare) and fuzzy p50/p95 for continuity

Query sets are derived from df ranks exactly as run_10m.py does, so the
numbers are comparable run-to-run.  Records BENCH/serve_10m_r5.json.
Only on an idle box.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WH = "/tmp/run10m_wh_10000000"


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

    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.session import get_spark
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    cores = int(os.environ.get("CORES", "32"))
    spark = get_spark(master=f"local[{cores}]",
                      shuffle_partitions=max(2 * cores, 64))
    spark.sparkContext.setLogLevel("ERROR")
    reader = IndexReader(spark, SnapshotCatalog(WH))
    ranked = [
        r["term"]
        for r in reader.df_stats.orderBy(F.desc("df")).limit(6000).collect()
    ]
    head, mid, rare = ranked[:24], ranked[100:160], ranked[5000:5060]
    bm25_qs = [" ".join(head[i::12][:3]) for i in range(12)] + head[:12]
    result = {"n_docs": reader.n_docs, "cores": cores}
    result["bm25_p50_sec"], result["bm25_p95_sec"] = pcts(
        lambda q: reader.search(q, k=10).collect(), bm25_qs
    )
    print(f"# bm25: p50={result['bm25_p50_sec']} "
          f"p95={result['bm25_p95_sec']}", file=sys.stderr)
    phrases = [" ".join(mid[i: i + 2]) for i in range(0, 24, 2)]
    result["phrase_p50_sec"], result["phrase_p95_sec"] = pcts(
        lambda q: reader.search_phrase(q, k=10).collect(), phrases
    )
    skew = [f"{head[i]} {rare[i]}" for i in range(8)]
    result["phrase_skew_p50_sec"], result["phrase_skew_p95_sec"] = pcts(
        lambda q: reader.search_phrase(q, k=10).collect(), skew
    )
    miss = [t[:1] + t[2] + t[1] + t[3:] for t in mid if len(t) >= 4][:8]
    result["fuzzy_p50_sec"], result["fuzzy_p95_sec"] = pcts(
        lambda q: reader.search_fuzzy(q, k=10).collect(), miss
    )
    reader.close()
    with open(os.path.join(REPO, "BENCH", "serve_10m_r5.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
