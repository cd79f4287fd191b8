#!/usr/bin/env python
"""100×-shape dress rehearsal: one recorded run at 10M documents (100×
the sf0.1 gate corpus) through the FULL production pipeline — staged
build → atomic publish → served queries over the published positional
index — converting the "plans survive 100×" claim from plan-reading to
a measured point (round-3 verdict item 7).

Records to BENCH/run_10m.json:
  - staged-build wall-clock + docs/sec (build_index, positions=True,
    resumable-slice path — the spark-submit production path)
  - fused-build docs/sec on the same corpus (the bench-build path)
  - published block bytes/doc (du of blocks.parquet / n_docs)
  - BM25 / phrase / fuzzy serving p50+p95 over the published index
  - peak JVM RSS (VmHWM — single-JVM local mode, so this is the whole
    executor+driver memory envelope)

Usage: python BENCH/run_10m.py [--docs 10000000] [--cores 32]
       [--build-partitions 4]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def jvm_peak_rss_gib() -> float | None:
    """VmHWM of the py4j-launched JVM (our only child java process)."""
    try:
        out = subprocess.run(
            ["pgrep", "-P", str(os.getpid()), "java"],
            capture_output=True, text=True,
        )
        pids = out.stdout.split()
        peak = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM"):
                        peak = max(peak, int(ln.split()[1]))  # kB
        return round(peak / 1024 / 1024, 2) if peak else None
    except Exception:
        return None


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
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=10_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--build-partitions", type=int, default=4)
    args = ap.parse_args()

    from BENCH.scaling import synthesize

    corpus = synthesize(args.docs)
    print(f"# corpus: {corpus}", file=sys.stderr)

    from pyspark.sql import functions as F

    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.session import get_spark
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    spark = get_spark(
        master=f"local[{args.cores}]",
        shuffle_partitions=max(2 * args.cores, 64),
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(corpus)
    docs.count()  # warm the scan

    wh = os.path.join("/tmp", f"run10m_wh_{args.docs}")
    subprocess.run(["rm", "-rf", wh], check=True)
    cat = SnapshotCatalog(wh)
    t0 = time.time()
    metrics = build_index(
        spark, docs, cat, fingerprint=f"rehearsal-{args.docs}",
        id_col="doc_id", n_build_partitions=args.build_partitions,
        positions=True,
    )
    build_sec = time.time() - t0
    n_docs = int(metrics["n_docs"])
    print(f"# staged build: {build_sec:.0f}s, {n_docs} docs",
          file=sys.stderr)

    gen = cat.generation_path("index")
    du = subprocess.run(
        ["du", "-sb", os.path.join(gen, "blocks.parquet")],
        capture_output=True, text=True, check=True,
    )
    block_bytes = int(du.stdout.split()[0])

    # fused path (bench-build) on the same corpus for the throughput
    # number comparable to BENCH/scaling.py artifacts
    from docs_indexer_spark.operators.fused import fused_build_blocks

    t0 = time.time()
    fb = fused_build_blocks(docs, analyzer="english")
    fb.blocks.write.mode("overwrite").format("noop").save()
    fused_sec = time.time() - t0
    fb.unpersist()

    reader = IndexReader(spark, cat)
    ranked = [
        r["term"]
        for r in reader.df_stats.orderBy(F.desc("df")).limit(6000).collect()
    ]
    head, mid, rare = ranked[:24], ranked[100:160], ranked[5000:5060]
    # BM25 takes head terms (the exhaustive per-bucket block kernel).
    # Phrase sets: both-mid (pays O(Σ df) like every
    # positional engine) and head+rare (the rarest-lead containment
    # prune decodes O(df_rare) of the head list).
    bm25_qs = [" ".join(head[i::12][:3]) for i in range(12)] + head[:12]
    b50, b95 = pcts(lambda q: reader.search(q, k=10).collect(), bm25_qs)
    phrases = [" ".join(mid[i: i + 2]) for i in range(0, 24, 2)]
    p50, p95 = pcts(lambda q: reader.search_phrase(q, k=10).collect(),
                    phrases)
    skew = [f"{head[i]} {rare[i]}" for i in range(8)]
    sk50, sk95 = pcts(lambda q: reader.search_phrase(q, k=10).collect(),
                      skew)
    miss = [t[:1] + t[2] + t[1] + t[3:] for t in mid if len(t) >= 4][:8]
    f50, f95 = pcts(lambda q: reader.search_fuzzy(q, k=10).collect(), miss)
    reader.close()

    peak = jvm_peak_rss_gib()
    result = {
        "n_docs": n_docs,
        "cores": args.cores,
        "build_partitions": args.build_partitions,
        "staged_build_sec": round(build_sec, 1),
        "staged_build_docs_per_sec": round(n_docs / build_sec, 1),
        "stage1_sec": round(metrics["stage1_sec"], 1),
        "stage2_sec": round(metrics["stage2_sec"], 1),
        "fused_build_sec": round(fused_sec, 1),
        "fused_build_docs_per_sec": round(n_docs / fused_sec, 1),
        "block_bytes_total": block_bytes,
        "block_bytes_per_doc": round(block_bytes / n_docs, 1),
        "bm25_p50_sec": b50, "bm25_p95_sec": b95,
        "phrase_p50_sec": p50, "phrase_p95_sec": p95,
        "phrase_skew_p50_sec": sk50, "phrase_skew_p95_sec": sk95,
        "fuzzy_p50_sec": f50, "fuzzy_p95_sec": f95,
        "jvm_peak_rss_gib": peak,
    }
    with open(os.path.join(REPO, "BENCH", "run_10m.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
