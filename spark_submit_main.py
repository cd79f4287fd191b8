#!/usr/bin/env python
"""spark-submit entry point (north rule: `spark-submit --py-files`).

Usage:
    spark-submit --py-files dist/docs_indexer_spark.zip spark_submit_main.py \
        build  --input <parquet_or_table> --warehouse <dir> --fingerprint <id>
    spark-submit --py-files dist/docs_indexer_spark.zip spark_submit_main.py \
        query  --warehouse <dir> --q "spark join" --k 10
    spark-submit --py-files dist/docs_indexer_spark.zip spark_submit_main.py \
        bench-build --input <parquet> [--analyzer english]

Build the zip with:  python -m zipfile -c dist/docs_indexer_spark.zip docs_indexer_spark
(mirrors the reference's two CLI subcommands `hugo` / `blog`,
/root/reference/main.py:14-26 — here: build / query).
"""

from __future__ import annotations

import argparse
import json
import logging
import signal
import sys
import time

from pyspark.sql import SparkSession


def _sigterm_handler(_signo, _stack_frame):
    # graceful CronJob termination (reference main.py:29-31): exit 0 so
    # the scheduler does not mark a drained pod as failed; Spark's own
    # shutdown hook stops the context
    logging.info("Terminating due to SIGTERM")
    sys.exit(0)


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--warehouse", required=True)
    b.add_argument("--fingerprint", required=True)
    b.add_argument("--analyzer", default="english")
    b.add_argument("--partitions", type=int, default=8)
    b.add_argument("--buckets", type=int, default=32)
    b.add_argument("--id-col", default=None)
    b.add_argument("--extract-html", action="store_true")
    b.add_argument("--warc", action="store_true",
                   help="input is WARC archive(s) (Common Crawl container), not parquet")
    b.add_argument("--positions", action="store_true",
                   help="store positional postings (enables phrase queries)")

    q = sub.add_parser("query")
    q.add_argument("--warehouse", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--phrase", action="store_true",
                   help="exact-phrase query (requires a --positions build)")
    q.add_argument("--op", choices=["or", "and"], default="or",
                   help="boolean semantics across query terms")
    q.add_argument("--prefix", action="store_true",
                   help="treat --q as a term prefix (vocabulary expansion)")
    q.add_argument("--where", default=None, metavar="SQL",
                   help="doc-store filter composed WITH scoring "
                        "(filter-then-score), e.g. \"source = 'web' "
                        "AND n_chars >= 500\"")
    q.add_argument("--fuzzy", type=int, default=0, metavar="N",
                   help="fuzzy match: expand each term over the vocabulary "
                        "within N edits (OpenSearch fuzziness)")
    q.add_argument("--after", default=None, metavar="SCORE:DOC_ID",
                   help="cursor pagination (search_after): return the "
                        "next --k hits strictly after this sort key "
                        "from a previous page's last hit")

    sg = sub.add_parser("suggest")
    sg.add_argument("--input", required=True,
                    help="corpus parquet (vocabulary + bigram LM source)")
    sg.add_argument("--q", required=True)
    sg.add_argument("--k", type=int, default=5)

    bb = sub.add_parser("bench-build")
    bb.add_argument("--input", required=True)
    bb.add_argument("--analyzer", default="english")

    dd = sub.add_parser("dedup")
    dd.add_argument("--input", required=True)
    dd.add_argument("--method",
                    choices=["exact", "minhash", "simhash", "winnow"],
                    default="minhash")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--sample", type=int, default=10,
                    help="candidate pairs to print")
    dd.add_argument("--apply", default=None, metavar="OUTPUT",
                    help="also write the DEDUPLICATED corpus (keep the "
                         "min-id doc per connected near-dup cluster) to "
                         "this parquet path")
    dd.add_argument("--min-shared", type=int, default=1,
                    help="winnow only: require this many shared "
                         "fingerprints to form a candidate edge (raise on "
                         "small-vocabulary corpora where any common "
                         "3-gram collides)")

    args = ap.parse_args()
    spark = SparkSession.builder.getOrCreate()

    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    if args.cmd == "build":
        from docs_indexer_spark.sources.warc import read_warc

        catalog = SnapshotCatalog(args.warehouse)
        docs = (read_warc(spark, args.input) if args.warc
                else spark.read.parquet(args.input))
        metrics = build_index(
            spark, docs, catalog, args.fingerprint,
            analyzer=args.analyzer,
            n_build_partitions=args.partitions,
            n_buckets=args.buckets,
            # WARC input carries html only — extraction is implied
            use_extraction=args.extract_html or args.warc,
            id_col=args.id_col,
            positions=args.positions,
        )
        print(json.dumps(metrics))
    elif args.cmd == "query":
        reader = IndexReader(spark, SnapshotCatalog(args.warehouse))
        t0 = time.time()
        if args.phrase:
            rows = reader.search_phrase(args.q, k=args.k).collect()
            hits = [
                {"doc_id": r["doc_id"], "n_occurrences": r["n_occurrences"],
                 "first_pos": r["first_pos"]}
                for r in rows
            ]
        elif args.prefix:
            rows = reader.search_prefix(args.q, k=args.k).collect()
            hits = [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]
        elif args.fuzzy:
            rows = reader.search_fuzzy(
                args.q, k=args.k, fuzziness=args.fuzzy
            ).collect()
            hits = [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]
        else:
            after = None
            if args.after:
                s, d = args.after.rsplit(":", 1)
                after = (float(s), int(d))
            rows = reader.search(args.q, k=args.k,
                                 operator=args.op, where=args.where,
                                 search_after=after).collect()
            hits = [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]
        out = {
            "query": args.q,
            "latency_sec": round(time.time() - t0, 4),
            "hits": hits,
        }
        print(json.dumps(out))
    elif args.cmd == "suggest":
        from docs_indexer_spark.operators.suggest import suggest_correction

        docs = spark.read.parquet(args.input)
        rows = suggest_correction(docs, args.q, k=args.k).collect()
        print(json.dumps({
            "query": args.q,
            "suggestions": [
                {"suggestion": r["suggestion"], "score": r["score"]}
                for r in rows
            ],
        }))
    elif args.cmd == "bench-build":
        # ONE production build path everywhere: this CLI, bench.py, and
        # BENCH/scaling.py all measure operators/fused.fused_build_blocks,
        # so there is a single "build throughput" number per configuration
        from docs_indexer_spark.operators.fused import fused_build_blocks
        from docs_indexer_spark.plans.build_index import prepare_documents

        docs = spark.read.parquet(args.input)
        if "doc_id" not in docs.columns:
            docs = prepare_documents(docs)
        t0 = time.time()
        fb = fused_build_blocks(docs, analyzer=args.analyzer)
        fb.blocks.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        fb.unpersist()
        print(json.dumps({
            "n_docs": fb.n_docs, "build_sec": round(dt, 3),
            "docs_per_sec": round(fb.n_docs / dt, 1),
            "path": "fused",
            "parallelism": spark.sparkContext.defaultParallelism,
        }))
    elif args.cmd == "dedup":
        # production (xx-family) near-duplicate discovery — every method
        # is a bucketed/banded equi-join, never all-pairs
        from pyspark.sql import functions as F

        from docs_indexer_spark.operators import dedup
        from docs_indexer_spark.plans.build_index import prepare_documents

        docs = spark.read.parquet(args.input)
        if args.id_col not in docs.columns:
            docs = prepare_documents(docs)
        t0 = time.time()
        if args.method == "exact":
            clusters = dedup.exact_duplicates(docs, id_col=args.id_col).filter(
                F.col("n_docs") > 1
            )
            sample = [
                {"keep_doc_id": int(r["keep_doc_id"]),
                 "n_docs": int(r["n_docs"])}
                for r in clusters.limit(args.sample).collect()
            ]
            print(json.dumps({
                "method": "exact", "duplicate_clusters": clusters.count(),
                "sample": sample, "sec": round(time.time() - t0, 3),
            }))
            spark.stop()
            return
        if args.method == "minhash":
            sigs = dedup.minhash_signatures(
                docs, num_hashes=16, hash="xx", id_col=args.id_col
            )
            pairs = dedup.lsh_candidate_pairs(sigs, bands=4, num_hashes=16)
        elif args.method == "simhash":
            pairs = dedup.simhash_near_dup_pairs(
                dedup.simhash64(docs, hash="xx", id_col=args.id_col),
                max_hamming=3,
            )
        else:
            fps = dedup.winnow_fingerprints(docs, id_col=args.id_col)
            pairs = dedup.winnow_candidate_pairs(fps, id_col=args.id_col)
            if args.min_shared > 1:
                pairs = pairs.filter(
                    F.col("shared_fps") >= args.min_shared
                )
        sample = [
            {"doc_a": int(r[0]), "doc_b": int(r[1])}
            for r in pairs.limit(args.sample).collect()
        ]
        n = pairs.count()
        out = {
            "method": args.method, "candidate_pairs": n,
            "sample": sample, "sec": round(time.time() - t0, 3),
        }
        if args.apply:
            deduped = dedup.dedup_representatives(
                docs, pairs.select("doc_a", "doc_b"), id_col=args.id_col
            )
            deduped.write.mode("overwrite").parquet(args.apply)
            out["kept_docs"] = deduped.count()
            out["input_docs"] = docs.count()
            out["output"] = args.apply
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _sigterm_handler)
    sys.exit(main())
