"""Time the driver-local route of every `serve` query kind, layer by layer.

For every query of the `serve` pool (the benchmark's five kinds, run as
``perfbench/workloads.py:query`` runs them) the script times, as the
median of ``--repeats`` runs after one warm-up pass over the pool:

- ``relation_ms``: ``SnapshotCatalog.read_pruned_at``, the manifest-pruned
  block relation;
- ``input_files_ms``: that relation's ``inputFiles()``;
- ``read_ms``: the rest of ``IndexReader._local_blocks``, the pyarrow read
  of the kept files;
- ``kernel_ms``: ``bm25.blocks_topk`` or ``phrase.phrase_topk``;
- ``probe_ms``: ``IndexReader._fuzzy_candidates`` (fuzzy only);
- ``frame_ms``: ``session.local_frame``, the result DataFrame;
- ``collect_ms``: ``collect()`` of that DataFrame;
- ``total_ms``: the search call plus ``collect()``, and ``other_ms``, what
  the layers above leave of it (analysis, routing, term statistics).

Each kind reports the median over its queries, and every answer is
checked against the pool's expected one.

    python BENCH/local_route_layers.py --tree SRC --cache CACHE --out RUN.json

``--tree`` is the source checkout to import the engine and its
``perfbench`` from; the Spark session is the benchmark's
(``workloads.start_spark``).  ``--cache`` is a `serve` cache directory of
``perfbench/run.py`` (``pool.json`` and the index under ``wh/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

LAYERS = ("relation_ms", "input_files_ms", "read_ms", "kernel_ms",
          "probe_ms", "frame_ms", "collect_ms")


def timed(fn, box: dict, key: str):
    """``fn`` wrapped to add its wall time (s) to ``box[key]``."""
    def wrapper(*a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            box[key] += time.perf_counter() - t0
    return wrapper


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tree", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--label", default=None)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()
    tree = os.path.abspath(args.tree)
    sys.path[:0] = [tree, os.path.join(tree, "perfbench")]

    from workloads import KINDS, check_query, query, start_spark, stop_spark

    from docs_indexer_spark.operators import bm25, phrase
    from docs_indexer_spark.plans import query as q
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    box = dict.fromkeys(
        ("relation", "input_files", "local_blocks", "kernel", "probe",
         "frame"), 0.0)
    raw = SnapshotCatalog.__dict__["read_pruned_at"].__func__

    def read_pruned_at(*a, **kw):
        t0 = time.perf_counter()
        df = raw(*a, **kw)
        box["relation"] += time.perf_counter() - t0
        df.inputFiles = timed(df.inputFiles, box, "input_files")
        return df

    SnapshotCatalog.read_pruned_at = staticmethod(read_pruned_at)
    q.IndexReader._local_blocks = timed(
        q.IndexReader._local_blocks, box, "local_blocks")
    q.IndexReader._fuzzy_candidates = timed(
        q.IndexReader._fuzzy_candidates, box, "probe")
    q.local_frame = timed(q.local_frame, box, "frame")
    bm25.blocks_topk = timed(bm25.blocks_topk, box, "kernel")
    phrase.phrase_topk = timed(phrase.phrase_topk, box, "kernel")

    with open(f"{args.cache}/pool.json") as f:
        pool = json.load(f)
    work = tempfile.mkdtemp(prefix="local_route_layers_")
    spark = start_spark(work)
    master = spark.sparkContext.master
    reader = q.IndexReader(spark, SnapshotCatalog(f"{args.cache}/wh"))
    failed = 0
    per_kind = {}
    for kind in KINDS:
        queries = pool["queries"][kind]
        for text in queries:  # warm-up: JVM, filter memo, page cache
            query(reader, kind, text)
        rows_out = []
        for text, expected in zip(queries, pool["expected"][kind]):
            runs = {k: [] for k in (*LAYERS, "total_ms", "other_ms")}
            for _ in range(args.repeats):
                for k in box:
                    box[k] = 0.0
                rows, plan_s, exec_s = query(reader, kind, text)
                failed += not check_query(kind, rows, expected)
                layer = {
                    "relation_ms": box["relation"],
                    "input_files_ms": box["input_files"],
                    "read_ms": box["local_blocks"] - box["relation"]
                    - box["input_files"],
                    "kernel_ms": box["kernel"],
                    "probe_ms": box["probe"],
                    "frame_ms": box["frame"],
                    "collect_ms": exec_s,
                }
                total = plan_s + exec_s
                for k, v in layer.items():
                    runs[k].append(1e3 * v)
                runs["total_ms"].append(1e3 * total)
                runs["other_ms"].append(1e3 * (total - sum(layer.values())))
            rows_out.append({k: statistics.median(v) for k, v in runs.items()})
        per_kind[kind] = {
            k: statistics.median(r[k] for r in rows_out) for k in rows_out[0]
        }
        per_kind[kind]["queries"] = len(rows_out)
    reader.close()
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    out = {
        "tree": args.label or tree, "repeats": args.repeats,
        "cores": len(os.sched_getaffinity(0)),
        "master": master,
        "failed_answers": failed,
        "median_over_queries": per_kind,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
