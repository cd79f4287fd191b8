"""Time the driver-local route's phrase kernel, stage by stage, and the
fuzzy route's deletion-index probe, on the `serve` benchmark's index and
query pool.

For every phrase of the pool the script reads the query's hit blocks once
(``IndexReader._local_blocks``, outside the timings), then times, as the
median of ``--repeats`` calls:

- ``varint_ms``: ``compression.varint_decode_column`` over the blocks'
  ``positions_bin`` column alone (the position stream's varint decode);
- ``ids_varint_ms``: the same over ``doc_ids_bin`` (hashed doc ids, so
  mostly 7-10-byte gaps);
- ``decode_ms``: the kernel's positional decode (every binary column,
  doc-id and position cumsums), timed inside ``phrase_topk``;
- ``lead_ms``: the rarest-lead block pruning inside ``phrase_topk`` (0
  when the lead does not engage);
- ``kernel_ms``: the whole ``phrase_topk(k=10)`` call;
- ``intersect_topk_ms``: ``kernel_ms`` minus decode and lead — block
  ordering, doc and position intersection and the top-k cut.

For every fuzzy query of the pool it times
``IndexReader._fuzzy_candidates(terms, 1)`` as ``probe_ms``.  Each query
also records a digest of its answers (phrase rows at ``k=10`` and
``k=None``, fuzzy candidate sets), so runs of two source trees can be
checked for identical results.

    python BENCH/phrase_kernel.py --tree SRC --cache CACHE --out RUN.json

``--tree`` is the source checkout to import the engine from.  ``--cache``
is a `serve` cache directory of ``perfbench/run.py`` (``pool.json`` and
the published index under ``wh/``); the index format is the same for
every tree that can read it, so one cache serves both sides of an A/B.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import statistics
import sys
import time


def digest(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True).encode()
    ).hexdigest()[:16]


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
    ap.add_argument("--repeats", type=int, default=7)
    ap.add_argument("--master", default="local[1]")
    args = ap.parse_args()
    sys.path.insert(0, args.tree)

    import numpy as np

    from docs_indexer_spark.functions.analysis import (
        analyze_text,
        analyze_with_positions,
    )
    from docs_indexer_spark.functions.xxh import spark_xxhash64_str
    from docs_indexer_spark.operators import compression, phrase, spimi
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.session import get_spark
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    with open(f"{args.cache}/pool.json") as f:
        pool = json.load(f)["queries"]
    spark = get_spark(master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    reader = IndexReader(spark, SnapshotCatalog(f"{args.cache}/wh"))
    bsz = reader.meta["metrics"].get("block_size")

    # the kernel imports its decode and lead pruning from spimi at call
    # time, so wrapping the module attributes times them in place; trees
    # before the numpy decode named it _positions_batch
    box = {"decode": 0.0, "lead": 0.0}
    decode_name = ("decode_positions" if hasattr(spimi, "decode_positions")
                   else "_positions_batch")
    setattr(spimi, decode_name,
            timed(getattr(spimi, decode_name), box, "decode"))
    spimi.lead_pruned = timed(spimi.lead_pruned, box, "lead")
    takes_dfs = "term_dfs" in inspect.signature(phrase.phrase_topk).parameters

    def kernel(blocks, tids, offsets, dfs, k, lead):
        if takes_dfs:
            return phrase.phrase_topk(blocks, tids, offsets, dfs, k, lead=lead)
        return phrase.phrase_topk(blocks, tids, offsets, k, lead=lead)

    def rows(res):
        return [[int(d), int(n), int(p)] for d, n, p in zip(
            res["doc_id"], res["n_occurrences"], res["first_pos"])]

    phrases = []
    for q in pool["phrase"]:
        terms_pos = analyze_with_positions(q, reader.analyzer)
        tids = [spark_xxhash64_str(t) for t, _ in terms_pos]
        offsets = [p for _, p in terms_pos]
        dfs = reader._dfs(tids)
        blocks = reader._local_blocks(dfs, phrase.POSITION_COLUMNS)
        lead = phrase.rarest_lead(tids, dfs, bsz)
        stages = {"varint_ms": [], "ids_varint_ms": [], "decode_ms": [],
                  "lead_ms": [], "kernel_ms": [], "intersect_topk_ms": []}
        for _ in range(args.repeats):
            for stage, col in (("varint_ms", "positions_bin"),
                               ("ids_varint_ms", "doc_ids_bin")):
                t0 = time.perf_counter()
                compression.varint_decode_column(blocks.column(col))
                stages[stage].append(time.perf_counter() - t0)
            box["decode"] = box["lead"] = 0.0
            t0 = time.perf_counter()
            top = kernel(blocks, tids, offsets, dfs, 10, lead)
            total = time.perf_counter() - t0
            stages["kernel_ms"].append(total)
            stages["decode_ms"].append(box["decode"])
            stages["lead_ms"].append(box["lead"])
            stages["intersect_topk_ms"].append(
                total - box["decode"] - box["lead"])
        every = kernel(blocks, tids, offsets, dfs, None, lead)
        phrases.append({
            "q": q, "blocks": blocks.num_rows,
            "positions_bytes": int(compression.binary_column_bytes(
                blocks.column("positions_bin")).size),
            "n_positions": len(compression.varint_decode_column(
                blocks.column("positions_bin"))[0]),
            "n_postings": len(compression.varint_decode_column(
                blocks.column("doc_ids_bin"))[0]),
            "lead": lead is not None,
            **{s: 1000 * statistics.median(v) for s, v in stages.items()},
            "rows_k10": digest(rows(top)), "rows_all": digest(rows(every)),
            "n_matches": len(every["doc_id"]),
        })

    fuzzy = []
    for q in pool["fuzzy"]:
        terms = sorted(set(analyze_text(q, reader.analyzer)))
        times = []
        for _ in range(args.repeats):
            t0 = time.perf_counter()
            cands = reader._fuzzy_candidates(terms, 1)
            times.append(time.perf_counter() - t0)
        fuzzy.append({"q": q, "probe_ms": 1000 * statistics.median(times),
                      "candidates": digest(sorted(c[0] for c in cands))})
    reader.close()
    spark.stop()

    def med(rows_, key):
        return float(np.median([r[key] for r in rows_]))

    out = {
        "tree": args.tree, "repeats": args.repeats,
        "phrase_queries": len(phrases), "fuzzy_queries": len(fuzzy),
        "median_over_queries": {
            **{k: med(phrases, k) for k in (
                "varint_ms", "ids_varint_ms", "decode_ms", "lead_ms",
                "kernel_ms", "intersect_topk_ms", "n_positions",
                "n_postings")},
            "probe_ms": med(fuzzy, "probe_ms"),
        },
        "phrases": phrases, "fuzzy": fuzzy,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["median_over_queries"]))


if __name__ == "__main__":
    main()
