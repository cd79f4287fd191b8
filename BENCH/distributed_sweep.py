"""Time IndexReader's distributed route on a published positional index.

Every query is forced onto the distributed plans (``LOCAL_MAX_BLOCKS = 0``;
``--route local`` forces the driver-local route instead, for the crossover):
the default ``search()`` OR and the AND of the 1/3/10/30/100/300 most
frequent terms, and phrases of adjacent head-term pairs.  ``--max-terms
N`` keeps only the OR and AND queries of at most N terms.  One process is one run: a warm-up
query of each kind, then each query once, timed from building its
DataFrame through ``collect()``.  The answers are written out with the
times so runs of two source trees can be checked for identical results.

    python BENCH/distributed_sweep.py --tree SRC --warehouse WH \\
        --corpus CORPUS --out RUN.json

``--tree`` is the source checkout to import the engine from (put it on
PYTHONPATH as well, so Spark's Python workers import the same code, and
run the script from a directory that holds no ``docs_indexer_spark``:
the workers search their working directory first, so started from
another checkout's root they would run that checkout's kernels);
``--corpus`` is the parquet the index was built from, read only to find
adjacent head-term pairs for the phrases.  ``--kinds phrase`` (or
``or,and``) times only those query kinds.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from collections import Counter

N_TERMS = (1, 3, 10, 30, 100, 300)
N_PHRASES = 12
PAIR_SAMPLE_DOCS = 3000


def head_terms(reader, analyze, n):
    """The ``n`` highest-df indexed terms that the analyzer maps to
    themselves, so a query string of them scores exactly those terms."""
    rows = reader.df_stats.orderBy("df", ascending=False).limit(4 * n).collect()
    out = [r["term"] for r in rows if analyze(r["term"]) == [r["term"]]]
    return out[:n]


def head_pairs(spark, corpus, analyze, heads, n):
    """The ``n`` most frequent adjacent raw-token pairs whose analyzed
    forms are both head terms, as phrase strings."""
    from docs_indexer_spark.functions.analysis import tokenize

    heads = set(heads)
    counts = Counter()
    rows = spark.read.parquet(corpus).select("text").limit(PAIR_SAMPLE_DOCS)
    for r in rows.collect():
        toks = tokenize(r["text"] or "")
        stems = [analyze(t) for t in toks]
        for i in range(len(toks) - 1):
            a, b = stems[i], stems[i + 1]
            if len(a) == 1 and len(b) == 1 and a[0] in heads \
                    and b[0] in heads and a != b:
                counts[f"{toks[i]} {toks[i + 1]}"] += 1
    return [p for p, _ in counts.most_common(n)]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tree", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default="local[3]")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--route", choices=("distributed", "local"),
                    default="distributed")
    ap.add_argument("--kinds", default="or,and,phrase")
    ap.add_argument("--max-terms", type=int, default=max(N_TERMS))
    args = ap.parse_args()
    kinds = set(args.kinds.split(","))
    sys.path.insert(0, args.tree)

    from docs_indexer_spark.functions.analysis import analyze_text
    from docs_indexer_spark.plans import query
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.session import get_spark
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    spark = get_spark(
        master=args.master,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    reader = IndexReader(spark, SnapshotCatalog(args.warehouse))

    def analyze(t):
        return analyze_text(t, reader.analyzer)

    heads = head_terms(reader, analyze, max(N_TERMS))
    phrases = head_pairs(spark, args.corpus, analyze, heads[:100], N_PHRASES)
    queries = []
    for n in (n for n in N_TERMS if n <= args.max_terms):
        q = " ".join(heads[:n])
        queries.append((f"or_{n}", lambda q=q: reader.search(q, k=args.k)))
        queries.append((f"and_{n}", lambda q=q: reader.search(
            q, k=args.k, operator="and")))
    for i, p in enumerate(phrases):
        queries.append((f"phrase_{i}", lambda p=p: reader.search_phrase(
            p, k=args.k)))

    query.LOCAL_MAX_BLOCKS = 0 if args.route == "distributed" else 10**9
    queries = [(n, r) for n, r in queries if n.split("_")[0] in kinds]
    for name, run in queries:
        if name in ("or_3", "and_3", "phrase_0"):
            run().collect()
    out = {"tree": args.tree, "route": args.route, "phrases": phrases,
           "queries": {}}
    for name, run in queries:
        t0 = time.perf_counter()
        rows = run().collect()
        dt = time.perf_counter() - t0
        out["queries"][name] = {
            "s": round(dt, 4),
            "rows": [list(r) for r in rows],
        }
        print(name, round(dt, 3), len(rows), flush=True)
    reader.close()
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
