"""Benchmark inputs and expected answers, computed without Spark.

Run as a separate process (``python3 perfbench/inputs.py <command> ...``)
before the measured Spark process starts, so neither the generator nor the
oracle's memory or CPU enters a measurement:

- ``build --seed S --out DIR``: the seeded corpus plus planted near-duplicate
  copies, and three BM25 check queries;
- ``serve --out DIR``: the fixed serving corpus and a pool of queries of
  every kind with their expected top-k;
- ``oracle --corpus P --queries Q --out A``: expected BM25 top-k over the
  documents a build actually published.

Rows come from ``sources.corpus.generate_corpus`` itself: a stand-in session
captures the function's per-batch generator, which then runs in this
process.  ``pins.json`` holds digests of the generated rows so a change to
``sources.corpus`` that alters a workload fails the run instead of silently
moving its numbers.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import os
import sys
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from docs_indexer_spark.functions import analysis, porter  # noqa: E402
from docs_indexer_spark.functions.analysis import (  # noqa: E402
    ENGLISH_STOPWORDS,
    analyze_simple,
    analyze_text,
    analyze_with_positions,
)
from docs_indexer_spark.functions.fuzzy import osa_distance  # noqa: E402
from docs_indexer_spark.functions.xxh import spark_xxhash64_str  # noqa: E402
from docs_indexer_spark.oracle.engine import OracleIndex  # noqa: E402
from docs_indexer_spark.sources.corpus import generate_corpus  # noqa: E402

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
K = 10
# scored answers run past k, so an engine hit tied with the oracle's k-th
# score but ranked beyond it by float rounding can still be judged
DEPTH = 2 * K
BUILD_DOCS = 2_000
SERVE_DOCS = 10_000
SERVE_CORPUS_SEED = 20_260
PLANTED_SHARE = 0.05
POOL_PER_KIND = 40
KINDS = ("bm25", "and", "phrase", "fuzzy", "filtered")
FILTER_LANG = "de"
FILTER = f"lang = '{FILTER_LANG}'"
PROBE = {"n_docs": 300, "seed": 0}


class _CaptureSession:
    """Duck-types the SparkSession calls generate_corpus makes and keeps
    the generator it hands to ``mapInPandas``."""

    def range(self, start, end, numPartitions=None):  # noqa: N803
        self.ids = np.arange(start, end, dtype=np.int64)
        return self

    def toDF(self, *names):  # noqa: N802
        return self

    def mapInPandas(self, fn, schema):  # noqa: N802
        self.fn = fn
        return self


def generate_rows(n_docs: int, seed: int) -> pd.DataFrame:
    cap = _CaptureSession()
    generate_corpus(cap, n_docs, seed=seed)
    batches = cap.fn(iter([pd.DataFrame({"id": cap.ids})]))
    return pd.concat(list(batches), ignore_index=True)


def write_corpus(rows: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pydict(
        {
            "url": pa.array(rows["url"], pa.string()),
            "warc_ts": pa.array(
                rows["warc_ts"].dt.tz_localize("UTC"), pa.timestamp("us", "UTC")
            ),
            "html": pa.array(rows["html"], pa.binary()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def digest(rows: pd.DataFrame) -> dict:
    h = hashlib.sha256()
    tokens = 0
    for url, html, text, lang in zip(
        rows["url"], rows["html"], rows["text"], rows["lang"]
    ):
        for part in (url, lang, text):
            h.update(part.encode("utf-8") + b"\x00")
        h.update(html + b"\x01")
        tokens += len(analyze_text(text))
    return {"rows": len(rows), "tokens": tokens, "sha256": h.hexdigest()}


def check_pin(name: str, rows: pd.DataFrame) -> dict:
    with open(PINS) as f:
        want = json.load(f)[name]
    got = {**{k: want[k] for k in ("n_docs", "seed")}, **digest(rows)}
    if got != want:
        raise SystemExit(
            f"pinned input {name!r} changed: sources.corpus no longer "
            f"generates the benchmark's inputs\n  pinned: {want}\n  now:    {got}"
        )
    return got


def memoize_stemmer() -> None:
    """Porter stemming is a pure function of the token; caching it changes
    no result and makes the oracle's pure-Python analysis ~5x faster."""
    cached = functools.lru_cache(maxsize=None)(porter.porter_stem)
    analysis.porter_stem = cached
    porter.porter_stem = cached


def word_ranks(texts) -> list[str]:
    """Non-stopword raw tokens of three or more letters by document
    frequency, most frequent first (ties by token)."""
    df = Counter()
    for text in texts:
        df.update({t for t in analyze_simple(text)
                   if len(t) >= 3 and t not in ENGLISH_STOPWORDS})
    return [t for t, _ in sorted(df.items(), key=lambda x: (-x[1], x[0]))]


# -- oracle answers --------------------------------------------------------

def build_oracle(rows: pd.DataFrame) -> tuple[OracleIndex, list[int]]:
    oracle = OracleIndex()
    ids = [spark_xxhash64_str(u) for u in rows["url"]]
    for doc_id, text in zip(ids, rows["text"]):
        oracle.add(doc_id, text)
    return oracle, ids


def _rank(scores: dict[int, float]) -> list[list]:
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:DEPTH]
    return [[d, s] for d, s in ranked]


def bm25_scores(oracle: OracleIndex, idf: dict[str, float],
                docs=None) -> dict[int, float]:
    """BM25 sum over ``idf``'s terms with the oracle's corpus statistics,
    optionally restricted to the doc ids in ``docs``."""
    k1, b = oracle.params.k1, oracle.params.b
    scores: dict[int, float] = defaultdict(float)
    for term in sorted(idf):
        for doc_id, tf in oracle.postings.get(term, {}).items():
            if docs is not None and doc_id not in docs:
                continue
            dl = oracle.doclens[doc_id]
            scores[doc_id] += idf[term] * tf / (
                tf + k1 * (1 - b + b * dl / oracle.avgdl)
            )
    return scores


def expect_and(oracle: OracleIndex, q: str) -> list[list]:
    terms = set(analyze_text(q))
    plists = [oracle.postings.get(t) for t in terms]
    if not terms or not all(plists):
        return []
    docs = set.intersection(*(set(p) for p in plists))
    return _rank(bm25_scores(oracle, {t: oracle.idf(t) for t in terms}, docs))


def expect_filtered(oracle: OracleIndex, q: str, allowed: set) -> list[list]:
    terms = set(analyze_text(q))
    return _rank(bm25_scores(
        oracle, {t: oracle.idf(t) for t in terms if t in oracle.postings},
        allowed,
    ))


def expect_fuzzy(oracle: OracleIndex, q: str, fuzziness: int = 1,
                 max_expansions: int = 50) -> list[list]:
    """Every vocabulary term within ``fuzziness`` Damerau-OSA edits of an
    analyzed query term, capped per term by (df desc, term), BM25-summed."""
    idf: dict[str, float] = {}
    for t in sorted(set(analyze_text(q))):
        near = [v for v in oracle.postings
                if abs(len(v) - len(t)) <= fuzziness
                and osa_distance(v, t, cap=fuzziness) <= fuzziness]
        near.sort(key=lambda v: (-len(oracle.postings[v]), v))
        for v in near[:max_expansions]:
            idf[v] = oracle.idf(v)
    return _rank(bm25_scores(oracle, idf))


def phrase_hits(q: str, doc_terms: list[tuple[str, int]]) -> tuple[int, int] | None:
    """(n_occurrences, first_pos) of phrase ``q`` in one analyzed document:
    anchors a with term i at position a + offset_i - offset_0."""
    qpos = analyze_with_positions(q)
    where: dict[str, set[int]] = defaultdict(set)
    for t, p in doc_terms:
        where[t].add(p)
    anchors = None
    for t, off in qpos:
        shifted = {p - (off - qpos[0][1]) for p in where.get(t, ())}
        anchors = shifted if anchors is None else anchors & shifted
    if not anchors:
        return None
    return len(anchors), min(anchors)


# -- commands --------------------------------------------------------------

def cmd_build(seed: int, out: str) -> None:
    memoize_stemmer()
    check_pin("generator_probe", generate_rows(PROBE["n_docs"], PROBE["seed"]))
    rows = generate_rows(BUILD_DOCS, seed)
    rng = np.random.default_rng([seed, 1])
    n_tokens = np.array([len(analyze_simple(t)) for t in rows["text"]])
    eligible = np.flatnonzero(n_tokens >= 200)
    n_copies = min(len(eligible), round(PLANTED_SHARE * len(rows)))
    originals = np.sort(rng.choice(eligible, size=n_copies, replace=False))
    copies = rows.iloc[originals].copy()
    drop = rng.integers(1, 3, size=n_copies)
    copies["url"] = copies["url"] + "copy/"
    copies["text"] = [t.split(None, int(k))[-1]
                      for t, k in zip(copies["text"], drop)]
    planted = [[o, c] for o, c in zip(rows["url"].iloc[originals], copies["url"])]
    corpus = pd.concat([rows, copies], ignore_index=True)
    write_corpus(corpus, os.path.join(out, "corpus.parquet"))
    words = word_ranks(rows["text"])
    head, mid = words[:10], words[100:1000]
    queries = [f"{head[i]} {mid[a]} {mid[b]}" for i, (a, b) in
               enumerate(rng.choice(len(mid), size=(3, 2), replace=False))]
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump({"planted": planted, "queries": queries}, f)


def cmd_oracle(corpus: str, queries: str, out: str) -> None:
    memoize_stemmer()
    rows = pq.read_table(corpus, columns=["url", "text"]).to_pandas()
    with open(queries) as f:
        qs = json.load(f)
    oracle, _ = build_oracle(rows)
    with open(out, "w") as f:
        json.dump({"n_docs": oracle.n_docs,
                   "topk": [[[d, s] for d, s in oracle.topk(q, DEPTH)] for q in qs]}, f)


def cmd_serve(out: str) -> None:
    memoize_stemmer()
    rows = generate_rows(SERVE_DOCS, SERVE_CORPUS_SEED)
    pins = {"corpus": check_pin("serve_corpus", rows),
            "probe": check_pin(
                "generator_probe",
                generate_rows(PROBE["n_docs"], PROBE["seed"]))}
    write_corpus(rows, os.path.join(out, "corpus.parquet"))
    oracle, ids = build_oracle(rows)
    allowed = {d for d, lang in zip(ids, rows["lang"]) if lang == FILTER_LANG}
    words = word_ranks(rows["text"])
    head, mid = words[:20], words[100:2000]
    rng = np.random.default_rng([SERVE_CORPUS_SEED, 2])

    def pick(xs):
        return xs[int(rng.integers(len(xs)))]

    # adjacent head-term pairs in the analyzed stream, by frequency
    stem_of = {w: analyze_text(w)[0] for w in head}
    raw_of = {s: w for w, s in stem_of.items()}
    bigrams = Counter()
    for text in rows["text"]:
        toks = analyze_with_positions(text)
        for (a, pa_), (b, pb) in zip(toks, toks[1:]):
            if pb == pa_ + 1 and a != b and a in raw_of and b in raw_of:
                bigrams[(a, b)] += 1
    top_pairs = [p for p, _ in sorted(bigrams.items(),
                                      key=lambda x: (-x[1], x[0]))][:POOL_PER_KIND]

    pool = {k: [] for k in KINDS}
    for i in range(POOL_PER_KIND):
        pool["bm25"].append(f"{pick(head)} {pick(mid)} {pick(mid)}")
        pool["filtered"].append(f"{pick(head)} {pick(mid)} {pick(mid)}")
        pool["and"].append(f"{pick(head)} {pick(mid)}")
        a, b = top_pairs[i % len(top_pairs)]
        pool["phrase"].append(f"{raw_of[a]} {raw_of[b]}")
        w = pick([m for m in mid if len(m) >= 5])
        j = int(rng.integers(1, len(w) - 2))
        while w[j] == w[j + 1]:
            j = (j + 1) % (len(w) - 1)
        pool["fuzzy"].append(w[:j] + w[j + 1] + w[j] + w[j + 2:])

    answers: dict[str, list] = {
        "bm25": [[[d, s] for d, s in oracle.topk(q, DEPTH)]
                 for q in pool["bm25"]],
        "and": [expect_and(oracle, q) for q in pool["and"]],
        "filtered": [expect_filtered(oracle, q, allowed)
                     for q in pool["filtered"]],
        "fuzzy": [expect_fuzzy(oracle, q) for q in pool["fuzzy"]],
    }
    hits: list[dict[int, tuple[int, int]]] = [{} for _ in pool["phrase"]]
    for doc_id, text in zip(ids, rows["text"]):
        toks = analyze_with_positions(text)
        present = {t for t, _ in toks}
        for i, q in enumerate(pool["phrase"]):
            if all(t in present for t, _ in analyze_with_positions(q)):
                h = phrase_hits(q, toks)
                if h is not None:
                    hits[i][doc_id] = h
    answers["phrase"] = [
        [[d, n, p] for d, (n, p) in
         sorted(h.items(), key=lambda x: (-x[1][0], x[0]))[:K]]
        for h in hits
    ]
    with open(os.path.join(out, "pool.json"), "w") as f:
        json.dump({"pins": pins, "queries": pool, "expected": answers}, f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build")
    b.add_argument("--seed", type=int, required=True)
    b.add_argument("--out", required=True)
    s = sub.add_parser("serve")
    s.add_argument("--out", required=True)
    o = sub.add_parser("oracle")
    o.add_argument("--corpus", required=True)
    o.add_argument("--queries", required=True)
    o.add_argument("--out", required=True)
    sub.add_parser("pins", help="print the digests pins.json records")
    args = ap.parse_args()
    if args.cmd == "build":
        cmd_build(args.seed, args.out)
    elif args.cmd == "serve":
        cmd_serve(args.out)
    elif args.cmd == "oracle":
        cmd_oracle(args.corpus, args.queries, args.out)
    else:
        memoize_stemmer()
        print(json.dumps({
            "generator_probe": {**PROBE, **digest(
                generate_rows(PROBE["n_docs"], PROBE["seed"]))},
            "serve_corpus": {"n_docs": SERVE_DOCS, "seed": SERVE_CORPUS_SEED,
                             **digest(generate_rows(SERVE_DOCS, SERVE_CORPUS_SEED))},
        }, indent=2))


if __name__ == "__main__":
    main()
