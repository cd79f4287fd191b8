"""The benchmark's two workloads, driven through the engine's public API.

``build``: one op is the ingest path users run, ``spark-submit ... dedup
--method minhash --apply OUT`` followed by ``build --input OUT --positions``,
in one Spark application.  ``serve``: one op is one query through
``IndexReader``, in a closed loop with one client.

Each workload returns the op timings and the outputs the correctness gate
compares; with a :class:`probes.Tracer` it also returns per-layer numbers.
Run ``python3 perfbench/workloads.py index DIR`` to build the serving index
of ``DIR/corpus.parquet`` into ``DIR/wh`` (the serve cache's preparation).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from inputs import FILTER, K, KINDS  # noqa: E402
from probes import ProcTree, PssSampler, Tracer, quantile  # noqa: E402

# the CLI's build defaults, except one build slice where the CLI has
# eight: every slice costs 5-8 s of Spark jobs on 4 cores whatever its
# size, and one still runs the resumable path with its checkpoint
BUILD_SLICES = 1
BUILD_BUCKETS = 32
MINHASH = {"num_hashes": 16, "bands": 4}
WARMUP_PER_KIND = 3
JVM_HEAP = "2g"
# A run's op count is fixed from --seconds with these nominal op costs on
# 4 cores, not by watching the clock: with a time limit the count swings by
# a round between runs, and since later queries are warmer that alone moved
# the medians by ~8%.
INGEST_OP_S = 40.0
SERVE_ROUND_S = 5.0


def start_spark(work: str):
    """The engine's session (``session.get_spark``) on ``local[nproc - 1]``,
    with every scratch file under ``work`` and the package importable by
    Spark's Python workers (pandas-UDF stages fail without it)."""
    root = os.path.dirname(HERE)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher and Spark's) keeps its
    # temp files under ``work`` and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if o
    )
    # a fixed heap (-Xmx here, -Xms below): G1 grows an unbounded one to a
    # size that varies by 40% between identical runs, and a bounded one
    # still to sizes ~25% apart, which would swamp the memory metric
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    from docs_indexer_spark.session import get_spark

    # one core fewer than the machine has: the JVM's compiler and GC
    # threads, the Python worker daemon, this client and its PSS sampler
    # run beside the task threads, and on a full machine they take turns
    # with them, which spread the op times wider at the same median
    # (perfbench/README.md, Steadiness)
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then wait for the JVM and every Python worker it
    started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=timeout)
    tree = ProcTree()
    deadline = time.monotonic() + timeout
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree.descendants():
        os.kill(pid, 9)


def ingest(spark, corpus: str, out: str, tracer: Tracer | None = None) -> dict:
    """``dedup --method minhash --apply`` then ``build --positions``."""
    from docs_indexer_spark.operators import dedup
    from docs_indexer_spark.plans.build_index import build_index, prepare_documents
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    tree = ProcTree()
    t0, c0 = time.perf_counter(), tree.cpu()
    with _maybe_span(tracer, "dedup", group="dedup"):
        docs = prepare_documents(spark.read.parquet(corpus))
        sigs = dedup.minhash_signatures(
            docs, num_hashes=MINHASH["num_hashes"], hash="xx"
        )
        pairs = dedup.lsh_candidate_pairs(sigs, **MINHASH)
        dedup.dedup_representatives(
            docs, pairs.select("doc_a", "doc_b")
        ).write.mode("overwrite").parquet(f"{out}/kept")
    t1, c1 = time.perf_counter(), tree.cpu()
    with _maybe_span(tracer, "build", group="build"):
        metrics = build_index(
            spark, spark.read.parquet(f"{out}/kept"),
            SnapshotCatalog(f"{out}/wh"), "perfbench",
            n_build_partitions=BUILD_SLICES, n_buckets=BUILD_BUCKETS,
            positions=True,
        )
    t2, c2 = time.perf_counter(), tree.cpu()
    return {
        "op_s": t2 - t0, "dedup_s": t1 - t0, "build_s": t2 - t1,
        "cpu_s": c2["total"] - c0["total"],
        "dedup_cpu_s": c1["total"] - c0["total"],
        "build_cpu_s": c2["total"] - c1["total"],
        "build_jvm_cpu_s": c2["jvm"] - c1["jvm"],
        "build_pyworker_cpu_s": c2["pyworker"] - c1["pyworker"],
        "n_docs": int(metrics["n_docs"]),
        "t_build": t1,
    }


def _maybe_span(tracer: Tracer | None, name: str, group: str | None = None):
    return tracer.span(name, group=group) if tracer is not None else nullcontext()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# -- build -----------------------------------------------------------------

def trace_build_layers(tracer: Tracer) -> None:
    """Span every layer boundary ``build_index`` crosses."""
    from docs_indexer_spark.operators import spimi
    from docs_indexer_spark.plans import build_index as plan
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    tracer.wrap(SnapshotCatalog, "checkpoint_done", "catalog.checkpoint_done")
    tracer.wrap(spimi, "build_blocks", "spimi.build_blocks")
    tracer.wrap(spimi, "write_blocks", "spimi.write_blocks")
    tracer.wrap(SnapshotCatalog, "write_manifest", "catalog.write_manifest",
                static=True)
    tracer.wrap(SnapshotCatalog, "publish", "catalog.publish")
    tracer.wrap(SnapshotCatalog, "cleanup_build", "catalog.cleanup_build")
    tracer.wrap(plan, "token_relations", "postings.token_relations")


def build_layers(tracer: Tracer, op: dict, out: str) -> dict:
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    def last(name):
        return tracer.spans_named(name)[-1]

    stage1_end = last("catalog.checkpoint_done")["end"]
    encode = last("spimi.write_blocks")
    publish = last("catalog.publish")
    cleanup = last("catalog.cleanup_build")
    gen = SnapshotCatalog(f"{out}/wh").generation_path("index")
    n = op["n_docs"]
    jobs = tracer.jobs("build")
    return {
        "build.stage1_s": stage1_end - op["t_build"],
        "build.stage2.stats_s": last("spimi.build_blocks")["end"] - stage1_end,
        "build.stage2.encode_s": encode["end"] - encode["start"],
        "build.stage2.side_tables_s": publish["start"]
        - last("catalog.write_manifest")["end"],
        "build.publish_s": (publish["end"] - publish["start"])
        + (cleanup["end"] - cleanup["start"]),
        "build.jobs": jobs["jobs"],
        "build.stages": jobs["stages"],
        "build.tasks": jobs["tasks"],
        "build.jvm_cpu_s": op["build_jvm_cpu_s"],
        "build.pyworker_cpu_s": op["build_pyworker_cpu_s"],
        "build.blocks_bytes_per_doc": _dir_bytes(f"{gen}/blocks.parquet") / n,
        "build.deletions_bytes_per_doc": _dir_bytes(f"{gen}/deletions.parquet") / n,
        "build.docs_bytes_per_doc": _dir_bytes(f"{gen}/docs.parquet") / n,
        "build.index_bytes_per_doc": _dir_bytes(gen) / n,
        "build.docs_per_s": n / op["build_s"],
        "build.cpu_ms_per_doc": 1e3 * op["build_cpu_s"] / n,
    }


def _checksum(df) -> int:
    """Force every column of ``df`` through one aggregate (``count()``
    would let Spark prune the columns it does not need)."""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(*df.columns))).collect()[0][0]


def _shingles(text: str) -> set[str]:
    """The shingles ``dedup.with_word_shingles`` hashes: word 3-grams of
    the simple chain, or the whole token string below three tokens."""
    from docs_indexer_spark.functions.analysis import analyze_simple

    toks = analyze_simple(text)
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def dedup_layers(spark, tracer: Tracer, op: dict, corpus: str, out: str,
                 planted: list[list[str]]) -> dict:
    """Stage times of the dedup op from successive prefixes, each forced
    through a checksum aggregate, plus candidate-pair quality."""
    from docs_indexer_spark.functions.xxh import spark_xxhash64_str
    from docs_indexer_spark.operators import dedup
    from docs_indexer_spark.plans.build_index import prepare_documents

    docs = prepare_documents(spark.read.parquet(corpus))
    sigs = dedup.minhash_signatures(docs, num_hashes=MINHASH["num_hashes"], hash="xx")
    pairs = dedup.lsh_candidate_pairs(sigs, **MINHASH)
    prefix = []
    for name, run in [
        ("dedup.prefix.signatures", lambda: _checksum(sigs)),
        ("dedup.prefix.lsh_pairs", lambda: _checksum(pairs)),
        ("dedup.prefix.representatives", lambda: dedup.dedup_representatives(
            docs, pairs.select("doc_a", "doc_b")
        ).write.mode("overwrite").parquet(f"{out}/kept_prefix")),
    ]:
        with tracer.span(name) as s:
            run()
        prefix.append(s["end"] - s["start"])
    shutil.rmtree(f"{out}/kept_prefix", ignore_errors=True)

    rows = pq.read_table(corpus, columns=["url", "text"]).to_pandas()
    text_of = {spark_xxhash64_str(u): t for u, t in zip(rows["url"], rows["text"])}
    cand = {(int(a), int(b)) for a, b in pairs.collect()}
    useful = 0
    for a, b in cand:
        sa, sb = _shingles(text_of[a]), _shingles(text_of[b])
        useful += len(sa & sb) >= 0.5 * len(sa | sb)
    found = 0
    for urls in planted:
        a, b = sorted(spark_xxhash64_str(u) for u in urls)
        found += (a, b) in cand
    n_in = len(rows)
    return {
        "dedup.signatures_s": prefix[0],
        "dedup.lsh_pairs_s": prefix[1] - prefix[0],
        "dedup.representatives_s": prefix[2] - prefix[1],
        "dedup.jobs": tracer.jobs("dedup")["jobs"],
        "dedup.candidate_pairs": len(cand),
        "dedup.pair_precision": useful / len(cand) if cand else 1.0,
        "dedup.planted_recall": found / len(planted) if planted else 1.0,
        "dedup.docs_per_s": n_in / op["dedup_s"],
        "dedup.cpu_ms_per_doc": 1e3 * op["dedup_cpu_s"] / n_in,
    }


def check_build(spark, out: str, op: dict, inputs: dict) -> list[str]:
    """Failed checks of one ingest op: planted copies clustered with their
    originals, and n_docs plus BM25 top-k equal to the oracle's over the
    documents the op kept."""
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    qfile = f"{out}/check_queries.json"
    with open(qfile, "w") as f:
        json.dump(inputs["queries"], f)
    oracle = subprocess.Popen([
        sys.executable, os.path.join(HERE, "inputs.py"), "oracle",
        "--corpus", f"{out}/kept", "--queries", qfile,
        "--out", f"{out}/oracle.json",
    ])
    try:
        failures = []
        kept = set(pq.read_table(f"{out}/kept", columns=["url"])
                   .column("url").to_pylist())
        both = [o for o, c in inputs["planted"] if o in kept and c in kept]
        if both:
            failures.append(f"{len(both)} planted copies not clustered, e.g. {both[0]}")
        reader = IndexReader(spark, SnapshotCatalog(f"{out}/wh"))
        try:
            got = [[(int(r["doc_id"]), float(r["score"]))
                    for r in reader.search(q, k=K).collect()]
                   for q in inputs["queries"]]
        finally:
            reader.close()
    finally:
        if oracle.wait(timeout=120) != 0:
            raise RuntimeError("oracle process failed")
    with open(f"{out}/oracle.json") as f:
        want = json.load(f)
    if not op["n_docs"] == len(kept) == want["n_docs"]:
        failures.append(
            f"n_docs {op['n_docs']} vs kept {len(kept)} vs oracle {want['n_docs']}"
        )
    for q, g, w in zip(inputs["queries"], got, want["topk"]):
        if not same_ranking(w, g):
            failures.append(f"bm25 {q!r}: {g[:3]} vs oracle {w[:3]}")
    return failures


def run_build(spark, work: str, inputs_dir: str, seconds: float,
              sampler: PssSampler, tracer: Tracer | None) -> dict:
    """``seconds / INGEST_OP_S`` ingest ops back to back (at least one;
    one in the traced run), each checked and deleted after it."""
    with open(f"{inputs_dir}/inputs.json") as f:
        inputs = json.load(f)
    corpus = f"{inputs_dir}/corpus.parquet"
    if tracer is not None:
        trace_build_layers(tracer)
    ops, notes, layers = [], [], {}
    failed = 0
    n_ops = 1 if tracer is not None else max(1, round(seconds / INGEST_OP_S))
    t_first = time.perf_counter()
    while len(ops) < n_ops:
        out = f"{work}/op{len(ops)}"
        with sampler.active(), _maybe_span(tracer, "op"):
            op = ingest(spark, corpus, out, tracer)
        ops.append(op)
        if tracer is not None:
            tracer.restore()
            layers = build_layers(tracer, op, out)
            layers.update(dedup_layers(spark, tracer, op, corpus, out,
                                       inputs["planted"]))
        bad = check_build(spark, out, op, inputs)
        failed += bool(bad)
        notes += bad
        shutil.rmtree(out, ignore_errors=True)
    return {"t_first": t_first, "attempted": len(ops), "failed": failed,
            "notes": notes, "layers": layers,
            "op_times": {"ingest": [o["op_s"] for o in ops]},
            "cpu_per_op": [o["cpu_s"] for o in ops]}


# -- serve -----------------------------------------------------------------

def query(reader, kind: str, q: str):
    """Run one query; returns (rows, plan_s, exec_s)."""
    t0 = time.perf_counter()
    if kind == "bm25":
        df = reader.search(q, k=K)
    elif kind == "and":
        df = reader.search(q, k=K, operator="and")
    elif kind == "phrase":
        df = reader.search_phrase(q, k=K)
    elif kind == "fuzzy":
        df = reader.search_fuzzy(q, k=K)
    else:
        df = reader.search(q, k=K, where=FILTER)
    t1 = time.perf_counter()
    rows = df.collect()
    return rows, t1 - t0, time.perf_counter() - t1


def same_ranking(expected: list, actual: list, tol: float = 1e-6) -> bool:
    """Engine top-k (doc_id, score) against the oracle's deeper list: the
    score at every rank within ``tol`` (relative) of the oracle's at that
    rank, and every returned doc one the oracle scores the same, so score
    ties may order either way."""
    if len(actual) != min(K, len(expected)):
        return False
    if len({d for d, _ in actual}) != len(actual):
        return False
    oracle_score = {d: s for d, s in expected}
    for (d, s), (_, es) in zip(actual, expected):
        if abs(s - es) > tol * abs(es):
            return False
        if d not in oracle_score or abs(oracle_score[d] - es) > tol * abs(es):
            return False
    return True


def check_query(kind: str, rows, expected: list) -> bool:
    if kind == "phrase":
        got = [[int(r["doc_id"]), int(r["n_occurrences"]), int(r["first_pos"])]
               for r in rows]
        return got == expected
    return same_ranking(expected, [(int(r["doc_id"]), float(r["score"]))
                                   for r in rows])


def trace_serve_layers(tracer: Tracer, counts: dict) -> None:
    """Count the block files manifest pruning keeps per query."""
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    raw = SnapshotCatalog.__dict__["read_pruned_at"].__func__

    def read_pruned_at(spark, gen_path, name, key, values):
        df = raw(spark, gen_path, name, key, values)
        if name == "blocks.parquet":
            counts["kept"] += len(df.inputFiles())
            counts["total"] += sum(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(gen_path, name))
            )
        return df

    tracer.patch(SnapshotCatalog, "read_pruned_at", staticmethod(read_pruned_at))


def run_serve(spark, cache: str, seed: int, seconds: float,
              sampler: PssSampler, tracer: Tracer | None) -> dict:
    """Open a reader, warm it up, then send ``seconds / SERVE_ROUND_S``
    rounds of one query of every kind; check every answer afterwards."""
    from docs_indexer_spark.plans.query import IndexReader
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    with open(f"{cache}/pool.json") as f:
        pool = json.load(f)
    rng = np.random.default_rng(seed)
    order = {k: rng.permutation(len(pool["queries"][k])) for k in KINDS}
    files = {"kept": 0, "total": 0}
    if tracer is not None:
        trace_serve_layers(tracer, files)

    t0 = time.perf_counter()
    reader = IndexReader(spark, SnapshotCatalog(f"{cache}/wh"))
    t1 = time.perf_counter()
    # warm-up takes the tail of each kind's order, timed rounds the head;
    # the warm-up queries run concurrently (IndexReader serves concurrent
    # queries), which warms the JVM and the Python workers in about the
    # time of the slowest one instead of the sum
    with ThreadPoolExecutor(len(KINDS)) as pool_exec:
        for fut in [pool_exec.submit(query, reader, k,
                                     pool["queries"][k][int(order[k][-1 - i])])
                    for i in range(WARMUP_PER_KIND) for k in KINDS]:
            fut.result()
    t_first = time.perf_counter()

    done = []
    stats = {k: {"lat": [], "plan": [], "exec": [], "jobs": [], "tasks": []}
             for k in KINDS}
    tree = ProcTree()
    cpu0 = tree.cpu()["total"]
    try:
        with sampler.active():
            for r in range(max(1, round(seconds / SERVE_ROUND_S))):
                for k in KINDS:
                    j = int(order[k][r % (len(order[k]) - WARMUP_PER_KIND)])
                    group = f"q{r}.{k}"
                    with _maybe_span(tracer, f"query.{k}", group=group):
                        rows, plan_s, exec_s = query(
                            reader, k, pool["queries"][k][j]
                        )
                    st = stats[k]
                    st["lat"].append(plan_s + exec_s)
                    st["plan"].append(plan_s)
                    st["exec"].append(exec_s)
                    if tracer is not None:
                        counts = tracer.jobs(group)
                        st["jobs"].append(counts["jobs"])
                        st["tasks"].append(counts["tasks"])
                    done.append((k, j, rows))
        cpu = tree.cpu()["total"] - cpu0
    finally:
        reader.close()
    notes = [f"{k} {pool['queries'][k][j]!r}" for k, j, rows in done
             if not check_query(k, rows, pool["expected"][k][j])]
    layers = {"serve.reader_open_s": t1 - t0, "serve.warmup_s": t_first - t1}
    if tracer is not None:
        tracer.restore()
        for k in KINDS:
            for name, key in [("p50_s", "lat"), ("plan_s", "plan"),
                              ("exec_s", "exec"), ("jobs", "jobs"),
                              ("tasks", "tasks")]:
                layers[f"serve.{k}.{name}"] = quantile(stats[k][key], 0.5)
        layers["serve.manifest_files_ratio"] = files["kept"] / files["total"]
    return {"t_first": t_first, "attempted": len(done), "failed": len(notes),
            "notes": notes, "layers": layers,
            "op_times": {k: stats[k]["lat"] for k in KINDS},
            "cpu_per_op": [cpu / len(done)]}


def build_serve_index(cache: str) -> None:
    """Build the serving index of ``cache/corpus.parquet`` into
    ``cache/wh`` with the build workload's settings."""
    from docs_indexer_spark.plans.build_index import build_index
    from docs_indexer_spark.sources.catalog import SnapshotCatalog

    spark = start_spark(os.path.join(cache, "_spark"))
    try:
        build_index(
            spark, spark.read.parquet(f"{cache}/corpus.parquet"),
            SnapshotCatalog(f"{cache}/wh"), "perfbench-serve",
            n_build_partitions=BUILD_SLICES, n_buckets=BUILD_BUCKETS,
            positions=True,
        )
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(cache, "_spark"), ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "index":
        raise SystemExit("usage: python3 perfbench/workloads.py index DIR")
    build_serve_index(sys.argv[2])
