"""Repository benchmark: ``python3 perfbench/run.py --workload {build,serve}
--seed N --seconds S --trace {0,1}`` from the repository root.

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
perfbench/README.md).  Exits non-zero, without a result, when the engine
is not next to the benchmark or a run cannot complete.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "cpu_ms_per_op": "ms",
    "pss_p90_mb": "MB",
}
KINDS = ("bm25", "and", "phrase", "fuzzy", "filtered")
PER_LAYER = {
    "session.start_s": "s",
    "build.stage1_s": "s",
    "build.stage2.stats_s": "s",
    "build.stage2.encode_s": "s",
    "build.stage2.side_tables_s": "s",
    "build.publish_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "build.jvm_cpu_s": "s",
    "build.pyworker_cpu_s": "s",
    "build.blocks_bytes_per_doc": "B",
    "build.deletions_bytes_per_doc": "B",
    "build.docs_bytes_per_doc": "B",
    "build.index_bytes_per_doc": "B",
    "build.docs_per_s": "1/s",
    "build.cpu_ms_per_doc": "ms",
    "dedup.signatures_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.representatives_s": "s",
    "dedup.jobs": "count",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.planted_recall": "ratio",
    "dedup.docs_per_s": "1/s",
    "dedup.cpu_ms_per_doc": "ms",
    **{f"serve.{k}.{m}": u for k in KINDS for m, u in [
        ("p50_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
        ("jobs", "count"), ("tasks", "count")]},
    "serve.manifest_files_ratio": "ratio",
    "serve.reader_open_s": "s",
    "serve.warmup_s": "s",
    "trace.self_ms_per_op": "ms",
    "trace.op_p50_s": "s",
}


def serve_cache() -> tuple[str, float]:
    """The serving corpus, query pool with expected answers, and index,
    built once per version of the engine and benchmark code.  Returns the
    cache directory and the seconds spent building it (0 when present)."""
    h = hashlib.sha256()
    sources = [os.path.join(HERE, f)
               for f in ("inputs.py", "pins.json", "workloads.py")]
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "docs_indexer_spark"))):
        sources += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for path in sources:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    cache = os.path.join(WORK, f"serve-{h.hexdigest()[:16]}")
    if os.path.isdir(cache):
        return cache, 0.0
    t0 = time.perf_counter()
    for old in os.listdir(WORK) if os.path.isdir(WORK) else ():
        if old.startswith("serve-"):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    tmp = f"{cache}.tmp{os.getpid()}"
    os.makedirs(tmp)
    subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), "serve",
                    "--out", tmp], check=True, stdout=sys.stderr)
    subprocess.run([sys.executable, os.path.join(HERE, "workloads.py"), "index",
                    tmp], check=True, stdout=sys.stderr)
    os.rename(tmp, cache)
    # write the cache's files back now, not during the timed ops
    os.sync()
    return cache, time.perf_counter() - t0


def kind_median(op_times: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median latency, so
    every kind weighs the same.  The median of a mix of kinds whose
    latencies cluster apart lands between clusters and jumps with one
    query; this does not.  With one kind it is that kind's median."""
    from probes import quantile

    logs = [math.log(quantile(v, 0.5)) for v in op_times.values()]
    return math.exp(sum(logs) / len(logs))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["build", "serve"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "docs_indexer_spark", "__init__.py")):
        print(f"perfbench: no docs_indexer_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    from probes import ProcTree, PssSampler, Tracer, quantile
    from workloads import run_build, run_serve, start_spark, stop_spark

    cache, excluded_s = serve_cache()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload == "build":
            t0 = time.perf_counter()
            subprocess.run(
                [sys.executable, os.path.join(HERE, "inputs.py"), "build",
                 "--seed", str(args.seed), "--out", run_dir],
                check=True, stdout=sys.stderr,
            )
            excluded_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - t0
        sampler = PssSampler(ProcTree())
        tracer = Tracer(spark) if args.trace else None
        try:
            if args.workload == "build":
                res = run_build(spark, run_dir, run_dir, args.seconds,
                                sampler, tracer)
            else:
                res = run_serve(spark, cache, args.seed, args.seconds,
                                sampler, tracer)
        finally:
            sampler.close()
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for note in res["notes"]:
        print(f"perfbench: check failed: {note}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed {args.seed}: session {session_s:.2f} s, "
          f"excluded {excluded_s:.2f} s, {res['layers']}, op times "
          f"{ {k: [round(t, 3) for t in v] for k, v in res['op_times'].items()} }",
          file=sys.stderr)
    if args.trace:
        layers = {**res["layers"],
                  "session.start_s": session_s,
                  "trace.self_ms_per_op": 1e3 * tracer.self_s / res["attempted"],
                  "trace.op_p50_s": kind_median(res["op_times"])}
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {unknown}")
        tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        # a layer the workload does not run did no work: it reports 0
        metrics = {n: metric(layers.get(n, 0.0), u) for n, u in PER_LAYER.items()}
    else:
        cpu = res["cpu_per_op"]
        values = {
            "setup_s": res["t_first"] - T_START - excluded_s,
            "op_p50_s": kind_median(res["op_times"]),
            "cpu_ms_per_op": 1e3 * sum(cpu) / len(cpu),
            "pss_p90_mb": quantile(sampler.samples, 0.9),
        }
        metrics = {n: metric(values[n], u) for n, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
