#!/usr/bin/env python
"""Per-task Python-worker cost: an identity ``mapInArrow`` against the same
native stage.

Both stages run over ``--partitions`` one-row partitions in one warm
session.  The identity kernel imports ``docs_indexer_spark`` inside the
worker the way every engine kernel does, so with the stat-gated import
cache (``docs_indexer_spark/_worker.py``) a reused worker skips the
per-task zip-archive re-reads.  Prints one JSON line: the median seconds
of each stage, the derived per-task cost ``(python - native) * cores /
partitions``, and the gate counters the Python tasks reported.

Usage (from a checkout's root, so the workers import that checkout):
    python BENCH/worker_imports_probe.py [--cores 3] [--partitions 12] [--runs 7]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


def identity(batches):
    import os

    import pyarrow as pa

    import docs_indexer_spark

    # the gate's counters after this task's invalidate_caches sweep (-1
    # on a checkout without the gate)
    gate = getattr(docs_indexer_spark, "_worker", None)
    reads, skips = (gate.reads, gate.skips) if gate else (-1, -1)
    for b in batches:
        yield pa.RecordBatch.from_pydict({
            "id": b.column(0),
            "pid": pa.array([os.getpid()] * b.num_rows, pa.int64()),
            "reads": pa.array([reads] * b.num_rows, pa.int64()),
            "skips": pa.array([skips] * b.num_rows, pa.int64()),
        })


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=3)
    ap.add_argument("--partitions", type=int, default=12)
    ap.add_argument("--runs", type=int, default=7)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from docs_indexer_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(args.partitions, numPartitions=args.partitions)
    native = df.selectExpr("id", "id as pid", "id as reads", "id as skips")
    python = df.mapInArrow(
        identity, "id long, pid long, reads long, skips long"
    )

    def timed(frame) -> tuple[float, list]:
        t0 = time.perf_counter()
        rows = frame.collect()
        return time.perf_counter() - t0, rows

    for _ in range(2):  # warm the JVM and the worker pool
        timed(native)
        timed(python)
    t_native, t_python, rows = [], [], []
    for _ in range(args.runs):
        t_native.append(timed(native)[0])
        dt, rows = timed(python)
        t_python.append(dt)
    n, p = statistics.median(t_native), statistics.median(t_python)
    print(json.dumps({
        "cores": args.cores,
        "partitions": args.partitions,
        "native_s": round(n, 3),
        "python_s": round(p, 3),
        "per_task_s": round((p - n) * args.cores / args.partitions, 3),
        "native_runs_s": [round(t, 3) for t in t_native],
        "python_runs_s": [round(t, 3) for t in t_python],
        "last_run_gate": sorted({(r.pid, r.reads, r.skips) for r in rows}),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
