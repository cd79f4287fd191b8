"""Measurement probes the benchmark wraps around the engine.

- :class:`ProcTree` reads CPU time and proportional set size (PSS) of this
  process and every descendant (the Spark JVM and its Python workers) from
  ``/proc``.
- :class:`PssSampler` samples the tree's PSS on a background thread while
  timed operations run.
- :class:`Tracer` is the traced-run layer: spans (name, start, end, parent)
  around calls into the engine's public functions, and Spark job, stage and
  task counts per job group from PySpark's public ``StatusTracker``.

Nothing here edits the engine: the traced run replaces module attributes of
``docs_indexer_spark`` with timing wrappers for the life of the process.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def _cpu_s(fields: list[str], children: bool = True) -> float:
    # utime, stime, cutime, cstime are fields 14-17 (1-based) of stat;
    # after stripping "pid (comm) " they sit at offsets 11-14
    ticks = int(fields[11]) + int(fields[12])
    if children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcTree:
    """This process and its live descendants.

    CPU of a descendant that has exited is not lost: the kernel adds it to
    its parent's ``cutime``/``cstime`` when the parent reaps it, so the sum
    of (own + reaped-children) CPU over live members is the tree's total.
    """

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def _snapshot(self) -> tuple[dict[int, list[str]], dict[int, list[int]]]:
        stats: dict[int, list[str]] = {}
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            fields = _stat(int(name))
            if fields is None:
                continue
            stats[int(name)] = fields
            children.setdefault(int(fields[1]), []).append(int(name))
        return stats, children

    @staticmethod
    def _subtree(root: int, stats, children) -> dict[int, list[str]]:
        out, todo = {}, [root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return out

    def members(self) -> dict[int, list[str]]:
        return self._subtree(self.root, *self._snapshot())

    def cpu(self) -> dict[str, float]:
        """{"total", "jvm", "pyworker"} CPU seconds so far.

        ``jvm`` is the Spark JVM's own CPU; ``pyworker`` is everything the
        JVM started (the Python worker daemon and its forked workers).
        """
        stats, children = self._snapshot()
        members = self._subtree(self.root, stats, children)
        total = sum(_cpu_s(f) for f in members.values())
        jvm = pyw = 0.0
        for pid, f in members.items():
            if _comm(pid) != "java":
                continue
            own = _cpu_s(f, children=False)
            jvm += own
            pyw += sum(_cpu_s(cf) for cf in
                       self._subtree(pid, stats, children).values()) - own
        return {"total": total, "jvm": jvm, "pyworker": pyw}

    def pss_mb(self) -> float:
        total_kb = 0
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb / 1024.0

    def descendants(self) -> list[int]:
        return [p for p in self.members() if p != self.root]


class PssSampler:
    """Samples the tree's PSS every ``interval`` seconds while active."""

    def __init__(self, tree: ProcTree, interval: float = 0.5) -> None:
        self.tree = tree
        self.interval = interval
        self.samples: list[float] = []
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(0.1):
                self.samples.append(self.tree.pss_mb())
                self._stop.wait(self.interval)

    @contextmanager
    def active(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    """Spans and Spark job counts for the traced run.

    ``self_s`` accumulates the time spent in the tracer's own bookkeeping
    (span records, job-group switches and StatusTracker reads), which is
    the overhead the traced run adds on top of the engine's work.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.self_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        if group is not None:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.self_s += rec["start"] - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = t
            self._stack.pop()
            if group is not None:
                self.sc.setJobGroup("", "")
            self.self_s += time.perf_counter() - t

    def jobs(self, group: str) -> dict[str, int]:
        """Job, stage and task counts of a job group; stages skipped
        because their shuffle output was reused are not counted."""
        t = time.perf_counter()
        job_ids = self.status.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            info = self.status.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            info = self.status.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        self.self_s += time.perf_counter() - t
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    def wrap(self, owner, attr: str, name: str, static: bool = False) -> None:
        """Replace ``owner.attr`` with a version that records a span named
        ``name`` around every call; :meth:`restore` undoes it."""
        raw = owner.__dict__[attr]
        fn = raw.__func__ if static else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, staticmethod(traced) if static else traced)

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` to ``value`` until :meth:`restore`."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
