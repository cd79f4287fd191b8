"""Snapshot catalog: atomic publish, fingerprint skip, per-partition
lineage checkpoints — parquet-backed, Iceberg-equivalent semantics.

Maps the reference's operational behaviors onto table snapshots:

- reference A18 fingerprint-idempotency gate (/root/reference/
  hugo.py:378-385,424-448; docs/design.md:9-19): the index generation name
  embeds the source state (git SHA); if it already exists the build exits
  0.  Here: ``is_published(fingerprint)`` checks the catalog before any
  work — a re-run over an unchanged input snapshot is a no-op.
- reference A19 atomic publish (alias swap, /root/reference/
  hugo.py:465-483, blog.py:138-159): an alias file is atomically renamed
  onto the new generation directory; readers always see a complete index.
  Old generations are garbage-collected after the swap, like the
  reference's old-index delete (and Iceberg's expireSnapshots).
- north-rule C4 resumability: a ``_checkpoints`` parquet records
  (build_id, partition_id, input_fingerprint, status, rows, started,
  finished); a restarted build skips partitions already ``done``.

No Iceberg runtime jar ships in this environment; this layer keeps the
exact semantics (snapshot ids, atomic swap, lineage) behind an interface
that swaps to ``spark.read.format("iceberg")`` + ``CREATE OR REPLACE
TABLE`` + snapshot tags unchanged on a real cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POINTER = "CURRENT"
_UNSET = object()


class CommitConflictError(RuntimeError):
    """Another writer published since this writer read the table state —
    the Iceberg optimistic-commit failure (the caller re-reads and
    retries or aborts)."""


def _written_schema(path: str):
    """The Spark schema a Spark writer recorded in the footer of the
    parquet file ``path``, or None for a file written by another tool."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    raw = (pq.read_metadata(path).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    return StructType.fromJson(json.loads(raw)) if raw else None


class SnapshotCatalog:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- generation bookkeeping ------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), _POINTER)

    def current_generation(self, table: str) -> dict | None:
        """The published generation's metadata, or None."""
        p = self._pointer_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_published(self, table: str, fingerprint: str) -> bool:
        """Fingerprint-idempotency gate (reference A18)."""
        cur = self.current_generation(table)
        return bool(cur and cur.get("fingerprint") == fingerprint)

    def generation_path(self, table: str) -> str | None:
        cur = self.current_generation(table)
        if not cur:
            return None
        return os.path.join(self._table_dir(table), cur["generation"])

    def path_for_generation(self, table: str, generation: str) -> str:
        """Path of an EXPLICIT generation name — lets a reader that
        already holds a generation's meta derive its path without a
        second CURRENT read (a republish between two pointer reads would
        otherwise pair one generation's meta with another's path)."""
        return os.path.join(self._table_dir(table), generation)

    # -- write + atomic publish ------------------------------------------
    def stage_generation(self, table: str, fingerprint: str) -> tuple[str, str]:
        """Allocate a new generation dir (named by fingerprint, like the
        reference's `{INDEX_NAME}-{sha}` at hugo.py:424)."""
        gen = f"gen-{fingerprint[:24]}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._table_dir(table), gen)
        os.makedirs(path, exist_ok=True)
        return gen, path

    def _snapshot_log(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "SNAPSHOTS.jsonl")

    def snapshots(self, table: str) -> list[dict]:
        """Publish history, oldest first (Iceberg snapshot-log analogue)."""
        p = self._snapshot_log(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    class _PublishLock:
        """Single-writer commit guard (Iceberg's optimistic-commit
        analogue, pessimistic here because POSIX gives us O_EXCL): the
        swap + log append + expiry run under an exclusive lockfile so two
        concurrent builds cannot interleave log writes or double-expire.
        Stale locks (a crashed writer) are broken after ``stale_sec``."""

        def __init__(self, path: str, timeout: float = 30.0,
                     stale_sec: float = 300.0) -> None:
            self.path = path
            self.timeout = timeout
            self.stale_sec = stale_sec

        def __enter__(self):
            deadline = time.time() + self.timeout
            while True:
                try:
                    fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, str(os.getpid()).encode())
                    os.close(fd)
                    return self
                except FileExistsError:
                    try:
                        if time.time() - os.path.getmtime(self.path) > self.stale_sec:
                            os.unlink(self.path)  # break a crashed writer's lock
                            continue
                    except FileNotFoundError:
                        continue
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"publish lock held too long: {self.path}"
                        )
                    time.sleep(0.05)

        def __exit__(self, *exc):
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass

    def publish(self, table: str, generation: str, fingerprint: str,
                metrics: dict | None = None, retain: int = 2,
                expected_fingerprint=_UNSET) -> None:
        """Atomic alias swap (reference A19) + DEFERRED old-generation GC.

        The previous generation is NOT deleted at swap time — a reader
        holding its path (an open IndexReader, an in-flight query) keeps a
        complete index.  Instead the swap appends to a snapshot log and
        expires generations beyond the newest ``retain`` (current included)
        — Iceberg's expireSnapshots policy, by count.  The commit section
        is single-writer (lockfile) so concurrent publishers serialize.

        ``expected_fingerprint`` adds Iceberg's OPTIMISTIC-concurrency
        check on top of the lock's mutual exclusion: pass the fingerprint
        of the generation this build was based on (None for "table must
        not exist yet"), and the commit raises :class:`CommitConflictError`
        if another writer advanced the table in between — the caller then
        re-reads the new state and rebases or aborts, exactly an Iceberg
        commit retry.
        """
        tdir = self._table_dir(table)
        meta = {
            "generation": generation,
            "fingerprint": fingerprint,
            "published_at": time.time(),
            "metrics": metrics or {},
        }
        with self._PublishLock(os.path.join(tdir, ".publish.lock")):
            if expected_fingerprint is not _UNSET:
                cur = self.current_generation(table)
                cur_fp = cur.get("fingerprint") if cur else None
                if cur_fp != expected_fingerprint:
                    raise CommitConflictError(
                        f"table {table} advanced: expected base "
                        f"{expected_fingerprint!r}, found {cur_fp!r}"
                    )
            fd, tmp = tempfile.mkstemp(dir=tdir)
            with os.fdopen(fd, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self._pointer_path(table))  # atomic on POSIX
            with open(self._snapshot_log(table), "a") as f:
                f.write(json.dumps(meta) + "\n")
            self.expire_snapshots(table, retain=retain)

    def expire_snapshots(self, table: str, retain: int = 2) -> list[str]:
        """Delete all but the newest ``retain`` generations; returns the
        expired generation names.  Never deletes the published one."""
        log = self.snapshots(table)
        current = self.current_generation(table)
        cur_gen = current["generation"] if current else None
        seen: list[str] = []
        for rec in log:  # oldest → newest; keep last occurrence order
            g = rec["generation"]
            if g in seen:
                seen.remove(g)
            seen.append(g)
        to_expire = [g for g in seen[:-retain] if retain > 0 and g != cur_gen] \
            if len(seen) > retain else []
        for g in to_expire:
            shutil.rmtree(os.path.join(self._table_dir(table), g),
                          ignore_errors=True)
        return to_expire

    def commit_with_retries(
        self,
        table: str,
        attempt,
        max_attempts: int = 4,
        base_delay: float = 0.05,
    ) -> dict:
        """Retry/backoff around the optimistic commit (the engine-level
        analogue of the reference's retrying writer, hugo.py:59-140, and
        Iceberg's commit.retry.num-retries loop).

        ``attempt(current_meta)`` receives the table's CURRENT generation
        metadata (or None), prepares a generation against that base, and
        returns ``(generation, fingerprint, metrics)``; this method then
        publishes with ``expected_fingerprint`` pinned to the observed
        base.  On :class:`CommitConflictError` — another writer advanced
        the table — it backs off exponentially, re-reads, and calls
        ``attempt`` again with the NEW state, so the caller always rebases
        instead of clobbering.  Raises after ``max_attempts`` conflicts.
        """
        last: CommitConflictError | None = None
        for i in range(max_attempts):
            cur = self.current_generation(table)
            base_fp = cur.get("fingerprint") if cur else None
            generation, fingerprint, metrics = attempt(cur)
            try:
                self.publish(
                    table, generation, fingerprint, metrics,
                    expected_fingerprint=base_fp,
                )
                return {
                    "generation": generation,
                    "fingerprint": fingerprint,
                    "attempts": i + 1,
                }
            except CommitConflictError as e:
                last = e
                time.sleep(base_delay * (2 ** i))
        raise CommitConflictError(
            f"commit failed after {max_attempts} attempts: {last}"
        )

    def cleanup_build(self, build_id: str) -> None:
        """Remove a finished build's staged partials and lineage
        checkpoints (they otherwise leak a full postings copy per build)."""
        shutil.rmtree(os.path.join(self.root, "_stage", build_id),
                      ignore_errors=True)
        shutil.rmtree(os.path.join(self.root, "_checkpoints", build_id),
                      ignore_errors=True)

    def read(self, spark: SparkSession, table: str, name: str) -> DataFrame:
        gen_path = self.generation_path(table)
        if gen_path is None:
            raise FileNotFoundError(f"no published generation for {table}")
        return self.read_at(spark, gen_path, name)

    @staticmethod
    def read_at(spark: SparkSession, gen_path: str, name: str) -> DataFrame:
        """Read a dataset of an EXPLICIT generation path — the snapshot-
        isolation primitive: a reader that pins the path it resolved at
        construction keeps reading that generation even if a concurrent
        writer republishes CURRENT mid-lifetime."""
        p = os.path.join(gen_path, name)
        if not os.path.exists(p):
            raise FileNotFoundError(p)
        return spark.read.parquet(p)

    # -- manifest-level file pruning (Iceberg manifest analogue) -----------
    @staticmethod
    def write_manifest(dataset_path: str, key: str) -> dict:
        """Write ``_MANIFEST.json`` next to a parquet dataset: one entry
        per data file with the footer-derived min/max of ``key`` (metadata
        only — no data pages are read).  This is the Iceberg manifest: a
        query can drop whole FILES before Spark ever opens their footers
        for row-group pruning.  Pays off on range-clustered block files
        (spimi.write_blocks writes disjoint term_id ranges, one per file,
        so a lookup of one term keeps one file)."""
        import pyarrow.parquet as pq

        entries = []
        for fn in sorted(os.listdir(dataset_path)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dataset_path, fn)).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if key not in names:
                raise KeyError(f"{key} not in {dataset_path} schema")
            ci = names[key]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    mins, maxs = None, None
                    break
                mins.append(st.min)
                maxs.append(st.max)
            entries.append({
                "file": fn,
                "rows": md.num_rows,
                "min": min(mins) if mins else None,
                "max": max(maxs) if maxs else None,
            })
        manifest = {"key": key, "files": entries}
        fd, tmp = tempfile.mkstemp(dir=dataset_path)
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(dataset_path, "_MANIFEST.json"))
        return manifest

    def read_pruned(self, spark: SparkSession, table: str, name: str,
                    key: str, values: list) -> DataFrame:
        """Read only the data files whose manifest [min, max] range can
        contain one of ``values`` (the caller still applies its own
        ``key IN (...)`` filter — this layer only shrinks the file list).
        Falls back to the full read when no manifest exists or a file has
        no stats."""
        gen_path = self.generation_path(table)
        if gen_path is None:
            raise FileNotFoundError(f"no published generation for {table}")
        return self.read_pruned_at(spark, gen_path, name, key, values)

    @staticmethod
    def read_pruned_at(spark: SparkSession, gen_path: str, name: str,
                       key: str, values: list) -> DataFrame:
        """Manifest-pruned read of an EXPLICIT generation path (see
        :meth:`read_at` for why readers pin the path)."""
        root = os.path.join(gen_path, name)
        if not os.path.exists(root):
            raise FileNotFoundError(root)
        mpath = os.path.join(root, "_MANIFEST.json")
        if not os.path.exists(mpath) or not values:
            return spark.read.parquet(root)
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("key") != key:
            return spark.read.parquet(root)
        keep = []
        for e in manifest["files"]:
            if e["min"] is None:
                return spark.read.parquet(root)  # stats gap → no pruning
            if any(e["min"] <= v <= e["max"] for v in values):
                keep.append(os.path.join(root, e["file"]))
        if not keep:
            # provably empty: keep one file so the schema resolves; the
            # caller's IN-filter yields zero rows from it
            keep = [os.path.join(root, manifest["files"][0]["file"])] \
                if manifest["files"] else [root]
        reader = spark.read
        schema = _written_schema(keep[0]) if keep[0] != root else None
        if schema is not None:
            # Spark infers a parquet schema with a Spark JOB (one per
            # read); a per-query read takes the writer's recorded schema
            # from one footer on the driver instead
            reader = reader.schema(schema)
        return reader.parquet(*keep)

    # -- incremental snapshot scan (Iceberg incremental-read analogue) ----
    def incremental(self, spark: SparkSession, table: str, name: str,
                    from_generation: str, to_generation: str | None = None) -> DataFrame:
        """Rows of ``name`` that are NEW OR CHANGED between two retained
        generations: every row of the ``to`` snapshot whose full-row hash
        does not appear in the ``from`` snapshot.  This is the practical
        Iceberg incremental scan for an upsert table (changelog of
        appends + updates); deletes are the ``from``-side anti-join, which
        callers can take by swapping the arguments."""
        tdir = self._table_dir(table)
        if to_generation is None:
            cur = self.current_generation(table)
            if not cur:
                raise FileNotFoundError(f"no published generation for {table}")
            to_generation = cur["generation"]
        new = spark.read.parquet(os.path.join(tdir, to_generation, name))
        old = spark.read.parquet(os.path.join(tdir, from_generation, name))
        cols = sorted(set(new.columns) & set(old.columns))
        fp = F.xxhash64(
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in cols]
        )
        old_fp = old.select(fp.alias("_fp")).distinct()
        return (
            new.withColumn("_fp", fp)
            .join(old_fp, "_fp", "left_anti")
            .drop("_fp")
        )

    # -- per-partition lineage checkpoints (north-rule C4) ----------------
    def _ckpt_dir(self, build_id: str) -> str:
        return os.path.join(self.root, "_checkpoints", build_id)

    def checkpoint_done(self, build_id: str, partition_id: int,
                        fingerprint: str, rows: int, started: float) -> None:
        d = self._ckpt_dir(build_id)
        os.makedirs(d, exist_ok=True)
        rec = {
            "build_id": build_id,
            "partition_id": partition_id,
            "input_fingerprint": fingerprint,
            "status": "done",
            "rows": rows,
            "started": started,
            "finished": time.time(),
        }
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, os.path.join(d, f"part-{partition_id:05d}.json"))

    def done_partitions(self, build_id: str, fingerprint: str) -> set[int]:
        d = self._ckpt_dir(build_id)
        if not os.path.isdir(d):
            return set()
        done = set()
        for fn in os.listdir(d):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(d, fn)) as f:
                rec = json.load(f)
            if rec.get("status") == "done" and rec.get("input_fingerprint") == fingerprint:
                done.add(int(rec["partition_id"]))
        return done

    def checkpoints_df(self, spark: SparkSession, build_id: str) -> DataFrame:
        d = self._ckpt_dir(build_id)
        return spark.read.json(f"file://{d}/*.json")
