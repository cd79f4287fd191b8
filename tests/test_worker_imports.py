"""The stat-gated zip import-cache refresh (docs_indexer_spark/_worker.py).

In-process tests install the gate by setting PySpark's worker marker; the
Spark-level test reads the counters the gate keeps inside the workers.
"""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles

from docs_indexer_spark import _worker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one imported module, the gate's state
    reset, and ``zipimport._read_directory`` counting its calls.  Yields
    ``(path, counts, fresh_name)``; restores the original
    ``invalidate_caches`` afterwards."""
    path = str(tmp_path / "mods.zip")
    first = f"gate_mod_{uuid.uuid4().hex}"
    _write_zip(path, {first: 1})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(_worker, "_read_at", {})
    monkeypatch.setattr(_worker, "reads", 0)
    monkeypatch.setattr(_worker, "skips", 0)
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module(first).VALUE == 1
    counts = {path: 0}
    read_directory = zipimport._read_directory

    def counting(archive_path):
        counts[archive_path] = counts.get(archive_path, 0) + 1
        return read_directory(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, counts, lambda: f"gate_mod_{uuid.uuid4().hex}"
    sys.path_importer_cache.pop(path, None)


def test_driver_import_installs_nothing():
    # the test process imported the package as a driver does
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_no_worker_marker_installs_nothing(archive):
    original = zipimport.zipimporter.invalidate_caches
    assert not SparkFiles._is_running_on_worker
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is original
    path, counts, _ = archive
    importlib.invalidate_caches()
    assert counts[path] == 1  # the ungated refresh re-reads the archive


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    path, counts, _ = archive
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert _worker.install() is True
    assert _worker.install() is True  # idempotent: one wrapper
    gated = zipimport.zipimporter.invalidate_caches
    assert gated.__wrapped__.__module__ == "zipimport"
    for _ in range(3):
        importlib.invalidate_caches()
    assert counts[path] == 0
    assert _worker.skips >= 3


def test_rewritten_archive_is_reread(archive, monkeypatch, tmp_path):
    path, counts, fresh_name = archive
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    _worker.install()
    st = os.stat(path)
    second = fresh_name()
    _write_zip(path, {"unused": 0, second: 2})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(path).st_size != st.st_size
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(second)  # the cached directory is stale
    importlib.invalidate_caches()
    assert counts[path] == 1
    assert importlib.import_module(second).VALUE == 2
    importlib.invalidate_caches()
    assert counts[path] == 1  # unchanged since that read
    # a new archive path (a new --py-files entry) is read as before
    other = str(tmp_path / "other.zip")
    third = fresh_name()
    _write_zip(other, {third: 3})
    monkeypatch.syspath_prepend(other)
    try:
        assert importlib.import_module(third).VALUE == 3
    finally:
        sys.path_importer_cache.pop(other, None)


def test_reused_workers_skip_archive_rereads(spark):
    """Two rounds of an engine mapInArrow kernel: every second-round task
    that runs in a worker the engine already ran in does no archive
    re-read — its invalidate_caches sweep only skips."""
    import pyarrow as pa

    def probe(batches):
        import os

        from docs_indexer_spark import _worker
        from docs_indexer_spark.operators.dedup import _simhash_list_kernel

        n = sum(b.num_rows for b in _simhash_list_kernel(batches))
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "docs": [n],
            "reads": [_worker.reads], "skips": [_worker.skips],
        })

    p = spark.sparkContext.defaultParallelism
    hashes = spark.range(0, 4 * p, 1, p).selectExpr(
        "id", "array(id, id * 7, id * 13) as hs"
    )
    rounds = [
        hashes.mapInArrow(probe, "pid long, docs long, reads long, skips long")
        .collect()
        for _ in range(2)
    ]
    for rows in rounds:
        assert sum(r["docs"] for r in rows) == 4 * p
    first = {r["pid"]: r["skips"] for r in rounds[0]}
    # a task whose worker had the gate before the task swept with it
    gated = [r for r in rounds[1] if r["skips"] > 0]
    assert gated, rounds
    for r in gated:
        assert r["reads"] == 0, rounds
        if r["pid"] in first:
            assert r["skips"] > first[r["pid"]], rounds
