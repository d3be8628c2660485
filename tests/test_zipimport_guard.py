"""zipimport_guard: an import-cache invalidation re-reads a zip archive's
directory only when the archive changed since its last read."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from pdf_extraction_spark import zipimport_guard

GUARDED = (3, 10) <= sys.version_info[:2] < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    if not GUARDED:
        # 3.13+ reads lazily after invalidation: nothing to guard
        assert not zipimport_guard.installed()
        assert not hasattr(zipimport._read_directory, "__wrapped__")
        return
    assert zipimport_guard.installed()
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"zguard_probe_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zguard_probe_a", "zguard_probe_b"):
        # recorded as absent, so both probe modules are dropped afterwards
        monkeypatch.setitem(sys.modules, name, None)
        del sys.modules[name]
    assert importlib.import_module("zguard_probe_a").A == 1

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read(path)
    )
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    # same inode, new size and mtime: the next invalidation re-reads it
    _write_zip(archive, {"zguard_probe_a": "A = 1\n", "zguard_probe_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zguard_probe_b").B == 2

    guarded = zipimport.zipimporter.invalidate_caches
    assert zipimport_guard.install()  # idempotent: no second wrapper
    assert zipimport.zipimporter.invalidate_caches is guarded


def _guard_probe(batches):
    """Per task: is the guard installed in this worker, how many zip
    importers does the worker hold, and how many archive directories does
    an import-cache invalidation re-read once every archive was stamped."""
    importers = sum(
        isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values()
    )
    importlib.invalidate_caches()  # stamps archives read before the guard
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    for b in batches:
        yield pd.DataFrame(
            {
                "installed": [zipimport_guard.installed()] * len(b),
                "importers": importers,
                "rereads": len(reads),
            }
        )


def test_spark_worker_runs_with_the_guard(spark):
    n = 4
    schema = "installed boolean, importers long, rereads long"
    for _ in range(2):
        rows = spark.range(0, n, 1, n).mapInPandas(_guard_probe, schema).collect()
    assert len(rows) == n
    if not GUARDED:
        assert not any(r["installed"] for r in rows)
        return
    assert all(r["installed"] for r in rows)
    # the workers import pyspark from $SPARK_HOME's zip: there is work to skip
    assert all(r["importers"] > 0 for r in rows)
    assert [r["rereads"] for r in rows] == [0] * n
