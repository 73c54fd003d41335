"""The worker daemon's guarded zip-importer invalidation: an unchanged
archive is never re-read, a rewritten one is, and Spark's Python workers
keep one archive directory across the tasks they serve."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from simplecrawler_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zip importers lazily; install() is a no-op")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_guarded_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    # registered first so teardown restores the stock functions
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()

    z = str(tmp_path / "wd_mods.zip")
    _write_zip(z, {"wd_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(z)
    for name in ("wd_mod_a", "wd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_mod_a").X == 1
    files = sys.path_importer_cache[z]._files

    reads = []
    stamped_read = zipimport._read_directory

    def spy(archive):
        if archive == z:
            reads.append(archive)
        return stamped_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert sys.path_importer_cache[z]._files is files

    _write_zip(z, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [z]
    assert importlib.import_module("wd_mod_b").Y == 2
    importlib.invalidate_caches()
    assert reads == [z]
    sys.path_importer_cache.pop(z, None)


def test_workers_keep_the_pyspark_zip_directory_across_tasks(spark):
    def probe(batches):
        import os
        import sys

        import pyarrow as pa

        for _ in batches:
            pass
        ids = [id(imp._files) for path, imp in sys.path_importer_cache.items()
               if type(imp).__name__ == "zipimporter"
               and os.path.basename(path) == "pyspark.zip"]
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()],
                                          "files_id": [ids[0] if ids else -1]})

    df = spark.range(1, numPartitions=1).mapInArrow(probe, "pid long, files_id long")
    # worker reuse is on by default, and Spark hands serial tasks to its idle
    # workers in turn, so a pid comes back once every idle worker has served
    files_by_pid: dict[int, int] = {}
    reused = 0
    for _ in range(60):
        (row,) = df.collect()
        assert row["files_id"] != -1, "worker did not import pyspark from pyspark.zip"
        if row["pid"] in files_by_pid:
            assert row["files_id"] == files_by_pid[row["pid"]], row
            reused += 1
            if reused == 2:
                break
        files_by_pid[row["pid"]] = row["files_id"]
    assert reused == 2, files_by_pid
