"""The worker daemon's zip-import invalidation rule, and that ``get_spark``
sessions run their Python workers through it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from kafka_streams_rosetta_demo_spark import worker_daemon

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ invalidates zip caches cheaply itself"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding one module, and a log of the archives ``_read_directory``
    reads. The patched invalidation is undone after the test."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["wd_probe_a"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def logged(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", logged)
    yield path, reads
    for name in ("wd_probe_a", "wd_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@before_313
def test_unchanged_archive_keeps_its_directory(archive, monkeypatch):
    path, reads = archive
    monkeypatch.syspath_prepend(path)
    worker_daemon.patch_zipimport()
    assert importlib.import_module("wd_probe_a").NAME == "wd_probe_a"
    importer = sys.path_importer_cache[path]
    files = importer._files
    del reads[:]
    importlib.invalidate_caches()
    assert importer._files is files
    assert path not in reads


@before_313
def test_rewritten_archive_is_reread(archive, monkeypatch):
    path, reads = archive
    monkeypatch.syspath_prepend(path)
    worker_daemon.patch_zipimport()
    importlib.import_module("wd_probe_a")
    _write_zip(path, ["wd_probe_a", "wd_probe_b"])
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("wd_probe_b").NAME == "wd_probe_b"


@before_313
def test_archive_first_seen_later_is_read_once_then_stamped(archive):
    path, reads = archive
    worker_daemon.patch_zipimport()
    importer = zipimport.zipimporter(path)
    del reads[:]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [path]


def test_313_leaves_zipimport_untouched(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.patch_zipimport()
    assert zipimport.zipimporter.invalidate_caches is original


@before_313
def test_get_spark_workers_keep_zip_directories_across_tasks(spark):
    """A worker's ``importlib.invalidate_caches()`` (the last step of every
    task's set-up) keeps each zipimporter's directory. Through the stock
    ``pyspark.daemon`` every one of them is re-read."""
    import pyarrow as pa

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__
    # and no console progress bar in front of what bench children print
    assert conf.get("spark.ui.showConsoleProgress") == "false"
    # nor a pair of "disabling AQE" WARNs per stateful stream start, while
    # AQE stays on for the foreachBatch sink's batch jobs
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    for cls in ("ResolveWriteToStream", "MicroBatchExecution"):
        name = f"org.apache.spark.sql.execution.streaming.runtime.{cls}"
        assert log4j.LogManager.getLogger(name).getLevel().toString() == "ERROR"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def probe(batches):
        for _ in batches:
            pass
        before = {
            path: finder._files
            for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        }
        importlib.invalidate_caches()
        kept = sum(sys.path_importer_cache[path]._files is files for path, files in before.items())
        yield pa.RecordBatch.from_pydict({"importers": [len(before)], "kept": [kept]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "importers long, kept long").collect()
    assert len(rows) == 1
    assert rows[0].importers > 0
    assert rows[0].kept == rows[0].importers
