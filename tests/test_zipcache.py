"""The stat-checked zip-directory cache (``syslog_spark._zipcache``):
Python workers stop re-reading unchanged archives at every task, a
rewritten or newly added zip still imports, and the driver keeps
CPython's own ``zipimporter.invalidate_caches``."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    from syslog_spark import _zipcache

    # restored on teardown: the cache must not leak into the test driver
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    tag = uuid.uuid4().hex
    first, second = f"zc_first_{tag}", f"zc_second_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read(p))
    try:
        assert importlib.import_module(first).VALUE == 1
        reads.clear()  # the new importer's own first read
        _zipcache.install()
        _zipcache.install()  # idempotent
        importlib.invalidate_caches()  # no stat recorded yet: one read
        assert reads.count(archive) == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(second).VALUE == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _probe():
    """A ``mapInArrow`` function giving one row per task: the worker's
    pid and how many zip directories one ``importlib.invalidate_caches()``
    re-reads in it. Built in a closure so that it ships by value."""

    def probe(batches):
        import importlib
        import os
        import zipimport

        import syslog_spark.operators.parse  # noqa: F401

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [len(reads)]}
        )

    return probe


def test_warm_worker_rereads_no_zip_directory(spark):
    df = spark.range(4, numPartitions=4)
    tasks = {}
    for _ in range(4):
        for pid, reads in df.mapInArrow(_probe(), "pid long, reads long").collect():
            tasks.setdefault(pid, []).append(reads)
    # a worker's first probe imports the package (installing the cache);
    # the next task's setup re-reads and records every archive once, so
    # from its second probe on nothing is re-read. CPython re-reads all
    # of them (16+) at every call.
    warm = [r for seen in tasks.values() for r in seen[1:]]
    assert warm, f"no worker ran two probe tasks: {tasks}"
    assert warm == [0] * len(warm), tasks


def test_added_pyfile_imports_in_next_task(spark, tmp_path):
    name = f"zc_added_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    df = spark.range(4, numPartitions=4)
    df.mapInArrow(_probe(), "pid long, reads long").collect()  # warm workers
    spark.sparkContext.addPyFile(str(archive))

    def value(batches):
        import importlib

        import syslog_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"v": [importlib.import_module(name).VALUE]}
        )

    try:
        got = [r["v"] for r in df.mapInArrow(value, "v long").collect()]
    finally:
        sys.modules.pop(name, None)
    assert got == [42] * 4


def test_driver_keeps_cpython_invalidate_caches(spark):
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == "zipimport"
    assert not getattr(method, "stat_checked", False)
