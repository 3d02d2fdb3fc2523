"""The Python worker daemon: a zipimporter re-reads its archive's directory
only when the archive changed, and ``get_spark`` sessions run their Python
workers under that daemon."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pandas as pd

from kafka_etl_consumer_spark import worker_daemon


def _write_zip(path, *modules: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


def test_unchanged_archive_is_read_once_and_a_rewrite_is_seen(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "m1")
    importer = zipimport.zipimporter(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )

    worker_daemon.invalidate_caches(importer)  # first sight of the archive
    first = len(reads)
    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == first
    assert importer.find_spec("m1") is not None
    assert importer.find_spec("m2") is None

    _write_zip(archive, "m1", "m2")  # rewritten and grown
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == first + 1
    assert importer.find_spec("m2") is not None

    os.remove(archive)
    worker_daemon.invalidate_caches(importer)
    assert importer.find_spec("m1") is None


def test_get_spark_workers_run_the_stat_checked_invalidation(spark):
    def report(batches):
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"file": [fn.__code__.co_filename]})

    [row] = spark.range(1, numPartitions=1).mapInPandas(report, "file string").collect()
    assert os.path.realpath(row.file) == os.path.realpath(worker_daemon.__file__)
