"""worker_daemon: Python workers stop re-reading unchanged zip archives
(pyspark.zip) on every task, and still see an archive that changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from data_ingestion_pimcore_spark import worker_daemon


def test_unchanged_archive_is_not_reread_and_a_rewrite_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_probe_one.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    assert importlib.import_module("wd_probe_one").VALUE == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads: list[str] = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))
    importer.invalidate_caches()  # first call: this importer has no stamp yet
    assert reads == [archive]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]  # unchanged archive: zero re-reads

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("wd_probe_two.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("wd_probe_two").VALUE == 2


def test_get_spark_runs_workers_under_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "data_ingestion_pimcore_spark.worker_daemon"


def test_python_task_does_not_reread_pyspark_zip(spark):
    def probe(batches):
        import importlib
        import os
        import zipimport

        real = zipimport._read_directory
        reads = [0]

        def counting(path):
            reads[0] += 1
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()  # what every task's set-up runs
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame(
            {
                "reads": [reads[0]],
                "patched": [os.path.basename(code.co_filename) == "worker_daemon.py"],
            }
        )

    out = (
        spark.range(0, 40, 1, 4)
        .mapInPandas(probe, "reads long, patched boolean")
        .toPandas()
    )
    assert len(out) == 4
    assert out["patched"].all()
    assert out["reads"].tolist() == [0, 0, 0, 0]
