"""The engine's Python worker daemon (``pydaemon``) re-reads a zip archive's
directory only when the archive changed.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``,
and each zipimporter answers by re-reading its archive's central directory
(~0.1 s per task for ``pyspark.zip``, the spark-core jar and py4j). The
daemon keys each archive by ``(st_mtime_ns, st_size)`` instead, so a new or
rewritten archive is still read again.
"""

import importlib
import importlib.util
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

DAEMON = "electricity_forecast_pipeline_airflow_k8s_spark.pydaemon"


def _write_zip(path, pkg: str, value: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/sub.py", f"VALUE = {value}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Two importers on one archive (its root and a package inside it):
    repeated invalidations read an unchanged archive 0 times, and a
    rewritten one exactly once, after which its new contents import."""
    daemon = importlib.import_module(DAEMON)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)

    archive = str(tmp_path / "mods.zip")
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    pkg = f"efp_zipprobe_{uuid.uuid4().hex}"
    _write_zip(archive, pkg, 1)
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{pkg}.sub").VALUE == 1
    importlib.invalidate_caches()  # first sight of the archive: one read, stamped

    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, pkg, 22)  # a different size, so a different stamp
    importlib.invalidate_caches()
    assert len(reads) == 1
    for name in (f"{pkg}.sub", pkg):
        monkeypatch.delitem(sys.modules, name)
    assert importlib.import_module(f"{pkg}.sub").VALUE == 22
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_session_workers_run_through_the_engine_daemon(spark, tmp_path):
    """Under ``session.get_spark`` a worker's zipimporters carry the
    daemon's method, and a zip added with ``addPyFile`` after the daemon
    started still imports in a later task."""
    daemon_file = importlib.util.find_spec(DAEMON).origin

    @F.pandas_udf("string")
    def method_file(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__code__.co_filename)

    row = spark.range(1, numPartitions=1).select(method_file("id").alias("f")).first()
    assert row["f"] == daemon_file

    pkg = f"efp_addpyfile_{uuid.uuid4().hex}"
    archive = tmp_path / f"{pkg}.zip"
    _write_zip(archive, pkg, 7)
    spark.sparkContext.addPyFile(str(archive))

    @F.pandas_udf("long")
    def imported_value(s: pd.Series) -> pd.Series:
        value = importlib.import_module(f"{pkg}.sub").VALUE
        return s.map(lambda _: value)

    row = spark.range(1, numPartitions=1).select(imported_value("id").alias("v")).first()
    assert row["v"] == 7
