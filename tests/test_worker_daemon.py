"""The session's Python worker daemon (worker_daemon.py): workers run
under it, archives that arrive later still import, and the zip guard
re-reads only archives that were not on sys.path at start-up."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

import stac_fastapi_duckdb_spark
from stac_fastapi_duckdb_spark import worker_daemon


def _write_zip(path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in members.items():
            z.writestr(name, source)
    return str(path)


def test_guard_rereads_only_archives_added_after_startup(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex
    early, late, later = (f"wd_{k}_{tag}" for k in ("early", "late", "later"))
    startup = _write_zip(tmp_path / "startup.zip", {f"{early}.py": "X = 1\n"})
    monkeypatch.syspath_prepend(startup)
    for name in (early, late, later):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(early).X == 1

    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    original = zipimport.zipimporter.invalidate_caches
    try:
        worker_daemon.keep_startup_archives()
        added = _write_zip(tmp_path / "added.zip", {f"{late}.py": "Y = 2\n"})
        monkeypatch.syspath_prepend(added)
        assert importlib.import_module(late).Y == 2

        reads.clear()
        importlib.invalidate_caches()
        assert startup not in reads
        assert added in reads

        # a new member of the late archive becomes importable
        _write_zip(added, {f"{late}.py": "Y = 2\n", f"{later}.py": "Z = 3\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(later).Z == 3
    finally:
        zipimport.zipimporter.invalidate_caches = original
    assert zipimport.zipimporter.invalidate_caches is original


def test_importing_the_module_installs_nothing():
    importlib.reload(worker_daemon)
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == "zipimporter.invalidate_caches"


def test_python_workers_run_under_the_package_daemon(spark):
    @F.pandas_udf("string")
    def daemon_of(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        main = sys.modules["__main__"]
        guard = zipimport.zipimporter.invalidate_caches.__qualname__
        return s.map(lambda _: f"{main.__spec__.name} {guard}")

    got = {r[0] for r in spark.range(0, 8, 1, 4).select(daemon_of(F.col("id").cast("string"))).collect()}
    assert got == {"stac_fastapi_duckdb_spark.worker_daemon keep_startup_archives.<locals>.invalidate_caches"}

    package_root = os.path.dirname(os.path.dirname(os.path.abspath(stac_fastapi_duckdb_spark.__file__)))
    worker_path = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert worker_path.split(os.pathsep)[0] == package_root


def test_py_file_added_after_earlier_tasks_is_importable(spark, tmp_path):
    name = f"wd_added_{uuid.uuid4().hex}"

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    assert spark.range(0, 8, 1, 4).select(plus_one("id")).count() == 8

    archive = _write_zip(tmp_path / f"{name}.zip", {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(archive)

    @F.pandas_udf("long")
    def value_of(s: pd.Series) -> pd.Series:
        import importlib

        return s.map(lambda _: importlib.import_module(name).VALUE)

    got = {r[0] for r in spark.range(0, 8, 1, 4).select(value_of("id")).collect()}
    assert got == {42}
