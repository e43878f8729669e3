"""The engine's Python worker entry module
(streaming_cdc_spark/_pyworker/pyspark_scs_worker.py): zip import-cache
invalidation re-reads an archive only when it changed, and engine
sessions start every Python task through it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

PYWORKER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "streaming_cdc_spark",
    "_pyworker",
)


@pytest.fixture
def worker_module(monkeypatch):
    """Import the entry module; its import-time zipimport patch is
    undone after the test."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(PYWORKER)
    sys.modules.pop("pyspark_scs_worker", None)
    yield importlib.import_module("pyspark_scs_worker")
    sys.modules.pop("pyspark_scs_worker", None)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidation_rereads_only_a_changed_archive(worker_module, tmp_path, monkeypatch):
    import pyspark.worker

    assert worker_module.main is pyspark.worker.main
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"scs_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("scs_zip_a").X == 1
        reads = []
        read = zipimport._read_directory

        def counting_read(path):
            if path == archive:  # other archives in this process don't count
                reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []
        _write_zip(archive, {"scs_zip_a": "X = 1\n", "scs_zip_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("scs_zip_b").Y == 2
        importlib.invalidate_caches()
        assert reads == [archive]
    finally:
        sys.modules.pop("scs_zip_a", None)
        sys.modules.pop("scs_zip_b", None)


def test_engine_workers_start_through_entry_module(spark):
    """A wrong module name or a pyspark that drops the worker-module
    hook or its ``pyspark`` prefix rule falls back to pyspark.worker
    without an error; engine code in tasks must still load from the
    addPyFile snapshot zip, not from the entry module's directory."""
    from streaming_cdc_spark.session import ensure_package_on_executors

    def facts(batches):
        import zipimport

        import pandas as pd

        import streaming_cdc_spark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "patch": [zipimport.zipimporter.invalidate_caches.__module__],
                "pkg": [streaming_cdc_spark.__file__],
            }
        )

    ensure_package_on_executors(spark)
    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(facts, "patch string, pkg string")
        .collect()
    )
    assert {r.patch for r in rows} == {"pyspark_scs_worker"}
    snapshot = os.path.join(
        f"streaming_cdc_spark_pyfiles_{os.getpid()}.zip", "streaming_cdc_spark", ""
    )
    for r in rows:
        assert snapshot in r.pkg, r.pkg
