"""The zip-import patch (``ai_data_pipeline_spark._pyworker``).

Without Spark: an unchanged archive is not read again by
``importlib.invalidate_caches()``, a rewritten one is. With Spark: a
reused Python worker does not read ``pyspark.zip`` again across jobs.
Both count directory reads instead of timing them.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from ai_data_pipeline_spark import _pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zipimport caches lazily; the patch is a no-op",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pyworker_zip_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    yield archive
    for name in ("pyworker_zip_a", "pyworker_zip_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)
    _pyworker._stamps.pop(str(archive), None)


def test_installed_and_idempotent():
    assert zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_caches
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_caches


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("pyworker_zip_a").VALUE == 1
    importlib.invalidate_caches()  # stamps the new archive

    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path):
    assert importlib.import_module("pyworker_zip_a").VALUE == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("pyworker_zip_b")

    _write_zip(
        zip_on_path,
        {"pyworker_zip_a": "VALUE = 1\n", "pyworker_zip_b": "VALUE = 2\n"},
    )
    importlib.invalidate_caches()
    assert importlib.import_module("pyworker_zip_b").VALUE == 2


def test_reused_workers_do_not_reread_pyspark_zip(spark, monkeypatch):
    from pyspark.sql import functions as F

    # Spark keeps one FIFO pool of idle workers per worker environment.
    # Earlier jobs in the session can leave more idle workers in the
    # shared pool than one job takes, and then the second run below is
    # handed none of the first run's workers. A UDF-level environment
    # variable gives this test a pool of its own, so the second run
    # reuses exactly the workers the first one released.
    monkeypatch.setitem(
        spark.sparkContext.environment, "PYWORKER_TEST_POOL", "reuse-probe"
    )

    @F.pandas_udf("pid long, rereads long, patched boolean")
    def probe(ids: pd.Series) -> pd.DataFrame:
        import os

        return pd.DataFrame(
            {
                "pid": [os.getpid()] * len(ids),
                "rereads": [_pyworker.rereads] * len(ids),
                "patched": [
                    zipimport.zipimporter.invalidate_caches
                    is _pyworker._invalidate_caches
                ]
                * len(ids),
            }
        )

    def run() -> dict[int, int]:
        rows = (
            spark.range(0, 400, numPartitions=4)
            .select(probe("id").alias("p"))
            .select("p.*")
            .distinct()
            .collect()
        )
        assert all(r["patched"] for r in rows)
        counts: dict[int, int] = {}
        for r in rows:
            counts[r["pid"]] = max(counts.get(r["pid"], 0), r["rereads"])
        return counts

    first, second = run(), run()
    shared = first.keys() & second.keys()
    assert shared, "no Python worker was reused between the two jobs"
    assert {p: second[p] for p in shared} == {p: first[p] for p in shared}
