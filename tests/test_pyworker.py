"""pyworker: reused PySpark workers skip re-reading unchanged archives.

The unit tests run ``pyworker.install()`` in this (driver) process by
faking the worker flag, on a temporary zip placed on ``sys.path``. The
``pw`` fixture restores ``zipimporter.invalidate_caches``, ``sys.path``
and the importer cache afterwards, so no other test runs patched.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

#: CPython 3.13+ zipimport no longer re-reads on invalidate, and
#: pyworker stays off there.
rereading_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads only before 3.13"
)


@pytest.fixture
def pw(monkeypatch):
    from pyspark.core.files import SparkFiles

    from etl_pipeline_sam_gov_spark import pyworker

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(pyworker, "_STAMPS", {})
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    yield pyworker
    for name in [m for m in sys.modules if m.startswith("pw_probe_")]:
        del sys.modules[name]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding pw_probe_a, already imported from, and
    a counter of directory reads per archive."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, ["pw_probe_a"])
    sys.path.insert(0, path)
    importlib.import_module("pw_probe_a")
    reads: list[str] = []
    read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return path, reads


@rereading_zipimport
def test_unchanged_archive_is_not_reread(pw, archive):
    path, reads = archive
    importlib.invalidate_caches()
    assert path in reads  # stock zipimport re-reads on every invalidate
    assert pw.install()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert path not in reads
    assert importlib.import_module("pw_probe_a").NAME == "pw_probe_a"


@rereading_zipimport
def test_rewritten_archive_is_reread(pw, archive):
    path, reads = archive
    assert pw.install()
    _write_zip(path, ["pw_probe_a", "pw_probe_b"])
    reads.clear()
    importlib.invalidate_caches()
    assert path in reads
    assert importlib.import_module("pw_probe_b").NAME == "pw_probe_b"
    reads.clear()
    importlib.invalidate_caches()
    assert path not in reads


@rereading_zipimport
def test_jars_leave_path_and_importer_cache(pw, tmp_path):
    jar = str(tmp_path / "spark-core.jar")
    sys.path.append(jar)
    sys.path_importer_cache[jar] = None
    assert pw.install()
    assert jar not in sys.path
    assert jar not in sys.path_importer_cache


def test_noop_in_driver(pw, monkeypatch, tmp_path):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    _assert_noop(pw, tmp_path)


def test_noop_on_cpython_313(pw, monkeypatch, tmp_path):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _assert_noop(pw, tmp_path)


def _assert_noop(pw, tmp_path):
    jar = str(tmp_path / "spark-core.jar")
    sys.path.append(jar)
    before = zipimport.zipimporter.invalidate_caches
    assert not pw.install()
    assert zipimport.zipimporter.invalidate_caches is before
    assert before is not pw._stamped_invalidate
    assert jar in sys.path


def test_package_import_leaves_driver_unpatched():
    import etl_pipeline_sam_gov_spark  # noqa: F401

    from etl_pipeline_sam_gov_spark import pyworker

    assert zipimport.zipimporter.invalidate_caches is not pyworker._stamped_invalidate


@rereading_zipimport
def test_worker_import_cost(spark):
    """A reused worker carries no jar and invalidates in milliseconds
    (without pyworker: the spark-core jar and about 220 ms)."""
    from etl_pipeline_sam_gov_spark.plans.introspect import pyworker_import_cost

    spark.sparkContext.parallelize([1], 1).map(str).collect()  # warm-up
    cost = pyworker_import_cost(spark)
    assert cost["jars"] == []
    assert cost["invalidate_ms"] < 20
