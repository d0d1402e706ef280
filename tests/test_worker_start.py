"""What a Python worker pays to start: the package import stays light
(the registry loads on first use), the executor daemon runs the
installed pyspark when it matches SPARK_HOME's pyspark.zip (pydaemon),
and workers find the engine without the driver's PYTHONPATH or
working directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from etl_pipeline_sam_gov_spark.pydaemon import prefer_installed_pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_pipeline_sam_gov_spark"

#: Registration order of all 381 queries, dumped from the eager package
#: import this lazy one replaced.
with open(os.path.join(ROOT, "tests", "registry_order.txt")) as f:
    REGISTRY_ORDER = f.read().split()


def _run_json(code: str, cwd: str, timeout: int) -> dict:
    """Run ``code`` in a fresh interpreter with PYTHONPATH unset; return
    the JSON its last output line prints."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=timeout,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_package_import_is_light_and_registry_loads_in_order():
    """``import etl_pipeline_sam_gov_spark`` runs only pyworker (no
    operator module, no UDF module, no pandas, no pyspark); the first
    read of the registry loads all 381 queries in registration order,
    through the attribute and through ``from ... import`` alike."""
    got = _run_json(
        f"""
import json, sys
import {PKG} as eng
loaded = sorted(m for m in sys.modules
                if m.split(".")[0] in ("{PKG}", "pandas", "pyspark"))
names = list(eng.QUERIES)
from {PKG} import BASELINE_OF, ORACLES, QUERIES, query
from {PKG} import registry
print(json.dumps({{
    "loaded": loaded, "names": names, "imported": list(QUERIES),
    "same": [QUERIES is registry.QUERIES, ORACLES is registry.ORACLES,
             BASELINE_OF is registry.BASELINE_OF, query is registry.query],
}}))
""",
        cwd=ROOT,
        timeout=120,
    )
    assert got["loaded"] == [PKG, f"{PKG}.pyworker"]
    assert got["names"] == REGISTRY_ORDER
    assert got["imported"] == REGISTRY_ORDER
    assert all(got["same"])


def test_unknown_package_attribute_still_raises():
    import etl_pipeline_sam_gov_spark as eng

    with pytest.raises(AttributeError, match="no_such_name"):
        eng.no_such_name  # noqa: B018


def _zip(path, version: bytes) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version)
    return str(path)


def _installed(root, version: bytes) -> str:
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "version.py").write_bytes(version)
    return str(root)


VERSION = b"__version__: str = '4.1.2'\n"


def test_matching_installed_pyspark_goes_ahead_of_the_zip(tmp_path):
    spark_zip = _zip(tmp_path / "pyspark.zip", VERSION)
    py4j = _zip(tmp_path / "py4j-src.zip", b"")
    site = _installed(tmp_path / "site", VERSION)
    path = [str(tmp_path / "work"), spark_zip, py4j, site, "/stdlib"]
    assert prefer_installed_pyspark(path)
    assert path == [str(tmp_path / "work"), py4j, site, spark_zip, "/stdlib"]


@pytest.mark.parametrize("installed", [b"__version__: str = '4.1.1'\n", None])
def test_other_or_missing_installed_pyspark_leaves_the_path(tmp_path, installed):
    spark_zip = _zip(tmp_path / "pyspark.zip", VERSION)
    site = str(tmp_path / "site")
    if installed is None:
        os.makedirs(site)
    else:
        _installed(tmp_path / "site", installed)
    path = [spark_zip, site, "/stdlib"]
    assert not prefer_installed_pyspark(path)
    assert path == [spark_zip, site, "/stdlib"]


def test_path_without_pyspark_zip_is_left(tmp_path):
    site = _installed(tmp_path / "site", VERSION)
    path = [site, "/stdlib"]
    assert not prefer_installed_pyspark(path)
    assert path == [site, "/stdlib"]


@pytest.fixture(scope="module")
def outside_run(tmp_path_factory):
    """A driver started outside the checkout with PYTHONPATH unset (it
    finds the package through its own sys.path only): a plain RDD
    lambda, a paginated read, then the worker probe."""
    return _run_json(
        f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from {PKG}.plans.introspect import pyworker_import_cost
from {PKG}.session import get_spark
from {PKG}.sources.paginated import register

spark = get_spark("outside-checkout")
out = {{"lambda": spark.sparkContext.parallelize(range(10), 2).map(lambda x: x * 2).sum()}}
register(spark)
out["pages"] = spark.read.format("paginated_opportunities").option("n_pages", "4").load().count()
out["worker"] = pyworker_import_cost(spark)
spark.stop()
print(json.dumps(out))
""",
        cwd=str(tmp_path_factory.mktemp("outside")),
        timeout=600,
    )


def test_python_workers_start_outside_the_checkout(outside_run):
    assert outside_run["lambda"] == 90
    assert outside_run["pages"] == 400


def test_executor_worker_runs_installed_pyspark_without_operators(outside_run):
    """After the read, an executor worker runs pyspark from where
    pydaemon put it and holds only the modules the read and the probe
    need: no registry module. (Without SPARK_HOME, Spark runs from the
    installed pyspark, which ships no pyspark.zip.)"""
    spark_zip = os.path.join(
        os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip"
    )
    in_zip = os.path.exists(spark_zip) and not prefer_installed_pyspark(
        [spark_zip, *sys.path]
    )
    worker = outside_run["worker"]
    assert worker["pyspark_in_zip"] is in_zip
    assert f"{PKG}.pyworker" in worker["engine_modules"]
    assert not [
        m for m in worker["engine_modules"]
        if m.startswith((f"{PKG}.operators", f"{PKG}.functions", f"{PKG}.registry"))
    ], worker["engine_modules"]
