"""What a Python worker pays to start: the package import stays light
(the registry loads on first use), every Python daemon of a get_spark
session (executor tasks' and the DataSource planners') starts through
the session's launcher, which runs the installed pyspark when it
matches SPARK_HOME's pyspark.zip, and workers find the engine without
the driver's PYTHONPATH or working directory."""

from __future__ import annotations

import importlib.util
import json
import os
import shlex
import subprocess
import sys
import zipfile

import pytest
from pyspark.find_spark_home import _find_spark_home

from etl_pipeline_sam_gov_spark.session import installed_matches_zip, launcher_script

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "etl_pipeline_sam_gov_spark"

#: Registration order of all 381 queries, dumped from the eager package
#: import this lazy one replaced.
with open(os.path.join(ROOT, "tests", "registry_order.txt")) as f:
    REGISTRY_ORDER = f.read().split()


def _run_json(code: str, cwd: str, timeout: int, **env_vars: str) -> dict:
    """Run ``code`` in a fresh interpreter with PYTHONPATH unset and
    ``env_vars`` set; return the JSON its last output line prints."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(env_vars)
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
    """A pyspark package of ``version`` under ``root``; returns the
    package directory, as the launcher's pyspark probe prints it."""
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_bytes(version)
    return str(root / "pyspark")


VERSION = b"__version__: str = '4.1.2'\n"


def test_matching_installed_pyspark_goes_ahead_of_the_zip(tmp_path):
    spark_zip = _zip(tmp_path / "pyspark.zip", VERSION)
    assert installed_matches_zip(spark_zip, _installed(tmp_path / "site", VERSION))


@pytest.mark.parametrize("installed", [b"__version__: str = '4.1.1'\n", None])
def test_other_or_missing_installed_pyspark_leaves_the_path(tmp_path, installed):
    """Another release keeps the zip, and so does an interpreter without
    pyspark (the probe prints an empty line) or a package directory
    without ``version.py``."""
    spark_zip = _zip(tmp_path / "pyspark.zip", VERSION)
    if installed is None:
        assert not installed_matches_zip(spark_zip, "")
        (tmp_path / "site" / "pyspark").mkdir(parents=True)
        assert not installed_matches_zip(spark_zip, str(tmp_path / "site" / "pyspark"))
    else:
        assert not installed_matches_zip(spark_zip, _installed(tmp_path / "site", installed))


def test_path_without_pyspark_zip_is_left(tmp_path):
    site = _installed(tmp_path / "site", VERSION)
    assert not installed_matches_zip(str(tmp_path / "pyspark.zip"), site)


def _launch(launcher: str, pythonpath: list[str]) -> tuple[list[str], bool]:
    """Run ``launcher`` with ``pythonpath``; return the PYTHONPATH the
    interpreter it starts sees and whether that interpreter kept the
    launcher's process id (the launcher ended in ``exec``)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath:
        env["PYTHONPATH"] = os.pathsep.join(pythonpath)
    proc = subprocess.Popen(
        [launcher, "-c", "import os; print(os.getpid()); print(os.environ['PYTHONPATH'])"],
        env=env, stdout=subprocess.PIPE, text=True,
    )
    pid, path = proc.communicate(timeout=60)[0].splitlines()
    assert proc.returncode == 0
    return path.split(os.pathsep), int(pid) == proc.pid


@pytest.mark.parametrize("drop", [True, False], ids=["match", "no-match"])
def test_launcher_puts_the_root_first_and_drops_only_a_matched_zip(tmp_path, drop):
    root = str(tmp_path / "engine root")
    spark_zip = "/spark/python/lib/pyspark.zip"
    launcher = tmp_path / "launch"
    launcher.write_text(launcher_script(sys.executable, root, spark_zip if drop else None))
    launcher.chmod(0o700)
    path = [spark_zip, "/spark/python/lib/py4j-src.zip", "/spark/jars/core.jar", "/site"]
    assert _launch(str(launcher), path) == ([root] + (path[1:] if drop else path), True)
    assert _launch(str(launcher), []) == ([root], True)


#: SPARK_HOME's pyspark.zip, first on every Python worker's path, and
#: whether this interpreter's pyspark is its release. (Without
#: SPARK_HOME, Spark runs from the installed pyspark, which ships no
#: pyspark.zip.)
SPARK_ZIP = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
MATCH = installed_matches_zip(
    SPARK_ZIP, importlib.util.find_spec("pyspark").submodule_search_locations[0]
)

#: The worker module of every Python daemon a cold paginated read
#: starts: the three DataSource planners and the executor tasks'.
DAEMONS = {
    "pyspark.sql.worker.lookup_data_sources",
    "pyspark.sql.worker.create_data_source",
    "pyspark.sql.worker.plan_data_source_read",
    "pyspark.worker",
}

#: A driver that defines a DataSource in ``-c`` code, so cloudpickle
#: ships it by value: ``schema()`` runs in the create_data_source
#: daemon's worker, ``partitions()`` in plan_data_source_read's and
#: ``read()`` in an executor worker. Each reports where its pyspark
#: comes from, whether its parent (the daemon) runs its own
#: interpreter, what runs the daemon's parent, and its process id.
OUTSIDE_DRIVER = f"""
import json, os, sys, time
sys.path.insert(0, {ROOT!r})
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from {PKG}.plans.introspect import pyworker_import_cost
from {PKG}.session import get_spark
from {PKG}.sources.paginated import register


def where():
    import pyspark
    daemon = os.getppid()
    with open(f"/proc/{{daemon}}/stat") as f:
        started_by = int(f.read().rsplit(")", 1)[1].split()[1])
    return json.dumps([
        pyspark.__file__,
        os.readlink(f"/proc/{{daemon}}/exe") == os.readlink("/proc/self/exe"),
        os.path.basename(os.readlink(f"/proc/{{started_by}}/exe")),
        os.getpid(),
    ])


class Where(DataSource):
    @classmethod
    def name(cls):
        return "where_pyspark"

    def schema(self):
        self.at_schema = where()
        return "at_schema string, at_partitions string, at_read string"

    def reader(self, schema):
        return WhereReader(self.at_schema)


class WhereReader(DataSourceReader):
    def __init__(self, at_schema):
        self.at_schema = at_schema

    def partitions(self):
        return [InputPartition(where())]

    def read(self, partition):
        yield self.at_schema, partition.value, where()


def running(pid):
    try:
        with open(f"/proc/{{pid}}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


spark = get_spark("outside-checkout")
out = {{"lambda": spark.sparkContext.parallelize(range(10), 2).map(lambda x: x * 2).sum()}}
register(spark)
out["pages"] = spark.read.format("paginated_opportunities").option("n_pages", "4").load().count()
out["worker"] = pyworker_import_cost(spark)
spark.dataSource.register(Where)
out["where"] = [json.loads(v) for v in spark.read.format("where_pyspark").load().first()]
out["daemons"] = []
with open(os.environ["DAEMON_LOG"]) as f:
    for line in f:
        pid, path, args = line.rstrip("\\n").split("\\t", 2)
        if args.startswith("-m pyspark.daemon "):
            out["daemons"].append([args.split()[-1], path.split(os.pathsep), int(pid)])
pids = [d[2] for d in out["daemons"]] + [w[3] for w in out["where"]]
spark.stop()
deadline = time.monotonic() + 60
while any(map(running, pids)) and time.monotonic() < deadline:
    time.sleep(0.1)
out["left_running"] = [p for p in pids if running(p)]
print(json.dumps(out))
"""


def _recording_python(tmp, log: str, append: str | None) -> str:
    """A ``PYSPARK_PYTHON`` that logs each start (process id,
    PYTHONPATH, arguments), appends ``append`` to PYTHONPATH if given,
    and ``exec``s this interpreter."""
    q = shlex.quote
    wrapper = tmp / "recording-python"
    wrapper.write_text(
        "#!/bin/sh\n"
        f'printf "%s\\t%s\\t%s\\n" "$$" "$PYTHONPATH" "$*" >> {q(log)}\n'
        + (f'export PYTHONPATH="${{PYTHONPATH:+$PYTHONPATH:}}"{q(append)}\n' if append else "")
        + f'exec {q(sys.executable)} "$@"\n'
    )
    wrapper.chmod(0o700)
    return str(wrapper)


@pytest.fixture(
    scope="module",
    params=[
        ("local[2]", "installed"),
        ("local-cluster[2,1,1024]", "installed"),
        ("local[2]", "other"),
    ],
    ids=["local", "local-cluster", "other-pyspark"],
)
def outside_run(request, tmp_path_factory):
    """A driver started outside the checkout with PYTHONPATH unset (it
    finds the package through its own sys.path only) and a recording
    ``PYSPARK_PYTHON``, on ``local[2]`` and on two executor JVMs: a
    plain RDD lambda, a paginated read, the worker probe, the
    ``Where`` read, then ``spark.stop()``. In the "other" lane the
    recording interpreter also finds a pyspark of another release, so
    the zip must stay."""
    master, installed = request.param
    tmp = tmp_path_factory.mktemp("outside")
    log = str(tmp / "daemons.log")
    other = None
    if installed == "other":
        other = os.path.dirname(_installed(tmp / "other", b"__version__: str = '0.0.0'\n"))
    out = _run_json(
        OUTSIDE_DRIVER, cwd=str(tmp), timeout=600,
        PYSPARK_PYTHON=_recording_python(tmp, log, other),
        SPARK_GRAFT_MASTER=master, DAEMON_LOG=log, TMPDIR=str(tmp),
    )
    out["in_zip"] = os.path.exists(SPARK_ZIP) and (installed == "other" or not MATCH)
    return out


def test_python_workers_start_outside_the_checkout(outside_run):
    assert outside_run["lambda"] == 90
    assert outside_run["pages"] == 400


def test_every_daemon_starts_through_the_launcher_on_the_callers_python(outside_run):
    """Every daemon ran the recording interpreter, behind a launcher
    that put the package root first and dropped the zip exactly when
    the installed pyspark is its release."""
    daemons = outside_run["daemons"]
    assert {module for module, _, _ in daemons} == DAEMONS
    for module, path, _ in daemons:
        assert path[0] == ROOT, module
        assert (SPARK_ZIP in path) is outside_run["in_zip"], (module, path)


def test_planner_and_executor_workers_fork_from_the_interpreter(outside_run):
    """``schema()``, ``partitions()`` and ``read()`` ran pyspark from
    the zip exactly when the launcher kept it, in workers forked by a
    daemon that runs their interpreter and that the JVM started: the
    launcher shell ``exec``ed it rather than waiting on it."""
    for file, parent_is_python, daemon_started_by, _ in outside_run["where"]:
        assert ("pyspark.zip" + os.sep in file) is outside_run["in_zip"], file
        assert parent_is_python
        assert daemon_started_by == "java"


def test_executor_worker_runs_installed_pyspark_without_operators(outside_run):
    """After the read, an executor worker runs the pyspark the launcher
    chose and holds only the modules the read and the probe need: no
    registry module."""
    worker = outside_run["worker"]
    assert worker["pyspark_in_zip"] is outside_run["in_zip"]
    assert f"{PKG}.pyworker" in worker["engine_modules"]
    assert not [
        m for m in worker["engine_modules"]
        if m.startswith((f"{PKG}.operators", f"{PKG}.functions", f"{PKG}.registry"))
    ], worker["engine_modules"]


def test_no_daemon_or_worker_outlives_the_session(outside_run):
    assert outside_run["left_running"] == []
