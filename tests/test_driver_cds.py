"""The driver JVM starts from a class-data-sharing archive: the first
get_spark for a Java runtime and Spark jar set records one at exit, later
ones map it, and anything else (a damaged archive, a conf dir with real
content, a concurrent recorder) means a normal start. Every case runs
fresh interpreters whose cache and home directories are the test's own."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from etl_pipeline_sam_gov_spark.session import _cds_valid, cds_archive

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Starts a session, runs one query and reports what the driver JVM
#: was started with, between two lines of its own on stdout.
DRIVER = f"""
import json, os, sys
sys.path.insert(0, {ROOT!r})
from etl_pipeline_sam_gov_spark.session import get_spark
print("caller: start", flush=True)
spark = get_spark("cds-test")
jvm = spark._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{{pid}}/maps") as f:
    maps = f.read()
print(json.dumps({{
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "vm_info": jvm.java.lang.System.getProperty("java.vm.info"),
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "probe": spark.conf.get("spark.etl.cds.probe", None),
    "rows": [r[0] for r in spark.range(5).selectExpr("id * 3").orderBy("id").collect()],
    "maps": maps,
}}), flush=True)
print("caller: end", flush=True)
"""


#: Settings that would change or skip CDS, left out of every run.
_UNSET = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")


def _env(tmp, **extra: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in _UNSET}
    env.update(
        XDG_CACHE_HOME=str(tmp / "cache"), HOME=str(tmp / "home"),
        SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g", **extra,
    )
    return env


def _start(tmp, **extra: str) -> subprocess.Popen:
    (tmp / "home").mkdir(exist_ok=True)
    return subprocess.Popen(
        [sys.executable, "-c", DRIVER], cwd=str(tmp), env=_env(tmp, **extra),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _finish(proc: subprocess.Popen) -> tuple[dict, list[str]]:
    """The driver's report and all of its stdout lines."""
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    lines = out.splitlines()
    return json.loads(lines[1]), lines


def _run(tmp, **extra: str) -> tuple[dict, list[str]]:
    return _finish(_start(tmp, **extra))


def _archive(tmp, monkeypatch) -> str:
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp / "cache"))
    for var in _UNSET:
        monkeypatch.delenv(var, raising=False)
    archive = cds_archive()
    assert archive is not None
    return archive


def _left(archive: str) -> list[str]:
    """What the cache holds for ``archive``'s key, besides its lock."""
    d = os.path.dirname(archive)
    key = os.path.basename(archive)
    return sorted(n for n in os.listdir(d) if n.startswith(key) and n != key + ".lock")


def _flags(report: dict) -> list[str]:
    return [a for a in report["args"] if "SharedArchiveFile" in a or "DynamicDump" in a]


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A first run on an empty cache, then a second run."""
    tmp = tmp_path_factory.mktemp("cds")
    mp = pytest.MonkeyPatch()
    try:
        archive = _archive(tmp, mp)
    finally:
        mp.undo()
    first = _run(tmp)
    published = _cds_valid(archive)
    second = _run(tmp)
    yield archive, first, published, second
    shutil.rmtree(tmp / "cache")


@pytest.fixture(autouse=True)
def _drop_archives(tmp_path):
    """Archives are about 100 MB each: keep none after a test."""
    yield
    shutil.rmtree(tmp_path / "cache", ignore_errors=True)


def test_first_run_records_and_later_runs_map_the_archive(recorded):
    archive, (first, _), published, (second, _) = recorded
    assert _flags(first) == ["-XX:+RecordDynamicDumpInfo"]
    assert published
    assert _flags(second) == [f"-XX:SharedArchiveFile={archive}"]
    assert "sharing" in second["vm_info"]
    assert archive in second["maps"]
    for report in (first, second):
        assert report["rows"] == [0, 3, 6, 9, 12]
        # The empty conf dir is the JVM's only, and only for its start.
        assert report["jvm_conf_dir"] == os.path.join(os.path.dirname(archive), "conf")
        assert report["conf_dir"] is None


def test_stdout_holds_only_the_callers_lines(recorded):
    """The recording JVM's CDS warnings and the dump's report, which
    the JDK prints on Java's System.out, stay off the caller's stdout."""
    _, (_, first), _, (_, second) = recorded
    for lines in (first, second):
        assert [lines[0], lines[2]] == ["caller: start", "caller: end"]
        assert len(lines) == 3


@pytest.mark.parametrize("damage", ["truncated", "garbage"])
def test_damaged_archive_falls_back_to_a_normal_start(recorded, tmp_path, monkeypatch, damage):
    """A truncated archive (the JVM would crash mapping it) and a file
    that is no archive at all are not mapped; the session starts, its
    query returns the right rows, and the run records a whole archive
    in their place."""
    good = recorded[0]
    archive = _archive(tmp_path, monkeypatch)
    os.makedirs(os.path.dirname(archive))
    with open(good, "rb") as f:
        head = f.read(os.path.getsize(good) // 2)
    with open(archive, "wb") as f:
        f.write(head if damage == "truncated" else os.urandom(1 << 20))
    with open(archive + ".lock", "w") as f:
        f.write(str(os.path.getsize(good) if damage == "truncated" else 1 << 20))
    assert not _cds_valid(archive)
    report, _ = _run(tmp_path)
    assert _flags(report) == ["-XX:+RecordDynamicDumpInfo"]
    assert report["rows"] == [0, 3, 6, 9, 12]
    assert _cds_valid(archive)
    assert _left(archive) == [os.path.basename(archive)]


def test_conf_dir_with_content_starts_without_cds(tmp_path, monkeypatch):
    """A conf dir holding a real file keeps its place on the classpath
    and its settings: no CDS flags, no conf dir swap and no dump."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.etl.cds.probe marker\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert cds_archive() is None
    report, _ = _run(tmp_path, SPARK_CONF_DIR=str(conf))
    assert _flags(report) == []
    assert report["jvm_conf_dir"] == str(conf)
    assert report["conf_dir"] == str(conf)
    assert report["probe"] == "marker"
    assert report["rows"] == [0, 3, 6, 9, 12]
    assert not (tmp_path / "cache").exists()


@pytest.mark.parametrize("var", ["HADOOP_CONF_DIR", "YARN_CONF_DIR"])
def test_hadoop_or_yarn_conf_dir_skips_cds(tmp_path, monkeypatch, var):
    _archive(tmp_path, monkeypatch)
    monkeypatch.setenv(var, str(tmp_path))
    assert cds_archive() is None


def test_archive_key_follows_conf_dir_and_lives_in_the_cache(tmp_path, monkeypatch):
    default = _archive(tmp_path, monkeypatch)
    assert os.path.dirname(default) == str(tmp_path / "cache" / "etl_pipeline_sam_gov_spark" / "cds")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "empty-conf"))
    (tmp_path / "empty-conf").mkdir()
    other = cds_archive()
    assert other is not None and other != default


def test_concurrent_first_runs_leave_one_whole_archive(tmp_path, monkeypatch):
    """Two first runs at once: one records under the lock, the other
    starts normally, and the cache ends with one whole archive and no
    temp files."""
    archive = _archive(tmp_path, monkeypatch)
    procs = [_start(tmp_path), _start(tmp_path)]
    reports = [_finish(p)[0] for p in procs]
    recorders = [r for r in reports if _flags(r) == ["-XX:+RecordDynamicDumpInfo"]]
    assert len(recorders) == 1
    assert all(r["rows"] == [0, 3, 6, 9, 12] for r in reports)
    assert _cds_valid(archive)
    assert _left(archive) == [os.path.basename(archive)]
