"""SparkSession construction tuned for this engine.

Local test profile: ``local[N]`` single-JVM. The same builder settings are
the ones we'd ship on a 1000-executor cluster (AQE on, adaptive skew-join,
partition coalescing); only memory/parallelism sizing is deployment-specific.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import threading
import weakref
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: Runtime (SQL) confs that matter for correctness and must hold even when
#: the driver hands us a pre-built session: applied by ``configure_runtime``.
RUNTIME_CONFS = {
    # Oracle comparison is timezone-proof only if Spark interprets the
    # (timezone-naive) parquet timestamps exactly like DuckDB does: as UTC.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults ANSI on; the engine's coerce semantics (reference
    # lambda_function.py:87 `errors="coerce"`) want NULL-on-bad-parse. We
    # still use try_* functions everywhere it matters; this is belt+braces.
    "spark.sql.ansi.enabled": "false",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. Essential at 100 TB; harmless at sf0.01.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let a relation partitioned on a SUBSET of a join's keys co-partition
    # that join instead of forcing a full-key re-exchange (planner-freedom
    # conf — results invariant, full-registry oracle sweep green under it).
    # The iterative graph family leans on this: graph_random_walks probes
    # its (src)-partitioned ranked-neighbor cache on (src, idx) with zero
    # per-step exchange of the |E| side (operators/graph.py r7 note).
    # SCOPE NOTE (r8): this is set session-wide although only the graph
    # family needs it, and it can change join PHYSICAL plans everywhere —
    # and therefore float-summation order. Every registered query is
    # either rounded at the output or integer/decimal-exact, and the full
    # registry is oracle-swept under this conf; any NEW query that emits
    # an UNROUNDED floating-point aggregate must be swept under this conf
    # too (or round like the rest of the registry) before registration,
    # or it may drift across Spark versions in ways the graph-local
    # rationale doesn't cover.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long (nanos since epoch) and normalize to
    # micros in tables.load_tables (exact integer division).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture parquet writes timestamps with isAdjustedToUTC=false, which
    # Spark 4 infers as TIMESTAMP_NTZ — a type watermarks and unix_micros
    # reject. Read them as TIMESTAMP instead: with the session pinned to
    # UTC the wall-clock values are bit-identical to DuckDB's naive read,
    # and the streaming sources inherit a watermarkable event-time column.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Keep the whole-stage codegen stage id out of the generated class
    # name. AQE numbers stages in the order they become ready, which
    # varies run to run, and the id made the same generated code a new
    # codegen cache key (one Janino compile each) under every
    # numbering: repeated passes of the benchmark's iterative queries
    # kept compiling 0-8 classes even with every class cached. With it
    # out they compile 178 instead of ~204 classes cold and none when
    # repeated (sf0.001, 4 cores). Only stack traces lose the stage
    # suffix of the class name.
    "spark.sql.codegen.useIdInClassName": "false",
    # Scan-split sizing. The local fixtures are single small files whose
    # row groups are ~1 MB — the 128 MB default packs each table into ONE
    # task and serializes the scan stage on a 32-core box. 1 MB splits
    # let every row group scan in parallel. On a real cluster (100 TB,
    # many ≥128 MB files) set the default back through
    # SPARK_GRAFT_EXTRA_CONFS (spark.sql.files.maxPartitionBytes=128m),
    # which get_spark applies after these.
    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
}


#: Capacity of Spark's LRU cache of Janino-compiled codegen classes
#: (spark.sql.codegen.cache.maxEntries, default 100). The benchmark's
#: 13-query registry_mix needs 346 distinct classes (268 with the stage
#: id out of class names, see RUNTIME_CONFS) and contracts_etl 55, so
#: at 100 the cache evicted every registry_mix class before its reuse
#: and each steady pass recompiled 300-345 of them (1.8-3.3 s of an
#: ~8-9 s pass on 4 cores, sf0.01); at 1000 it recompiles none. 1000 is
#: about 3x the largest working set measured; a full-registry sweep
#: still evicts in LRU order, as before. Cost: about 140 KB of driver
#: heap per entry (invalidating a 346-entry cache freed 48 MB), so at
#: most ~140 MB. The conf is static: it is set by get_spark's builder
#: and cannot be applied by configure_runtime, so a pre-built session
#: handed in by a driver keeps its own value. SPARK_GRAFT_EXTRA_CONFS
#: overrides it.
CODEGEN_CACHE_ENTRIES = 1000


#: Sessions already configured — configure_runtime is called by every
#: query via load_tables, and a 100-query sweep over one session should
#: pay the conf round-trips once, not per query. Weak-keyed (not id()):
#: CPython reuses ids after GC, and a stale id hit would silently skip
#: configuring a brand-new session (same hazard class as the r5
#: iso-cache advice).
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _set_confs(spark: SparkSession, confs: dict[str, str]) -> None:
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on this build: builder already set it


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-safe)."""
    if spark in _CONFIGURED:
        return spark
    _set_confs(spark, RUNTIME_CONFS)
    _CONFIGURED.add(spark)
    return spark


#: Shuffle width cap of the stream session. A stateful operator keeps
#: one state-store instance (and, for the pandas-stateful ones, one
#: Python worker round) per shuffle partition per micro-batch: at 8,
#: the stateful replays went from 20.7 s to 7.2 s on 32 cores. Results
#: do not depend on it; a live deployment sizes it to state volume.
STREAM_WIDTH = 8

#: Parent session → its stream session, weak-keyed like the slots. One
#: per parent: Spark never removes a session's StreamingQueryListenerBus
#: from the shared listener bus.
_STREAM_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)
_STREAM_LOCK = threading.Lock()


def stream_session(spark: SparkSession) -> SparkSession:
    """The session every stream of ``spark`` is built and run in: one
    ``spark.newSession()``, made on first use, sharing the SparkContext
    and cache. It takes ``spark``'s values of the RUNTIME_CONFS keys
    (forced ones and SPARK_GRAFT_EXTRA_CONFS overrides alike; its other
    SQL confs come from the SparkConf) and the width
    ``min(STREAM_WIDTH, spark's spark.sql.shuffle.partitions)``."""
    with _STREAM_LOCK:
        child = _STREAM_SESSIONS.get(spark)
        if child is None:
            configure_runtime(spark)
            child = spark.newSession()
            width = min(STREAM_WIDTH, int(spark.conf.get("spark.sql.shuffle.partitions")))
            _set_confs(child, {
                **{k: spark.conf.get(k) for k in RUNTIME_CONFS},
                "spark.sql.shuffle.partitions": str(width),
            })
            _STREAM_SESSIONS[spark] = child
        return child


def _default_driver_mem() -> str:
    """Driver heap default, sized to the machine instead of hardcoded.

    A 45-query bench sweep churns broadcasts, cached plans and codegen
    classes faster than the async ContextCleaner reclaims them; at 8g
    the old-gen pressure showed up as 2-4x per-query swings late in the
    sweep (measured r5), and 24g cured it on the 128 GiB bench box. But
    24g unconditionally would fail JVM startup (or push the host into
    swap) on small dev/CI machines, so take min(24g, ~half of
    MemAvailable) with an 8g fallback when /proc/meminfo is unreadable
    (macOS, containers with masked procfs). SPARK_DRIVER_MEM stays the
    explicit override.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, avail_gib // 2))}g"
    except OSError:
        pass
    return "8g"


#: Prints where an interpreter would import pyspark from, without importing it.
_FIND_PYSPARK = (
    "import importlib.util as u; s = u.find_spec('pyspark'); "
    "print(s.submodule_search_locations[0] if s and s.submodule_search_locations else '')"
)


def installed_matches_zip(spark_zip: str, pyspark_dir: str) -> bool:
    """Whether the pyspark package in ``pyspark_dir`` ("" for none) is
    the release in ``spark_zip``: their ``version.py`` are equal byte
    for byte."""
    if not pyspark_dir:
        return False
    try:
        with zipfile.ZipFile(spark_zip) as z:
            pinned = z.read("pyspark/version.py")
        with open(os.path.join(pyspark_dir, "version.py"), "rb") as f:
            return f.read() == pinned
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def launcher_script(python: str, root: str, spark_zip: str | None) -> str:
    """A shell launcher that puts ``root`` first on ``PYTHONPATH``, drops
    ``spark_zip`` from it (unless None) and ``exec``s ``python``."""
    keep = f'[ "$e" = {shlex.quote(spark_zip)} ] || ' if spark_zip else ""
    return (
        "#!/bin/sh\n"
        f"p={shlex.quote(root)}\n"
        "IFS=:; set -f\n"
        f'for e in $PYTHONPATH; do {keep}p="$p:$e"; done\n'
        'export PYTHONPATH="$p"\n'
        f'exec {shlex.quote(python)} "$@"\n'
    )


def python_launcher(python: str) -> str:
    """Write the launcher that every Python daemon of a get_spark session
    (executor tasks' and the DataSource planners') runs instead of
    ``python``; return its path. It puts the package root first on
    ``PYTHONPATH``, so workers import this engine wherever the driver
    runs. It drops SPARK_HOME's ``pyspark.zip``, which every daemon
    compiles from source (0.4 s from start to fork against 0.15 s, 4
    cores, CPython 3.11), only if ``python``'s pyspark is its release."""
    from pyspark.find_spark_home import _find_spark_home

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_zip = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    try:
        found = subprocess.run(
            [python, "-c", _FIND_PYSPARK], capture_output=True, text=True,
            timeout=60, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        found = ""
    drop = installed_matches_zip(spark_zip, found)
    script = launcher_script(python, root, spark_zip if drop else None)
    key = hashlib.sha256(script.encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"etl-pylaunch-{key}")
    with tempfile.NamedTemporaryFile("w", dir=os.path.dirname(path), delete=False) as f:
        f.write(script)
    os.chmod(f.name, 0o700)
    os.replace(f.name, path)
    return path


#: JVM logging that would print class-data-sharing warnings to the
#: stdout the driver JVM shares with its Python caller (recording
#: printed about 4500 lines): off on the recording and the mapping JVM.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"

#: The first bytes of a dynamic CDS archive (0xf00baba8, little-endian).
_CDS_MAGIC = b"\xa8\xab\x0b\xf0"


def cds_dir() -> str:
    """Where get_spark keeps its driver class-data-sharing archives."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "etl_pipeline_sam_gov_spark", "cds")


def cds_archive() -> str | None:
    """Path of the driver JVM's class-data-sharing archive for this Java
    runtime, Spark jar set and conf dir, or None when the driver must
    start without one.

    The JVM cannot record an archive while a non-empty directory is on
    its classpath, and Spark's launcher puts the conf dir there; so CDS
    is used only when that dir holds nothing but ``*.template`` files
    (get_spark then swaps in an empty dir) and no Hadoop or YARN conf
    dir is set."""
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    key = hashlib.sha256(f"{java_home}\0{conf_dir}\0".encode())
    try:
        if not all(n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        with open(os.path.join(java_home, "release"), "rb") as f:
            key.update(f.read())
        for jar in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
            st = jar.stat()
            key.update(f"{jar.name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    except OSError:
        return None
    return os.path.join(cds_dir(), key.hexdigest()[:16] + ".jsa")


def _cds_valid(archive: str) -> bool:
    """Whether ``archive`` is whole: a dynamic archive (by its magic
    number) of the size its recorder wrote into its lock file after
    publishing it. The JVM crashes at start (SIGBUS) on a truncated
    archive."""
    try:
        with open(archive + ".lock") as f:
            size = int(f.read())
        with open(archive, "rb") as f:
            return os.fstat(f.fileno()).st_size == size and f.read(4) == _CDS_MAGIC
    except (OSError, ValueError):
        return False


def _cds_start(archive: str) -> tuple[str, str, int | None] | None:
    """Plan one driver JVM start with ``archive``: its java options, the
    empty conf dir to start it on and, when this start records the
    archive, the descriptor holding the recording lock. None means a
    normal start."""
    conf = os.path.join(os.path.dirname(archive), "conf")
    mapped = f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", conf, None
    try:
        os.makedirs(conf, exist_ok=True)
        if os.listdir(conf):
            return None
        if _cds_valid(archive):
            return mapped
        lock = os.open(archive + ".lock", os.O_RDWR | os.O_CREAT, 0o600)
    except OSError:
        return None
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(lock)  # another process is recording it
        return None
    if _cds_valid(archive):  # published since the check above
        os.close(lock)
        return mapped
    for stale in glob.glob(glob.escape(archive) + ".*.tmp"):
        os.remove(stale)  # left by a recorder killed mid-dump
    return f"-XX:+RecordDynamicDumpInfo {_CDS_QUIET}", conf, lock


def _java_array(gateway, java_class, *items):
    """A Java array of ``java_class`` holding ``items``."""
    array = gateway.new_array(java_class, len(items))
    for i, item in enumerate(items):
        array[i] = item
    return array


def _cds_dump(archive: str, lock: int) -> None:
    """Dump the running driver JVM's loaded classes to ``archive``, then
    release the recording lock. Runs at interpreter exit, before
    PySpark's own exit handlers, and works after ``spark.stop()``."""
    jvm, gateway = SparkContext._jvm, SparkContext._gateway
    tmp = f"{archive}.{os.getpid()}.tmp"
    try:
        system = jvm.java.lang.System
        out = system.out
        # The JDK reports the dump on Java's System.out, which is the
        # caller's stdout: send it to stderr for the dump's duration.
        system.setOut(system.err)
        try:
            lang, cls = jvm.java.lang, jvm.java.lang.Class
            # py4j cannot resolve `invoke` on the platform MBeanServer's
            # class, so call it through the interface's Method.
            invoke = cls.forName("javax.management.MBeanServerConnection").getMethod(
                "invoke", _java_array(gateway, cls, *map(cls.forName, (
                    "javax.management.ObjectName", "java.lang.String",
                    "[Ljava.lang.Object;", "[Ljava.lang.String;"))))
            invoke.invoke(lang.management.ManagementFactory.getPlatformMBeanServer(), _java_array(
                gateway, lang.Object,
                jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
                "vmCds",
                _java_array(gateway, lang.Object, _java_array(gateway, lang.String, "dynamic_dump", tmp)),
                _java_array(gateway, lang.String, "[Ljava.lang.String;"),
            ))
        finally:
            system.setOut(out)
        os.replace(tmp, archive)
        os.ftruncate(lock, 0)
        os.pwrite(lock, str(os.path.getsize(archive)).encode(), 0)
    except Exception as e:  # an exit hook: report, and the next run records again
        print(f"get_spark: no class-data-sharing archive recorded: {e!r}", file=sys.stderr)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
        os.close(lock)


def get_spark(app_name: str = "etl_pipeline_sam_gov_spark") -> SparkSession:
    """The engine's session: ``local[SPARK_GRAFT_CPUS]`` (or
    ``SPARK_GRAFT_MASTER``) with the confs above, Python daemons started
    through ``python_launcher`` on local masters.

    When this call launches the driver JVM, the JVM starts from a
    dynamic class-data-sharing archive of the classes an earlier run
    loaded (``cds_archive``: one per Java runtime, Spark jar set and conf
    dir, under ``cds_dir()``). When there is none, this run records one:
    it takes the key's lock, and an exit hook dumps the archive to a
    temp file and publishes it with ``os.replace``, about 5 s after the
    caller's last line. A missing, damaged or locked archive, an
    unwritable cache or a conf dir with real content means a normal
    start."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # local[N, K]: K task-attempt retries before a stage aborts — the
    # robustness-sweep knob (executor loss / speculative retry
    # determinism needs tasks that can legally re-run; plain local[N]
    # pins maxFailures=1 so the first injected failure kills the job).
    retries = os.environ.get("SPARK_GRAFT_TASK_MAX_FAILURES")
    master = f"local[{cpus},{int(retries)}]" if retries else f"local[{cpus}]"
    # Robustness-sweep knob (VERDICT r08 #5 / r09 #8): an explicit
    # master — e.g. local-cluster[2,2,2048] — runs the full registry
    # with executors in SEPARATE JVMs, exercising real serialization of
    # every closure/row/broadcast instead of local mode's in-process
    # handoff. Never set by bench.py or the driver; the bench contract
    # (local[$SPARK_GRAFT_CPUS]) is unchanged.
    master = os.environ.get("SPARK_GRAFT_MASTER", master)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle parallelism sized to cores for local; on a real cluster
        # AQE coalescing makes the initial number mostly a ceiling.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark wraps every Column/functions call to record its
        # Python call site: 4 py4j round trips plus a stack walk per
        # call, 60-75% of the py4j calls of the iterative queries'
        # plan builds. The trade: DataFrame errors lose the Python
        # call-site fragment, which mostly shows on ANSI runtime
        # errors, and ANSI is off here (RUNTIME_CONFS). PySpark reads
        # this once per process, from the first active session, so it
        # is set here, when the session is created.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # PySpark reads PYSPARK_PYTHON once, when the SparkContext starts,
    # and the JVM it launches inherits it: set it for that moment only.
    # The launcher is a file on the driver's host, so only local
    # masters (local-cluster included) use it. SPARK_CONF_DIR below is
    # scoped the same way.
    env, archive, lock = {}, None, None
    if master.startswith("local"):
        env["PYSPARK_PYTHON"] = python_launcher(os.environ.get("PYSPARK_PYTHON") or "python3")
    # The driver JVM maps a class-data-sharing archive of the classes
    # an earlier run loaded, or records one when there is none. Only a
    # JVM this call launches can: not under spark-submit, not on a
    # second call. Default (not extra) java options, so
    # SPARK_GRAFT_EXTRA_CONFS' extraJavaOptions add to them; an
    # explicit defaultJavaOptions there replaces them.
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = cds_archive()
        cds = _cds_start(archive) if archive else None
        if cds:
            java_options, env["SPARK_CONF_DIR"], lock = cds
            builder = builder.config("spark.driver.defaultJavaOptions", java_options)
    # Build-time conf overrides for robustness sweeps (speculation and
    # other scheduler confs are frozen at SparkContext startup, so a
    # runtime spark.conf.set cannot exercise them):
    # SPARK_GRAFT_EXTRA_CONFS="k1=v1,k2=v2".
    for pair in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(",")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    caller = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if lock is not None:
            os.close(lock)
        raise
    finally:
        for k, v in caller.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    if lock is not None:
        # Registered after getOrCreate, so it runs before PySpark's
        # exit handlers, while the JVM is still up.
        atexit.register(_cds_dump, archive, lock)
    spark.sparkContext.setLogLevel("WARN")
    # The builder set RUNTIME_CONFS and then SPARK_GRAFT_EXTRA_CONFS, so
    # the caller's values win; configure_runtime would reset them.
    _CONFIGURED.add(spark)
    return spark
