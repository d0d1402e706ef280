"""Which value a runtime SQL conf takes: get_spark builds its session
with RUNTIME_CONFS and then SPARK_GRAFT_EXTRA_CONFS, so a caller's
override of a RUNTIME_CONFS key holds (an AQE-off lane run through
that variable really runs with AQE off). configure_runtime still forces
RUNTIME_CONFS on a session it did not build, and the stream session
takes its parent's values either way. Runs in a fresh interpreter, as
the builder reads the variable once, when the session is made."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_extra_confs_override_runtime_confs():
    code = """
        import json, sys
        sys.path.insert(0, ".")
        from etl_pipeline_sam_gov_spark.session import (
            configure_runtime, get_spark, stream_session,
        )

        keys = ("spark.sql.adaptive.enabled", "spark.sql.files.maxPartitionBytes")
        spark = get_spark("extra-confs")
        handed = spark.newSession()  # a session get_spark did not build
        before = [handed.conf.get(k) for k in keys]
        configure_runtime(handed)
        print(json.dumps({
            name: [s.conf.get(k) for k in keys]
            for name, s in (
                ("built", spark),
                ("built_stream", stream_session(spark)),
                ("handed", handed),
                ("handed_stream", stream_session(handed)),
            )
        } | {"handed_before": before}))
        """
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="1g",
        SPARK_GRAFT_EXTRA_CONFS=(
            "spark.sql.adaptive.enabled=false,spark.sql.files.maxPartitionBytes=4m"
        ),
    )
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.splitlines()[-1])
    caller, forced = ["false", "4m"], ["true", "1048576"]
    assert got["built"] == got["built_stream"] == caller
    assert got["handed_before"] == caller  # from the SparkConf
    assert got["handed"] == got["handed_stream"] == forced
