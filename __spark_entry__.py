"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``etl_pipeline_sam_gov_spark`` package; this
module exposes its registry, ordered so that a driver sampling a prefix
re-certifies what most needs it (``_verification_priority``).
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import subprocess
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import etl_pipeline_sam_gov_spark as eng
from etl_pipeline_sam_gov_spark.pipeline.contracts import flagship_verbatim

SMOKE_SF_DIR = "/root/testdata/sf0.001"
HERE = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (verbatim ATHENA_SQL, lambda_function.py:173-179)
    over the contracts view derived from sf0.001; driver checks rows>0."""
    return flagship_verbatim(spark, SMOKE_SF_DIR)


def _verification_priority(root: str = HERE) -> list[str]:
    """Registry names ordered by certification need, from the driver's
    ``CORRECTNESS_r*.json`` artifacts in ``root`` (tests point it at
    fakes):

    1. queries whose latest driver row failed (they carry fixes to
       re-prove), oldest failure first;
    2. stale certifications — the implementing module was committed
       after the artifact holding the query's latest row, or in the
       same commit (the artifact certified the code before that fix) —
       newest module commit first, so this round's rewrites are
       re-proved before old comment edits;
    3. everything else from least- to most-recently certified; a query
       no driver round sampled counts as certified at round 0.

    Ties keep registration order. A driver sampling a prefix of this
    order certifies the tail fastest.

    Staleness is per module file (checkout-relative path) and reads git
    commit times, never filesystem mtimes (a fresh checkout stamps every
    file alike): one ``git log`` walk, newest commit first, whose first
    timestamp per path is that path's last commit. An artifact or module
    the walk does not list (untracked) flags nothing stale, and any git
    failure leaves the stale tier empty."""
    latest: dict[str, tuple[int, str, bool]] = {}  # (round, artifact, ok)
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        artifact = os.path.basename(path)
        rnd = int("".join(c for c in artifact if c.isdigit()) or 0)
        for name, row in rows.items():
            ok = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            latest[name] = (rnd, artifact, ok)

    # NUL marks the commit lines (no path holds one); paths are relative
    # to root, and a rename lists its old path too.
    committed: dict[str, int] = {}
    try:
        out = subprocess.run(
            ["git", "log", "--no-renames", "--relative", "--format=%x00%ct",
             "--name-only"],
            capture_output=True,
            text=True,
            cwd=root,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        out = None
    if out is not None and out.returncode == 0:
        ts = 0
        for line in out.stdout.splitlines():
            if line.startswith("\0"):
                ts = int(line[1:])
            elif line:
                committed.setdefault(line, ts)

    def key(name: str) -> tuple[int, int]:
        rnd, artifact, ok = latest.get(name, (0, "", True))
        if not ok:
            return (0, rnd)
        cert = committed.get(artifact)
        src = inspect.unwrap(eng.QUERIES[name]).__code__.co_filename
        module = committed.get(os.path.relpath(src, HERE))
        if cert is not None and module is not None and module >= cert:
            return (1, -module)
        return (2, rnd)

    return sorted(eng.QUERIES, key=key)  # stable: ties keep registration order


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    certification-priority order (see _verification_priority)."""
    return {name: eng.QUERIES[name] for name in _verification_priority()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted ⇒ rows-only)."""
    return dict(eng.ORACLES)


def baselines() -> dict[str, str]:
    """Oracle-baseline queries → their registered scale-path twin.
    Baselines are exact but deliberately O(n²)/O(Q×N); the twin is the
    engine's production answer for the same problem, and sharing the
    baseline's oracle proves the twin's blocking loses nothing."""
    return dict(eng.BASELINE_OF)


def rows_only() -> dict[str, str]:
    """DECLARED rows-only queries — the oracle omission is by design,
    not breakage; an ``err: "no_oracle"`` row for these in CORRECTNESS
    is the expected weaker contract, and each carries its reason here.
    Currently empty: every registered query carries an oracle (the
    sketch query validates its engine-specific estimates via
    oracle-pinned error-bound booleans; multimodal decode round-trips
    header fields the oracle predicts from doc_id)."""
    return {}
