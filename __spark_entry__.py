"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``etl_pipeline_sam_gov_spark`` package; this
module just exposes its registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import etl_pipeline_sam_gov_spark as eng
from etl_pipeline_sam_gov_spark.pipeline.contracts import flagship_verbatim

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (verbatim ATHENA_SQL, lambda_function.py:173-179)
    over the contracts view derived from sf0.001; driver checks rows>0."""
    return flagship_verbatim(spark, SMOKE_SF_DIR)


def _touched_since_cert(last_round: dict[str, int]) -> dict[str, int]:
    """Names whose implementing module was committed AFTER the
    CORRECTNESS artifact holding their latest driver row, or in the
    same commit (a fix committed with the artifact it answers was not
    what the artifact certified) — i.e. code
    changed since the last certification, so the old green row no
    longer certifies the current plan (VERDICT r09 #2) — mapped to the
    module's last commit time (the tier sorts newest code first: the
    most recently rewritten queries are the ones a driver sample must
    re-prove soonest). Resolution is per-FILE (a touched
    operators/graph.py re-prioritizes every query it defines — exactly
    the queries whose rows went stale). Uses git commit times, never
    filesystem mtimes (a fresh checkout stamps every file alike); any
    git failure degrades to the empty mapping, so a .git-less
    deployment keeps the plain three-tier order."""
    import inspect
    import os
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))

    def commit_ts(relpath: str) -> int | None:
        try:
            out = subprocess.run(
                ["git", "log", "-1", "--format=%ct", "--", relpath],
                capture_output=True,
                text=True,
                cwd=here,
                timeout=10,
            )
        except (OSError, subprocess.SubprocessError):
            return None
        s = out.stdout.strip()
        return int(s) if out.returncode == 0 and s.isdigit() else None

    cert_ts: dict[int, int | None] = {}
    for rnd in set(last_round.values()):
        cert_ts[rnd] = commit_ts(f"CORRECTNESS_r{rnd:02d}.json")

    file_ts: dict[str, int | None] = {}
    touched: dict[str, int] = {}
    for name, rnd in last_round.items():
        cts = cert_ts.get(rnd)
        if cts is None:
            continue
        try:
            src = inspect.unwrap(eng.QUERIES[name]).__code__.co_filename
        except (AttributeError, ValueError):
            continue
        rel = os.path.relpath(src, here)
        if rel.startswith(".."):
            continue
        if rel not in file_ts:
            file_ts[rel] = commit_ts(rel)
        fts = file_ts[rel]
        if fts is not None and fts >= cts:
            touched[name] = fts
    return touched


def _verification_priority() -> list[str]:
    """Registry names ordered by certification need: queries whose last
    driver CORRECTNESS row failed first (they carry fixes to re-prove),
    then green-certified queries whose implementing file changed since
    that row was written (the old cert no longer covers the current
    code), then queries never sampled by any driver round, then the
    rest from least- to most-recently certified. Dict order IS the
    declared sweep order — a driver sampling a prefix certifies the
    tail fastest."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    last_round: dict[str, int] = {}
    last_ok: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        rnd = int("".join(c for c in os.path.basename(path) if c.isdigit()) or 0)
        for name, row in rows.items():
            last_round[name] = rnd
            last_ok[name] = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )

    touched = _touched_since_cert(last_round)

    # Registry dict order encodes the package's own priority queue
    # (family order + the _DEFER_IN_TIER policy that keeps brand-new
    # recombinations of green lanes BEHIND the longest-waiting
    # never-sampled queries) — so the never-sampled tier must follow
    # it, not the alphabet.
    registry_pos = {name: i for i, name in enumerate(eng.QUERIES)}

    def key(name: str) -> tuple:
        if name in last_ok and not last_ok[name]:
            return (0, last_round[name], registry_pos[name])  # failed first
        if name in touched:
            # Stale cert: newest code first — this round's rewrites
            # get re-proved before last year's comment edits.
            return (1, -touched[name], registry_pos[name])
        if name not in last_round:
            return (2, 0, registry_pos[name])  # never sampled
        return (3, last_round[name], registry_pos[name])  # oldest cert first

    return sorted(eng.QUERIES, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    verification-priority order (see _verification_priority)."""
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
