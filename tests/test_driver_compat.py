"""Gate: no registered query may emit a driver-hostile output schema,
and the local oracle comparison must be strictly HARSHER than the
driver's pandas canonicalization.

Round 3 post-mortem (VERDICT.md): three queries passed the repo's
collect()-path exact compare but failed the driver, purely on output
typing — (a) DECIMAL stringifies as ``Decimal('1')``/"1" on the Spark
side vs float64 "1.0" after DuckDB's ``.df()`` conversion, (b) ``-0.0``
vs ``0.0`` are distinct under pandas stringification, (c) the driver's
row sorter crashes on array-typed columns (``unhashable type: 'list'``).
These tests pin each failure class against the replica in
``oracle_compare.py`` so local green ⇒ driver green; the registry-wide
enforcement rides inside ``compare()`` (run for all queries by
``test_oracle_parity.py``) plus the schema sweep below.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import subprocess

import pytest

import etl_pipeline_sam_gov_spark as eng
from tests.oracle_compare import (
    _canon_cell,
    assert_driver_safe_types,
    canon_duck_type,
    driver_canonical_rows,
    duckdb_con,
)


# ---------------------------------------------------------------------------
# Failure class (a): DECIMAL output columns
# ---------------------------------------------------------------------------


def test_decimal_output_type_is_banned():
    with pytest.raises(AssertionError, match="driver-hostile"):
        assert_driver_safe_types("q", "spark", {"x": "decimal(9,0)"})


def test_driver_path_distinguishes_decimal_from_float():
    """Spark keeps Decimal('1') → "1"; DuckDB .df() floats it → "1.0".
    The driver-path canonicalizer must see them as DIFFERENT (this is
    the exact fn_try_arithmetic r03 hash failure)."""
    import decimal

    spark_side = driver_canonical_rows(["x"], [(decimal.Decimal("1"),)])
    duck_side = driver_canonical_rows(
        ["x"], [(decimal.Decimal("1"),)], frozenset({"x"})
    )
    assert spark_side == [("1",)]
    assert duck_side == [("1.0",)]
    assert spark_side != duck_side


# ---------------------------------------------------------------------------
# Failure class (b): negative zero
# ---------------------------------------------------------------------------


def test_exact_path_fails_on_negative_zero():
    with pytest.raises(AssertionError, match="negative zero"):
        _canon_cell(-0.0)


def test_driver_path_distinguishes_negative_zero():
    assert driver_canonical_rows(["x"], [(-0.0,)]) != driver_canonical_rows(
        ["x"], [(0.0,)]
    )


# ---------------------------------------------------------------------------
# Failure class (c): array/map/struct output columns
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "t", ["list<int8>", "list<string>", "map<string,int64>", "struct<a:int>"]
)
def test_nested_output_types_are_banned(t):
    with pytest.raises(AssertionError, match="driver-hostile"):
        assert_driver_safe_types("q", "spark", {"x": t})


def test_hugeint_is_banned():
    with pytest.raises(AssertionError, match="driver-hostile"):
        assert_driver_safe_types("q", "duckdb", {"x": "int128"})


# ---------------------------------------------------------------------------
# Registry-wide schema sweep (oracle side — cheap: type inference only,
# no fetch; the Spark side is enforced inside compare() for every query
# by test_oracle_parity, which executes them anyway)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duckdb_con(sf_dir)


@pytest.mark.parametrize("name", sorted(eng.ORACLES))
def test_every_oracle_schema_is_driver_safe(duck, name):
    rel = duck.sql(eng.ORACLES[name])
    types = {c: canon_duck_type(str(t)) for c, t in zip(rel.columns, rel.types)}
    assert_driver_safe_types(name, "duckdb", types)


def test_every_query_has_an_oracle_or_declared_rows_only():
    import __spark_entry__ as entry

    undeclared = set(eng.QUERIES) - set(eng.ORACLES) - set(entry.rows_only())
    assert not undeclared, (
        f"queries with neither an oracle nor a rows_only declaration: "
        f"{sorted(undeclared)}"
    )


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
FAILED = {"rows_match": True, "schema_match": True, "hash_match": False}


def _module(name: str) -> str:
    """Checkout-relative path of the file implementing ``name``."""
    src = inspect.unwrap(eng.QUERIES[name]).__code__.co_filename
    return os.path.relpath(src, REPO)


def _git_last_commit(rel: str) -> int | None:
    """Reference commit time: one ``git log -1`` per path, or None."""
    try:
        out = subprocess.run(
            ["git", "log", "-1", "--format=%ct", "--", rel],
            capture_output=True,
            text=True,
            cwd=REPO,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    s = out.stdout.strip()
    return int(s) if out.returncode == 0 and s.isdigit() else None


def _ok(row: dict) -> bool:
    return bool(
        row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
    )


def _latest_rows() -> tuple[dict[str, dict], dict[str, int]]:
    """Each sampled name's latest driver row and its round, from the
    committed CORRECTNESS artifacts."""
    latest: dict[str, dict] = {}
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            rows = json.load(f)
        rnd = int("".join(c for c in os.path.basename(path) if c.isdigit()) or 0)
        for n, row in rows.items():
            latest[n] = row
            last_round[n] = rnd
    return latest, last_round


def _reference_stale(last_round: dict[str, int]) -> dict[str, int]:
    """Stale certifications by per-file ``git log -1``: name -> its
    module's commit time, when that is at or after the commit of the
    artifact holding the name's latest row."""
    cert = {
        r: _git_last_commit(f"CORRECTNESS_r{r:02d}.json")
        for r in set(last_round.values())
    }
    module = {m: _git_last_commit(m) for m in {_module(n) for n in last_round}}
    stale = {}
    for n, r in last_round.items():
        m = module[_module(n)]
        if cert[r] is not None and m is not None and m >= cert[r]:
            stale[n] = m
    return stale


def _has_git() -> bool:
    try:
        return (
            subprocess.run(
                ["git", "rev-parse", "--git-dir"],
                capture_output=True,
                cwd=REPO,
                timeout=10,
            ).returncode
            == 0
        )
    except (OSError, subprocess.SubprocessError):
        return False


def _write_artifacts(root, rounds: dict[int, dict[str, dict]]) -> None:
    for rnd, rows in rounds.items():
        (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _walk_stub(commits: list[tuple[int, list[str]]]):
    """A ``subprocess.run`` that answers the priority function's git walk
    with ``commits`` (newest first, as ``git log`` prints them)."""
    stdout = "".join(
        f"\0{ts}\n\n" + "".join(f"{p}\n" for p in paths) + "\n"
        for ts, paths in commits
    )

    def run(args, **kwargs):
        return subprocess.CompletedProcess(args, 0, stdout=stdout, stderr="")

    return run


def test_queries_dict_is_verification_priority_ordered():
    """queries() must lead with whatever the driver most needs to
    (re-)certify: last-round failures first, then green queries whose
    implementing file changed since their cert row (stale certs),
    then the rest from oldest certification, where a
    never-sampled query counts as round 0 — so a prefix sample burns
    down the tail."""
    import __spark_entry__ as ent

    names = list(ent.queries())
    assert names == list(dict.fromkeys(names))
    assert set(names) == set(eng.QUERIES)

    latest, last_round = _latest_rows()
    if not latest:
        return  # round 1: no artifacts yet, any order is fine

    touched = _reference_stale(last_round)

    def cls(n):
        if n not in latest:
            return "never"
        if not _ok(latest[n]):
            return "failed"
        return "touched" if n in touched else "green"

    classes = [cls(n) for n in names]
    # failed < stale-cert (touched) < never-sampled < green
    rank = {"failed": 0, "touched": 1, "never": 2, "green": 3}
    assert [rank[c] for c in classes] == sorted(rank[c] for c in classes)
    tail = [last_round.get(n, 0) for n, c in zip(names, classes) if rank[c] >= 2]
    assert tail == sorted(tail)  # oldest certification first


def test_touched_since_cert_flags_recently_rewritten_files(monkeypatch, tmp_path):
    """The stale-cert tier must key on git commit times: a query whose
    implementing module was committed after its CORRECTNESS artifact,
    or in the same commit, is stale; one whose module predates its
    cert row is not. The one-walk commit times are checked against
    per-file ``git log -1`` (the reference) over the whole registry.
    Run only when git history is available (without it the stale tier
    is empty, which the fallback test covers)."""
    import __spark_entry__ as ent

    if not _has_git():
        pytest.skip("no git history in this checkout")

    latest, last_round = _latest_rows()
    failed = {n for n, row in latest.items() if not _ok(row)}
    stale = {
        n: t for n, t in _reference_stale(last_round).items() if n not in failed
    }
    names = list(ent.queries())
    # The stale tier follows the failed rows, newest module commit first.
    tier = names[len(failed) : len(failed) + len(stale)]
    assert set(tier) == set(stale)
    times = [stale[n] for n in tier]
    assert times == sorted(times, reverse=True)

    # A module committed in the same commit as the certifying artifact
    # (equal commit times) is stale: the artifact certified the code
    # before that commit's fix.
    probe, other = "q1_pricing_summary", "graph_pagerank_bipartite"
    _write_artifacts(tmp_path, {1: {probe: GREEN, other: GREEN}})
    monkeypatch.setattr(
        subprocess,
        "run",
        _walk_stub([(1700000000, ["CORRECTNESS_r01.json", _module(probe)])]),
    )
    names = ent._verification_priority(str(tmp_path))
    assert names[0] == probe  # stale: ahead of every never-sampled name
    assert names[-1] == other  # module not in the walk: round-1 green


def test_verification_priority_tiers_on_synthetic_artifacts(monkeypatch, tmp_path):
    """Every tier on fake artifacts and a stubbed git walk: the failed
    row first, then the stale cert, then never-sampled names (round 0,
    registration order), then greens by round. The r02 artifact is
    untracked (the walk does not list it), so its rows are not stale
    even though their module is newer than r01."""
    import __spark_entry__ as ent

    failed, stale, green, untracked = (
        "q1_pricing_summary",  # relational.py
        "graph_pagerank_bipartite",  # graph.py
        "dq_psi_value_drift",  # dq.py
        "graph_kcore_membership",  # graph.py
    )
    _write_artifacts(
        tmp_path,
        {
            1: {failed: GREEN, stale: GREEN, green: GREEN},
            2: {failed: FAILED, untracked: GREEN},
        },
    )
    monkeypatch.setattr(
        subprocess,
        "run",
        _walk_stub(
            [
                (300, [_module(stale)]),
                (100, ["CORRECTNESS_r01.json"]),
                (50, [_module(green), _module(failed)]),
            ]
        ),
    )
    sampled = {failed, stale, green, untracked}
    never = [n for n in eng.QUERIES if n not in sampled]
    assert ent._verification_priority(str(tmp_path)) == [
        failed,
        stale,
        *never,
        green,
        untracked,
    ]


@pytest.mark.parametrize("git", ["missing", "failing"])
def test_verification_priority_without_git(monkeypatch, tmp_path, git):
    """No git binary, or a git that fails (no repository): the stale tier
    is empty, leaving failed rows first, then oldest round."""
    import __spark_entry__ as ent

    def run(args, **kwargs):
        if git == "missing":
            raise FileNotFoundError(args[0])
        return subprocess.CompletedProcess(args, 128, stdout="", stderr="fatal")

    _write_artifacts(
        tmp_path,
        {
            1: {"graph_pagerank_bipartite": GREEN, "q1_pricing_summary": FAILED},
            2: {"dq_psi_value_drift": GREEN},
        },
    )
    monkeypatch.setattr(subprocess, "run", run)
    names = ent._verification_priority(str(tmp_path))
    assert names[0] == "q1_pricing_summary"
    assert names[-2:] == ["graph_pagerank_bipartite", "dq_psi_value_drift"]
    assert set(names) == set(eng.QUERIES)


def test_queries_spawns_one_git_subprocess(monkeypatch):
    """Commit times come from ONE ``git log`` walk per queries() call,
    not one ``git log -1`` per artifact and module."""
    import __spark_entry__ as ent

    spawned: list[list[str]] = []
    real_popen = subprocess.Popen

    class CountingPopen(real_popen):
        def __init__(self, args, *a, **kw):
            spawned.append(list(args))
            super().__init__(args, *a, **kw)

    monkeypatch.setattr(subprocess, "Popen", CountingPopen)
    assert len(ent.queries()) == len(eng.QUERIES)
    assert len(spawned) == 1 and spawned[0][:2] == ["git", "log"], spawned


# ---------------------------------------------------------------------------
# Vacuous-certification audit at BOTH scales (round-5, VERDICT r04 #7):
# an oracle that returns zero rows — or a non-declared all-NULL column —
# hash-matches any equally-degenerate Spark result, certifying nothing.
# The r04 audit ran at sf0.01 only; q7-style density holes appear first
# at the smallest fixture, so the driver scale AND sf0.001 are gated.
# One pass per scale (not per-name parametrize): DuckDB executes the
# whole registry in ~20-30 s per scale, and a single assertion report
# names every offender at once.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "scale_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_no_oracle_is_vacuous(scale_dir):
    from tests.oracle_compare import ALLOWED_ALL_NULL, ALLOWED_EMPTY

    con = duckdb_con(scale_dir)
    offenders: list[str] = []
    for name, sql in eng.ORACLES.items():
        rel = con.sql(sql)
        cols = rel.columns
        rows = rel.fetchall()
        if not rows:
            if name not in ALLOWED_EMPTY:
                offenders.append(f"{name}: ZERO rows")
            continue
        for i, c in enumerate(cols):
            if (name, c) in ALLOWED_ALL_NULL:
                continue
            if all(r[i] is None for r in rows):
                offenders.append(f"{name}: column {c} all-NULL")
    assert not offenders, (
        f"vacuous oracle output at {scale_dir} (re-parameterize the "
        f"query or declare the exception with a reason): {offenders}"
    )
