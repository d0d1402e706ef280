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


def test_queries_dict_is_verification_priority_ordered():
    """queries() must lead with whatever the driver most needs to
    (re-)certify: last-round failures first, then green queries whose
    implementing file changed since their cert row (stale certs —
    VERDICT r09 #2), then never-sampled, then oldest certifications —
    so a prefix sample burns down the tail."""
    import glob
    import json
    import os

    import __spark_entry__ as ent

    names = list(ent.queries())
    assert set(names) == set(eng.QUERIES)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sampled: dict[str, dict] = {}
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rows = json.load(open(path))
        sampled.update(rows)
        rnd = int("".join(c for c in os.path.basename(path) if c.isdigit()) or 0)
        for n in rows:
            last_round[n] = rnd
    if not sampled:
        return  # round 1: no artifacts yet, any order is fine

    touched = ent._touched_since_cert(last_round)

    def cls(n):
        if n not in sampled:
            return "never"
        row = sampled[n]
        ok = row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
        if not ok:
            return "failed"
        return "touched" if n in touched else "green"

    classes = [cls(n) for n in names]
    # failed < stale-cert (touched) < never-sampled < green
    rank = {"failed": 0, "touched": 1, "never": 2, "green": 3}
    assert [rank[c] for c in classes] == sorted(rank[c] for c in classes)


def test_touched_since_cert_flags_recently_rewritten_files(monkeypatch):
    """The stale-cert tier must key on git commit times: a query whose
    implementing module was committed after its CORRECTNESS artifact,
    or in the same commit, is 'touched'; one whose module predates its
    cert row is not. Run only when git history is available (the
    helper degrades to set() without it, which the priority test above
    already covers)."""
    import os
    import subprocess

    import __spark_entry__ as ent

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        ok = (
            subprocess.run(
                ["git", "rev-parse", "--git-dir"],
                capture_output=True,
                cwd=here,
                timeout=10,
            ).returncode
            == 0
        )
    except (OSError, subprocess.SubprocessError):
        ok = False
    if not ok:
        import pytest

        pytest.skip("no git history in this checkout")

    # Differential check against git itself: for each probe query the
    # helper must flag it exactly when its implementing module's last
    # commit is newer than its cert artifact's commit.
    import inspect

    def commit_ts(rel):
        out = subprocess.run(
            ["git", "log", "-1", "--format=%ct", "--", rel],
            capture_output=True,
            text=True,
            cwd=here,
            timeout=10,
        )
        s = out.stdout.strip()
        return int(s) if out.returncode == 0 and s.isdigit() else None

    probes = {"q1_pricing_summary": 9, "graph_pagerank_bipartite": 8}
    touched = ent._touched_since_cert(probes)
    for name, rnd in probes.items():
        cert = commit_ts(f"CORRECTNESS_r{rnd:02d}.json")
        src = os.path.relpath(
            inspect.unwrap(eng.QUERIES[name]).__code__.co_filename, here
        )
        file_c = commit_ts(src)
        if cert is None or file_c is None:
            continue
        assert (name in touched) == (file_c >= cert), (
            name,
            src,
            file_c,
            cert,
        )

    # A file committed in the same commit as the certifying artifact
    # (equal commit times) is stale: the artifact certified the code
    # before that commit's fix.
    def same_commit(args, **kwargs):
        return subprocess.CompletedProcess(args, 0, stdout="1700000000\n")

    monkeypatch.setattr(subprocess, "run", same_commit)
    assert ent._touched_since_cert(probes) == dict.fromkeys(probes, 1700000000)


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
