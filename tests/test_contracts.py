"""Golden edge-semantics tests for the reference-parity pipeline
(FIXTURES.md §A1 edge rows; SURVEY.md §1.4 null-semantics deltas)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F, types as T

from etl_pipeline_sam_gov_spark.pipeline.contracts import (
    build_contracts,
    filter_veteran_set_asides,
    transform_contracts,
)

RAW_SCHEMA = T.StructType(
    [
        T.StructField("noticeId", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("solicitationNumber", T.StringType()),
        T.StructField("fullParentPathName", T.StringType()),
        T.StructField("postedDate", T.StringType()),
        T.StructField("typeOfSetAsideDescription", T.StringType()),
        T.StructField("naicsCode", T.StringType()),
        T.StructField(
            "officeAddress",
            T.StructType(
                [
                    T.StructField("city", T.StringType()),
                    T.StructField("state", T.StringType()),
                ]
            ),
        ),
        T.StructField("uiLink", T.StringType()),
    ]
)

NOW = "2001-07-25"


def raw_row(**kw):
    base = dict(
        noticeId="n1",
        title=" Title ",
        solicitationNumber=" SOL-1 ",
        fullParentPathName=" Agency ",
        postedDate="2001-07-24",
        typeOfSetAsideDescription="Veteran-Owned Small Business Set-Aside",
        naicsCode="541511",
        officeAddress=Row(city=" Austin ", state="tx"),
        uiLink=" http://x ",
    )
    base.update(kw)
    return base


def run(spark, rows):
    raw = spark.createDataFrame([Row(**r) for r in rows], RAW_SCHEMA)
    return transform_contracts(filter_veteran_set_asides(raw), now=NOW)


def by_id(df):
    return {r["noticeId"]: r.asDict() for r in df.collect()}


def test_set_aside_substring_filter(spark):
    rows = [
        raw_row(noticeId="keep1"),
        raw_row(
            noticeId="keep2",
            typeOfSetAsideDescription=(
                "Service-Disabled Veteran-Owned Small Business (SDVOSB) Set-Aside"
            ),
        ),
        raw_row(noticeId="drop1", typeOfSetAsideDescription="8(a) Set-Aside"),
        raw_row(noticeId="drop2", typeOfSetAsideDescription=None),
    ]
    got = by_id(run(spark, rows))
    assert set(got) == {"keep1", "keep2"}


def test_dropna_and_unparseable_date(spark):
    rows = [
        raw_row(noticeId=None),  # dropped (lambda_function.py:86)
        # unparseable date survives dropna → NULL ts, score 1 (§1.4)
        raw_row(noticeId="bad-date", postedDate="not-a-date"),
    ]
    got = by_id(run(spark, rows))
    assert set(got) == {"bad-date"}
    r = got["bad-date"]
    assert r["postedDate"] is None
    assert r["daysSincePosted"] is None
    assert r["isRecent"] is False
    assert r["recencyScore"] == 1


@pytest.mark.parametrize(
    "posted,score",
    [
        ("2001-07-30", 5),  # future → negative days → 5 (:103)
        ("2001-07-24", 5),  # 1 day
        ("2001-07-22", 4),  # 3 days
        ("2001-07-20", 3),  # 5 days
        ("2001-07-18", 2),  # 7 days
        ("2001-07-17", 1),  # 8 days
    ],
)
def test_recency_score_bands(spark, posted, score):
    got = by_id(run(spark, [raw_row(noticeId="x", postedDate=posted)]))
    assert got["x"]["recencyScore"] == score


def test_naics_map_and_truthiness(spark):
    rows = [
        raw_row(noticeId="a", naicsCode="541511"),
        raw_row(noticeId="b", naicsCode="541512"),
        raw_row(noticeId="c", naicsCode="561730"),
        raw_row(noticeId="d", naicsCode="999999"),
        raw_row(noticeId="e", naicsCode="  "),
    ]
    got = by_id(run(spark, rows))
    assert got["a"]["naicsDescription"] == "Custom Computer Programming"
    assert got["b"]["naicsDescription"] == "Systems Design Services"
    assert got["c"]["naicsDescription"] == "Landscaping Services"
    assert got["d"]["naicsDescription"] == "Other"
    assert got["e"]["naicsDescription"] == "Other"
    assert got["a"]["hasNAICS"] is True
    assert got["d"]["hasNAICS"] is True
    assert got["e"]["hasNAICS"] is False


def test_trim_upper_and_missing_office(spark):
    rows = [
        raw_row(noticeId="a"),
        raw_row(noticeId="b", officeAddress=None),
    ]
    got = by_id(run(spark, rows))
    assert got["a"]["title"] == "Title"
    assert got["a"]["city"] == "Austin"
    assert got["a"]["state"] == "TX"
    assert got["b"]["city"] == ""
    assert got["b"]["state"] == ""


def test_sort_order_scores_desc_dates_desc_nulls_last(spark):
    rows = [
        raw_row(noticeId="low", postedDate="2001-07-10"),
        raw_row(noticeId="hi", postedDate="2001-07-24"),
        raw_row(noticeId="mid", postedDate="2001-07-22"),
        raw_row(noticeId="nat", postedDate="not-a-date"),
    ]
    out = [r["noticeId"] for r in run(spark, rows).collect()]
    assert out == ["hi", "mid", "low", "nat"]


def test_build_contracts_end_to_end(spark, sf_dir):
    df = build_contracts(spark, sf_dir)
    assert df.count() > 0
    # only veteran set-asides survive (P1)
    assert (
        df.filter(~F.col("setAside").contains("Veteran-Owned")).count() == 0
    )
    # contracts view registered for the flagship SQL
    assert spark.sql("SELECT count(*) c FROM contracts").collect()[0]["c"] == df.count()


def test_entry_smoke(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "title",
        "solicitationNumber",
        "postedDate",
        "setAside",
        "recencyScore",
    ]
    assert all(r["recencyScore"] >= 4 for r in rows)


def test_run_pipeline_end_to_end_with_snapshot(spark, sf_dir, tmp_path):
    """C1 composition: the snapshot lands on disk, the view serves the
    flagship query from the PERSISTED parquet, and the ranked result is
    bounded and well-formed."""
    from etl_pipeline_sam_gov_spark.pipeline.contracts import run_pipeline

    out = str(tmp_path / "veteran_contracts.parquet")
    ranked = run_pipeline(spark, sf_dir, snapshot_path=out)
    rows = ranked.collect()
    assert 0 < len(rows) <= 10
    assert ranked.columns == [
        "title", "solicitationNumber", "postedDate", "setAside", "recencyScore",
    ]
    assert all(r["recencyScore"] >= 4 for r in rows)
    # snapshot really persisted and readable
    snap = spark.read.parquet(out)
    assert snap.count() > 0
    # overwrite semantics: second run replaces, not appends
    n1 = snap.count()
    run_pipeline(spark, sf_dir, snapshot_path=out)
    assert spark.read.parquet(out).count() == n1


def test_run_pipeline_view_matches_inferred_snapshot_read(spark, sf_dir, tmp_path):
    """run_pipeline registers the view with the schema it just wrote
    instead of inferring it from the parquet footers: the view's schema
    and the flagship rows are those of a plain parquet read."""
    from etl_pipeline_sam_gov_spark.pipeline.contracts import FLAGSHIP_SQL, run_pipeline

    out = str(tmp_path / "snap")
    rows = run_pipeline(spark, sf_dir, snapshot_path=out).collect()
    assert rows
    assert spark.table("contracts").schema == spark.read.parquet(out).schema
    spark.read.parquet(out).createOrReplaceTempView("contracts")
    assert spark.sql(FLAGSHIP_SQL).collect() == rows


def test_run_pipeline_observe_metrics_match_recompute(spark, sf_dir, tmp_path):
    """Observation metrics (the reference's per-stage count logging,
    lambda_function.py:211, done the zero-extra-pass Spark way) must
    equal an independent recount of the contracts relation."""
    from pyspark.sql import functions as F

    from etl_pipeline_sam_gov_spark.pipeline.contracts import (
        build_contracts,
        run_pipeline,
    )

    metrics: dict = {}
    run_pipeline(
        spark, sf_dir, snapshot_path=str(tmp_path / "snap"), metrics_out=metrics
    )
    contracts = build_contracts(spark, sf_dir)
    expect = contracts.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("isRecent").cast("bigint")).alias("n_recent"),
        F.sum(F.col("hasNAICS").cast("bigint")).alias("n_with_naics"),
    ).collect()[0]
    assert metrics["n_rows"] == expect["n_rows"] > 0
    assert metrics["n_recent"] == expect["n_recent"]
    assert metrics["n_with_naics"] == expect["n_with_naics"]
    # no-snapshot path drives metrics through a noop write
    m2: dict = {}
    run_pipeline(spark, sf_dir, metrics_out=m2)
    assert m2 == metrics
