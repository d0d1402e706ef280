"""Python DataSource source tests (sources.paginated): executor-side
pagination as a real spark.read relation."""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.sources.paginated import (
    PAGE_SIZE,
    _fetch_page,
    register,
)


def test_paginated_datasource_reads_all_pages(spark):
    register(spark)
    df = (
        spark.read.format("paginated_opportunities")
        .option("n_pages", "7")
        .option("pages_per_task", "3")
        .load()
    )
    assert df.count() == 7 * PAGE_SIZE
    # schema is declared, not inferred
    assert df.columns == [
        "noticeId", "title", "typeOfSetAsideDescription", "postedDate",
    ]
    # rows match the deterministic fetcher exactly
    first = df.orderBy("noticeId").first()
    assert tuple(first) == _fetch_page(0)[0]


def test_paginated_default_plans_about_one_task_per_core(spark):
    """Without ``pages_per_task`` a 200-page read plans at most one task
    per core, and yields the same rows as the old default of 2."""
    register(spark)
    default = spark.read.format("paginated_opportunities").option("n_pages", "200").load()
    assert default.rdd.getNumPartitions() <= (os.cpu_count() or 1)
    two = (
        spark.read.format("paginated_opportunities")
        .option("n_pages", "200")
        .option("pages_per_task", "2")
        .load()
    )
    assert two.rdd.getNumPartitions() == 100
    assert Counter(map(tuple, default.collect())) == Counter(map(tuple, two.collect()))


def test_paginated_datasource_composes_with_relational_ops(spark):
    register(spark)
    df = (
        spark.read.format("paginated_opportunities")
        .option("n_pages", "4")
        .load()
    )
    veteran = df.filter(
        F.col("typeOfSetAsideDescription").contains("Veteran-Owned")
    )
    # every 3rd row carries the veteran set-aside (fetcher contract)
    assert veteran.count() == 4 * PAGE_SIZE // 3 + (1 if (4 * PAGE_SIZE) % 3 else 0)
    # limit composes (reference's MAX_RECORDS cap, lambda_function.py:49)
    assert df.limit(150).count() == 150


def test_paginated_stream_source_incremental_batches(spark, tmp_path):
    """readStream over the Python data source: offsets advance page by
    page; the complete replay equals the batch read of the same pages."""
    register(spark)
    stream = (
        spark.readStream.format("paginated_opportunities")
        .option("max_pages", "6")
        .option("pages_per_batch", "2")
        .load()
    )
    # default micro-batch trigger: availableNow performs a single
    # prefetch for simple stream readers; processAllAvailable drains
    # batches until the offset stops advancing
    q = (
        stream.writeStream.format("memory")
        .queryName("paged_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = spark.table("paged_stream")
    assert got.count() == 6 * PAGE_SIZE
    batch = (
        spark.read.format("paginated_opportunities").option("n_pages", "6").load()
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_report_sink_writer_two_phase_commit(spark, sf_dir, tmp_path):
    import json
    import os

    from etl_pipeline_sam_gov_spark.sources.report_sink import register
    from etl_pipeline_sam_gov_spark.tables import load_tables

    register(spark)
    out = str(tmp_path / "report")
    nat = load_tables(spark, sf_dir, ("nation",))["nation"]
    nat.write.format("report_sink").option("path", out).mode("append").save()

    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["n_rows"] == nat.count()
    # no uncommitted temp files survive
    assert not [f for f in os.listdir(out) if f.startswith("_tmp-")]
    # round-trip: committed JSONL reads back to the same key set
    back = spark.read.json(os.path.join(out, "part-*.jsonl"))
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in nat.collect()
    )

    # overwrite mode replaces prior committed output, not appends
    nat.limit(3).write.format("report_sink").option("path", out).mode(
        "overwrite"
    ).save()
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["n_rows"] == 3


def test_report_sink_append_accumulates_and_overwrite_sweeps_orphans(
    spark, sf_dir, tmp_path
):
    """Advised hardening: append commits must never clobber earlier
    commits' part files (commit-unique names) and _SUCCESS must count
    ALL committed rows; overwrite must also sweep _tmp-* orphans left
    by a driver that died before abort()."""
    import json
    import os

    from etl_pipeline_sam_gov_spark.sources.report_sink import register
    from etl_pipeline_sam_gov_spark.tables import load_tables

    register(spark)
    out = str(tmp_path / "report")
    nat = load_tables(spark, sf_dir, ("nation",))["nation"]

    nat.write.format("report_sink").option("path", out).mode("append").save()
    nat.limit(5).write.format("report_sink").option("path", out).mode("append").save()

    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["n_rows"] == nat.count() + 5
    back = spark.read.json(os.path.join(out, "part-*.jsonl"))
    assert back.count() == nat.count() + 5  # both commits' files survive

    # orphaned temp from a crashed writer; overwrite sweeps it
    orphan = os.path.join(out, "_tmp-deadbeef.jsonl")
    open(orphan, "w").write("{}\n")
    nat.limit(3).write.format("report_sink").option("path", out).mode(
        "overwrite"
    ).save()
    names = os.listdir(out)
    assert not [f for f in names if f.startswith("_tmp-")]
    assert json.load(open(os.path.join(out, "_SUCCESS")))["n_rows"] == 3
    assert spark.read.json(os.path.join(out, "part-*.jsonl")).count() == 3
