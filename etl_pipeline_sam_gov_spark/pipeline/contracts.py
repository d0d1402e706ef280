"""Reference-parity contracts pipeline (SURVEY.md §2.1-2.11, §7 Phase 0/1).

Re-expresses the whole dataflow of the reference
(``/root/reference/lambda_function.py:57-117,173-179`` — filter →
flatten/project → clean → derive → enrich → score → sort → SQL top-k) as
ONE lazy Catalyst chain of built-in expressions. No Python UDFs anywhere:
the reference's two row-wise ``.apply`` escapes (``:90`` truthiness,
``:102-114`` banded score) lower to ``length(trim(..)) > 0`` and a
``when`` chain (SURVEY.md §2.10), so the whole pipeline stays inside
whole-stage codegen.

Determinism: the reference derives ``daysSincePosted`` from wall clock
(``lambda_function.py:88``); here "now" is an injected literal
(SURVEY.md §5.3), defaulting to :data:`NOW` which sits inside the orders
fixture's date range so every score band — including the
future-posted-date → negative days → score 5 path (``:102-104``) — is
exercised.

Null-semantics parity notes (SURVEY.md §1.4):

- ``dropna`` runs on the RAW ``postedDate`` string before the cast, so an
  unparseable-but-present date survives and lands with NULL timestamp,
  NULL ``daysSincePosted``, ``isRecent`` false (pandas ``NaN <= 7`` is
  False → ``coalesce(.., false)``), and ``recencyScore`` 1 (``when`` on
  NULL matches no branch → ``otherwise(1)``, same as pandas NaN falling
  through every ``elif``).
- The reference crashes on an explicit JSON null in a defaulted string
  field (``None.strip()``, ``lambda_function.py:70-78``); this engine
  instead coalesces to ``''`` — strictly more robust, documented
  divergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.tables import load_tables

#: Injected "now" (replaces the wall-clock read at lambda_function.py:88).
#: One week before the orders fixture's max date, so posted dates later
#: than NOW exercise the negative-days → score-5 branch.
NOW = "2001-07-25"

#: NAICS enrichment dimension (lambda_function.py:94-98) — a 3-row
#: broadcast dimension; as a literal map it lowers to a `when` chain.
NAICS_MAP = {
    "541511": "Custom Computer Programming",
    "541512": "Systems Design Services",
    "561730": "Landscaping Services",
}

#: The flagship SQL, verbatim from lambda_function.py:173-179 (ATHENA_SQL).
FLAGSHIP_SQL = """
SELECT title, solicitationNumber, postedDate, setAside, recencyScore
FROM contracts
WHERE recencyScore >= 4
ORDER BY postedDate DESC
LIMIT 10
"""

#: Substring keywords of the set-aside filter (lambda_function.py:58).
#: The 2nd is redundant (contains the 1st) — kept verbatim for parity.
VETERAN_KEYWORDS = ["Veteran-Owned", "Service-Disabled Veteran-Owned"]


def synthesize_raw_opportunities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically derive a ``raw_opportunities`` table from ``orders``.

    Shape per FIXTURES.md §A1 (the SAM.gov record the reference reads at
    ``lambda_function.py:46,69-78``), including the nested
    ``officeAddress`` struct. Every edge class in FIXTURES.md §A1 is
    produced by arithmetic on the order keys: null noticeId (%97),
    unparseable postedDate (%101), all four set-aside classes (%4, incl.
    NULL), unknown/empty naicsCode (%5), missing officeAddress (%11),
    lowercase states, padded titles.
    """
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    key, cust = F.col("o_orderkey"), F.col("o_custkey")
    return orders.select(
        F.when(key % 97 == 0, F.lit(None).cast("string"))
        .otherwise(key.cast("string"))
        .alias("noticeId"),
        F.concat(
            F.lit("  "),
            F.col("o_orderpriority"),
            F.lit(" software services #"),
            key.cast("string"),
            F.lit(" "),
        ).alias("title"),
        F.concat(F.lit("SOL-"), F.lpad(key.cast("string"), 8, "0")).alias(
            "solicitationNumber"
        ),
        F.concat(F.lit("DEPT OF TESTING > AGENCY-"), (cust % 10).cast("string")).alias(
            "fullParentPathName"
        ),
        F.when(key % 101 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("postedDate"),
        F.when(cust % 4 == 0, F.lit("Veteran-Owned Small Business Set-Aside"))
        .when(
            cust % 4 == 1,
            F.lit("Service-Disabled Veteran-Owned Small Business (SDVOSB) Set-Aside"),
        )
        .when(cust % 4 == 2, F.lit("8(a) Set-Aside"))
        .otherwise(F.lit(None).cast("string"))
        .alias("typeOfSetAsideDescription"),
        F.when(key % 5 == 0, F.lit("541511"))
        .when(key % 5 == 1, F.lit("541512"))
        .when(key % 5 == 2, F.lit("561730"))
        .when(key % 5 == 3, F.lit("999999"))
        .otherwise(F.lit(""))
        .alias("naicsCode"),
        F.when(cust % 11 == 0, F.lit(None))
        .otherwise(
            F.struct(
                F.concat(F.lit("City "), (cust % 7).cast("string")).alias("city"),
                F.when(cust % 3 == 0, F.lit("tx"))
                .when(cust % 3 == 1, F.lit("ca"))
                .otherwise(F.lit("ny"))
                .alias("state"),
            )
        )
        .alias("officeAddress"),
        F.concat(F.lit("https://sam.gov/opp/"), key.cast("string")).alias("uiLink"),
    )


def filter_veteran_set_asides(df: DataFrame) -> DataFrame:
    """Substring-containment predicate (P1, lambda_function.py:57-63)."""
    set_aside = F.col("typeOfSetAsideDescription")
    keyword_pred = None
    for kw in VETERAN_KEYWORDS:
        p = set_aside.contains(kw)
        keyword_pred = p if keyword_pred is None else (keyword_pred | p)
    return df.filter(set_aside.isNotNull() & keyword_pred)


def transform_contracts(raw: DataFrame, now: str = NOW) -> DataFrame:
    """The transform kernel (lambda_function.py:66-117) as one lazy chain.

    Input: raw_opportunities shape (FIXTURES.md §A1). Output: the
    ``contracts`` table shape (FIXTURES.md §A2), sorted recencyScore
    desc, postedDate desc, nulls last (pandas ``na_position='last'``
    ≡ Spark ``desc_nulls_last``).
    """

    def clean(c: str):  # default-to-"" + strip (lambda_function.py:70-78)
        return F.trim(F.coalesce(F.col(c), F.lit("")))

    projected = raw.select(
        F.col("noticeId"),
        clean("title").alias("title"),
        clean("solicitationNumber").alias("solicitationNumber"),
        clean("fullParentPathName").alias("agency"),
        F.col("postedDate").alias("postedDateRaw"),
        clean("typeOfSetAsideDescription").alias("setAside"),
        clean("naicsCode").alias("naicsCode"),
        F.trim(F.coalesce(F.col("officeAddress.city"), F.lit(""))).alias("city"),
        F.trim(F.coalesce(F.col("officeAddress.state"), F.lit(""))).alias("state"),
        clean("uiLink").alias("link"),
    )
    # dropna BEFORE the date cast (lambda_function.py:86-87): an
    # unparseable-but-present postedDate survives to the output.
    cleaned = projected.na.drop(subset=["noticeId", "title", "postedDateRaw"])
    posted_ts = F.try_to_timestamp(F.col("postedDateRaw"))
    # bigint: DuckDB date_diff returns BIGINT, Spark datediff INT; the
    # driver's value-hash is typed.
    days = F.datediff(F.to_date(F.lit(now)), F.to_date(posted_ts)).cast("bigint")
    enriched = (
        cleaned.withColumn("postedDate", posted_ts)
        .withColumn("daysSincePosted", days)
        # pandas: NaN <= 7 is False (lambda_function.py:89) → coalesce false
        .withColumn("isRecent", F.coalesce(F.col("daysSincePosted") <= 7, F.lit(False)))
        # truthiness UDF at :90 → pure expression (SURVEY.md F7)
        .withColumn("hasNAICS", F.length(F.col("naicsCode")) > 0)
        .withColumn("state", F.upper(F.col("state")))
        # 3-row dict-map join at :94-99 → literal when-chain (SURVEY.md J1);
        # a real dimension table would be broadcast-joined instead.
        .withColumn(
            "naicsDescription",
            _when_chain_map("naicsCode", NAICS_MAP, default="Other"),
        )
        # banded scoring UDF at :102-114 → when chain; NULL days matches no
        # branch → otherwise(1), same as pandas NaN; negative days → 5.
        .withColumn(
            "recencyScore",
            F.when(F.col("daysSincePosted") <= 1, 5)
            .when(F.col("daysSincePosted") <= 3, 4)
            .when(F.col("daysSincePosted") <= 5, 3)
            .when(F.col("daysSincePosted") <= 7, 2)
            .otherwise(1),
        )
        .drop("postedDateRaw")
    )
    ordered_cols = [
        "noticeId",
        "title",
        "solicitationNumber",
        "agency",
        "postedDate",
        "setAside",
        "naicsCode",
        "city",
        "state",
        "link",
        "daysSincePosted",
        "isRecent",
        "hasNAICS",
        "naicsDescription",
        "recencyScore",
    ]
    return enriched.select(*ordered_cols).orderBy(
        F.desc_nulls_last("recencyScore"), F.desc_nulls_last("postedDate")
    )


def _when_chain_map(col: str, mapping: dict[str, str], default: str):
    expr = None
    for k, v in mapping.items():
        cond = F.col(col) == k
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr.otherwise(default)


def build_contracts(spark: SparkSession, sf_dir: str, now: str = NOW) -> DataFrame:
    """ingest → filter → transform; registers the ``contracts`` view
    (replacing the reference's S3-upload + Glue-crawler + Athena catalog
    hop, lambda_function.py:126-138 — parquet is self-describing in
    Spark, so the crawler race at :224/:227 disappears by construction).
    """
    raw = synthesize_raw_opportunities(spark, sf_dir)
    contracts = transform_contracts(filter_veteran_set_asides(raw), now=now)
    contracts.createOrReplaceTempView("contracts")
    return contracts


def snapshot_sink(df: DataFrame, path: str) -> None:
    """S4/S5: snapshot-overwrite parquet sink (fixed-key overwrite
    semantics of lambda_function.py:120-128). At scale this is the one
    place to add ``.partitionBy("postedDate")`` for partition pruning —
    the reference's single-file overwrite does not scale past one node.
    """
    df.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Driver-contract queries + DuckDB oracles
# ---------------------------------------------------------------------------

# Shared SQL fragments so the oracle provably derives the same synthetic
# raw table. DuckDB dialect: date_diff('day', start, end) == Spark
# datediff(end, start).
_ORACLE_RAW_CTE = """
raw AS (
  SELECT
    CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE CAST(o_orderkey AS VARCHAR) END AS noticeId,
    '  ' || o_orderpriority || ' software services #' || CAST(o_orderkey AS VARCHAR) || ' ' AS title,
    'SOL-' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0') AS solicitationNumber,
    'DEPT OF TESTING > AGENCY-' || CAST(o_custkey % 10 AS VARCHAR) AS fullParentPathName,
    CASE WHEN o_orderkey % 101 = 0 THEN 'not-a-date'
         ELSE strftime(o_orderdate, '%Y-%m-%d') END AS postedDate,
    CASE WHEN o_custkey % 4 = 0 THEN 'Veteran-Owned Small Business Set-Aside'
         WHEN o_custkey % 4 = 1 THEN 'Service-Disabled Veteran-Owned Small Business (SDVOSB) Set-Aside'
         WHEN o_custkey % 4 = 2 THEN '8(a) Set-Aside'
         ELSE NULL END AS typeOfSetAsideDescription,
    CASE WHEN o_orderkey % 5 = 0 THEN '541511'
         WHEN o_orderkey % 5 = 1 THEN '541512'
         WHEN o_orderkey % 5 = 2 THEN '561730'
         WHEN o_orderkey % 5 = 3 THEN '999999'
         ELSE '' END AS naicsCode,
    CASE WHEN o_custkey % 11 = 0 THEN NULL ELSE 'City ' || CAST(o_custkey % 7 AS VARCHAR) END AS city,
    CASE WHEN o_custkey % 11 = 0 THEN NULL
         WHEN o_custkey % 3 = 0 THEN 'tx'
         WHEN o_custkey % 3 = 1 THEN 'ca'
         ELSE 'ny' END AS state,
    'https://sam.gov/opp/' || CAST(o_orderkey AS VARCHAR) AS uiLink
  FROM orders
)
"""

_ORACLE_CONTRACTS_CTE = (
    _ORACLE_RAW_CTE
    + """,
filtered AS (
  SELECT * FROM raw
  WHERE typeOfSetAsideDescription IS NOT NULL
    AND (typeOfSetAsideDescription LIKE '%Veteran-Owned%'
         OR typeOfSetAsideDescription LIKE '%Service-Disabled Veteran-Owned%')
),
projected AS (
  SELECT
    noticeId,
    trim(coalesce(title, '')) AS title,
    trim(coalesce(solicitationNumber, '')) AS solicitationNumber,
    trim(coalesce(fullParentPathName, '')) AS agency,
    postedDate AS postedDateRaw,
    trim(coalesce(typeOfSetAsideDescription, '')) AS setAside,
    trim(coalesce(naicsCode, '')) AS naicsCode,
    trim(coalesce(city, '')) AS city,
    trim(coalesce(state, '')) AS state,
    trim(coalesce(uiLink, '')) AS link
  FROM filtered
  WHERE noticeId IS NOT NULL AND postedDateRaw IS NOT NULL
),
contracts AS (
  SELECT
    noticeId, title, solicitationNumber, agency,
    strftime(TRY_CAST(postedDateRaw AS TIMESTAMP), '%Y-%m-%d') AS postedDate,
    setAside, naicsCode, city,
    upper(state) AS state, link,
    date_diff('day', TRY_CAST(postedDateRaw AS DATE), DATE '{now}') AS daysSincePosted,
    coalesce(date_diff('day', TRY_CAST(postedDateRaw AS DATE), DATE '{now}') <= 7, false) AS isRecent,
    length(naicsCode) > 0 AS hasNAICS,
    CASE naicsCode WHEN '541511' THEN 'Custom Computer Programming'
                   WHEN '541512' THEN 'Systems Design Services'
                   WHEN '561730' THEN 'Landscaping Services'
                   ELSE 'Other' END AS naicsDescription,
    CASE WHEN date_diff('day', TRY_CAST(postedDateRaw AS DATE), DATE '{now}') <= 1 THEN 5
         WHEN date_diff('day', TRY_CAST(postedDateRaw AS DATE), DATE '{now}') <= 3 THEN 4
         WHEN date_diff('day', TRY_CAST(postedDateRaw AS DATE), DATE '{now}') <= 5 THEN 3
         WHEN date_diff('day', TRY_CAST(postedDateRaw AS DATE), DATE '{now}') <= 7 THEN 2
         ELSE 1 END AS recencyScore
  FROM projected
)
""".format(now=NOW)
)


def _contracts_as_strings(df: DataFrame) -> DataFrame:
    """Timestamp → formatted string for timezone-proof hash comparison."""
    return df.withColumn("postedDate", F.date_format("postedDate", "yyyy-MM-dd"))


@query(
    "contracts_transform",
    oracle="WITH " + _ORACLE_CONTRACTS_CTE + "SELECT * FROM contracts",
)
def contracts_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference pipeline output (P1-P3, F1-F9, J1, O1)."""
    return _contracts_as_strings(build_contracts(spark, sf_dir))


@query(
    "contracts_flagship",
    oracle=(
        "WITH "
        + _ORACLE_CONTRACTS_CTE
        + """
SELECT title, solicitationNumber, postedDate, setAside, recencyScore
FROM contracts
WHERE recencyScore >= 4
ORDER BY postedDate DESC, noticeId
LIMIT 10"""
    ),
)
def contracts_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3, the flagship Athena SQL (lambda_function.py:173-179) — with a
    ``noticeId`` tiebreaker appended so the LIMIT under equal postedDate
    is deterministic for the hash compare (SURVEY.md §5.3). ``entry``
    runs the verbatim, tiebreaker-free text.

    Plan note: ORDER BY + LIMIT lowers to ``TakeOrderedAndProject`` —
    a true distributed top-k (per-partition heaps + driver merge), no
    full sort, which is exactly what we want at 100 TB.
    """
    build_contracts(spark, sf_dir)
    return spark.sql(
        """
        SELECT title, solicitationNumber,
               date_format(postedDate, 'yyyy-MM-dd') AS postedDate,
               setAside, recencyScore
        FROM contracts
        WHERE recencyScore >= 4
        ORDER BY postedDate DESC, noticeId
        LIMIT 10
        """
    )


def flagship_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C3 SQL exactly as written in the reference, for the smoke entry."""
    build_contracts(spark, sf_dir)
    return spark.sql(FLAGSHIP_SQL)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    snapshot_path: str | None = None,
    now: str = NOW,
    report_rows: int = 0,
    metrics_out: dict | None = None,
) -> DataFrame:
    """C1 — the reference's ``lambda_handler`` (lambda_function.py:
    205-230) as one composition: ingest → veteran filter → transform →
    (optional) console report → snapshot sink → catalog registration →
    flagship ranked query. Returns the ranked top-10 DataFrame.

    Differences by construction (SURVEY.md §3.1): the five network hops
    collapse into one lazy plan; the Glue-crawler race disappears (the
    view registers synchronously); the Athena submit-and-poll (C2)
    becomes an in-engine ``spark.sql``.

    ``metrics_out``: pass a dict to receive pipeline run metrics
    (row/recent/NAICS counts) via ``Dataset.observe`` — the
    Spark-idiomatic replacement for the reference's eager per-stage
    count logging (lambda_function.py:211): metrics accumulate DURING
    the snapshot write, zero extra passes over the data. (When no
    snapshot is requested, a noop write drives them.)"""
    contracts = build_contracts(spark, sf_dir, now=now)
    obs = None
    if metrics_out is not None:
        from pyspark.sql import Observation

        obs = Observation("contracts_metrics")
        contracts = contracts.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("isRecent").cast("bigint")).alias("n_recent"),
            F.sum(F.col("hasNAICS").cast("bigint")).alias("n_with_naics"),
        )
    if snapshot_path is not None:
        snapshot_sink(contracts, snapshot_path)
        # re-register the view over the PERSISTED snapshot, mirroring the
        # reference's read-it-back-from-S3 topology (:126-138,:173-179),
        # with the schema just written: inferring it launches a Spark
        # job to read the footers on every call
        spark.read.schema(contracts.schema).parquet(
            snapshot_path
        ).createOrReplaceTempView("contracts")
    elif obs is not None:
        contracts.write.format("noop").mode("overwrite").save()
    if obs is not None:
        metrics_out.update(obs.get)
    if report_rows:
        # S8, bounded — AFTER the metric-driving action: a limited show
        # would otherwise be the observation's first action and report
        # partial-scan counts.
        contracts.show(report_rows, truncate=False)
    return spark.sql(FLAGSHIP_SQL)
