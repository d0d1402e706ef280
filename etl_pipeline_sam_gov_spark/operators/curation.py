"""Corpus-curation operators for training-data pipelines (SURVEY.md
§2.12 extensions): deterministic train/holdout splitting, token-budget
shard packing, and per-source mixture sampling. The reference has no
notion of any of these; they are what a 100 TB LLM-data pipeline runs
between dedup and the trainer.

Determinism contract: every "random" decision is an md5-derived hash of
the row's key (never ``rand()``), so assignments are reproducible
across engines, runs, cluster sizes, and retries — a hard requirement
for auditable data lineage (and for the DuckDB oracles here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.functions.prefix import range_sliced, running_sums
from etl_pipeline_sam_gov_spark.operators.dedup import (
    _spark_hash60,
    _sql_hash60,
    spread_docs,
    tokens_col,
)
from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.slots import slot_persist
from etl_pipeline_sam_gov_spark.tables import load_tables

#: train/val/test bucket edges out of 100.
SPLIT_TRAIN, SPLIT_VAL = 90, 95

#: shard capacity in whitespace tokens.
SHARD_TOKENS = 1000

def packed_prev_tokens(
    toks: DataFrame, group_cols: list[str], n_parts: int | None = None
) -> DataFrame:
    """Distributed per-group running token total (exclusive of the
    current row): ``functions.prefix.running_sums`` over (group…,
    doc_id) slices. doc_id is a total order within each group, so the
    DuckDB oracle's single window gives the same numbers.

    The sliced relation is persisted in the session's ("pack",
    group-cols) slot, released on the next same-shape call: a narrow
    (doc_id, group, n_tokens) projection, so the cache is a fraction of
    corpus size (at real scale: checkpoint to cluster storage instead).
    """
    stamped = slot_persist(
        toks.sparkSession,
        ("pack", tuple(group_cols)),
        range_sliced(toks, *group_cols, "doc_id", n_parts=n_parts),
    )
    return running_sums(
        stamped, group_cols, ["doc_id"], {"prev_tokens": F.col("n_tokens")}
    ).withColumn("prev_tokens", F.col("prev_tokens") - F.col("n_tokens"))


@query(
    "curate_split_train_holdout",
    oracle=f"""
SELECT doc_id, lang,
       CASE WHEN {_sql_hash60("CAST(doc_id AS VARCHAR)")} % 100 < {SPLIT_TRAIN}
              THEN 'train'
            WHEN {_sql_hash60("CAST(doc_id AS VARCHAR)")} % 100 < {SPLIT_VAL}
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def curate_split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by content-key
    hash. Hash-bucket splitting (never ``rand()``) means a re-run, a
    retried task, or a different cluster produces the identical split —
    and a doc's assignment never changes as the corpus grows, so
    holdout contamination can't creep in across snapshots. Pure
    projection: no shuffle at any scale."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = _spark_hash60(F.col("doc_id").cast("string")) % 100
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "curate_pack_token_shards",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
SELECT doc_id, lang, n_tokens,
       -- CAST: the window SUM makes cum_tokens HUGEINT in DuckDB; pin the
       -- derived shard id back to BIGINT so the typed value-hash matches
       -- Spark (values are identical either way).
       CAST((cum_tokens - n_tokens) // {SHARD_TOKENS} AS BIGINT) AS shard_id
FROM cum
""",
)
def curate_pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: each doc goes to the shard where its
    first token lands in the per-language running total — the
    "write ~N-token training shards" step before tokenized output.

    Scale notes: the running sum is the two-phase prefix sum of
    ``packed_prev_tokens`` — per-range-partition subtotals + broadcast
    offsets — so a language bigger than one task never serializes the
    stage, and no global ordering is ever materialized."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # bigint, not int: F.size() returns INT but the oracle's len() is
    # BIGINT, and the driver's value-hash is typed.
    toks = docs.select(
        "doc_id", "lang", F.size(tokens_col()).cast("bigint").alias("n_tokens")
    )
    # Exact integer division (`div`), never a double round-trip: corpus
    # token totals can pass 2^53 where doubles drop ULPs.
    return packed_prev_tokens(toks, ["lang"]).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(f"prev_tokens div {SHARD_TOKENS}").cast("bigint").alias("shard_id"),
    )


@query(
    "curate_sample_source_mixture",
    oracle=f"""
WITH rated AS (
  SELECT doc_id, source,
         CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 10000
              WHEN CAST(substr(source, 4) AS INT) < 10 THEN 5000
              WHEN CAST(substr(source, 4) AS INT) < 15 THEN 2500
              ELSE 1000 END AS keep_bp
  FROM documents
)
SELECT doc_id, source
FROM rated
WHERE {_sql_hash60("CAST(doc_id AS VARCHAR) || ':' || source")} % 10000
      < keep_bp
""",
)
def curate_sample_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling: each source keeps a configured
    fraction (100% / 50% / 25% / 10% by source tier) via the same
    hash-threshold trick as the split — deterministic, shuffle-free,
    and exactly re-runnable. This is the "data mixture" knob of a
    training pipeline, expressed as a filter the parquet scan can
    evaluate without any aggregation state."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tier = F.substring("source", 4, 10).cast("int")
    keep_bp = (
        F.when(tier < 5, 10_000)
        .when(tier < 10, 5_000)
        .when(tier < 15, 2_500)
        .otherwise(1_000)
    )
    h = _spark_hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source")))
    return docs.filter((h % 10_000) < keep_bp).select("doc_id", "source")


MIN_TOKENS = 15  # quality gate: drop docs below the 'medium' band floor


@query(
    "pipeline_training_corpus",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, lang, source,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
q AS (SELECT * FROM toks WHERE n_tokens >= {MIN_TOKENS}),
rated AS (
  SELECT *, CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 10000
                 WHEN CAST(substr(source, 4) AS INT) < 10 THEN 5000
                 WHEN CAST(substr(source, 4) AS INT) < 15 THEN 2500
                 ELSE 1000 END AS keep_bp
  FROM q
),
kept AS (
  SELECT doc_id, lang, n_tokens FROM rated
  WHERE {_sql_hash60("CAST(doc_id AS VARCHAR) || ':' || source")} % 10000
        < keep_bp
),
sp AS (
  SELECT *, CASE WHEN {_sql_hash60("CAST(doc_id AS VARCHAR)")} % 100
                      < {SPLIT_TRAIN} THEN 'train'
                 WHEN {_sql_hash60("CAST(doc_id AS VARCHAR)")} % 100
                      < {SPLIT_VAL} THEN 'val'
                 ELSE 'test' END AS split
  FROM kept
),
cum AS (
  SELECT doc_id, lang, split, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM sp
)
SELECT doc_id, lang, split, n_tokens,
       -- CAST: window-SUM cum is HUGEINT in DuckDB; pin to BIGINT for the
       -- driver's typed value-hash (see curate_pack_token_shards).
       CAST((c - n_tokens) // {SHARD_TOKENS} AS BIGINT) AS shard_id
FROM cum
""",
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation DAG as ONE declarative plan: quality gate →
    per-source mixture sample → train/val/test split → token-budget
    shard packing, emitting (doc, split, shard) ready for a tokenizer
    fan-out.

    Plan shape at 100 TB: stages 1-3 are scan-side projections and
    filters (zero shuffles — the quality gate and both hash thresholds
    prune rows before anything wide); the only wide stages are the shard
    packing's two-phase prefix sum at the very end (range exchange +
    bounded-size windows, ``packed_prev_tokens``), over the
    already-sampled survivors. Ordering curation this way — filters
    first, the shuffles last and smallest — is the whole game for
    corpus-prep cost."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sp = curated_split_docs(docs)
    return packed_prev_tokens(sp, ["lang", "split"]).select(
        "doc_id",
        "lang",
        "split",
        "n_tokens",
        F.expr(f"prev_tokens div {SHARD_TOKENS}").cast("bigint").alias("shard_id"),
    )


def curated_split_docs(docs: DataFrame) -> DataFrame:
    """The stateless curation prefix — quality gate → mixture sample →
    split assignment — as pure narrow expressions, so the SAME code
    runs over a batch DataFrame or a readStream (streaming.jobs.
    stream_curation_corpus_counts). Emits (doc_id, lang, n_tokens,
    split)."""
    toks = docs.select(
        "doc_id", "lang", "source",
        F.size(tokens_col()).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= MIN_TOKENS)
    tier = F.substring("source", 4, 10).cast("int")
    keep_bp = (
        F.when(tier < 5, 10_000)
        .when(tier < 10, 5_000)
        .when(tier < 15, 2_500)
        .otherwise(1_000)
    )
    mix_h = _spark_hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    )
    kept = toks.filter((mix_h % 10_000) < keep_bp)
    bucket = _spark_hash60(F.col("doc_id").cast("string")) % 100
    return kept.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


#: Stratified per-mille keep rates: downsample the over-represented
#: majority language, keep the tails at a higher rate (the
#: language-rebalancing step of corpus mixing; cf. the temperature
#: sampling in multilingual corpus recipes).
STRAT_RATES = {"en": 250, "es": 800, "fr": 800, "de": 800, "zh": 800}


@query(
    "curate_stratified_sample",
    oracle=f"""
SELECT doc_id, lang, source,
       CAST({_sql_hash60("'strat|' || doc_id")} % 1000 AS INT) AS bucket
FROM documents
WHERE {_sql_hash60("'strat|' || doc_id")} % 1000 <
      CASE lang WHEN 'en' THEN {STRAT_RATES['en']} ELSE 800 END
""",
)
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: each language stratum keeps a
    different fraction, decided by an md5-derived per-row bucket — the
    distribution-rebalancing step between dedup and training. Unlike
    ``df.sampleBy`` (seeded Bernoulli whose outcome depends on
    partition layout), the hash-bucket rule is a pure per-row predicate:
    reproducible across engines, runs, cluster sizes, and retries, and
    it pushes down into the scan as a filter — sampling 100 TB costs
    one narrow pass and shuffles nothing."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = (
        _spark_hash60(F.concat(F.lit("strat|"), F.col("doc_id").cast("string")))
        % 1000
    )
    rate = F.when(F.col("lang") == "en", STRAT_RATES["en"]).otherwise(800)
    return (
        docs.select(
            "doc_id", "lang", "source", bucket.cast("int").alias("bucket")
        )
        .filter(F.col("bucket") < rate)
    )


# ---------------------------------------------------------------------------
# Temperature-based language rebalancing (α = 1/2 exponential smoothing)
# ---------------------------------------------------------------------------

#: Keep probability per language: TEMP_C / sqrt(n_lang) — the α = 0.5
#: exponential-smoothing rebalance multilingual corpora apply so
#: high-resource languages stop drowning out the tail (the mBERT/XLM-R
#: sampling rule with temperature 1/α = 2). TEMP_C = 5 keeps ≈ 34% of
#: the 218-doc `en` stratum but ≈ 63% of the 64-doc `fr` stratum at
#: sf0.01 — the kept distribution is proportional to sqrt(n), exactly
#: the smoothed target.
TEMP_C = 5
_TEMP_HBITS = 20  # per-row hash resolution (2^20 buckets)


def _temperature_keep() -> Column:
    """The keep test of temperature resampling on a relation with
    ``doc_id`` and ``n_lang``: h²·n_lang < TEMP_C²·2^(2B) for the row's
    B-bit hash h, in bigint arithmetic."""
    h = (
        _spark_hash60(F.concat(F.lit("temp|"), F.col("doc_id").cast("string")))
        % (1 << _TEMP_HBITS)
    )
    return h * h * F.col("n_lang") < F.lit(
        TEMP_C * TEMP_C * (1 << (2 * _TEMP_HBITS))
    ).cast("bigint")


@query(
    "curate_temperature_resample",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, lang,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang,
         {_sql_hash60("'temp|' || CAST(doc_id AS VARCHAR)")} % {1 << _TEMP_HBITS} AS h
  FROM documents
)
SELECT doc_id, lang, n_lang,
       (h * h * n_lang < {TEMP_C * TEMP_C} * {1 << (2 * _TEMP_HBITS)}) AS keep
FROM sized
""",
)
def curate_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing: keep each document with
    probability c/sqrt(n_lang), so the sampled corpus follows the
    α = 0.5 exponentially-smoothed language distribution (square-root
    temperature sampling). The threshold test never touches a float:
    P(h < c·2^B/sqrt(n)) over a uniform B-bit hash h is EXACTLY the
    integer predicate h²·n < c²·2^(2B) — both engines evaluate it in
    bigint arithmetic (h² ≤ 2^40, ×n ≪ 2^63), so sqrt never appears
    and the kept set is bit-deterministic.

    Scale shape: the per-language sizes come from one partial-combined
    groupBy over ≤ |langs| rows, broadcast back onto the corpus — NOT a
    per-language window (which would serialize each language through
    one task; the shard-packing straggler lesson). The keep test is
    then a pure per-row predicate in the scan stage; nothing else
    shuffles. (The oracle uses the window formulation — fine at oracle
    scale, never the engine's plan.)"""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return docs.join(F.broadcast(sizes), "lang").select(
        "doc_id", "lang", "n_lang", _temperature_keep().alias("keep")
    )


# ---------------------------------------------------------------------------
# Curation DAG v2: quality classifier → temperature rebalance → SemDeDup
# ---------------------------------------------------------------------------


def _v2_oracle() -> str:
    from etl_pipeline_sam_gov_spark.operators.dedup import _sd_ctes
    from etl_pipeline_sam_gov_spark.operators.text import SQL_QUALITY_LOGIT

    return f"""
WITH cls AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
         {SQL_QUALITY_LOGIT} AS logit
  FROM documents
),
q1 AS (SELECT * FROM cls WHERE logit > 0),
sized AS (
  SELECT q1.*,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang,
         {_sql_hash60("'temp|' || CAST(doc_id AS VARCHAR)")} % {1 << _TEMP_HBITS} AS h
  FROM q1
),
q2 AS (
  SELECT doc_id, lang, n_tokens FROM sized
  WHERE h * h * n_lang < {TEMP_C * TEMP_C} * {1 << (2 * _TEMP_HBITS)}
),
embbase AS (
  SELECT e.vec_id, e.embedding FROM embeddings e JOIN q2 ON e.vec_id = q2.doc_id
),
{_sd_ctes("embbase")},
verdict AS (
  SELECT a.vec_id, (d.vec_id IS NULL) AS keep
  FROM assign a LEFT JOIN dups d USING (vec_id)
)
SELECT q2.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(q2.n_tokens) AS BIGINT) AS total_tokens
FROM q2 LEFT JOIN verdict v ON q2.doc_id = v.vec_id
WHERE v.keep IS NULL OR v.keep
GROUP BY q2.lang
"""


@query("pipeline_training_corpus_v2", oracle=_v2_oracle())
def pipeline_training_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern LLM curation DAG, composed end-to-end from this
    round's operators: (1) hashing-trick quality classifier keeps
    positive-logit documents (text_quality_classifier); (2) α = 0.5
    temperature resampling rebalances the SURVIVING language
    distribution (curate_temperature_resample — sizes computed after
    the quality gate, as a real pipeline would); (3) SemDeDup semantic
    dedup prunes near-duplicate survivors by embedding (documents
    without an embedding pass through — you cannot semantically dedup
    what you cannot embed). Output: per-language kept-document and
    token counts, i.e. the corpus composition report that feeds
    mixture planning.

    Scale shape: stages 1–2 are scan-stage predicates plus one
    broadcast of per-language counts; stage 3 inherits semantic_keep's
    broadcast-seeds + bounded within-cluster quadratic; the final
    rollup is one partial-combined groupBy over |langs| rows. Nothing
    materializes between stages — Catalyst sees ONE plan and pushes
    the quality predicate into the documents scan."""
    from etl_pipeline_sam_gov_spark.operators.dedup import semantic_keep
    from etl_pipeline_sam_gov_spark.operators.text import quality_logit

    t = load_tables(spark, sf_dir, ("documents", "embeddings"))
    docs = t["documents"].select(
        "doc_id",
        "lang",
        F.size(tokens_col()).cast("bigint").alias("n_tokens"),
        quality_logit().alias("logit"),
    )
    q1 = docs.filter(F.col("logit") > 0)
    sizes = q1.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    q2 = (
        q1.join(F.broadcast(sizes), "lang")
        .filter(_temperature_keep())
        .select("doc_id", "lang", "n_tokens")
    )
    emb = t["embeddings"].join(
        q2.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    verdict = semantic_keep(emb).select("vec_id", "keep")
    return (
        q2.join(verdict, q2["doc_id"] == verdict["vec_id"], "left")
        .filter(F.col("keep").isNull() | F.col("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive negative sampling
# ---------------------------------------------------------------------------

NEG_K = 3  #: negatives drawn per anchor
NEG_ANCHOR_STRIDE = 10  #: doc_id % stride == 0 → the anchor set


@query(
    "curate_negative_pairs",
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
anchors AS (
  SELECT doc_id AS anchor_id, lang AS anchor_lang FROM documents
  WHERE doc_id % {NEG_ANCHOR_STRIDE} = 0
),
slots AS (
  SELECT anchor_id, anchor_lang, unnest(range({NEG_K})) AS neg_slot FROM anchors
),
cand AS (
  SELECT anchor_id, anchor_lang, CAST(neg_slot AS INT) AS neg_slot,
         {_sql_hash60("anchor_id || ':' || neg_slot")} % n.n_docs AS neg_id
  FROM slots CROSS JOIN n
)
SELECT c.anchor_id, c.neg_slot, c.neg_id, c.anchor_lang,
       d.lang AS neg_lang, (c.anchor_lang = d.lang) AS same_lang
FROM cand c JOIN documents d ON d.doc_id = c.neg_id
WHERE c.neg_id <> c.anchor_id
""",
)
def curate_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each anchor document draws NEG_K pseudo-random partners via an
    md5-derived position (never ``rand()`` — reproducible across
    engines, runs, and retries, the module's determinism contract),
    then joins the partner's metadata back for curriculum filtering
    (e.g. same-language negatives are "hard").

    Scale shape: the candidate relation is |anchors| × NEG_K rows built
    by a generated-key equi-join against the corpus — no cross product
    ever forms; the corpus-size scalar rides a broadcast 1-row cross
    join. Accidental self-pairs are dropped (deterministically on both
    engines) rather than re-drawn, keeping the op one pass."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    anchors = docs.filter(F.col("doc_id") % NEG_ANCHOR_STRIDE == 0).select(
        F.col("doc_id").alias("anchor_id"), F.col("lang").alias("anchor_lang")
    )
    cand = (
        anchors.crossJoin(F.broadcast(n))
        .select(
            "anchor_id",
            "anchor_lang",
            F.explode(F.sequence(F.lit(0), F.lit(NEG_K - 1))).alias("neg_slot"),
            "n_docs",
        )
        .select(
            "anchor_id",
            "anchor_lang",
            F.col("neg_slot").cast("int").alias("neg_slot"),
            (
                _spark_hash60(
                    F.concat(
                        F.col("anchor_id").cast("string"),
                        F.lit(":"),
                        F.col("neg_slot").cast("string"),
                    )
                )
                % F.col("n_docs")
            ).alias("neg_id"),
        )
        .filter(F.col("neg_id") != F.col("anchor_id"))
    )
    neg = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang")
    )
    return cand.join(neg, "neg_id").select(
        "anchor_id",
        "neg_slot",
        "neg_id",
        "anchor_lang",
        "neg_lang",
        (F.col("anchor_lang") == F.col("neg_lang")).alias("same_lang"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (hashed n-gram features)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 64  #: hashed unigram feature dimensionality
DSIR_TARGET_SOURCE = "src0"  #: the "target distribution" slice


@query(
    "curate_dsir_importance",
    oracle=rf"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
),
tb AS (SELECT doc_id, source, {_sql_hash60("tok")} % {DSIR_BUCKETS} AS bucket FROM tok),
raw AS (SELECT bucket, COUNT(*) AS r FROM tb GROUP BY bucket),
tgt AS (SELECT bucket, COUNT(*) AS t
        FROM tb WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bucket),
totals AS (
  SELECT (SELECT COUNT(*) FROM tb) AS r_total,
         (SELECT COUNT(*) FROM tb WHERE source = '{DSIR_TARGET_SOURCE}') AS t_total
),
b AS (SELECT unnest(range({DSIR_BUCKETS})) AS bucket),
model AS (
  SELECT b.bucket,
         ln(((COALESCE(t, 0) + 1)::DOUBLE / (t_total + {DSIR_BUCKETS}))
            / ((COALESCE(r, 0) + 1)::DOUBLE / (r_total + {DSIR_BUCKETS}))) AS lw
  FROM b LEFT JOIN raw USING (bucket) LEFT JOIN tgt USING (bucket)
  CROSS JOIN totals
),
scored AS (
  SELECT tb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(SUM(lw), 6) AS logw
  FROM tb JOIN model USING (bucket) GROUP BY tb.doc_id
)
SELECT doc_id, n_tokens, logw,
       round(1 / (1 + exp(-logw)), 6) AS accept_p,
       (({_sql_hash60("'dsir:' || doc_id")} % 1000000) / 1000000.0
        < round(1 / (1 + exp(-logw)), 6)) AS keep
FROM scored
""",
)
def curate_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every document by the log-likelihood ratio
    of a hashed-unigram bag-of-words model fit on a target slice vs the
    raw corpus, then resample with probability sigmoid(logw) using the
    module's deterministic md5-hash coin.

    Scale shape: the feature "model" is DSIR_BUCKETS rows — fit by two
    partial-combined counts over one token explode and broadcast back
    onto the token stream; per-doc scoring is the same groupBy the
    quality filters use. Nothing about the corpus is ever collected,
    and a bigger corpus only widens the two count aggregations. The
    add-one-smoothed ratio is computed as ONE ln() of a ratio (not a
    difference of lns) so both engines evaluate the identical float
    expression; the resampling coin compares a 6-decimal hash fraction
    against the 6-decimal rounded sigmoid (boundary-stable across
    engines, same technique as the hash-threshold split)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tb = (
        spread_docs(docs)
        .select("doc_id", "source", F.explode(tokens_col()).alias("tok"))
        .select(
            "doc_id",
            "source",
            (_spark_hash60(F.col("tok")) % DSIR_BUCKETS).alias("bucket"),
        )
    )
    is_tgt = F.col("source") == DSIR_TARGET_SOURCE
    raw = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("r"))
    tgt = tb.filter(is_tgt).groupBy("bucket").agg(F.count(F.lit(1)).alias("t"))
    totals = tb.agg(
        F.count(F.lit(1)).alias("r_total"),
        F.sum(is_tgt.cast("bigint")).alias("t_total"),
    )
    model = (
        spark.range(DSIR_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .join(F.broadcast(raw), "bucket", "left")
        .join(F.broadcast(tgt), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.log(
                (
                    (F.coalesce(F.col("t"), F.lit(0)) + 1).cast("double")
                    / (F.col("t_total") + DSIR_BUCKETS)
                )
                / (
                    (F.coalesce(F.col("r"), F.lit(0)) + 1).cast("double")
                    / (F.col("r_total") + DSIR_BUCKETS)
                )
            ).alias("lw"),
        )
    )
    scored = (
        tb.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("lw"), 6).alias("logw"),
        )
    )
    accept_p = F.round(1 / (1 + F.exp(-F.col("logw"))), 6)
    coin = (
        _spark_hash60(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string")))
        % 1000000
    ) / 1000000.0
    return scored.select(
        "doc_id",
        "n_tokens",
        "logw",
        accept_p.alias("accept_p"),
        (coin < accept_p).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Bounded per-group sampling
# ---------------------------------------------------------------------------

SAMPLE_K_PER_LANG = 20  #: eval-set rows retained per language


@query(
    "curate_sample_k_per_group",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_sql_hash60("'kpg|' || doc_id")}, doc_id) AS rnk
  FROM documents
)
SELECT doc_id, lang, n_chars, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {SAMPLE_K_PER_LANG}
""",
)
def curate_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group sampling (eval-set carving, per-language
    spot-check panels): rank every row by an md5-derived coin within
    its group and keep the first k — the deterministic, engine-portable
    equivalent of per-group reservoir sampling (same statistical
    guarantee: each member equally likely under the hash coin, but
    reproducible across runs/engines/cluster sizes, which a true
    reservoir is not).

    Scale shape: one window over the group key — and because the rank
    predicate is `rnk <= k`, Spark plans WindowGroupLimit: each task
    keeps a k-row heap map-side, so the shuffle carries candidate
    heads, not whole groups."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    coin = _spark_hash60(F.concat(F.lit("kpg|"), F.col("doc_id").cast("string")))
    rnk = F.row_number().over(
        W.partitionBy("lang").orderBy(coin, F.col("doc_id"))
    )
    return (
        docs.select("doc_id", "lang", "n_chars", rnk.alias("rnk"))
        .filter(F.col("rnk") <= SAMPLE_K_PER_LANG)
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------

WSAMPLE_K = 25  #: corpus rows drawn, probability ∝ document length


@query(
    "curate_weighted_sample_aes",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         round(exp(ln(({_sql_hash60("'aes|' || doc_id")} % 1000000 + 1) / 1000000.0)
                   / n_chars), 12) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, n_chars, k,
         row_number() OVER (ORDER BY k DESC, doc_id) AS rnk
  FROM keyed
)
SELECT doc_id, lang, n_chars, k, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {WSAMPLE_K}
""",
)
def curate_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis,
    "Weighted random sampling with a reservoir"): each row draws key
    u^(1/w) from a uniform u and its weight w (here: document length —
    longer documents proportionally likelier), and the global top-k
    keys ARE a weighted sample without replacement. The standard
    one-pass distributed weighted sampler (Spark's own sampleByKey
    lineage) — made reproducible by the module's md5 hash coin instead
    of rand().

    Scale shape: key generation is a pure scan-side map; the global
    top-k is TakeOrderedAndProject (per-partition k-row heaps, no full
    sort, no single-task window). The key is computed as exp(ln(u)/w)
    — the identical expression spelling on both engines — and rounded
    to 12 decimals before ranking with a doc_id tiebreak, so ranking
    is engine-stable."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    u = (
        _spark_hash60(F.concat(F.lit("aes|"), F.col("doc_id").cast("string")))
        % 1000000
        + 1
    ) / 1000000.0
    k = F.round(F.exp(F.log(u) / F.col("n_chars")), 12)
    keyed = docs.select("doc_id", "lang", "n_chars", k.alias("k"))
    topk = keyed.orderBy(F.desc("k"), F.asc("doc_id")).limit(WSAMPLE_K)
    rnk = F.row_number().over(W.orderBy(F.desc("k"), F.asc("doc_id")))
    return topk.select(
        "doc_id", "lang", "n_chars", "k", rnk.cast("int").alias("rnk")
    )


# ---------------------------------------------------------------------------
# Epoch-wise deterministic shuffle-sharding
# ---------------------------------------------------------------------------

EPOCH_COUNT = 2
EPOCH_SHARDS = 8


@query(
    "curate_epoch_order",
    oracle=f"""
WITH epochs AS (
  SELECT doc_id, u.e AS epoch,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(u.e AS VARCHAR)), 1, 15))::BIGINT
           AS k
  FROM documents, unnest(range({EPOCH_COUNT})) AS u(e)
)
SELECT doc_id, CAST(epoch AS INT) AS epoch,
       CAST(k % {EPOCH_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY epoch, k % {EPOCH_SHARDS} ORDER BY k, doc_id
       ) AS BIGINT) AS position
FROM epochs
""",
)
def curate_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-wise deterministic shuffle-sharding: for every training
    epoch, each document gets a fresh pseudo-random order key
    (md5(doc_id, epoch)), a shard (key mod S), and its position within
    the shard — the data-loader recipe that makes multi-epoch training
    see a DIFFERENT document order per epoch while staying perfectly
    reproducible (re-runs and stragglers re-derive identical order;
    no RNG state to checkpoint). Hash-derived order is also
    append-stable per epoch: adding documents never reorders existing
    pairs within a shard.

    Scale shape: the only sort is WITHIN (epoch, shard) — exactly the
    shard-local sort a training loader performs when writing shuffled
    shards, parallel across S×E partitions; no global order exists
    anywhere. The epoch fan-out is a scan-stage explode (×E), and the
    md5 keys are the curation family's engine-neutral coin."""
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    epochs = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(e) for e in range(EPOCH_COUNT)])
        ).alias("epoch"),
    ).select(
        "doc_id",
        "epoch",
        _spark_hash60(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("epoch").cast("string"),
            )
        ).alias("k"),
    )
    w = W.partitionBy(
        "epoch", (F.col("k") % EPOCH_SHARDS)
    ).orderBy("k", "doc_id")
    return epochs.select(
        "doc_id",
        F.col("epoch").cast("int").alias("epoch"),
        (F.col("k") % EPOCH_SHARDS).cast("int").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("position"),
    )


# ---------------------------------------------------------------------------
# Competence-based curriculum ordering (easy → hard training schedule)
# ---------------------------------------------------------------------------

CURR_STAGES = 4  #: difficulty quartile stages
CURR_SHARDS = 8  #: loader shards within a stage


@query(
    "curate_curriculum_order",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         n_chars * 100 // len(string_split_regex(text, '\\s+')) AS difficulty,
         ('0x' || substr(md5('cur' || doc_id), 1, 15))::BIGINT AS k
  FROM documents
),
cuts AS (
  SELECT quantile_cont(difficulty, 0.25) AS q1,
         quantile_cont(difficulty, 0.50) AS q2,
         quantile_cont(difficulty, 0.75) AS q3
  FROM d
),
staged AS (
  SELECT d.doc_id, d.difficulty, d.k,
         1 + CAST(d.difficulty > c.q1 AS INT)
           + CAST(d.difficulty > c.q2 AS INT)
           + CAST(d.difficulty > c.q3 AS INT) AS stage
  FROM d CROSS JOIN cuts c
)
SELECT doc_id, difficulty, CAST(stage AS INT) AS stage,
       CAST(k % {CURR_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY stage, k % {CURR_SHARDS} ORDER BY k, doc_id
       ) AS BIGINT) AS position
FROM staged
""",
)
def curate_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competence-based curriculum ordering (Bengio et al. '09 /
    Platanios et al. '19): rank training documents easy → hard by a
    scan-stage difficulty score (average token length in exact
    hundredth-chars — long-word text reads harder), band them into
    CURR_STAGES quartile stages by exact interpolated percentile cut
    points, and give each stage the deterministic md5 shard-local
    order the epoch loader uses — so training consumes stage 1's
    shards before stage 2's, each shard internally shuffled and
    reproducible (re-runs re-derive the identical schedule, no RNG
    checkpoint).

    Scale shape: difficulty is computed in the scan (no shuffle); the
    quartile cut points are ONE 3-value percentile aggregation
    broadcast back (the RFM banding pattern — no ntile global sort);
    the only sort is WITHIN (stage, shard) — S×K parallel shard-local
    sorts, the loader's own write pattern; stage assignment is three
    exact int comparisons (interpolated quantiles of int values are
    dyadic midpoints, binary-exact on both engines)."""
    from etl_pipeline_sam_gov_spark.operators.dedup import (
        _spark_hash60,
        tokens_col,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    d = docs.select(
        "doc_id",
        F.expr("n_chars * 100").cast("bigint").alias("nc100"),
        F.size(tokens_col()).cast("bigint").alias("ntok"),
        _spark_hash60(
            F.concat(F.lit("cur"), F.col("doc_id").cast("string"))
        ).alias("k"),
    ).select(
        "doc_id",
        F.expr("nc100 div ntok").alias("difficulty"),
        "k",
    )
    cuts = d.agg(
        F.expr("percentile(difficulty, 0.25)").alias("q1"),
        F.expr("percentile(difficulty, 0.50)").alias("q2"),
        F.expr("percentile(difficulty, 0.75)").alias("q3"),
    )
    staged = d.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "difficulty",
        "k",
        (
            F.lit(1)
            + (F.col("difficulty") > F.col("q1")).cast("int")
            + (F.col("difficulty") > F.col("q2")).cast("int")
            + (F.col("difficulty") > F.col("q3")).cast("int")
        ).alias("stage"),
    )
    w = W.partitionBy("stage", F.col("k") % CURR_SHARDS).orderBy("k", "doc_id")
    return staged.select(
        "doc_id",
        "difficulty",
        F.col("stage").cast("int").alias("stage"),
        (F.col("k") % CURR_SHARDS).cast("int").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("position"),
    )


# ---------------------------------------------------------------------------
# Exact token-budget apportionment (largest-remainder / Hamilton)
# ---------------------------------------------------------------------------

BUDGET_TOKENS = 10_000  #: total token budget to apportion across sources


@query(
    "curate_budget_apportion",
    oracle=f"""
WITH t AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM t),
quota AS (
  SELECT t.source, t.n_tokens,
         ({BUDGET_TOKENS} * t.n_tokens) // tot.total AS base,
         ({BUDGET_TOKENS} * t.n_tokens) % tot.total AS rem
  FROM t CROSS JOIN tot
),
leftover AS (
  SELECT {BUDGET_TOKENS} - CAST(SUM(base) AS BIGINT) AS k FROM quota
),
rankedq AS (
  SELECT q.source, q.n_tokens, q.base, q.rem, l.k,
         row_number() OVER (ORDER BY q.rem DESC, q.source) AS rn
  FROM quota q CROSS JOIN leftover l
)
SELECT source, n_tokens, CAST(base AS BIGINT) AS base_alloc,
       rn <= k AS got_bonus,
       CAST(base + CASE WHEN rn <= k THEN 1 ELSE 0 END AS BIGINT)
         AS allocated_tokens
FROM rankedq
""",
)
def curate_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-budget apportionment across corpus sources by the
    largest-remainder (Hamilton) method: each source's integer base
    share is ⌊B·tᵢ/T⌋ and the unallocated remainder seats go to the
    largest fractional remainders (ties to source name) — the
    deterministic way a training-mixture budget is split so the
    allocations are integers that sum EXACTLY to the budget (naive
    per-source rounding drifts by ±|sources| tokens, which breaks
    shard-count contracts downstream). Every quantity is exact int64
    (quotas as cross-multiplications, never a float share), so the
    allocation is reproducible and engine-identical by construction.

    Scale shape: one scan-stage token count + partial-combined groupBy
    to the |sources|-row relation; the total, leftover count, and
    remainder ranking all run on that bounded relation (broadcast
    1-row scalars ride cross joins, the repo's no-collect rule)."""
    from etl_pipeline_sam_gov_spark.operators.dedup import tokens_col

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = docs.groupBy("source").agg(
        F.sum(F.size(tokens_col())).cast("bigint").alias("n_tokens")
    )
    tot = t.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    quota = t.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"({BUDGET_TOKENS} * n_tokens) div total").alias("base"),
        ((F.lit(BUDGET_TOKENS) * F.col("n_tokens")) % F.col("total")).alias(
            "rem"
        ),
    )
    leftover = quota.agg(
        (F.lit(BUDGET_TOKENS) - F.sum("base")).cast("bigint").alias("k")
    )
    rn = F.row_number().over(W.orderBy(F.desc("rem"), F.asc("source")))
    ranked = quota.crossJoin(F.broadcast(leftover)).select(
        "source", "n_tokens", "base", "rem", "k", rn.alias("rn")
    )
    return ranked.select(
        "source",
        "n_tokens",
        F.col("base").cast("bigint").alias("base_alloc"),
        (F.col("rn") <= F.col("k")).alias("got_bonus"),
        (
            F.col("base")
            + F.when(F.col("rn") <= F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated_tokens"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed batch assembly (sequence-length bucketing)
# ---------------------------------------------------------------------------

LB_BATCH_SIZE = 16  #: documents per training batch
LB_SHARDS = 8  #: md5-hash shards per bucket (bounds every ranking window)


@query(
    "curate_length_bucket_batches",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_toks,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k
  FROM documents
),
keyed AS (
  SELECT doc_id, n_toks,
         CAST(len(bin(n_toks)) - 1 AS INT) AS bucket,
         CAST(k % {LB_SHARDS} AS INT) AS shard
  FROM toks WHERE n_toks > 0
),
ranked AS (
  SELECT doc_id, n_toks, bucket, shard,
         row_number() OVER (PARTITION BY bucket, shard
                            ORDER BY n_toks DESC, doc_id) - 1 AS pos
  FROM keyed
)
SELECT doc_id, n_toks, bucket, shard,
       CAST(pos // {LB_BATCH_SIZE} AS BIGINT) AS batch_id,
       CAST(pos % {LB_BATCH_SIZE} AS INT) AS pos_in_batch
FROM ranked
""",
)
def curate_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length-bucketed batch assembly: group documents into
    power-of-two token-length buckets, then pack fixed-size training
    batches of similar-length docs (longest-first within a bucket) —
    the batching strategy that cuts padding waste in LLM training
    (a batch mixing 30-token and 4000-token docs pads ~99% of its
    matrix; bucketing bounds padding at <2x by construction).

    Determinism: bucket = bit length of the exact token count (string
    length of the binary rendering); within a bucket the order is
    (n_toks DESC, doc_id). Each bucket sub-shards by the module's
    md5-hash coin so no ranking window ever spans more than
    1/LB_SHARDS of a bucket — the bounded-window rule that keeps this
    runnable when one length bucket holds half the corpus (shards
    scale with cluster size at 100 TB; batches stay shard-local, which
    is exactly how multi-worker training shards its data loader)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    keyed = (
        spread_docs(docs)
        .select(
            "doc_id",
            F.size(tokens_col()).cast("bigint").alias("n_toks"),
            _spark_hash60(F.col("doc_id").cast("string")).alias("k"),
        )
        .filter(F.col("n_toks") > 0)
        .select(
            "doc_id",
            "n_toks",
            (F.length(F.bin("n_toks")) - 1).cast("int").alias("bucket"),
            (F.col("k") % LB_SHARDS).cast("int").alias("shard"),
        )
    )
    w = W.partitionBy("bucket", "shard").orderBy(F.desc("n_toks"), "doc_id")
    pos = F.row_number().over(w) - 1
    return keyed.select(
        "doc_id",
        "n_toks",
        "bucket",
        "shard",
        F.floor(pos / LB_BATCH_SIZE).cast("bigint").alias("batch_id"),
        (pos % LB_BATCH_SIZE).cast("int").alias("pos_in_batch"),
    )


# ---------------------------------------------------------------------------
# Leakage-free train/holdout split: duplicates stay on one side
# ---------------------------------------------------------------------------


@query(
    "curate_leakage_free_split",
    oracle=f"""
WITH groups AS (
  SELECT doc_id, md5(text) AS text_hash,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM documents
)
SELECT doc_id, text_hash, rep AS group_rep,
       CASE WHEN {_sql_hash60("CAST(rep AS VARCHAR)")} % 100 < {SPLIT_TRAIN}
            THEN 'train'
            WHEN {_sql_hash60("CAST(rep AS VARCHAR)")} % 100 < {SPLIT_VAL}
            THEN 'val'
            ELSE 'test' END AS split
FROM groups
""",
)
def curate_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: the hash coin is thrown on
    each document's DUPLICATE-GROUP representative (min doc_id of its
    exact-content group), not the document itself — so copies of one
    document can never straddle the split boundary. This is the
    leakage guard naive per-doc splitting (curate_split_train_holdout)
    lacks: with duplicates split independently, the holdout contains
    verbatim copies of training documents and every eval number is
    inflated — the same failure class text_decontaminate_eval_overlap
    detects after the fact; this prevents it by construction.

    Determinism: the group is the md5 of content (the dedup_exact
    lane); the representative is min doc_id per group; the coin is the
    module's md5-hash60 on the representative — same thresholds as the
    naive split, so the expected mixture matches. Scale shape: one
    window (or groupBy-join) keyed on the 128-bit content hash — the
    exact-dedup shuffle — then scan-stage labeling; group sizes are
    duplicate multiplicities (bounded in practice; a pathological
    mega-group is one hot key, AQE-skew-splittable)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    groups = spread_docs(docs).select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        F.min("doc_id")
        .over(W.partitionBy(F.md5("text")))
        .alias("rep"),
    )
    bucket = _spark_hash60(F.col("rep").cast("string")) % 100
    return groups.select(
        "doc_id",
        "text_hash",
        F.col("rep").alias("group_rep"),
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Minority-language oversampling by deterministic replication
# ---------------------------------------------------------------------------

OVERSAMPLE_CAP = 4  #: max replication factor (bounds output amplification)


@query(
    "curate_oversample_replicate",
    oracle=f"""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
),
target AS (SELECT CAST(MAX(n) AS BIGINT) AS tn FROM counts),
factors AS (
  SELECT c.lang,
         CAST(LEAST({OVERSAMPLE_CAP}, GREATEST(1, t.tn // c.n)) AS BIGINT)
           AS factor
  FROM counts c CROSS JOIN target t
),
ex AS (
  SELECT d.doc_id, d.lang, f.factor,
         unnest(generate_series(1, f.factor)) AS replica_id
  FROM documents d JOIN factors f ON f.lang = d.lang
)
SELECT doc_id, lang, factor, CAST(replica_id AS INT) AS replica_id
FROM ex
""",
)
def curate_oversample_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minority-class oversampling by replication: languages with
    fewer documents than the largest class get each document emitted
    floor(max_count / n_lang) times (capped at OVERSAMPLE_CAP) — the
    UP-sampling counterpart of curate_temperature_resample's
    down-weighting, used when the minority data is too precious to
    achieve balance by discarding majority rows (the standard
    low-resource-language recipe; the cap bounds both output
    amplification and the overfitting risk of seeing one document
    4+ times per epoch). replica_id makes each copy addressable so a
    downstream shuffle (curate_epoch_order) spreads replicas across
    shards instead of packing them adjacently.

    Determinism: factors are exact integer arithmetic on exact class
    counts — no sampling coin at all. Scale shape: one |langs|-row
    count relation, factors broadcast back onto the scan, and the
    replication is a narrow explode(sequence(1, factor)) — output
    size is bounded at CAP× the corpus by construction."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    target = counts.agg(F.max("n").cast("bigint").alias("tn"))
    factors = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        F.least(
            F.lit(OVERSAMPLE_CAP),
            F.greatest(F.lit(1), F.expr("tn div n")),
        )
        .cast("bigint")
        .alias("factor"),
    )
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(factors), "lang")
        .select(
            "doc_id",
            "lang",
            "factor",
            F.explode(F.sequence(F.lit(1), F.col("factor"))).alias(
                "replica_id"
            ),
        )
        .select("doc_id", "lang", "factor", F.col("replica_id").cast("int").alias("replica_id"))
    )


# ---------------------------------------------------------------------------
# Effective sample size of the DSIR importance weights
# ---------------------------------------------------------------------------


def _ess_oracle() -> str:
    """Embeds the certified DSIR oracle verbatim (composition rule) and
    diagnoses its weights: ESS = (Σw)²/Σw² with w = exp(logw)."""
    from etl_pipeline_sam_gov_spark.registry import ORACLES

    dsir = ORACLES["curate_dsir_importance"]
    return f"""
WITH dsir AS ({dsir}),
w AS (
  SELECT d.source, exp(s.logw) AS wt
  FROM dsir s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(SUM(wt) * SUM(wt) / SUM(wt * wt), 6) + 0.0 AS ess,
       round(SUM(wt) * SUM(wt) / SUM(wt * wt) / COUNT(*), 6) + 0.0
         AS ess_ratio,
       round(SUM(wt) * SUM(wt) / SUM(wt * wt) / COUNT(*), 6) < 0.5
         AS weights_degenerate
FROM w GROUP BY source
"""


@query("curate_ess_diagnostics", oracle=_ess_oracle())
def curate_ess_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the DSIR importance weights, per
    source: ESS = (Σw)²/Σw² (Kish) — THE health check every
    importance-weighted pipeline runs before trusting its resample
    (ESS/n near 1 ⇒ weights are gentle; near 0 ⇒ a few documents
    dominate and the resampled corpus is effectively tiny, the classic
    silent failure of importance sampling at scale). Composition rule:
    the weights are curate_dsir_importance's certified logw, its
    oracle embedded verbatim.

    Scale: rides the DSIR plan plus one per-source aggregate; the
    diagnostic relation is |sources|-bounded. The w sums are the
    small-relation double convention (≤ docs-per-source terms)."""
    from etl_pipeline_sam_gov_spark.registry import QUERIES as _Q

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = _Q["curate_dsir_importance"](spark, sf_dir)
    w = scored.join(docs.select("doc_id", "source"), "doc_id").select(
        "source", F.exp(F.col("logw")).alias("wt")
    )
    sw, sww = F.sum("wt"), F.sum(F.col("wt") * F.col("wt"))
    ess = sw * sw / sww
    return w.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.round(ess, 6) + F.lit(0.0)).alias("ess"),
        (F.round(ess / F.count(F.lit(1)), 6) + F.lit(0.0)).alias("ess_ratio"),
        (F.round(ess / F.count(F.lit(1)), 6) < 0.5).alias(
            "weights_degenerate"
        ),
    )
