"""Deduplication operators over ``documents`` (SURVEY.md §2.12 — the
LLM-data-pipeline extensions; the reference has no dedup, these are the
operators a 100 TB training-data pipeline needs).

Five dedup families, all pure DataFrame expressions (no UDFs):

- exact        — hash-groupBy on raw text
- fingerprint  — hash-groupBy on normalized sorted-token fingerprint
- n-gram Jaccard — shingle-set similarity via a shingle equi-join
- MinHash + LSH  — signatures → band buckets → candidate pairs →
  exact verification (the scale path: candidate generation touches
  only bucket-colliding pairs, never the O(n²) cross product)
- SimHash      — 32-bit sign-of-weighted-sum sketch + Hamming distance

Determinism contract: every hash derives from ``md5`` (identical in
Spark and DuckDB) reduced to an integer via a 15-hex-digit prefix
(60 bits, fits bigint exactly). The MinHash permutation constants below
are the single source of truth for BOTH the Spark expressions and the
DuckDB oracle SQL, so candidate sets are provably identical.

Scale notes: shingling explodes ~L tokens/doc into ~L rows — at 100 TB
this is a flatMap, not a collect; the shingle join partitions by
shingle hash (skewed shingles are rare after distinct-per-doc + a stop-
shingle filter would cap them). MinHash signatures are one groupBy with
16 min() aggregates (map-side combine shrinks this to one row per doc
per partition). LSH banding turns all-pairs into per-bucket pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.slots import slot, slot_persist
from etl_pipeline_sam_gov_spark.tables import load_tables

# ---------------------------------------------------------------------------
# Shared deterministic hashing (single source of truth for both engines)
# ---------------------------------------------------------------------------

#: Mersenne prime 2^31-1: (A*h+B) stays < 2^62 — exact in int64 everywhere.
MINHASH_P = 2_147_483_647

#: 16 fixed (A, B) permutation constants (odd multipliers < P).
MINHASH_PERMS = [
    (1_103_515_245, 12_345),
    (1_234_567_891, 987_654_321),
    (999_999_937, 31_337),
    (1_862_270_077, 271_828_183),
    (1_537_228_671, 141_421_357),
    (2_038_074_743, 577_215_665),
    (1_299_709_019, 414_213_563),
    (1_618_033_989, 173_205_081),
    (1_732_050_809, 223_606_797),
    (1_414_213_563, 264_575_131),
    (1_259_921_049, 331_662_479),
    (1_442_249_571, 360_555_127),
    (1_709_975_947, 387_298_335),
    (1_912_931_183, 412_310_563),
    (1_189_207_115, 435_889_894),
    (1_998_244_353, 458_257_569),
]

#: LSH banding: 8 bands × 2 rows over the 16 signatures.
#: P(candidate | j) = 1-(1-j^2)^8 → ~99.5% at j=0.7, ~53% at j=0.3;
#: sub-threshold candidates are removed by exact verification.
LSH_BANDS, LSH_ROWS = 8, 2

JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32
# Tight threshold: this corpus has a tiny vocabulary, so token-set
# simhashes collapse (even Hamming 0 clusters are common); ≤1 keeps the
# output meaning "same/near-same token profile".
SIMHASH_MAX_HAMMING = 1

_TOKEN_SPLIT = r"\s+"


def _spark_hash60(col: Column) -> Column:
    """md5 → first 15 hex digits → bigint (60 bits; exact, engine-neutral)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _sql_hash60(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def tokens_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, _TOKEN_SPLIT)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles from an ALREADY-TOKENIZED array column.

    Performance contract (measured at sf0.1): the token array must be a
    materialized column, not an inline ``split`` expression — Catalyst
    does not common-subexpression-eliminate a ``split`` appearing inside
    a higher-order lambda, so an inline tokenizer re-splits the text for
    every element access (8× slower end-to-end). Elements are built with
    ``element_at`` (O(1) each) rather than ``slice``+``concat_ws``
    (which allocates a sub-array per shingle — 2× slower)."""

    def ngram(i: Column) -> Column:
        parts: list[Column] = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(toks, i + j))
        return F.concat(*parts)

    # guard: sequence(1, 0) in Spark would generate a DESCENDING range,
    # so short docs get an explicit empty array
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), ngram)
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_col(text: str | Column = "text", n: int = 3) -> Column:
    """Shingles straight from a text column — convenience for one-shot
    use; pipelines that reuse the shingles should go through
    ``with_shingle_arrays`` (see shingles_from_tokens note)."""
    return shingles_from_tokens(tokens_col(text), n)


def spread_docs(docs: DataFrame) -> DataFrame:
    """Round-robin the corpus to session parallelism BEFORE per-doc
    expression work: a single-file documents table scans as ONE
    partition, which would run all tokenize/shingle/hash expressions
    on one core (measured 24% end-to-end on MinHash at sf0.1; the
    same fix is ~20× on the embedding pair joins —
    similarity._parallelize). A real multi-file corpus already scans
    wide — the partition-count guard self-disables the shuffle there,
    so the full-text repartition only ever pays for itself on a
    narrow (fixture-like) scan layout."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= parallelism:
        return docs
    return docs.repartition(parallelism)


def with_shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, arr: array<string>) — tokenize in ONE projection, then
    shingle the materialized token array (see shingles_from_tokens)."""
    tokd = spread_docs(docs).select("doc_id", tokens_col().alias("_toks"))
    return tokd.select("doc_id", shingles_from_tokens(F.col("_toks")).alias("arr"))


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded distinct-shingle relation.

    The explode sits DIRECTLY on the shingle expression over the
    projected token column — exploding a pre-projected array column
    instead lets InferFiltersFromGenerate + predicate pushdown clone
    the whole shingle construction (inline splits included) into a
    pre-filter below the projection, a measured 20× regression."""
    tokd = spread_docs(docs).select("doc_id", tokens_col().alias("_toks"))
    return tokd.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("_toks"))).alias("shingle"),
    )


def cached_doc_shingles(docs: DataFrame) -> DataFrame:
    """doc_shingles(docs), persisted under the session's "shingles"
    slot. The Jaccard and containment queries persist this same plan,
    so they share the slot: each call releases the previous call's
    relation before persisting its own."""
    return slot_persist(docs.sparkSession, "shingles", doc_shingles(docs))


#: DuckDB equivalent of doc_shingles (kept in lockstep).
_SQL_SHINGLES = r"""
toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle FROM idx)
"""


# ---------------------------------------------------------------------------
# Exact + fingerprint dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS canonical_doc,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest doc_id as
    canonical. At 100 TB: group on the 128-bit hash (never the raw
    text) so shuffle rows are fixed-width."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_fingerprint",
    oracle=r"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split_regex(text, '\s+'))), ' ')) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       COUNT(*) OVER (PARTITION BY fingerprint) AS group_size
FROM fp
""",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprint dedup (OpenRefine-style): sort the
    distinct token set, hash it — catches reorderings exact dedup
    misses. The rolling-hash document fingerprint of SURVEY.md §2.12."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(tokens_col()))))
    from pyspark.sql import Window as W

    fps = docs.select("doc_id", fp.alias("fingerprint"))
    return fps.withColumn(
        "group_size", F.count(F.lit(1)).over(W.partitionBy("fingerprint"))
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact pairwise via shingle join)
# ---------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle="WITH "
    + _SQL_SHINGLES
    + f""",
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS intersection
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(intersection::DOUBLE / (s1.sz + s2.sz - intersection), 6) AS jaccard
FROM pairs
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE intersection::DOUBLE / (s1.sz + s2.sz - intersection) >= {JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs. The shingle equi-join only
    materializes pairs that share ≥1 shingle — already far below n²;
    MinHash-LSH below cuts candidate generation further for 100 TB."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # The shingle relation feeds the pair join (twice) and the size agg:
    # persist it so the text is shingled once, not three times. At
    # 100 TB this would be a checkpoint to cluster storage instead.
    sh = cached_doc_shingles(docs)
    return _verified_jaccard_pairs(
        sh,
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .agg(F.count(F.lit(1)).alias("intersection")),
    )


def _verified_jaccard_pairs(sh: DataFrame, inter: DataFrame) -> DataFrame:
    """(doc1, doc2, intersection) + per-doc shingle sizes → thresholded
    Jaccard pairs."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("sz").alias("sz2"))
    jac = F.col("intersection").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("intersection")
    )
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, s0..s15): one groupBy with 16 min() aggregates over the
    permuted shingle hashes — map-side combine reduces shuffle to one
    row per doc per partition. The base md5 hash is projected ONCE and
    the 16 permutations are cheap linear transforms of it (16× md5 per
    row would dominate the stage otherwise)."""
    hashed = sh.select(
        "doc_id", (_spark_hash60(F.col("shingle")) % MINHASH_P).alias("h")
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"s{k}")
        for k, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signatures and equi-join on (band_idx, band_hash)."""
    band_cols = []
    for band in range(LSH_BANDS):
        rows = [f"s{band * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        band_cols.append(
            F.struct(
                F.lit(band).alias("band_idx"),
                F.md5(F.concat_ws(",", *rows)).alias("band_hash"),
            )
        )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc1"), F.col("y.doc_id").alias("doc2"))
        .distinct()
    )


def _sql_minhash_pair_ctes() -> str:
    """CTE chain (sh … pairs) shared by the LSH pair oracle and the
    connected-components clustering oracle."""
    h = f"({_sql_hash60('shingle')} % {MINHASH_P})"
    sig_exprs = ",\n  ".join(
        f"MIN(({a} * {h} + {b}) % {MINHASH_P}) AS s{k}"
        for k, (a, b) in enumerate(MINHASH_PERMS)
    )
    band_rows = ",\n  ".join(
        "({b}, md5({cat}))".format(
            b=band,
            cat=" || ',' || ".join(
                f"CAST(s{band * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
            ),
        )
        for band in range(LSH_BANDS)
    )
    # VALUES-per-row lateral to unpivot the 8 bands
    return (
        _SQL_SHINGLES
        + f""",
sigs AS (SELECT doc_id, {sig_exprs} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, v.band_idx, v.band_hash
  FROM sigs, LATERAL (VALUES {band_rows}) v(band_idx, band_hash)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM banded x JOIN banded y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
   AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc1, c.doc2, COUNT(*) AS intersection
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc1
  JOIN sh b ON b.doc_id = c.doc2 AND b.shingle = a.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc1, doc2,
         round(intersection::DOUBLE / (s1.sz + s2.sz - intersection), 6)
           AS jaccard
  FROM inter
  JOIN sizes s1 ON s1.doc_id = doc1
  JOIN sizes s2 ON s2.doc_id = doc2
  WHERE intersection::DOUBLE / (s1.sz + s2.sz - intersection)
        >= {JACCARD_THRESHOLD}
)"""
    )


def _sql_minhash_lsh() -> str:
    """DuckDB oracle generated from the same constants as the Spark path."""
    return (
        "WITH " + _sql_minhash_pair_ctes() + "\nSELECT doc1, doc2, jaccard FROM pairs"
    )


@query("dedup_minhash_lsh", oracle=_sql_minhash_lsh())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection: shingle → 16 minhash signatures →
    8×2 band buckets → candidate pairs → exact Jaccard verification.

    This is the 100 TB dedup path: cost is O(docs × shingles) for
    signatures plus O(bucket-colliding pairs) for verification. The
    hash scheme is engine-neutral (md5-derived), so the DuckDB oracle
    reproduces the exact candidate set — the check covers the LSH
    mechanics, not just the final Jaccard filter."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # Static cache widths: adaptive ones ran 7-10% slower at sf0.1 (r10 A/B).
    return minhash_duplicate_pairs(docs, adaptive=False)


def cached_shingle_arrays(docs: DataFrame, adaptive: bool) -> DataFrame:
    """with_shingle_arrays(docs), persisted under the session's
    "minhash" slot with the caller's AQE pin (slots.slot). Every caller
    builds the same plan from the same documents, so they share ONE
    slot: the previous call's relation is released before the new one
    is persisted. Without the slot the relation was never released,
    and a later plan-identical persist was served the first call's
    blocks."""
    return slot_persist(
        docs.sparkSession, "minhash", with_shingle_arrays(docs), adaptive
    )


def minhash_duplicate_pairs(docs: DataFrame, adaptive: bool) -> DataFrame:
    """Verified (doc1, doc2, jaccard) near-dup pairs via MinHash-LSH —
    the edge set shared by the pair query and the clustering query,
    whose shingle cache persists under the caller's AQE pin."""
    # ONE tokenize+shingle pass: persist the per-doc shingle arrays and
    # derive the exploded (doc_id, shingle) relation from the cache —
    # the signature and verification passes otherwise re-shingle the
    # whole corpus (measured 1.33 s → 0.78 s at sf0.1). Exploding the
    # cached array also can't hit the InferFiltersFromGenerate cloning
    # trap doc_shingles guards against. At 100 TB the persist becomes a
    # checkpoint of the same relation.
    arrs = cached_shingle_arrays(docs, adaptive)
    sh = arrs.select("doc_id", F.explode("arr").alias("shingle"))
    cand = lsh_candidate_pairs(minhash_signatures(sh))
    # Verification joins the (small) candidate set against per-doc
    # shingle ARRAYS and intersects inside the row (array_intersect) —
    # two compact equi-joins instead of re-exploding the corpus into a
    # (doc_id, shingle)×(doc_id, shingle) shuffle. Cost is
    # O(candidates × shingles-per-doc), independent of corpus size.
    a1 = arrs.select(F.col("doc_id").alias("doc1"), F.col("arr").alias("arr1"))
    a2 = arrs.select(F.col("doc_id").alias("doc2"), F.col("arr").alias("arr2"))
    inter = F.size(F.array_intersect("arr1", "arr2"))
    jac = inter.cast("double") / (F.size("arr1") + F.size("arr2") - inter)
    return (
        cand.join(a1, "doc1")
        .join(a2, "doc2")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_col_aggs() -> list[Column]:
    """Per-bit ±1 vote sums over distinct-token hashes (exploded input
    with column ``h`` = 60-bit token hash)."""
    # shiftright is exact on bigint (double division would corrupt the
    # 60-bit hash above 2^53)
    return [
        F.sum((F.shiftright(F.col("h"), j) % 2) * 2 - 1).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]


#: All-pairs simhash oracle — ALSO the oracle of the blocked variant
#: below: blocking must find every hamming≤1 pair, so the expected
#: RESULT is identical; only the Spark-side algorithm differs.
_SQL_SIMHASH_PAIRS = (
    r"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
),
th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
bits AS (
  SELECT doc_id,
         """
    + ",\n         ".join(
        f"SUM(((h // {2**j}) % 2) * 2 - 1) AS b{j}" for j in range(SIMHASH_BITS)
    )
    + """
  FROM th GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         """
    + " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    + f""" AS simhash
  FROM bits
)
SELECT x.doc_id AS doc1, y.doc_id AS doc2,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {SIMHASH_MAX_HAMMING}
"""
)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash: bigint) — 32-bit sign-of-vote sketch over the
    distinct-token md5 hashes (engine-neutral, see module docstring)."""
    toks = spread_docs(docs).select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("tok")
    )
    th = toks.select("doc_id", _spark_hash60(F.col("tok")).alias("h"))
    bits = th.groupBy("doc_id").agg(*simhash_col_aggs())
    sig = sum(
        (F.when(F.col(f"b{j}") > 0, F.lit(2**j)).otherwise(F.lit(0)))
        for j in range(SIMHASH_BITS)
    )
    return bits.select("doc_id", sig.cast("bigint").alias("simhash"))


@query("dedup_simhash", oracle=_SQL_SIMHASH_PAIRS, baseline_of="dedup_simhash_blocked")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit sign-of-vote sketch per doc,
    Hamming-distance filter on pairs. (Pairing here is all-pairs for
    oracle parity; dedup_simhash_blocked below is the byte-banded
    scale path.)"""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sigs = simhash_signatures(docs)
    # bigint on both sides: DuckDB bit_count is TINYINT, Spark's is INT;
    # the driver's value-hash is typed.
    hamming = F.bit_count(
        F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    ).cast("bigint")
    return (
        sigs.alias("x")
        .join(sigs.alias("y"), F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc1"),
            F.col("y.doc_id").alias("doc2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


@query("dedup_simhash_blocked", oracle=_SQL_SIMHASH_PAIRS)
def dedup_simhash_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash SCALE path: band the 32-bit sketch into 4 bytes and
    equi-join on (band_idx, byte). Any pair within Hamming distance 1
    differs in at most one byte, so it collides on ≥3 of the 4 bands —
    the blocking provably finds every qualifying pair, which is exactly
    what sharing the all-pairs oracle asserts. Candidate generation is
    O(colliding pairs) instead of O(n²): the same pigeonhole banding as
    MinHash-LSH, driven by the sketch bytes instead of signature rows."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # The bands self-join consumes the signature pipeline TWICE —
    # persist is the rare win here (multi-consumed relation, like
    # ngram_jaccard's shingle self-join); single-pass stages stay
    # unpersisted (recompute beats the cache round-trip).
    sigs = slot_persist(spark, "simhash", simhash_signatures(docs))
    n_bands = SIMHASH_BITS // 8
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_idx"),
                        (F.shiftright(F.col("simhash"), 8 * k) % 256).alias("byte"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_idx", "b.byte")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.byte") == F.col("y.byte"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc1"),
            F.col("y.doc_id").alias("doc2"),
            F.col("x.simhash").alias("sig1"),
            F.col("y.simhash").alias("sig2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2"))).cast("bigint")
    return (
        cand.select("doc1", "doc2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.40


@query(
    "dedup_embedding_cosine",
    baseline_of="ann_lsh_bucketed_topk",
    oracle=f"""
WITH norms AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS vec1, b.vec_id AS vec2,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM norms a JOIN norms b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: pairwise cosine ≥ threshold. All-pairs
    here (oracle-exact); operators.similarity holds the bucketed scale
    path. Dot products are sequential folds over double-cast elements
    — JVM-side zip_with/aggregate, no UDF."""
    from etl_pipeline_sam_gov_spark.operators.similarity import with_norms

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # with_norms also spreads the single-file scan across the session
    # parallelism — without it the O(N²) pair loop runs on ONE core
    # (similarity._parallelize).
    norms = with_norms(emb)
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        norms.alias("a")
        .join(norms.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .withColumn("cosine", F.round("cosine", 6))
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the LSH match graph
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 25


def _sql_cluster_components() -> str:
    """Recursive-CTE oracle: transitive closure of the pair graph, then
    min reachable id per node. Closure is quadratic per component —
    fine for an oracle (near-dup clusters are small), never the
    engine's own strategy."""
    return (
        "WITH RECURSIVE "
        + _sql_minhash_pair_ctes()
        + """,
bidir AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION ALL
  SELECT doc2, doc1 FROM pairs
),
reach(src, dst) AS (
  SELECT a, b FROM bidir
  UNION
  SELECT r.src, e.b FROM reach r JOIN bidir e ON e.a = r.dst
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
FROM reach GROUP BY src
"""
    )


@query("dedup_cluster_components", oracle=_sql_cluster_components())
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup needs *clusters*, not pairs: each near-dup group
    keeps one canonical doc. Components of the MinHash-LSH match graph
    via iterative min-label propagation (GraphX-style Pregel loop as
    plain DataFrame joins).

    Scale notes: each round is one shuffle join keyed on the node id;
    labels only decrease, so convergence is monotone and the driver's
    stop check is a single scalar aggregate (sum of labels — equal ⇔
    fixpoint), never a row collect. Rounds = graph diameter; near-dup
    components are shallow (dozens of docs), so a handful of rounds.
    Every ``CC_CHECKPOINT_EVERY`` rounds the label table is
    checkpointed, truncating lineage so plan depth stays bounded no
    matter how many rounds run (on a real cluster swap
    ``localCheckpoint`` for reliable ``checkpoint`` to cluster storage
    so executor loss can't lose rounds). Adversarially deep graphs get
    the two-phase large-star/small-star variant (Kiveris et al.,
    "Connected Components in MapReduce") — same join primitive,
    O(log n) rounds."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # Adaptive cache widths: 3.91 → 3.44 s at sf0.1 (r10 A/B).
    edges = minhash_duplicate_pairs(docs, adaptive=True).select("doc1", "doc2")
    with slot(spark, "cc_bidir", adaptive=True) as keep:
        bidir = keep(
            edges.union(edges.select(F.col("doc2"), F.col("doc1"))).toDF("a", "b")
        )
        labels = propagate_min_labels(bidir)
        keep.drop(bidir)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


#: Truncate label-table lineage every N propagation rounds.
CC_CHECKPOINT_EVERY = 3


def propagate_min_labels(bidir: DataFrame) -> DataFrame:
    """Min-label propagation over a symmetric edge list (a, b) until
    fixpoint; returns (node, label). See dedup_cluster_components for
    the scale argument and its adaptive cache pin. The returned labels
    stay persisted in the session's "cc_labels" slot until the next
    call releases them; each round drops the previous round's."""
    with slot(bidir.sparkSession, "cc_labels", adaptive=True) as keep:
        labels = keep(
            bidir.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
        )
        prev_sum = labels.agg(F.sum("label")).collect()[0][0]
        for it in range(CC_MAX_ITERS):
            neigh = (
                bidir.join(labels, F.col("b") == F.col("node"))
                .groupBy("a")
                .agg(F.min("label").alias("nl"))
            )
            new_labels = labels.join(
                neigh, F.col("node") == F.col("a"), "left"
            ).select(
                "node",
                F.least(F.col("label"), F.coalesce("nl", "label")).alias("label"),
            )
            if (it + 1) % CC_CHECKPOINT_EVERY == 0:
                # cut the join-chain lineage: the plan for round N must not
                # embed rounds 1..N-1 (plan size/analysis cost would grow
                # per round and a lost partition would recompute the chain)
                new_labels = new_labels.localCheckpoint(eager=True)
            else:
                new_labels = keep(new_labels)
            cur_sum = new_labels.agg(F.sum("label")).collect()[0][0]
            keep.drop(labels)
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            raise RuntimeError(
                f"label propagation did not converge in {CC_MAX_ITERS} rounds"
            )
    return labels


@query(
    "dedup_incremental_new_docs",
    oracle="""
WITH base AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 10 < 7),
inc AS (SELECT doc_id, md5(text) AS content_hash FROM documents
        WHERE doc_id % 10 >= 7)
SELECT doc_id, content_hash
FROM inc
WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.h = inc.content_hash)
""",
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (snapshot-delta) dedup — the production pattern: new
    arrivals are deduped against the existing corpus by content hash,
    never corpus-against-corpus. An anti join keyed on the 128-bit hash
    keeps shuffle rows fixed-width and makes the nightly cost
    O(new + matched-bucket), independent of total corpus size. The
    fixture models the snapshot boundary as a doc_id hash split; in
    production `base` is the accumulated hash index (bucketed on hash,
    so the anti join co-locates without reshuffling the corpus)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = docs.filter(F.col("doc_id") % 10 < 7).select(F.md5("text").alias("h"))
    inc = docs.filter(F.col("doc_id") % 10 >= 7).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    return inc.join(base, inc.content_hash == base.h, "left_anti")


@query(
    "dedup_crossdoc_ngrams",
    oracle="WITH "
    + _SQL_SHINGLES.strip()
    + """,
per AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM sh GROUP BY doc_id),
dupes AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1),
dup AS (SELECT doc_id, count(*)::BIGINT AS n_dup FROM sh JOIN dupes USING (shingle)
        GROUP BY doc_id)
SELECT per.doc_id,
       n_shingles,
       coalesce(n_dup, 0)::BIGINT AS n_dup_shingles,
       round(coalesce(n_dup, 0)::DOUBLE / n_shingles, 6) AS dup_frac,
       round(coalesce(n_dup, 0)::DOUBLE / n_shingles, 6) <= 0.5 AS keep
FROM per LEFT JOIN dup USING (doc_id)
WHERE n_shingles > 0
""",
)
def dedup_crossdoc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate n-gram fraction (the Gopher/Dolma-style
    "fraction of this doc's n-grams that appear in other docs" quality
    signal) — distinct from text_repetition_quality, which measures
    WITHIN-doc repetition: a doc can be internally clean yet mostly
    boilerplate shared across the corpus, and this is the signal that
    catches it.

    Scale shape — the part that must survive 100 TB: per-doc shingle
    counts come straight from the generation pass (no join needed for
    the denominator), and the corpus-frequency side is reduced to ONLY
    the duplicated shingles (HAVING count > 1) before any join — the
    join then carries the boilerplate subset, not the corpus. Both
    aggregations are map-side-combinable groupBys on the shingle hash;
    nothing is ever collected."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # ONE tokenize+shingle pass (same persist idiom as
    # minhash_duplicate_pairs): the denominator, the corpus-frequency
    # side, and the dup-count probe all derive from the cached arrays.
    # Deriving n_shingles from the cache also keeps the >0 filter from
    # being pushed below the projection, where InferFilters would clone
    # the whole shingle construction into a pre-Exchange single-task
    # filter over raw text (the doc_shingles trap).
    arrs = cached_shingle_arrays(docs, adaptive=False)
    base = arrs.select(
        "doc_id", F.size("arr").cast("bigint").alias("n_shingles")
    ).filter(F.col("n_shingles") > 0)
    # Shingle IDENTITY is all the frequency side needs, so both the
    # corpus-frequency groupBy and the dup-probe join key on the 60-bit
    # md5-derived key (_spark_hash60) — fixed 8-byte bigint shuffle
    # rows instead of raw n-gram text (the text_boilerplate_removal
    # discipline).
    sh = arrs.select("doc_id", F.explode("arr").alias("shingle")).select(
        "doc_id", _spark_hash60(F.col("shingle")).alias("sh")
    )
    dupes = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 1)
        .select("sh")
    )
    dup = sh.join(dupes, "sh").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup")
    )
    frac = F.round(
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("double") / F.col("n_shingles"), 6
    )
    return base.join(dup, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup_shingles"),
        frac.alias("dup_frac"),
        (frac <= 0.5).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster embeddings, prune within clusters
# ---------------------------------------------------------------------------

#: Seed-cluster count and the dup threshold τ = TAU_NUM/TAU_DEN = 0.40
#: (same bar as COSINE_DUP_THRESHOLD so the two surfaces agree on what
#: "near-duplicate" means).
SEMDEDUP_K = 8
SEMDEDUP_TAU_NUM = 2
SEMDEDUP_TAU_DEN = 5
_SD_SCALE = 1024  # dyadic fixed-point (2^-10), cf. operators.ml.KM_SCALE
#: Per-cluster size cap for the capped scale path: clusters larger than
#: this are deterministically sub-bucketed before the pair stage, so
#: within-bucket pair counts are ≤ cap² regardless of cluster skew.
SEMDEDUP_MAX_CLUSTER = 32


def _sd_ctes(base: str = "embeddings", cap: int | None = None) -> str:
    """The SemDeDup CTE chain (q → norms → seeds → dist → assign →
    pairs → dups) over an arbitrary base relation exposing
    (vec_id, embedding) — shared by the standalone query and the
    composed curation pipeline, so both oracles stay one source of
    truth. With ``cap`` set, oversized clusters sub-bucket by an
    md5-derived hash of vec_id into ceil(|c|/cap) buckets before the
    pair stage (the capped scale path's oracle)."""
    tn, td = SEMDEDUP_TAU_NUM, SEMDEDUP_TAU_DEN
    if cap is None:
        pair_src, pair_on = "assign", "a.cid = b.cid"
    else:
        pair_src, pair_on = "asub", "a.cid = b.cid AND a.sub = b.sub"
    sub_cte = (
        ""
        if cap is None
        else f""",
asub AS (
  SELECT vec_id, cid,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
           % CAST(ceil((COUNT(*) OVER (PARTITION BY cid)) / {cap}.0) AS BIGINT)
           AS sub
  FROM assign
)"""
    )
    return f"""q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> round(x * {_SD_SCALE}, 0) / {_SD_SCALE}) AS v
  FROM {base}
),
norms AS (SELECT vec_id, v, list_dot_product(v, v) AS nsq FROM q),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         v AS sv, list_dot_product(v, v) AS snsq
  FROM q
  WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT {SEMDEDUP_K})
),
dist AS (
  SELECT n.vec_id, s.cid,
         n.nsq + s.snsq - 2 * list_dot_product(n.v, s.sv) AS d
  FROM norms n CROSS JOIN seeds s
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dist) WHERE rn = 1
){sub_cte},
pairs AS (
  SELECT b.vec_id AS v2,
         list_dot_product(na.v, nb.v) AS dot,
         na.nsq AS nsq1, nb.nsq AS nsq2
  FROM {pair_src} a
  JOIN {pair_src} b ON {pair_on} AND a.vec_id < b.vec_id
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
),
dups AS (
  SELECT DISTINCT v2 AS vec_id FROM pairs
  WHERE dot > 0 AND {td * td} * dot * dot >= {tn * tn} * nsq1 * nsq2
)"""


#: Per-vector verdict over the full CTE chain.
_SD_SELECT = """
SELECT a.vec_id, a.cid AS cluster, (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN dups d USING (vec_id)
"""


def semantic_keep(
    emb: DataFrame, max_cluster_size: int | None = None
) -> DataFrame:
    """(vec_id, cluster, keep) SemDeDup verdicts for any relation
    exposing (vec_id, embedding) — the engine core behind
    dedup_semantic_clusters and the composed curation pipeline.
    See dedup_semantic_clusters for the semantics/scale contract.

    ``max_cluster_size`` enables the capped scale path: a cluster with
    |c| members sub-buckets into ceil(|c|/cap) deterministic md5-hash
    buckets and pruning runs within buckets, bounding the pair stage at
    ~cap²·ceil(|c|/cap) comparisons per cluster — LINEAR in |c| for
    fixed cap, so one skewed mega-cluster can no longer go quadratic.
    Trade-off: a duplicate pair split across buckets is missed, so the
    capped keep-set is a SUPERSET of the exact one (capping only ever
    keeps more; it never drops a non-duplicate)."""
    from pyspark.sql import Window as W

    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * _SD_SCALE, 0) / _SD_SCALE
    )
    base = emb.select("vec_id", qv.alias("v")).repartition(32, "vec_id")

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    norms = base.select("vec_id", "v", fold_dot(F.col("v"), F.col("v")).alias("nsq"))
    seeds = (
        norms.orderBy("vec_id")
        .limit(SEMDEDUP_K)
        .select(
            (F.row_number().over(W.orderBy("vec_id")) - 1).cast("bigint").alias("cid"),
            F.col("v").alias("sv"),
            F.col("nsq").alias("snsq"),
        )
    )
    dist = norms.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "cid",
        (F.col("nsq") + F.col("snsq") - 2 * fold_dot(F.col("v"), F.col("sv"))).alias(
            "d"
        ),
    )
    rn = F.row_number().over(W.partitionBy("vec_id").orderBy("d", "cid"))
    # materialize ONCE: the pair stage self-joins this relation, and
    # without the persist each alias re-runs the whole quantize +
    # distance + argmin chain (measured ~40% of end-to-end at sf0.1).
    # At cluster scale this is the natural stage boundary a real
    # pipeline writes to storage between clustering and pruning. The
    # capped and uncapped paths persist the same plan: one slot.
    assign = slot_persist(
        emb.sparkSession,
        "semdedup",
        dist.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
        .join(norms, "vec_id"),
    )
    work = assign
    if max_cluster_size is not None:
        n_sub = F.ceil(
            F.count(F.lit(1)).over(W.partitionBy("cid"))
            / float(max_cluster_size)
        )
        work = assign.withColumn(
            "sub", _spark_hash60(F.col("vec_id").cast("string")) % n_sub
        )
    a, b = work.alias("a"), work.alias("b")
    tn2 = SEMDEDUP_TAU_NUM * SEMDEDUP_TAU_NUM
    td2 = SEMDEDUP_TAU_DEN * SEMDEDUP_TAU_DEN
    dot = fold_dot(F.col("a.v"), F.col("b.v"))
    pair_cond = (F.col("a.cid") == F.col("b.cid")) & (
        F.col("a.vec_id") < F.col("b.vec_id")
    )
    if max_cluster_size is not None:
        pair_cond = pair_cond & (F.col("a.sub") == F.col("b.sub"))
    dups = (
        a.join(b, pair_cond)
        .select(F.col("b.vec_id").alias("vec_id"), dot.alias("dot"),
                F.col("a.nsq").alias("nsq1"), F.col("b.nsq").alias("nsq2"))
        .filter(
            (F.col("dot") > 0)
            & (td2 * F.col("dot") * F.col("dot") >= tn2 * F.col("nsq1") * F.col("nsq2"))
        )
        .select("vec_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assign.select("vec_id", F.col("cid").alias("cluster"))
        .join(dups, "vec_id", "left")
        .select("vec_id", "cluster", F.coalesce(~F.col("is_dup"), F.lit(True)).alias("keep"))
    )


@query("dedup_semantic_clusters", oracle="WITH " + _sd_ctes() + _SD_SELECT)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-cluster the
    embedding space, then prune near-duplicates WITHIN each cluster —
    keep a vector unless a lower-id cluster-mate sits at cosine ≥ τ.
    Clustering bounds the quadratic: all-pairs cosine over the corpus
    is O(N²) (the dedup_embedding_cosine baseline), within-cluster
    pairs are O(Σ|c|²) — with balanced clusters, a 1/k reduction, and
    at 100 TB k grows with the corpus so cluster sizes stay bounded.

    Determinism contract: every float op is dyadic fixed-point
    (operators.ml discipline) — vectors quantize to multiples of
    2^-10, so dot products / squared norms / distances are exact and
    order-independent, and the threshold test runs entirely in exact
    arithmetic: cos ≥ τ ⇔ dot > 0 ∧ τ_den²·dot² ≥ τ_num²·|a|²·|b|²
    (no division, no sqrt — both of which round engine-dependently).

    Scale shape: seeds (the first-k vectors — production would sample)
    broadcast as k rows; assignment is a map-side cross join with the
    k×dim broadcast + one partial-combined argmin — the corpus never
    shuffles for assignment. The pair stage shuffles once keyed on
    cid; within-cluster self-join is the bounded quadratic above.
    Distances use ‖a‖² + ‖s‖² − 2⟨a,s⟩ so the per-seed work is one
    zip_with fold, JVM-side, no UDF."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return semantic_keep(emb)


@query(
    "dedup_semantic_capped",
    oracle="WITH " + _sd_ctes(cap=SEMDEDUP_MAX_CLUSTER) + _SD_SELECT,
)
def dedup_semantic_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a per-cluster size cap — the 100× skew-proof twin
    of dedup_semantic_clusters. The uncapped pair stage is O(Σ|c|²):
    fine when k scales with the corpus, quadratic disaster when one
    mega-cluster absorbs a constant fraction of it (embedding spaces
    DO produce such clusters — boilerplate, templated spam). Here a
    cluster of |c| members sub-buckets into ceil(|c|/SEMDEDUP_MAX_
    CLUSTER) deterministic md5(vec_id) buckets and pruning runs within
    buckets: per-cluster work drops to ~cap·|c| — linear — at the cost
    of missing cross-bucket duplicate pairs, so the capped keep-set is
    a proven SUPERSET of the exact one (tested); recall lost is the
    price of the worst-case bound, the same trade LSH banding makes.
    Sub-bucketing is hash-based (not range/ntile) so bucket membership
    is stable under corpus append — re-running after ingest doesn't
    reshuffle old members across buckets."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return semantic_keep(emb, max_cluster_size=SEMDEDUP_MAX_CLUSTER)


# ---------------------------------------------------------------------------
# Asymmetric containment (subset-duplication)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_shingle_containment",
    oracle="WITH "
    + _SQL_SHINGLES
    + f""",
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc, COUNT(*) AS intersection
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT inner_doc, outer_doc,
       round(intersection::DOUBLE / si.sz, 6) AS containment
FROM pairs
JOIN sizes si ON si.doc_id = inner_doc
JOIN sizes so ON so.doc_id = outer_doc
WHERE intersection::DOUBLE / si.sz >= {CONTAINMENT_THRESHOLD}
  AND si.sz <= so.sz
""",
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / |A| — the near-dup
    signal Jaccard structurally MISSES: a short document quoted whole
    inside a long one has tiny Jaccard (union is dominated by the long
    doc) but containment ≈ 1. Web corpora are full of exactly this
    (syndicated articles, quoted posts), which is why dedup pipelines
    run a containment pass beside the symmetric one.

    Scale shape: same candidate generation as the Jaccard pass — the
    shingle equi-join materializes only co-shingled pairs — but scored
    directionally and kept only when the inner (contained) doc is the
    smaller side. The shingle relation persists once and feeds the
    pair join and both size lookups."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = cached_doc_shingles(docs)
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("inner_doc"),
            F.col("b.doc_id").alias("outer_doc"),
        )
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    si = sizes.select(F.col("doc_id").alias("inner_doc"), F.col("sz").alias("szi"))
    so = sizes.select(F.col("doc_id").alias("outer_doc"), F.col("sz").alias("szo"))
    cont = F.col("intersection").cast("double") / F.col("szi")
    return (
        inter.join(si, "inner_doc")
        .join(so, "outer_doc")
        .filter((cont >= CONTAINMENT_THRESHOLD) & (F.col("szi") <= F.col("szo")))
        .select("inner_doc", "outer_doc", F.round(cont, 6).alias("containment"))
    )


def _sql_minhash_estimate() -> str:
    eq_sum = " + ".join(
        f"CASE WHEN a.s{k} = b.s{k} THEN 1 ELSE 0 END"
        for k in range(len(MINHASH_PERMS))
    )
    return (
        "WITH "
        + _sql_minhash_pair_ctes()
        + f""",
est AS (
  SELECT c.doc1, c.doc2,
         ({eq_sum})::DOUBLE / {len(MINHASH_PERMS)} AS est_j
  FROM cand c
  JOIN sigs a ON a.doc_id = c.doc1
  JOIN sigs b ON b.doc_id = c.doc2
),
exact_j AS (
  SELECT c.doc1, c.doc2,
         COALESCE(i.intersection, 0)::DOUBLE
           / (s1.sz + s2.sz - COALESCE(i.intersection, 0)) AS ex_j
  FROM cand c
  LEFT JOIN inter i ON i.doc1 = c.doc1 AND i.doc2 = c.doc2
  JOIN sizes s1 ON s1.doc_id = c.doc1
  JOIN sizes s2 ON s2.doc_id = c.doc2
)
SELECT e.doc1, e.doc2,
       round(e.est_j, 6) AS est_jaccard,
       round(x.ex_j, 6) AS exact_jaccard,
       round(abs(e.est_j - x.ex_j), 6) AS abs_err
FROM est e
JOIN exact_j x ON x.doc1 = e.doc1 AND x.doc2 = e.doc2
"""
    )


@query("dedup_minhash_estimate_quality", oracle=_sql_minhash_estimate())
def dedup_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality readout for the MinHash sketch: for every LSH
    candidate pair, the signature-agreement Jaccard estimate
    (matching components / 16 — the unbiased MinHash estimator) next
    to the EXACT shingle Jaccard, with the absolute error — the
    evaluation that justifies trusting 16 integers per document in
    place of its whole shingle set (the agg_approx_sketches /
    ann_recall_at_k pattern: certify the approximation's quality, not
    just its arithmetic).

    Scale: both legs are candidate-set-sized — signature agreement
    joins two 16-column rows per pair; exact Jaccard intersects the
    persisted per-doc shingle ARRAYS inside the row (the
    dedup_minhash_lsh verification shape). Estimates are exact-int
    ratios; everything renders through round(6)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    arrs = cached_shingle_arrays(docs, adaptive=False)
    sh = arrs.select("doc_id", F.explode("arr").alias("shingle"))
    sigs = minhash_signatures(sh)
    cand = lsh_candidate_pairs(sigs)
    k = len(MINHASH_PERMS)
    eq_sum = None
    for i in range(k):
        t = (F.col(f"a.s{i}") == F.col(f"b.s{i}")).cast("int")
        eq_sum = t if eq_sum is None else eq_sum + t
    est = (
        cand.join(sigs.alias("a"), F.col("a.doc_id") == F.col("doc1"))
        .join(sigs.alias("b"), F.col("b.doc_id") == F.col("doc2"))
        .select(
            "doc1",
            "doc2",
            (eq_sum.cast("double") / k).alias("est_j"),
        )
    )
    a1 = arrs.select(
        F.col("doc_id").alias("doc1"), F.col("arr").alias("arr1")
    )
    a2 = arrs.select(
        F.col("doc_id").alias("doc2"), F.col("arr").alias("arr2")
    )
    exact = (
        cand.join(a1, "doc1")
        .join(a2, "doc2")
        .select(
            "doc1",
            "doc2",
            (
                F.size(F.array_intersect("arr1", "arr2")).cast("double")
                / (
                    F.size("arr1")
                    + F.size("arr2")
                    - F.size(F.array_intersect("arr1", "arr2"))
                )
            ).alias("ex_j"),
        )
    )
    return est.join(exact, ["doc1", "doc2"]).select(
        "doc1",
        "doc2",
        F.round("est_j", 6).alias("est_jaccard"),
        F.round("ex_j", 6).alias("exact_jaccard"),
        F.round(F.abs(F.col("est_j") - F.col("ex_j")), 6).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# URL-canonicalization dedup (web-corpus provenance dedup)
# ---------------------------------------------------------------------------

#: Page-group modulus for the synthesized URL variants — coprime with
#: the 5 variant styles so every page group mixes several styles.
URL_GROUP_MOD = 199


def _messy_url() -> Column:
    """Deterministically synthesized messy URL for each document: one
    of 5 real-world non-canonical spellings (scheme/host case, default
    port, trailing slash, tracking params, fragment) of the page
    ``https://example.org/page/<doc_id % URL_GROUP_MOD>``."""
    g = (F.col("doc_id") % URL_GROUP_MOD).cast("string")
    v = F.col("doc_id") % 5
    base = F.concat(F.lit("https://example.org/page/"), g)
    return (
        F.when(v == 0, base)
        .when(v == 1, F.concat(F.lit("HTTPS://EXAMPLE.ORG/page/"), g,
                               F.lit("#section-2")))
        .when(v == 2, F.concat(F.lit("https://example.org:443/page/"), g))
        .when(v == 3, F.concat(base, F.lit("/")))
        .otherwise(
            F.concat(base, F.lit("?utm_source=feed&utm_campaign=x"))
        )
    )


def canonicalize_url(url: Column) -> Column:
    """Generic URL canonicalizer (no knowledge of the generator):
    strip fragment → lowercase scheme+authority → drop default :443/:80
    ports → drop utm_* tracking params (cleaning dangling ?/&) → strip
    one trailing slash on a non-root path. Pure JVM regex chain —
    scan-stage, codegen'd, no UDF."""
    u = F.regexp_replace(url, r"#.*$", "")
    scheme_host = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    host_clean = F.regexp_replace(scheme_host, r":(443|80)$", "")
    joined = F.concat(host_clean, rest)
    no_utm = F.regexp_replace(joined, r"([?&])utm_[^&]*", "$1")
    no_dangle = F.regexp_replace(
        F.regexp_replace(no_utm, r"[?&]+$", ""), r"\?&", "?"
    )
    return F.regexp_replace(no_dangle, r"(.+://.+/.+)/$", "$1")


@query(
    "dedup_url_canonicalized",
    oracle=f"""
WITH u AS (
  SELECT doc_id,
         'https://example.org/page/' || CAST(doc_id % {URL_GROUP_MOD} AS VARCHAR)
           AS canonical_url
  FROM documents
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       MIN(doc_id) AS kept_doc_id
FROM u GROUP BY canonical_url
""",
)
def dedup_url_canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup stage of every
    web-crawl corpus (C4, CCNet, RefinedWeb): collapse re-crawls of
    the same page that differ only in scheme/host case, default port,
    trailing slash, #fragment, or utm_* tracking params, keeping the
    smallest doc_id per canonical URL. The canonicalizer is a generic
    scan-stage regex chain (``canonicalize_url``); the oracle predicts
    the canonical form from the URL generator's arithmetic
    (derivation-oracle pattern, cf. fn_url_parse), so the hash match
    PROVES the chain normalizes all five variant styles. Scale shape:
    narrow map + one partial-combined groupBy on the canonical key —
    the exact-dedup shape (dedup_exact), corpus-linear."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        docs.select(
            "doc_id", canonicalize_url(_messy_url()).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("doc_id").alias("kept_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Keep-best dedup (quality-ranked canonical selection)
# ---------------------------------------------------------------------------


def _keep_best_oracle() -> str:
    from etl_pipeline_sam_gov_spark.operators.text import SQL_QUALITY_LOGIT

    return f"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split_regex(text, '\\s+'))), ' '))
           AS fingerprint,
         {SQL_QUALITY_LOGIT} AS logit
  FROM documents
),
rankedkb AS (
  SELECT fingerprint, doc_id, logit,
         row_number() OVER (PARTITION BY fingerprint
                            ORDER BY logit DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY fingerprint) AS n_members,
         MAX(logit) OVER (PARTITION BY fingerprint)
           - MIN(logit) OVER (PARTITION BY fingerprint) AS logit_spread
  FROM fp
)
SELECT fingerprint, doc_id AS kept_doc_id, logit AS kept_logit,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(logit_spread AS BIGINT) AS logit_spread
FROM rankedkb WHERE rn = 1 AND n_members > 1
"""


@query("dedup_keep_best_quality", oracle=_keep_best_oracle())
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked canonical selection: within each near-duplicate
    cluster (token-set fingerprint — docs that shuffle or repeat the
    same vocabulary), keep the HIGHEST-quality member by the certified
    integer classifier logit (ties to the smaller doc_id) instead of
    the arbitrary min-id the plain dedup queries use — the "keep best,
    not first" policy production pipelines apply so dedup doesn't
    silently prefer the worst-OCR'd copy of a page. Emits the
    surviving doc per multi-member cluster with the cluster size and
    the quality spread the policy actually exercised.

    Scale shape: fingerprint and logit are scan-stage folds (zero
    shuffle); ONE exchange keyed on the fingerprint serves the rank,
    count, and spread windows together (shared window spec). Entirely
    exact integers — argmax cannot tie-break differently across
    engines."""
    from pyspark.sql import Window as W

    from etl_pipeline_sam_gov_spark.operators.text import quality_logit

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.sort_array(F.array_distinct(tokens_col())))
        ).alias("fingerprint"),
        quality_logit().alias("logit"),
    )
    wall = W.partitionBy("fingerprint")
    rn = F.row_number().over(
        wall.orderBy(F.desc("logit"), F.asc("doc_id"))
    )
    ranked = fp.select(
        "fingerprint",
        "doc_id",
        "logit",
        rn.alias("rn"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n_members"),
        (F.max("logit").over(wall) - F.min("logit").over(wall))
        .cast("bigint")
        .alias("logit_spread"),
    )
    return ranked.filter(
        (F.col("rn") == 1) & (F.col("n_members") > 1)
    ).select(
        "fingerprint",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("logit").alias("kept_logit"),
        "n_members",
        "logit_spread",
    )


# ---------------------------------------------------------------------------
# Suffix/prefix overlap pairs (document-stitching detection)
# ---------------------------------------------------------------------------

STITCH_M = 3  #: overlap length in tokens


@query(
    "dedup_suffix_prefix_overlap",
    oracle=rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
),
k AS (
  SELECT doc_id,
         array_to_string(tk[1:{STITCH_M}], ' ') AS pre,
         array_to_string(tk[-{STITCH_M}:], ' ') AS suf
  FROM t WHERE len(tk) >= {STITCH_M}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.suf AS overlap_text
FROM k a JOIN k b ON a.suf = b.pre AND a.doc_id <> b.doc_id
""",
)
def dedup_suffix_prefix_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix→prefix overlap pairs: document A's last STITCH_M tokens
    equal document B's first STITCH_M tokens — the detection primitive
    for SPLIT documents (a crawler that sharded one page into two
    records, a log rotation mid-document) whose halves an LLM corpus
    wants stitched back together or deduplicated as partial copies.
    Boundary-only comparison is what distinguishes this from the
    containment/Jaccard family: interior content never joins.

    Scale shape: one narrow per-doc projection to TWO fixed-width
    boundary keys (never the token array), then an equi-join keyed on
    the boundary text. Key frequency is bounded by boilerplate
    repetition; a hot boundary phrase is exactly the skew AQE's
    skew-join splits. Output is pair-listed for the CC clustering
    stage (dedup_cluster_components) to consume."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tokd = spread_docs(docs).select("doc_id", tokens_col().alias("tk"))
    k = tokd.filter(F.size("tk") >= STITCH_M).select(
        "doc_id",
        F.concat_ws(" ", F.slice("tk", 1, STITCH_M)).alias("pre"),
        F.concat_ws(" ", F.slice(F.col("tk"), -STITCH_M, STITCH_M)).alias(
            "suf"
        ),
    )
    a = k.select(F.col("doc_id").alias("doc_a"), F.col("suf"))
    b = k.select(F.col("doc_id").alias("doc_b"), F.col("pre"))
    return (
        a.join(b, a["suf"] == b["pre"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("suf").alias("overlap_text"))
    )


# ---------------------------------------------------------------------------
# Blocked edit-distance (Levenshtein) near-duplicate pairs
# ---------------------------------------------------------------------------

LEV_PREFIX = 24   #: blocking key: first 24 chars
LEV_MAX_DIST = 16  #: absolute edit-distance acceptance threshold
LEV_WINDOW = 8    #: sorted-neighborhood width inside a block


def _lev_blocked_sql(banded: bool = False) -> str:
    """Shared SQL modulo ONE spelling: ``levenshtein`` is built into
    both engines with identical unit-cost semantics, and both rank the
    sorted neighborhood with the same (length, doc_id) order. With
    ``banded=True`` (the Spark execution path) the distance calls use
    Spark's threshold form ``levenshtein(a, b, k)`` — Ukkonen's banded
    DP, O(k·len) per pair instead of O(len²), returning −1 past the
    threshold; for surviving pairs (distance ≤ k) the value is the
    exact distance, so results are identical to the portable form the
    DuckDB oracle runs."""
    if banded:
        pred = f"levenshtein(a.text, b.text, {LEV_MAX_DIST}) <> -1"
        dist = f"levenshtein(a.text, b.text, {LEV_MAX_DIST})"
    else:
        pred = f"levenshtein(a.text, b.text) <= {LEV_MAX_DIST}"
        dist = "levenshtein(a.text, b.text)"
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS ln,
         substr(text, 1, {LEV_PREFIX}) AS pfx,
         row_number() OVER (PARTITION BY substr(text, 1, {LEV_PREFIX})
                            ORDER BY length(text), doc_id) AS rn
  FROM documents
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(a.ln AS BIGINT) AS len_a, CAST(b.ln AS BIGINT) AS len_b,
         CAST({dist} AS BIGINT) AS edit_dist
  FROM d a JOIN d b
    ON a.pfx = b.pfx AND a.doc_id < b.doc_id
   AND abs(a.rn - b.rn) <= {LEV_WINDOW}
   AND abs(a.ln - b.ln) <= {LEV_MAX_DIST}
   AND {pred}
)
SELECT doc_a, doc_b, len_a, len_b, edit_dist,
       round(CAST(edit_dist AS DOUBLE)
             / CASE WHEN len_a >= len_b THEN len_a ELSE len_b END, 6)
         AS rel_dist
FROM cand
"""


@query("dedup_levenshtein_blocked", oracle=_lev_blocked_sql())
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE near-duplicate pairs — the character-level member
    of the dedup family (MinHash/Jaccard see shingle SETS and miss
    small in-place edits that preserve few shingles; Levenshtein
    counts the edits themselves, the right notion for OCR noise,
    template fills, and single-token substitutions).

    The quadratic is tamed by THREE prunes before any distance call:
    (1) equi-join blocking on the first {24}-char prefix — candidate
    pairs must share it, turning all-pairs into per-block pairs; (2)
    a sorted-neighborhood window (Hernández & Stolfo '95) INSIDE each
    block — docs rank by (length, doc_id) and only pairs within
    {LEV_WINDOW} ranks compare, so a hot block (boilerplate openers,
    template fills — exactly what a 100 TB crawl has) costs
    |block|×W, never |block|²: the corpus-amplification stress
    measured the unwindowed form at 102× time for 4× data (every
    replica shares its original's prefix) and the windowed form
    linear; (3) the length window |len_a − len_b| ≤ d, sound because
    edit distance is ≥ the length difference. Within the neighborhood
    the distance is exact. Prefix blocking + neighborhood trade
    recall for scale exactly like SimHash banding: an edit inside the
    first 24 chars, or a pair separated by > W same-prefix docs of
    intermediate length, escapes (dedup_minhash_lsh is the
    recall-safe companion; production runs both keys plus a suffix
    block). At every fixture scale the widest block is 4 docs, so the
    window is not binding there and certified outputs are unchanged.
    Identical ``levenshtein``/``row_number`` built-ins make ONE
    shared SQL text drive both engines.

    Scale: one narrow scan builds (prefix, length) keys; one
    partition-local equi-join per block; O(len²) DP only on surviving
    candidates — the same candidate-then-verify shape as every other
    dedup scale path here. Predicate ORDER is load-bearing: all the
    conjuncts live in the ON clause with the cheap guards (doc_id <,
    length window) ahead of the DP, because Spark appends
    WHERE-pushed conjuncts BEFORE the original join condition — the
    naive outer-WHERE spelling ran the full DP on every same-prefix
    pair including the 1-per-doc self-pairs (measured 6× slower at
    sf0.1). The Spark side runs the banded-DP spelling (see
    _lev_blocked_sql): under the 16× duplicate-dense stress the full
    DP cost 279 s of pure verification; the band is the production
    answer for exactly that corpus."""
    load_tables(spark, sf_dir, ("documents",))
    return spark.sql(_lev_blocked_sql(banded=True))
