"""Byte-pair-encoding vocabulary induction over the corpus word
distribution (SURVEY.md §2.12 extensions) — the tokenizer-training
kernel (Sennrich et al., "Neural Machine Translation of Rare Words
with Subword Units"): repeatedly count adjacent symbol pairs weighted
by word frequency, merge the most frequent pair, repeat.

Scale shape: the corpus is touched ONCE (token explode → word counts,
a partial-combined aggregation); every merge round then operates on
the VOCABULARY-sized (word, count, symbols) relation — orders of
magnitude smaller than the corpus, which is exactly why production BPE
trainers work from the word-count table. Each round is:

- pair counts: one zip_with over the symbol arrays + a groupBy on the
  pair (vocabulary-sized shuffle);
- top pair: a 1-row aggregation kept as a LAZY broadcast cross join —
  never a driver collect;
- merge application: a leftmost-greedy sequential fold per word
  (higher-order ``aggregate``), zero shuffle.

Rounds chain lazily with a per-round persist of the tiny vocabulary
relation (the PageRank plan-growth discipline). Everything is integer
arithmetic — the oracle match is exact, no float rounding anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.operators.dedup import spread_docs, tokens_col
from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.slots import slot
from etl_pipeline_sam_gov_spark.tables import load_tables

BPE_ROUNDS = 3

#: Per-round vocabulary relations persist under the session's
#: ("bpe", query tag) slot (slots.slot — bounded
#: one-slot-per-query discipline; tagged so the two BPE queries don't
#: evict each other's live relations mid-plan). The tag is also a
#: column of the first vocabulary relation: CacheManager matches cache
#: entries by plan equality, so untagged plans would make the two
#: queries share one entry per relation, under the pin and the
#: lifetime of whichever built first.


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct(a,b)> of adjacent symbol pairs (empty for len<2).

    zip_with over two slices rather than explode(sequence(...)):
    ``sequence(1, 0)`` is a DESCENDING two-element array in Spark, so
    the sequence idiom silently fabricates pairs for 1-symbol words."""
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )


def _apply_merge(syms: Column, a: Column, b: Column) -> Column:
    """Leftmost-greedy non-overlapping replacement of adjacent (a, b)
    with the merged symbol a||b — standard BPE merge semantics
    ('aaa' under (a,a) → ['aa','a']). A sequential fold carrying
    (out, prev): a hit flushes the merged token and clears prev; a miss
    flushes prev and carries the current symbol."""
    init = F.struct(
        F.expr("CAST(array() AS ARRAY<STRING>)").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc: Column, x: Column) -> Column:
        hit = acc["prev"].isNotNull() & (acc["prev"] == a) & (x == b)
        flushed = F.when(
            acc["prev"].isNotNull(), F.concat(acc["out"], F.array(acc["prev"]))
        ).otherwise(acc["out"])
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(F.concat(a, b))))
            .otherwise(flushed)
            .alias("out"),
            F.when(hit, F.lit(None).cast("string")).otherwise(x).alias("prev"),
        )

    def fin(acc: Column) -> Column:
        return F.when(
            acc["prev"].isNotNull(), F.concat(acc["out"], F.array(acc["prev"]))
        ).otherwise(acc["out"])

    return F.aggregate(syms, init, step, fin)


def _oracle_ctes() -> str:
    """Unrolled BPE_ROUNDS-round BPE as chained CTEs (shared by both
    BPE oracles). The merge application is expressed positionally
    (candidate positions → gaps-and-islands runs → even-offset-within-
    run wins), which is the same leftmost-greedy rule as the engine's
    sequential fold."""
    head = r"""
WITH tok AS (
  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents
),
w AS (SELECT word, COUNT(*) AS wc FROM tok GROUP BY word),
syms0 AS (SELECT word, wc, regexp_extract_all(word, '.') AS s FROM w)"""
    parts = []
    for r in range(1, BPE_ROUNDS + 1):
        p = r - 1
        parts.append(f""",
pairs{r} AS (
  SELECT s[i] AS a, s[i+1] AS b, SUM(wc) AS cnt
  FROM syms{p}, unnest(range(1, len(s))) AS u(i)
  GROUP BY s[i], s[i+1]
),
top{r} AS (
  SELECT a, b, CAST(cnt AS BIGINT) AS cnt
  FROM pairs{r} ORDER BY cnt DESC, a, b LIMIT 1
),
pos{r} AS (
  SELECT word, wc, s, CAST(i AS BIGINT) AS i,
         (s[i] = t.a AND s[i+1] = t.b) AS c
  FROM syms{p}, unnest(range(1, len(s) + 1)) AS u(i)
  CROSS JOIN top{r} t
),
isl{r} AS (
  SELECT word, i,
         i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
  FROM pos{r} WHERE c AND i < len(s)
),
mp{r} AS (
  SELECT word, i
  FROM (SELECT word, i,
               (i - MIN(i) OVER (PARTITION BY word, grp)) % 2 AS off
        FROM isl{r})
  WHERE off = 0
),
syms{r} AS (
  SELECT p.word, ANY_VALUE(p.wc) AS wc,
         list(CASE WHEN h.i IS NOT NULL THEN p.s[p.i] || p.s[p.i+1]
                   ELSE p.s[p.i] END ORDER BY p.i) AS s
  FROM pos{r} p
  LEFT JOIN mp{r} h ON h.word = p.word AND h.i = p.i
  LEFT JOIN mp{r} g ON g.word = p.word AND g.i = p.i - 1
  WHERE g.i IS NULL
  GROUP BY p.word
)""")
    return head + "".join(parts)


def _oracle() -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS left_sym, b AS right_sym, a || b AS merged, cnt FROM top{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return _oracle_ctes() + "\n" + sel


def _merge_chain(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    adaptive: bool,
    rounds: int = BPE_ROUNDS,
) -> tuple[DataFrame, list[DataFrame]]:
    """(final vocabulary with merged symbol arrays, per-round top-pair
    1-row DataFrames). All lazy; per-round vocab relations persist
    under the ("bpe", tag) slot with the caller's AQE pin, their plans
    distinct per tag."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = (
        spread_docs(docs)
        .select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    with slot(spark, ("bpe", tag), adaptive) as keep:
        vocab = keep(
            words.select(
                "word",
                "wc",
                F.expr("regexp_extract_all(word, '.', 0)").alias("s"),
                F.lit(tag).alias("tag"),
            )
        )
        tops: list[DataFrame] = []
        for _ in range(rounds):
            prs = (
                vocab.select("wc", F.explode(_adjacent_pairs(F.col("s"))).alias("p"))
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("wc").alias("cnt"))
            )
            # max count, ties → lexicographically smallest (a, b); the
            # negated count makes one struct-min express the whole rule
            top = (
                prs.agg(
                    F.min(
                        F.struct(
                            (-F.col("cnt")).alias("nc"), F.col("a"), F.col("b")
                        )
                    ).alias("t")
                )
                .select(
                    F.col("t.a").alias("a"),
                    F.col("t.b").alias("b"),
                    (-F.col("t.nc")).alias("cnt"),
                )
            )
            tops.append(top)
            vocab = keep(
                vocab.crossJoin(F.broadcast(top)).select(
                    "word",
                    "wc",
                    _apply_merge(F.col("s"), F.col("a"), F.col("b")).alias("s"),
                )
            )
    return vocab, tops


@query("text_bpe_merge_rounds", oracle=_oracle())
def text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE_ROUNDS byte-pair merges learned from the corpus:
    (round, left, right, merged, weighted pair count). See module
    docstring for the scale argument; ties break lexicographically on
    the pair so both engines learn the identical vocabulary."""
    # Adaptive cache widths: 1.71 → 1.18 s at sf0.1 (r10 A/B).
    _, tops = _merge_chain(spark, sf_dir, "merges", adaptive=True)
    out = None
    for r, top in enumerate(tops, start=1):
        row = top.select(
            F.lit(r).cast("int").alias("round"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.concat("a", "b").alias("merged"),
            "cnt",
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "text_bpe_encode",
    oracle=_oracle_ctes()
    + f""",
wstats AS (
  SELECT word, length(word) AS n_chars, len(s) AS n_syms FROM syms{BPE_ROUNDS}
),
doctok AS (
  -- zero-length tokens carry no symbols and are dropped by the syms
  -- chain's position explode; exclude them on both engines
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
        FROM documents)
  WHERE word <> ''
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(w.n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(w.n_syms) AS BIGINT) AS n_bpe_tokens,
       round(CAST(SUM(w.n_syms) AS DOUBLE) / CAST(SUM(w.n_chars) AS DOUBLE), 6)
         AS compression
FROM doctok d JOIN wstats w USING (word)
GROUP BY d.doc_id
""",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the learned BPE merges: per document, the
    raw token count, character count, post-merge symbol count, and the
    symbols-per-character compression ratio — the tokenizer-application
    stage that turns the induced vocabulary into model-ready token
    budgets.

    Scale shape: the encoding is computed ONCE per distinct word on the
    vocabulary-sized relation (the merge chain), then broadcast-joined
    back onto the token stream — the corpus is never re-tokenized per
    merge. Per-doc totals are exact integers; the single ratio is one
    shared double division."""
    vocab, _ = _merge_chain(spark, sf_dir, "encode", adaptive=False)
    wstats = vocab.select(
        "word",
        F.length("word").cast("bigint").alias("n_chars"),
        F.size("s").cast("bigint").alias("n_syms"),
    )
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    doctok = (
        spread_docs(docs)
        .select("doc_id", F.explode(tokens_col()).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        # UNHINTED (r7 broadcast audit): the per-word encode table is
        # vocabulary-sized — a pinned broadcast caps the operator at
        # executor memory as the corpus vocabulary grows; AQE
        # broadcasts while small, shuffles on word when not.
        doctok.join(wstats, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_syms").cast("double") / F.sum("n_chars").cast("double"),
                6,
            ).alias("compression"),
        )
    )
