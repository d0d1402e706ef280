"""Property-based tests (SURVEY.md §5.2) for the engine's pure-logic
kernels and their Spark-expression twins.

Hypothesis drives the driver-side pure logic (pagination) directly.
For Spark expressions, the property is checked in one batch: hypothesis
generates a value domain, a single DataFrame evaluates the expression
over the whole domain, and the result is compared element-wise against
an independent Python model of the reference's documented semantics
(lambda_function.py line refs in each test). This keeps Spark session
cost O(1) per property instead of O(examples).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_pipeline_sam_gov_spark.pipeline.ingest import (
    MAX_RECORDS,
    PAGE_SIZE,
    paginate,
)


# ---------------------------------------------------------------------------
# Pagination semantics (lambda_function.py:24-54) — pure logic, no Spark
# ---------------------------------------------------------------------------


@given(
    pages=st.lists(
        st.tuples(
            st.sampled_from([200, 200, 200, 429, 500]),  # mostly-ok statuses
            st.integers(min_value=0, max_value=PAGE_SIZE),  # rows in page
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_paginate_invariants(pages):
    """Cap, short-page stop, and error stop — for ANY page sequence."""
    script = {
        offset: (status, [{"i": offset + j} for j in range(n)])
        for offset, (status, n) in zip(
            range(0, PAGE_SIZE * len(pages), PAGE_SIZE), pages
        )
    }

    def fetch(offset):
        return script.get(offset, (200, []))  # beyond script: empty ok page

    out = paginate(fetch)

    # 1. never exceeds the cap
    assert len(out) <= MAX_RECORDS
    # 2. replay the reference loop independently to get the expected size
    expected: list = []
    for status, n in pages:
        if status != 200:
            break
        expected.extend(range(n))
        if n < PAGE_SIZE or len(expected) >= MAX_RECORDS:
            break
    assert len(out) == min(len(expected), MAX_RECORDS)
    # 3. rows arrive in fetch order (offset-major)
    ids = [r["i"] for r in out]
    assert ids == sorted(ids)


# ---------------------------------------------------------------------------
# Recency banding (lambda_function.py:102-114) — Spark expression vs the
# documented pandas semantics, one batch over the generated domain
# ---------------------------------------------------------------------------


def _reference_recency_score(days):
    """Python model of recency_score incl. the NaN path (SURVEY.md F9):
    NaN compares False in every band → falls to else → 1; negative
    (future-dated) days land in the first band → 5."""
    if days is None:
        return 1
    if days <= 1:
        return 5
    if days <= 3:
        return 4
    if days <= 5:
        return 3
    if days <= 7:
        return 2
    return 1


@given(
    domain=st.lists(
        st.one_of(st.none(), st.integers(min_value=-30, max_value=60)),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_recency_banding_matches_reference_semantics(domain, spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(domain)], "i int, daysSincePosted int"
    )
    scored = df.select(
        "i",
        F.when(F.col("daysSincePosted") <= 1, 5)
        .when(F.col("daysSincePosted") <= 3, 4)
        .when(F.col("daysSincePosted") <= 5, 3)
        .when(F.col("daysSincePosted") <= 7, 2)
        .otherwise(1)
        .alias("score"),
    )
    got = {r["i"]: r["score"] for r in scored.collect()}
    for i, d in enumerate(domain):
        assert got[i] == _reference_recency_score(d), f"days={d}"


# ---------------------------------------------------------------------------
# Shingling (operators.dedup) — Spark higher-order expression vs Python
# ---------------------------------------------------------------------------


def _python_shingles(text: str, n: int = 3) -> set[str]:
    toks = __import__("re").split(r"\s+", text)
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab c")),  # forces real whitespace
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_shingles_match_python_model(texts, spark):
    from pyspark.sql import functions as F

    from etl_pipeline_sam_gov_spark.operators.dedup import shingles_col

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: set(r["sh"])
        for r in df.select("doc_id", shingles_col().alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _python_shingles(t), f"text={t!r}"


# ---------------------------------------------------------------------------
# Media header codec (operators.multimodal) — pure logic, no Spark
# ---------------------------------------------------------------------------


@given(
    width=st.integers(min_value=1, max_value=4096),
    height=st.integers(min_value=1, max_value=64),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=150, deadline=None)
def test_bmp_roundtrip_any_dims(width, height, seed):
    from etl_pipeline_sam_gov_spark.operators.multimodal import decode_media, make_bmp

    blob = make_bmp(width, height, seed=seed)
    got = decode_media(blob)
    assert (got["mime"], got["width"], got["height"]) == ("image/bmp", width, height)
    # spec invariants: declared file size and 4-byte row alignment
    assert int.from_bytes(blob[2:6], "little") == len(blob)
    assert (len(blob) - 54) % height == 0 and (len(blob) - 54) // height % 4 == 0


@given(
    rate=st.integers(min_value=1, max_value=192_000),
    channels=st.integers(min_value=1, max_value=8),
    n=st.integers(min_value=0, max_value=256),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=150, deadline=None)
def test_wav_roundtrip_any_params(rate, channels, n, seed):
    from etl_pipeline_sam_gov_spark.operators.multimodal import decode_media, make_wav

    blob = make_wav(rate, channels, n, seed=seed)
    got = decode_media(blob)
    assert (got["mime"], got["sample_rate"], got["channels"]) == (
        "audio/wav", rate, channels,
    )
    assert len(blob) == 44 + n * channels * 2


@given(prefix=st.binary(min_size=0, max_size=64))
@settings(max_examples=150, deadline=None)
def test_decode_never_misparses_garbage(prefix):
    """Anything without a valid magic must raise (quarantine lane), never
    return half-parsed fields."""
    import pytest as _pytest

    from etl_pipeline_sam_gov_spark.operators.multimodal import decode_media

    if prefix[:2] == b"BM" or (prefix[:4] == b"RIFF" and prefix[8:12] == b"WAVE"):
        return  # legitimately parseable-looking; out of scope here
    with _pytest.raises(ValueError):
        decode_media(prefix)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "aa", "x"]), min_size=1, max_size=30
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_repetition_folds_match_python_model(docs, spark):
    """The zero-shuffle array folds of text_repetition_quality (max
    adjacent run on the raw array; top count + singleton count via runs
    on the sorted array) must agree with a direct Python model for ANY
    token sequence — hypothesis hunts the fold's edge cases (all-equal
    docs, single token, alternations) that the fixtures may miss."""
    from collections import Counter

    import pyspark.sql.functions as F

    from etl_pipeline_sam_gov_spark.operators.text import text_repetition_quality  # noqa: F401  (registration)

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df = df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")) \
           .withColumn("n_chars", F.length("text"))
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in __import__("etl_pipeline_sam_gov_spark").QUERIES[
                "text_repetition_quality"
            ](spark, d).collect()
        }
    for i, toks in enumerate(docs):
        counts = Counter(toks)
        max_run = 1
        run = 1
        for a, b in zip(toks, toks[1:]):
            run = run + 1 if a == b else 1
            max_run = max(max_run, run)
        r = out[i]
        assert r["n_tokens"] == len(toks)
        assert r["max_repeat_run"] == max_run, (toks, dict(r.asDict()))
        top = max(counts.values())
        singles = sum(1 for c in counts.values() if c == 1)
        assert abs(r["top_token_frac"] - round(top / len(toks), 6)) < 1e-9
        assert abs(
            r["dup_token_frac"] - round((len(toks) - singles) / len(toks), 6)
        ) < 1e-9


def test_pagerank_matches_numpy_power_iteration(spark):
    """Independent ground truth for graph_pagerank_bipartite: rebuild
    the same symmetric transaction graph in numpy and run the identical
    damped power iteration with dense matrix math — a third formulation
    (after the DataFrame loop and the unrolled-CTE oracle) that shares
    no code with either. Agreement to 1e-9 on every node pins the
    distributed join-loop to the linear-algebra definition."""
    import numpy as np

    import etl_pipeline_sam_gov_spark as eng
    from etl_pipeline_sam_gov_spark.operators.graph import PR_DAMPING, PR_ITERS

    sf = "/root/testdata/sf0.001"
    out = {
        (r["kind"], r["entity_id"]): r["pagerank"]
        for r in eng.QUERIES["graph_pagerank_bipartite"](spark, sf).collect()
    }

    import duckdb

    pairs = duckdb.sql(f"""
        SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
        FROM '{sf}/lineitem.parquet' l
        JOIN '{sf}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
    """).fetchall()
    nodes = sorted({n for p in pairs for n in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for c, s in pairs:
        A[idx[s], idx[c]] += 1.0  # message c -> s
        A[idx[c], idx[s]] += 1.0  # message s -> c
    outdeg = A.sum(axis=0)
    M = A / outdeg  # column-stochastic
    r = np.full(n, 1.0 / n)
    for _ in range(PR_ITERS):
        r = (1 - PR_DAMPING) / n + PR_DAMPING * (M @ r)
    for node, i in idx.items():
        kind = "customer" if node % 2 == 0 else "supplier"
        got = out[(kind, node // 2)]
        assert abs(got - r[i]) <= 5.01e-9, (node, got, r[i])
    assert abs(sum(out.values()) - 1.0) < 1e-6  # rank mass conserved


def test_kmeans_matches_python_lloyd(spark):
    """Independent ground truth for ml_kmeans_embeddings: run the same
    quantized Lloyd iterations in plain numpy. Exact equality is the
    claim — the dyadic fixed-point design makes the distributed result
    bit-reproducible, so the centroids must match to the last bit."""
    import numpy as np

    import etl_pipeline_sam_gov_spark as eng
    from etl_pipeline_sam_gov_spark.operators.ml import KM_ITERS, KM_K, KM_SCALE

    sf = "/root/testdata/sf0.001"
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    X = np.round(np.array([r[1] for r in rows], dtype=np.float64) * KM_SCALE) / KM_SCALE
    C = X[:KM_K].copy()
    for _ in range(KM_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)  # ties -> lowest cid (argmin first occurrence)
        C = np.stack([
            np.round(X[a == k].sum(axis=0) / (a == k).sum() * KM_SCALE) / KM_SCALE
            for k in range(KM_K)
        ])
    got = {}
    sizes = {}
    for r in eng.QUERIES["ml_kmeans_embeddings"](spark, sf).collect():
        got[(r["cluster"], r["dim"])] = r["centroid"]
        sizes[r["cluster"]] = r["n_members"]
    for k in range(KM_K):
        assert sizes[k] == int((a == k).sum())
        for dim in range(X.shape[1]):
            assert got[(k, dim + 1)] == C[k, dim], (k, dim)


def test_bpe_merge_fold_is_leftmost_greedy(spark):
    """'aaa' under merge (a,a) → ['aa','a']; interleavings and misses."""
    from pyspark.sql import functions as F

    from etl_pipeline_sam_gov_spark.operators.bpe import _apply_merge

    cases = [
        (["a", "a", "a"], ["aa", "a"]),
        (["a", "a", "a", "a"], ["aa", "aa"]),
        (["x", "a", "a", "y"], ["x", "aa", "y"]),
        (["a", "b"], ["a", "b"]),
        ([], []),
        (["a"], ["a"]),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _) in enumerate(cases)], "i int, s array<string>"
    )
    out = df.select(
        "i", _apply_merge(F.col("s"), F.lit("a"), F.lit("a")).alias("m")
    ).collect()
    got = {r["i"]: r["m"] for r in out}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_table_profile_extrema_are_numeric_not_lexicographic(spark):
    """Regression (round-4 ADVICE): min/max must aggregate the NATIVE
    column — string-rendered aggregation gave lexicographic extrema
    ('999' > '1499') on int/num columns while the oracle replicated the
    same mistake, so only a ground-truth check catches it."""
    import duckdb

    from etl_pipeline_sam_gov_spark.operators.aggregates import (
        agg_table_profile,
    )

    sf_dir = "/root/testdata/sf0.001"
    prof = {
        r["col_name"]: r
        for r in agg_table_profile(spark, sf_dir).collect()
    }
    truth = duckdb.sql(
        f"SELECT MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi,"
        f" MIN(l_extendedprice) AS plo, MAX(l_extendedprice) AS phi"
        f" FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchone()
    assert prof["l_orderkey"]["min_value"] == str(truth[0])
    assert prof["l_orderkey"]["max_value"] == str(truth[1])
    assert float(prof["l_extendedprice"]["min_value"]) == float(truth[2])
    assert float(prof["l_extendedprice"]["max_value"]) == float(truth[3])


def test_semdedup_cap_keeps_superset_and_splits_clusters(spark):
    """The capped SemDeDup path may only MISS duplicate pairs (bucket
    boundary), never invent them: keep_capped ⊇ keep_exact. Also prove
    the cap is actually exercised at test scale (≥1 cluster splits)."""
    from etl_pipeline_sam_gov_spark.operators.dedup import (
        SEMDEDUP_MAX_CLUSTER,
        dedup_semantic_capped,
        dedup_semantic_clusters,
    )

    sf_dir = "/root/testdata/sf0.001"
    exact = {r["vec_id"]: r["keep"] for r in dedup_semantic_clusters(spark, sf_dir).collect()}
    capped = {r["vec_id"]: r["keep"] for r in dedup_semantic_capped(spark, sf_dir).collect()}
    assert set(exact) == set(capped)
    for vid, keep in exact.items():
        if keep:
            assert capped[vid], f"capped dropped {vid} that exact kept"
    # at 500 vectors / 8 clusters, average cluster ≈ 62 > cap=32 →
    # sub-bucketing must engage and lose at least some recall
    n_exact_kept = sum(exact.values())
    n_capped_kept = sum(capped.values())
    assert n_capped_kept >= n_exact_kept
    from collections import Counter

    sizes = Counter(
        r["cluster"] for r in dedup_semantic_clusters(spark, sf_dir).collect()
    )
    assert max(sizes.values()) > SEMDEDUP_MAX_CLUSTER


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),  # price cents
            st.integers(min_value=1, max_value=10),  # size
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_skyline_windows_match_dominance_model(pts, spark):
    """The two-stage window frontier equals brute-force strict
    dominance for ANY point set (duplicates included) — the exact
    property the NOT-EXISTS oracle states, here exercised over
    adversarial tiny inputs (ties on price, ties on size, duplicate
    points) where off-by-one frame bugs live."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = [(i, float(p) / 100.0, s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "p_partkey long, p_retailprice double, p_size int")

    # model: strict dominance (minimize price, maximize size)
    def dominated(i):
        pi, si = pts[i]
        return any(
            (pj <= pi and sj >= si and (pj < pi or sj > si))
            for j, (pj, sj) in enumerate(pts)
            if j != i
        )

    expect = {i for i in range(len(pts)) if not dominated(i)}

    cents = F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
    base = df.select("p_partkey", "p_size", cents.alias("cents"))

    def frontier(rel, *bucket):
        w_incl = W.partitionBy(*bucket).orderBy("cents").rangeBetween(
            W.unboundedPreceding, 0
        )
        w_strict = W.partitionBy(*bucket).orderBy("cents").rangeBetween(
            W.unboundedPreceding, -1
        )
        return (
            rel.select(
                "p_partkey",
                "p_size",
                "cents",
                F.max("p_size").over(w_incl).alias("mi"),
                F.max("p_size").over(w_strict).alias("ms"),
            )
            .filter(
                (F.col("p_size") == F.col("mi"))
                & (F.col("ms").isNull() | (F.col("p_size") > F.col("ms")))
            )
            .select("p_partkey", "p_size", "cents")
        )

    local = frontier(
        base.withColumn("b", F.pmod(F.col("p_partkey"), F.lit(3))), "b"
    )
    got = {r.p_partkey for r in frontier(local).collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# r7 rewrites: randomized equivalence against brute-force references
# ---------------------------------------------------------------------------


def _kcore_reference(edges: set, k: int, rounds: int) -> dict:
    """Textbook synchronous peel by full recount — the unrolled-oracle
    semantics the delta-decrement form must reproduce exactly."""
    e = set(edges)
    for _ in range(rounds):
        deg: dict = {}
        for s, d in e:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, dd in deg.items() if dd >= k}
        e = {(s, d) for s, d in e if s in keep and d in keep}
    out: dict = {}
    for s, d in e:
        out[s] = out.get(s, 0) + 1
    return out


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=0,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kcore_peel_matches_recount_reference(pairs, k, spark):
    """kcore_peel must equal a pure-Python synchronous recount peel on
    ANY symmetric graph — including graphs whose peel does NOT reach
    fixpoint within the rounds, survivors whose degree falls in the
    final round, and k values far from the fixture's. (This test was
    the equivalence gate for the r7 delta-decrement variant, which
    passed it and was then rejected on performance — see kcore_peel's
    docstring; it now guards the committed recount form the same
    way.)"""
    from etl_pipeline_sam_gov_spark.operators.graph import kcore_peel
    from etl_pipeline_sam_gov_spark.slots import release, slot

    # symmetrize + dedup, drop self-loops (the query's edge relations
    # are symmetric and loop-free by construction)
    edges = set()
    for a, b in pairs:
        if a != b:
            edges.add((a, b))
            edges.add((b, a))
    expect = _kcore_reference(edges, k, rounds=3)

    if not edges:
        return  # Spark can't infer a schema from zero rows; ref is {}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    with slot(spark, "kcore_property") as keep:
        surv = kcore_peel(df, k, 3, keep)
    got = {r["src"]: r["d"] for r in surv.collect()}
    release(spark, "kcore_property")
    assert got == expect


def _dhash_reference(hashes: list) -> set:
    """Brute-force O(n²): every doc pair sharing ≥1 of the 4 16-bit
    bands with total Hamming ≤ DHASH_MAX_HAM."""
    from etl_pipeline_sam_gov_spark.operators.multimodal import DHASH_MAX_HAM

    out = set()
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            di, bi = hashes[i][0], hashes[i][1:]
            dj, bj = hashes[j][0], hashes[j][1:]
            if not any(x == y for x, y in zip(bi, bj)):
                continue
            ham = sum(bin(x ^ y).count("1") for x, y in zip(bi, bj))
            if ham <= DHASH_MAX_HAM:
                out.add((min(di, dj), max(di, dj), ham))
    return out


@given(data=st.data())
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dhash_pairing_matches_bruteforce(data, spark):
    """The collapsed banded pipeline (distinct-hash candidates +
    Hamming verify + member re-expansion) must equal brute force on
    hash populations with PLANTED identical-hash clusters (the case the
    r7 collapse exists for), near-miss band collisions, and random
    noise — by pigeonhole the band join loses nothing at ham ≤ 3."""
    from etl_pipeline_sam_gov_spark.operators.multimodal import (
        dhash_pairs_from_hashes,
    )

    base = data.draw(
        st.lists(
            st.tuples(*[st.integers(min_value=0, max_value=0xFFFF)] * 4),
            min_size=1,
            max_size=10,
        )
    )
    rows = []
    doc = 0
    for h in base:
        # plant a cluster of 1-3 identical copies of each hash, plus a
        # 1-bit perturbation of some (a guaranteed band collision with
        # hamming 1)
        copies = data.draw(st.integers(min_value=1, max_value=3))
        for _ in range(copies):
            rows.append((doc, *h))
            doc += 1
        if data.draw(st.booleans()):
            flip = data.draw(st.integers(min_value=0, max_value=63))
            b = list(h)
            b[flip // 16] ^= 1 << (flip % 16)
            rows.append((doc, *b))
            doc += 1
    expect = _dhash_reference(rows)

    df = spark.createDataFrame(
        rows, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    ).persist()
    got = {
        (r["doc1"], r["doc2"], r["hamming"])
        for r in dhash_pairs_from_hashes(df).collect()
    }
    df.unpersist()
    assert got == expect


# ---------------------------------------------------------------------------
# MinHash-LSH pipeline (operators.dedup.minhash_duplicate_pairs) vs a pure-
# Python model of the whole chain on random small-vocab corpora
# ---------------------------------------------------------------------------


def _minhash_reference(texts: list[str]) -> set[tuple[int, int, float]]:
    """Brute-force Python model of the ENTIRE LSH pipeline — shingles,
    60-bit md5 hashing, the 16 permutations, 8×2 banding, candidate
    pairs, exact Jaccard — sharing only the constants with the Spark
    path (dedup.py's determinism contract)."""
    import hashlib

    from etl_pipeline_sam_gov_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_P,
        MINHASH_PERMS,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sh = {i: _python_shingles(t) for i, t in enumerate(texts)}
    sigs = {}
    for i, s in sh.items():
        if not s:
            continue  # docs with no shingles never enter the sig relation
        hs = [h60(x) % MINHASH_P for x in s]
        sigs[i] = [
            min((a * h + b) % MINHASH_P for h in hs) for a, b in MINHASH_PERMS
        ]
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, sig in sigs.items():
        for band in range(LSH_BANDS):
            key = ",".join(
                str(sig[band * LSH_ROWS + r]) for r in range(LSH_ROWS)
            )
            bh = hashlib.md5(key.encode()).hexdigest()
            buckets.setdefault((band, bh), []).append(i)
    cand = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b:
                    cand.add((a, b))
    out = set()
    for d1, d2 in cand:
        inter = len(sh[d1] & sh[d2])
        jac = inter / (len(sh[d1]) + len(sh[d2]) - inter)
        if jac >= JACCARD_THRESHOLD:
            out.add((d1, d2, round(jac, 6)))
    return out


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8
        ),
        min_size=1,
        max_size=12,
    ),
    dup_of=st.lists(st.integers(min_value=0, max_value=11), max_size=4),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_minhash_lsh_matches_python_model(docs, dup_of, spark):
    """The full MinHash-LSH chain must equal the brute-force model on
    corpora seeded with exact duplicates (dup_of re-appends existing
    docs) and tiny-vocab near-dups (4-token alphabet forces shingle
    collisions) — the regimes where banding, tie-breaking, and the
    verify join all do real work."""
    from etl_pipeline_sam_gov_spark.operators.dedup import (
        minhash_duplicate_pairs,
    )

    texts = [" ".join(toks) for toks in docs]
    texts += [texts[i % len(texts)] for i in dup_of]  # planted exact dups
    expect = _minhash_reference(texts)

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in minhash_duplicate_pairs(df, adaptive=False).collect()
    }
    assert {(a, b) for a, b, _ in got} == {(a, b) for a, b, _ in expect}
    ej = {(a, b): j for a, b, j in expect}
    for a, b, j in got:
        assert abs(j - ej[(a, b)]) < 1e-6, (a, b, j, ej[(a, b)])


# ---------------------------------------------------------------------------
# Random-walk corpus generation (operators.graph.graph_random_walks) vs a
# Python walk over the same edge list — pins neighbor ranking, the degree
# carry, and the md5 pick rule end-to-end
# ---------------------------------------------------------------------------


def test_random_walks_match_python_walker(spark):
    """Replay every walk in plain Python from the duckdb-derived edge
    list: rank neighbors by dst ascending, carry degree, pick index =
    md5-hash60(f"rw{walk}:{step}") % degree. Every (walk_id, step,
    node) row must match exactly — and every step must traverse a real
    edge (the _symmetrize no-sink invariant ADVICE r06 documented)."""
    import hashlib

    import duckdb

    import etl_pipeline_sam_gov_spark as eng
    from etl_pipeline_sam_gov_spark.operators.graph import RW_STEPS

    sf = "/root/testdata/sf0.001"
    pairs = duckdb.sql(f"""
        SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
        FROM '{sf}/lineitem.parquet' l
        JOIN '{sf}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
    """).fetchall()
    nbrs: dict[int, list[int]] = {}
    for c, s in pairs:
        nbrs.setdefault(c, []).append(s)
        nbrs.setdefault(s, []).append(c)
    for v in nbrs:
        nbrs[v] = sorted(set(nbrs[v]))

    def h60(x: str) -> int:
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    expect = set()
    for v0 in nbrs:
        cur = v0
        expect.add((v0, 0, v0))
        for step in range(1, RW_STEPS + 1):
            cur = nbrs[cur][h60(f"rw{v0}:{step}") % len(nbrs[cur])]
            expect.add((v0, step, cur))

    got = {
        (r["walk_id"], r["step"], r["node"])
        for r in eng.QUERIES["graph_random_walks"](spark, sf).collect()
    }
    assert got == expect
