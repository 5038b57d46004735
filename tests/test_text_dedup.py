"""Semantic tests for the approximate dedup operators (MinHash-LSH,
SimHash) against exact baselines — these are rows-only in the oracle gate,
so this is their correctness evidence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gee_datapipeline_spark.functions import text as X
from gee_datapipeline_spark.functions.dedup import (
    hamming64,
    minhash_lsh_pairs,
    minhash_signatures_df,
    signature_agreement,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Constructed corpus: pairs of near-identical docs + unrelated ones."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the birds sing in the tree"
    )
    near = base.replace("warm", "cold")  # 1-word edit: very high Jaccard
    other = (
        "completely different content about spark dataframes shuffles "
        "partitions catalyst optimizer broadcast joins and window functions"
    )
    other_near = other.replace("window", "table")
    rows = [
        (0, base),
        (1, near),
        (2, other),
        (3, other_near),
        (4, "tiny"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _exact_jaccard(spark, docs):
    sh = docs.select(
        "doc_id", F.explode(X.shingles(X.tokens(F.col("text")))).alias("s")
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    ca = counts.selectExpr("doc_id as doc_a", "n as na")
    cb = counts.selectExpr("doc_id as doc_b", "n as nb")
    return {
        (r.doc_a, r.doc_b): r.c / (r.na + r.nb - r.c)
        for r in common.join(ca, "doc_a").join(cb, "doc_b").collect()
    }


def test_minhash_estimates_jaccard(spark, near_dup_docs):
    """Signature agreement approximates exact Jaccard within ~0.2 for
    the high-similarity pairs (32 hashes → σ ≈ 0.09). Signatures come
    from the pipeline kernel; a doc with no 3-shingle has no signature
    row."""
    exact = _exact_jaccard(spark, near_dup_docs)
    sigs = minhash_signatures_df(
        X.shingles_df(near_dup_docs, "doc_id", F.col("text"), 3), 32
    )
    a = sigs.selectExpr("doc_id as doc_a", "sig as sa")
    b = sigs.selectExpr("doc_id as doc_b", "sig as sb")
    est = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            signature_agreement(F.col("sa"), F.col("sb")).alias("est"),
        )
    )
    for r in est.collect():
        true_j = exact.get((r.doc_a, r.doc_b), 0.0)
        assert abs(r.est - true_j) < 0.25, (
            f"pair {(r.doc_a, r.doc_b)}: est {r.est} vs exact {true_j}"
        )


def test_minhash_lsh_finds_near_dups(spark, near_dup_docs):
    """The LSH band join must surface both constructed near-dup pairs
    and no unrelated pair."""
    pairs = minhash_lsh_pairs(
        near_dup_docs, "doc_id", F.col("text"), threshold=0.3
    )
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 1) in found
    assert (2, 3) in found
    assert all(p in {(0, 1), (2, 3)} for p in found), found


def test_simhash_pairs_blocking(spark, near_dup_docs):
    """Near-identical docs land within the Hamming threshold; unrelated
    docs don't pair up."""
    pairs = simhash_pairs(
        near_dup_docs.select(
            "doc_id", X.tokens(F.col("text")).alias("toks")
        ),
        "doc_id",
        F.col("toks"),
        max_hamming=10,
    )
    found = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    assert (0, 1) in found
    assert (2, 3) in found
    assert (0, 2) not in found
    assert (0, 4) not in found


def test_hamming64_expr(spark):
    df = spark.range(1).select(
        hamming64(F.lit(0b1011).cast("long"), F.lit(0b0010).cast("long")).alias("h")
    )
    assert df.collect()[0].h == 2


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(0, "one two")], ["doc_id", "text"]).select(
        X.shingles(X.tokens(F.col("text"))).alias("sh")
    )
    assert df.collect()[0].sh == []


def test_shingles_df_matches_hof_shingles(spark, near_dup_docs):
    """The codegen'd pipeline shingler must produce exactly the same
    (doc, shingle) set as the per-row HOF form."""
    a = {
        (r.doc_id, r.s)
        for r in near_dup_docs.select(
            "doc_id", F.explode(X.shingles(X.tokens(F.col("text")))).alias("s")
        ).collect()
    }
    b = {
        (r.doc_id, r.shingle)
        for r in X.shingles_df(near_dup_docs, "doc_id", F.col("text")).collect()
    }
    assert a == b


def test_chunk_df_shapes(spark):
    from gee_datapipeline_spark.functions.text import chunk_df

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y"), (3, "solo")],
        "doc_id long, text string",
    )
    out = chunk_df(docs, "doc_id", F.col("text"), chunk_tokens=4, overlap=1)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 1: 8 tokens, step 3 → starts 0,3,6 → 3 chunks
    assert rows[(1, 0)].chunk_text == "a b c d"
    assert rows[(1, 1)].chunk_text == "d e f g"
    assert rows[(1, 2)].chunk_text == "g h" and rows[(1, 2)].n_tokens == 2
    # short docs: single chunk, n_tokens = doc length
    assert rows[(2, 0)].chunk_text == "x y" and rows[(2, 0)].n_tokens == 2
    assert rows[(3, 0)].n_tokens == 1
    assert len(rows) == 5
    # overlap invariant: consecutive chunks share `overlap` tokens
    assert rows[(1, 0)].chunk_text.split()[-1:] == rows[(1, 1)].chunk_text.split()[:1]


def test_chunk_df_rejects_bad_overlap(spark):
    from gee_datapipeline_spark.functions.text import chunk_df

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_df(docs, "doc_id", F.col("text"), chunk_tokens=4, overlap=4)


def test_sampling_deterministic_and_bounded(spark):
    from gee_datapipeline_spark.operators.sampling import (
        bernoulli_sample,
        stratified_sample,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("grp")
    )
    s1 = {r.doc_id for r in bernoulli_sample(df, "doc_id", 0.2).collect()}
    s2 = {r.doc_id for r in bernoulli_sample(df, "doc_id", 0.2).collect()}
    assert s1 == s2  # reproducible
    assert 100 < len(s1) < 300  # ~200 expected
    # nested property: a smaller fraction is a subset of a larger one
    s_small = {r.doc_id for r in bernoulli_sample(df, "doc_id", 0.05).collect()}
    assert s_small <= s1
    strat = stratified_sample(df, ["grp"], "doc_id", 5)
    per_group = (
        strat.groupBy("grp").count().select(F.max("count")).first()[0]
    )
    assert per_group == 5


def test_pick_bands_rows_scurve():
    """S-curve parameter choice: valid factorization, threshold
    tracking (higher threshold => never fewer rows per band), and
    backward compatibility with the historical hand-tuned default."""
    from gee_datapipeline_spark.functions.dedup import (
        DEFAULT_NUM_HASHES,
        pick_bands_rows,
    )

    prev_r = 0
    for t in (0.1, 0.25, 0.5, 0.75, 0.9):
        b, r = pick_bands_rows(t)
        assert b * r == DEFAULT_NUM_HASHES
        assert r >= prev_r
        prev_r = r
    assert pick_bands_rows(0.5) == (8, 4)  # the pre-picker constant
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pick_bands_rows(1.0)


def test_minhash_incremental_cross_side_only(spark, near_dup_docs):
    """The incremental probe must surface exactly the near-dup pairs
    that straddle the corpus/batch split — never within-side pairs —
    and must agree with the full-corpus LSH pass on those pairs."""
    from gee_datapipeline_spark.functions.dedup import (
        minhash_incremental_pairs,
    )

    # Split the constructed corpus so each near-dup pair straddles the
    # boundary: evens are "corpus", odds are the arriving "batch".
    corpus = near_dup_docs.filter(F.col("doc_id") % 2 == 0)
    batch = near_dup_docs.filter(F.col("doc_id") % 2 == 1)
    pairs = minhash_incremental_pairs(
        corpus, batch, "doc_id", F.col("text"), threshold=0.3
    )
    found = {(r.corpus_id, r.batch_id) for r in pairs.collect()}
    assert found == {(0, 1), (2, 3)}, found

    # Same pairs, same estimate as the symmetric full pass.
    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(
            near_dup_docs, "doc_id", F.col("text"), threshold=0.3
        ).collect()
    }
    est = {(r.corpus_id, r.batch_id): r.est_jaccard for r in pairs.collect()}
    assert est == full


def test_minhash_incremental_broadcasts_batch(spark, near_dup_docs):
    """The batch side's banded signatures must broadcast — the corpus
    index is probed with zero corpus-side shuffle on the band key (the
    100 TB ingestion contract)."""
    from gee_datapipeline_spark.functions.dedup import (
        minhash_incremental_pairs,
    )

    corpus = near_dup_docs.filter(F.col("doc_id") % 2 == 0)
    batch = near_dup_docs.filter(F.col("doc_id") % 2 == 1)
    pairs = minhash_incremental_pairs(
        corpus, batch, "doc_id", F.col("text"), threshold=0.3
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------------ winnowing


def test_winnowing_guarantee_shared_run(spark):
    """The winnowing theorem: documents sharing a token run of at least
    k + w - 1 tokens share at least one selected fingerprint, at the
    SAME gram position within the shared run (hash equality suffices
    for detection)."""
    from gee_datapipeline_spark.functions.text import winnow_fingerprints

    shared = "alpha bravo charlie delta echo foxtrot golf"  # 7 = k+w-1
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"{shared} seven eight nine ten eleven twelve"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, "doc_id", F.col("text"), k=4, w=4)
    by_doc = {
        r["doc_id"]: set()
        for r in fps.select("doc_id").distinct().collect()
    }
    for r in fps.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared >=k+w-1 run must share a fp"


def test_winnowing_density(spark):
    """Selected fingerprints are a strict sample of the gram set: every
    window of w grams contributes exactly one selection, so the distinct
    count is bounded by n_grams and (for non-degenerate hashes) well
    below it."""
    from gee_datapipeline_spark.functions.text import winnow_fingerprints

    words = " ".join(f"w{i % 17}x{i % 5}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, words)], "doc_id long, text string"
    )
    k, w = 4, 4
    n_grams = 200 - k + 1
    got = winnow_fingerprints(docs, "doc_id", F.col("text"), k=k, w=w).count()
    assert 0 < got <= n_grams
    # Expected density ~ 2/(w+1); allow generous slack for small samples.
    assert got < 0.8 * n_grams


def test_winnowing_disjoint_docs_share_nothing(spark):
    from gee_datapipeline_spark.functions.text import winnow_fingerprints

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(30))),
            (2, " ".join(f"b{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, "doc_id", F.col("text"), k=4, w=4)
    rows = fps.collect()
    f1 = {r["fp"] for r in rows if r["doc_id"] == 1}
    f2 = {r["fp"] for r in rows if r["doc_id"] == 2}
    assert f1 and f2 and not (f1 & f2)


def test_minhash_lsh_recall_floor(spark):
    """The recall gate (LSH candidates vs exact Jaccard at the 0.3
    operating point) must stay >= 0.9 on the gate corpus — the dedup
    twin of the ANN recall floor. Measured 1.0 at sf0.001/sf0.01."""
    from conftest import SF_SMOKE

    from gee_datapipeline_spark.plans.registry import QUERIES, _load_all

    _load_all()

    row = QUERIES["minhash_lsh_recall"].spark(spark, SF_SMOKE).collect()[0]
    assert row.n_true > 0, "gate corpus lost its near-dup pairs"
    assert row.recall >= 0.9, f"MinHash-LSH recall {row.recall} too low"
