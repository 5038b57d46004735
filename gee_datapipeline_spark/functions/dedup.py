"""Near-duplicate detection at scale: MinHash + LSH and SimHash.

Why these exist (LLM-data-pipeline surface): exact dedup
(``plans.text_queries.dedup_exact``) and exact n-gram Jaccard
(``ngram_jaccard_pairs``) are the correctness baselines, but the exact
pairwise path is quadratic in candidate density. MinHash-LSH reduces it to
an equi-join on band buckets — the only shape that survives 100 TB:

    shingle rows → k minhashes (one min hash-aggregate per doc)
    → b bands of r rows each (k = b·r)
    → explode bands → equi-join on (band_id, band_hash)
    → estimate Jaccard from signature agreement, threshold.

Signatures are a codegen'd min hash-aggregate over (doc_id, shingle)
rows with map-side partial aggregation (:func:`minhash_signatures_df`);
the other shuffle is the band-bucket join, which AQE skew-handles.
``xxhash64(seed, value)`` supplies the k hash families (JVM-side,
deterministic).

SimHash: 64-bit fingerprint whose Hamming distance approximates cosine
distance over the token multiset; banded by 16-bit chunks for the same
equi-join trick.

Both operators take a ``family`` parameter: ``xxhash64`` (default,
fastest JVM hash) or a cross-engine reproducible md5 family — MinHash's
``md5perm`` (one md5 per shingle, k universal-hash permutations) and
SimHash's ``md5hex`` (a 60-bit md5 prefix per token). DuckDB's md5()
emits identical hex, which lets the gate queries value-hash the FULL
LSH pipelines against a SQL mirror. ``tests/test_text_dedup.py``
additionally verifies the MinHash Jaccard estimate against the exact
Jaccard oracle query and the SimHash/LSH recall on constructed
near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_HASHES = 32
SIMHASH_BANDS = 4  # SimHash band keys per fingerprint


# Universal-hash family for the md5perm mode: mh_i = (A_i·h + B_i) mod P
# over a 32-bit md5-derived base hash. P is the smallest prime > 2^32;
# A_i < 2^30 keeps every product < 2^62 (no int64 overflow in either
# engine). Constants are a fixed LCG so the DuckDB oracle generator can
# emit the identical arithmetic.
MH_PERM_P = 4294967311


def mh_perm_constants(num_hashes: int = DEFAULT_NUM_HASHES):
    a = [((i * 2654435761 + 1013904223) % ((1 << 30) - 1)) + 1
         for i in range(num_hashes)]
    b = [(i * 975319753 + 123456789) % MH_PERM_P for i in range(num_hashes)]
    return a, b


def minhash_signatures_df(
    shingle_rows: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    family: str = "xxhash64",
) -> DataFrame:
    """Signatures from (doc_id, shingle) rows via a 32-way min
    hash-aggregate (codegen'd, map-side partial aggregation; the shuffle
    carries one 32-long row per doc per input partition). Returns
    (doc_id, sig array<long>). Input comes from
    ``functions.text.shingles_df``.

    ``family="xxhash64"`` (default) is the fast production path: member
    i is ``xxhash64(i, shingle)``.

    ``family="md5perm"`` hashes each shingle ONCE (32-bit md5 prefix)
    and derives the k family members as universal-hash permutations
    (A_i·h + B_i) mod P — pure int64 arithmetic, so it is BOTH as fast
    as the xxhash64 path (one digest per shingle, k cheap mults) AND
    bit-reproducible in DuckDB for the oracle gate."""
    # Aggregates are built as SQL strings (one JVM parse per column)
    # rather than k × ~8 py4j Column calls: driver-side construction of
    # the LSH queries measured 1.9-2.5 s steady-state, almost all py4j
    # round-trips (r10; the simhash_df precedent). Same operators,
    # same values.
    if family == "md5perm":
        a_c, b_c = mh_perm_constants(num_hashes)
        base = shingle_rows.select(
            "doc_id",
            F.expr(
                "cast(conv(substring(md5(shingle), 1, 8), 16, 10)"
                " as bigint)"
            ).alias("__h"),
        )
        mins = base.groupBy("doc_id").agg(
            *[
                F.expr(
                    f"min(({a_c[i]} * __h + {b_c[i]}) % {MH_PERM_P})"
                ).alias(f"mh{i}")
                for i in range(num_hashes)
            ]
        )
    elif family == "xxhash64":
        mins = shingle_rows.groupBy("doc_id").agg(
            *[
                F.expr(f"min(xxhash64({i}, shingle))").alias(f"mh{i}")
                for i in range(num_hashes)
            ]
        )
    else:
        raise ValueError(f"unknown hash family: {family}")
    return mins.select(
        "doc_id",
        F.expr(
            "array(" + ", ".join(f"mh{i}" for i in range(num_hashes)) + ")"
        ).alias("sig"),
    )


def lsh_bands(sig: str, num_bands: int, num_hashes: int) -> Column:
    """Hash each band (contiguous slice of the signature column named
    ``sig``) to one bucket key.

    Returns ``array<struct<band_id int, band_hash bigint>>``; explode and
    equi-join on both fields. Two docs collide in a band iff that whole
    slice agrees — the classic (b, r) S-curve. Band indices are Python
    constants, so this is a flat (codegen-friendly) expression — no
    nested lambdas. Built as one SQL string (one JVM parse; see the
    :func:`minhash_signatures_df` note). ``try_element_at`` yields NULL
    rather than an ANSI-mode error on a short signature."""
    rows_per_band = num_hashes // num_bands
    bands = ", ".join(
        f"struct(cast({b} as int) as band_id, xxhash64({b}, "
        + "concat_ws(',', "
        + ", ".join(
            f"cast(try_element_at({sig}, {b * rows_per_band + j + 1})"
            " as string)"
            for j in range(rows_per_band)
        )
        + ")) as band_hash)"
        for b in range(num_bands)
    )
    return F.expr(f"array({bands})")


def signature_agreement(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of agreeing minhash positions."""
    eq = F.zip_with(
        sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)
    )
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.size(sig_a)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: Column,
    threshold: float = 0.5,
    family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs with estimated Jaccard >= threshold,
    from word-3-gram shingles and ``DEFAULT_NUM_HASHES`` minhashes.

    The band count derives from the S-curve via :func:`pick_bands_rows`,
    so the banding tracks the requested threshold instead of a
    hand-tuned constant (0.5 → 8×4).

    Plan: shingle rows (codegen, shuffle-parallel) → 32-way min
    aggregate → band explode → self equi-join on (band_id, band_hash) →
    distinct pairs → signature agreement filter. The band join replaces
    the all-pairs cross product; candidate count is driven by the
    (b, r) S-curve, not n²."""
    # Signatures ride along through the band join (they're k longs per
    # row — cheap) so no extra join recomputes them; the two join sides
    # are identical subplans, which Spark's ReuseExchange shares.
    # (r10 measured: an eager localCheckpoint of sigs here ran 1.91 →
    # 2.30 s at sf0.1 — the blocking materialization costs more than
    # the duplicated signature build it saves — so the lazy form
    # deliberately stands.)
    banded = banded_signatures(docs, id_col, text_col, family, threshold)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.round(
            signature_agreement(F.col("sig_a"), F.col("sig_b")), 6
        ).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= threshold)


def banded_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: Column,
    family: str,
    threshold: float,
) -> DataFrame:
    """Banded MinHash signatures: one row per (doc, band) with the full
    signature carried alongside — the join sides of
    :func:`minhash_lsh_pairs` and :func:`minhash_incremental_pairs`.
    Word-3-gram shingles, ``DEFAULT_NUM_HASHES`` minhashes, bands from
    :func:`pick_bands_rows`."""
    from .text import shingles_df

    num_hashes = DEFAULT_NUM_HASHES
    num_bands, _ = pick_bands_rows(threshold, num_hashes)
    sh = shingles_df(docs, id_col, text_col, 3)
    sigs = minhash_signatures_df(sh, num_hashes, family)
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            lsh_bands("sig", num_bands, num_hashes)
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_id", "band.band_hash")


def minhash_incremental_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: Column,
    threshold: float = 0.5,
    family: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup: match a NEW BATCH against an EXISTING
    corpus, returning (corpus_id, batch_id, est_jaccard) pairs.

    This is the ingestion shape at 100 TB: both sides are banded in
    the same plan, the batch's bands probe the corpus's on the
    (band_id, band_hash) key, and the corpus is never self-joined. A
    daily 100 GB batch against a 100 TB corpus costs one corpus
    banding pass plus one probe, instead of the
    O(corpus²-candidates) full re-dedup.

    The batch side is typically orders of magnitude smaller than the
    corpus, so its exploded bands are broadcast — the corpus-side scan
    joins with zero shuffle. Within-batch duplicates are a separate
    (batch-only) :func:`minhash_lsh_pairs` pass, deliberately not
    duplicated here.
    """
    c = banded_signatures(
        corpus, id_col, text_col, family, threshold
    ).alias("c")
    b = F.broadcast(
        banded_signatures(batch, id_col, text_col, family, threshold)
    ).alias("b")
    cand = (
        c.join(
            b,
            (F.col("c.band_id") == F.col("b.band_id"))
            & (F.col("c.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("c.doc_id").alias("corpus_id"),
            F.col("b.doc_id").alias("batch_id"),
            F.col("c.sig").alias("sig_c"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["corpus_id", "batch_id"])
    )
    return cand.select(
        "corpus_id",
        "batch_id",
        F.round(
            signature_agreement(F.col("sig_c"), F.col("sig_b")), 6
        ).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= threshold)


# ------------------------------------------------------------- SimHash


def simhash_df(
    docs: DataFrame,
    id_col: str,
    tokens_col: Column,
    num_bits: int = 64,
    family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash of each doc's token array. For each bit b the
    vote is the sum over token hashes of (+1 if bit b set else -1); the
    fingerprint bit b is 1 iff the vote is positive. Computed as
    explode → per-bit vote-sum hash-aggregates (codegen'd, no per-row
    lambdas). Returns (doc_id, fp long). Docs with no tokens are dropped (no
    content).

    ``family="md5hex"`` derives the token hash from the first 15 hex
    chars of md5 (60 bits, fits a signed long with no sign games) —
    cross-engine reproducible, so callers should pair it with
    ``num_bits=60``. DuckDB reconstructs the same value from md5 hex
    nibbles."""
    if family == "xxhash64":
        h = F.xxhash64("t")
    elif family == "md5hex":
        h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash family: {family}")
    # Group-then-hash (guide §2.3, do less per row): a token occurring
    # c times in a doc contributes c·bit_b to every vote, so count
    # (doc, token) multiplicities FIRST (a narrow map-side-combinable
    # aggregate), then hash and bit-unpack only the DISTINCT pairs —
    # 2.3× fewer digests and per-bit sums on the r10 corpus, identical
    # votes by the multiset identity v_b = Σ_occ bit_b = Σ_distinct
    # c·bit_b (exact integer arithmetic; the oracle keeps its
    # per-occurrence form and hash-matches).
    # (r11 tried the next rung — digest each DISTINCT corpus token once
    # (vocab table + join-back; md5 is doc-independent) instead of once
    # per (doc, token) pair. 3 750x fewer digests on this corpus
    # (116 231 pairs, 31-token vocab), IDENTICAL output, and still
    # measured SLOWER: interleaved A/B min 1.19 s (this form) vs 1.76 s
    # (vocab join) at sf0.1 — the checkpoint + distinct + join overhead
    # exceeds the digest work it saves, and it breaks the one-exchange
    # pipeline the doc_id spread establishes. Reverted; re-test only on
    # a corpus whose vocabulary digest cost is actually measurable.)
    counted = (
        docs.select(
            F.col(id_col).alias("doc_id"), F.explode(tokens_col).alias("t")
        )
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select("doc_id", "__c", h.alias("h"))
    )
    # Vote identity (guide §2.3, narrower per-row work): the ±1 vote sum
    # for bit b is v_b = 2·s_b − n where s_b = Σ c·((h>>b)&1) and n is
    # the token count, so summing the RAW weighted BIT (no compare, no
    # CASE branch per bit per row) and one shared count gives the
    # identical fingerprint via v_b > 0  ⟺  2·s_b > n — exact integer
    # arithmetic, bit-for-bit the same fp in both engines.
    # Expressions are built as SQL strings, ONE JVM parse each, instead
    # of num_bits × ~8 py4j Column calls: driver-side construction of
    # this query measured 1.8 s steady-state (64 % of its bench time)
    # with the Column-by-Column form — py4j round-trips, not Spark
    # work. Semantics unchanged (same operators, bit-disjoint terms so
    # the old bitwiseOR fold equals the + fold).
    votes = counted.groupBy("doc_id").agg(
        F.expr("sum(__c)").alias("__n"),
        *[
            F.expr(f"sum((shiftright(h, {b}) & 1) * __c)").alias(f"v{b}")
            for b in range(num_bits)
        ],
    )
    # shiftleft, not a literal: bit 63 (the xxhash64/64-bit family) is
    # −2^63 via shift exactly as the old bitwiseOR fold computed it; the
    # decimal literal 2^63 would overflow BIGINT. Bits are disjoint, so
    # the sum of shifted bits equals the old OR fold on every input.
    fp_sql = " + ".join(
        f"(CASE WHEN v{b} * 2 > __n "
        f"THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(num_bits)
    )
    return votes.select("doc_id", F.expr(fp_sql).alias("fp"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of
    XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands(fp: Column, num_bits: int) -> Column:
    """Split a fingerprint into ``SIMHASH_BANDS`` band keys of
    ``num_bits // SIMHASH_BANDS`` bits: two docs within Hamming distance
    ``SIMHASH_BANDS - 1`` share at least one band exactly (pigeonhole)
    — the standard SimHash blocking scheme."""
    num_bands = SIMHASH_BANDS
    width = num_bits // num_bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.shiftrightunsigned(fp, b * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for b in range(num_bands)
        ]
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str,
    tokens_col: Column,
    max_hamming: int = 3,
    num_bits: int = 64,
    family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band-bucket equi-join then exact
    Hamming filter. Guaranteed recall for distance <= SIMHASH_BANDS - 1."""
    fps = simhash_df(docs, id_col, tokens_col, num_bits, family)
    banded = fps.select(
        "doc_id",
        "fp",
        F.explode(simhash_bands(F.col("fp"), num_bits)).alias("b"),
    ).select("doc_id", "fp", "b.band_id", "b.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def pick_bands_rows(
    threshold: float, num_hashes: int = DEFAULT_NUM_HASHES
) -> tuple[int, int]:
    """S-curve-driven (bands, rows) choice for MinHash LSH (the
    standard construction, Leskovec/Rajaraman/Ullman "Mining of Massive
    Datasets" §3.4): a pair with Jaccard s becomes a candidate with
    probability 1 - (1 - s^r)^b, a sigmoid whose inflection sits near
    (1/b)^(1/r). Among the factorizations b·r = num_hashes, pick the
    one whose inflection lands closest to ``threshold`` (in log space,
    so 0.25-vs-0.5 and 0.5-vs-1.0 count as equal misses).

    This replaces hand-tuned band counts with a measured-target choice:
    callers state the Jaccard level they want candidates at, and the
    curve's steepness then only improves as num_hashes grows.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    import math

    best: tuple[float, int, int] | None = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        inflection = (1.0 / b) ** (1.0 / r)
        miss = abs(math.log(inflection) - math.log(threshold))
        # ties (e.g. symmetric factorizations): prefer more rows —
        # steeper curve, fewer false positives per candidate band
        key = (miss, -r)
        if best is None or key < (best[0], -best[2]):
            best = (miss, b, r)
    assert best is not None
    return best[1], best[2]
