"""Text-analysis + dedup queries over the ``documents`` table
(LLM-data-pipeline surface; BASELINE.json north star).

All SQL-expressible variants carry a DuckDB oracle. MinHash-LSH and
SimHash (hash-function-dependent, not portably SQL-expressible) are
registered in this module as rows-only queries and verified against exact
Jaccard in ``tests/test_text_dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions import text as X
from ..functions.stable import (
    sql_stable_avg,
    sql_stable_round,
    stable_avg,
    stable_round,
)
from .registry import Query, register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ------------------------------------------------------------ exact dedup


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest doc_id.
    At 100 TB this is one shuffle on the 128-bit content hash (never on
    the raw text)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


register(
    Query(
        name="dedup_exact",
        spark=_dedup_exact,
        oracle="""
            SELECT md5(text) AS text_hash, count(*) AS dup_count,
                   min(doc_id) AS keeper_id
            FROM documents
            GROUP BY 1
        """,
        tags=("dedup",),
    )
)

# ------------------------------------------------------ fingerprint dedup


def _doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup key: md5 over whitespace-normalized lowercase
    text."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", X.normalized_fingerprint(F.col("text")).alias("fingerprint")
    )


register(
    Query(
        name="doc_fingerprint",
        spark=_doc_fingerprint,
        oracle=r"""
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        tags=("dedup", "F5"),
    )
)

# ------------------------------------------------------------ token count


def _token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (the BPE-ish regex variant is in
    functions.text)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


register(
    Query(
        name="token_count",
        spark=_token_count,
        oracle=r"""
            SELECT doc_id,
                   len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
                   len(text) AS n_chars_actual
            FROM documents
        """,
        tags=("text",),
    )
)


def _bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (functions.text.bpe_ish_token_count): the
    GPT-2-style pre-tokenizer segment count next to the whitespace
    count, per document — the cost estimate an LLM-data pipeline
    actually budgets with. Pure Catalyst regexp (codegen, no UDF)."""
    # Unsplittable-input spread (guide §2.5): the per-row BPE regex is
    # the whole query cost and otherwise runs on ONE task.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    return docs.select(
        "doc_id",
        X.bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        X.token_count(F.col("text")).alias("n_ws"),
    )


register(
    Query(
        name="bpe_token_count",
        spark=_bpe_token_count,
        # Same regex, RE2 vs Java — restricted to the common dialect;
        # parity verified element-for-element over every sf0.01 doc.
        oracle=r"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
                   )) AS n_bpe,
                   len(string_split_regex(lower(trim(text)), '\s+')) AS n_ws
            FROM documents
        """,
        tags=("text", "tokenize"),
    )
)

# ----------------------------------------------------------- text quality


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token stats + punctuation/stopword ratios +
    composite score, all Catalyst expressions."""
    # Unsplittable-input spread (guide §2.5): per-row tokenize/regex
    # work, otherwise one task.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    t = F.col("text")
    toks = X.tokens(t)
    return docs.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        X.avg_token_len(t).alias("avg_token_len"),
        X.punct_ratio(t).alias("punct_ratio"),
        stable_round(X.stopword_count(toks) / F.size(toks), 6).alias(
            "stopword_ratio"
        ),
        X.quality_score(t).alias("quality_score"),
    )


_SW = "', '".join(X.STOPWORDS)

register(
    Query(
        name="text_quality",
        spark=_text_quality,
        oracle=rf"""
            WITH base AS (
                SELECT doc_id, text,
                       string_split_regex(lower(trim(text)), '\s+') AS toks,
                       len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
                       len(regexp_replace(trim(text), '\s+', '', 'g'))
                           / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS atl,
                       (len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')))
                           / CAST(len(text) AS DOUBLE) AS pr
                FROM documents
            )
            SELECT doc_id, n_tokens,
                   floor(atl * 1000000.0 + 0.5) / 1000000.0
                       AS avg_token_len,
                   floor(pr * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
                   floor((len(list_filter(toks, x -> x IN ('{_SW}')))
                          / CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
                       / 1000000.0 AS stopword_ratio,
                   floor((0.4 * (len(list_filter(toks, x -> x IN ('{_SW}')))
                                 / CAST(n_tokens AS DOUBLE))
                          + 0.3 * least(floor(atl * 1e12 + 0.5) / 1e12
                                        / 10.0, 1.0)
                          + 0.3 * (1.0 - floor(pr * 1e12 + 0.5) / 1e12))
                         * 1000000.0 + 0.5) / 1000000.0 AS quality_score
            FROM base
        """,
        tags=("text",),
    )
)

# ----------------------------------------------------------- lang profile


def _lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        stable_avg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


register(
    Query(
        name="lang_profile",
        spark=_lang_profile,
        oracle=f"""
            SELECT lang, count(*) AS n_docs,
                   {sql_stable_avg('n_chars')} AS avg_chars,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM documents
            GROUP BY 1
        """,
        tags=("text", "aggregation"),
    )
)

# ------------------------------------------------------- lang-ID heuristic


def _lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-set language ID: per-language hit counts + argmax with a
    fixed tie-break (functions.text.lang_id)."""
    # Unsplittable-input spread (guide §2.5): per-row marker scans over
    # every language's word list, otherwise one task.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    toks = X.tokens(F.col("text"))
    scores = X.lang_scores(toks)
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(X.LANG_MARKERS)],
        X.lang_id(toks).alias("pred_lang"),
    )


def _sql_lang_score(words: tuple[str, ...]) -> str:
    ws = "', '".join(words)
    return (
        rf"len(list_filter(string_split_regex(lower(trim(text)), '\s+'), "
        rf"x -> x IN ('{ws}')))"
    )


_SCORES = {lang: _sql_lang_score(w) for lang, w in X.LANG_MARKERS.items()}
_BEST = "greatest({})".format(", ".join(_SCORES.values()))

register(
    Query(
        name="lang_id_heuristic",
        spark=_lang_id_heuristic,
        oracle=f"""
            SELECT doc_id,
                   {_SCORES['de']} AS score_de,
                   {_SCORES['en']} AS score_en,
                   {_SCORES['es']} AS score_es,
                   {_SCORES['fr']} AS score_fr,
                   {_SCORES['zh']} AS score_zh,
                   CASE WHEN {_BEST} = 0 THEN 'und'
                        WHEN {_SCORES['en']} = {_BEST} THEN 'en'
                        WHEN {_SCORES['de']} = {_BEST} THEN 'de'
                        WHEN {_SCORES['fr']} = {_BEST} THEN 'fr'
                        WHEN {_SCORES['es']} = {_BEST} THEN 'es'
                        ELSE 'zh' END AS pred_lang
            FROM documents
        """,
        tags=("text",),
    )
)

# ------------------------------------------------- n-gram Jaccard near-dup


JACCARD_THRESHOLD = 0.05


def _ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by exact word-3-gram Jaccard.

    Shape: shingle rows (codegen'd posexplode + window lead) → self
    equi-join on shingle → per-pair common count → Jaccard from per-doc
    shingle counts. The equi-join on the shingle key is the scalable
    trick — no all-pairs cross product; at 100 TB hot shingles are the
    skew risk and AQE skew-join handles them."""
    # Unsplittable-input spread (guide §2.5): the tokenize+shingle
    # build (which the three lazy consumers each re-run) otherwise
    # evaluates on ONE task each time.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    sh = X.shingles_df(docs, "doc_id", F.col("text"))
    # (r10 measured: eagerly localCheckpointing sh to share it across
    # the three consumers ran 1.28 → 1.58 s at sf0.1 — the blocking
    # materialization of the wide shingle strings costs more than the
    # duplicated pipeline evaluations it saves at this scale — so the
    # lazy form deliberately stands; contrast ngram_jaccard_capped,
    # where the restructure paid off because it also deleted the
    # self-join.)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    cb = counts.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    jac = (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            stable_round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


SHINGLE_DF_CAP = 4  # drop shingles present in more than this many docs


def _ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ngram_jaccard_pairs` with the stop-shingle guard the exact form
    needs on adversarial corpora: shingles whose document frequency
    exceeds SHINGLE_DF_CAP are dropped BEFORE the self-join, and the
    Jaccard is computed over the capped shingle sets (numerator and
    denominator from the same filtered feature space — a well-defined
    similarity over discriminative shingles, not a biased estimate of
    the uncapped one).

    Scale rationale: the exact self-join's candidate count is
    sum(df²) over shingles — one boilerplate 10-million-doc shingle
    yields 10^14 candidate pairs. The cap bounds per-shingle fan-out at
    CAP², making the join's output linear in the shingle table no
    matter how templated the corpus is; near-dup pairs survive because
    the shingles that make two documents near-dups are exactly the rare
    ones. One extra hash-agg (the DF table) + a broadcast-ready
    semi-join against it."""
    docs = _docs(spark, sf_dir)
    # One materialization of the shingle table (see ngram_jaccard_pairs:
    # every lazy consumer re-ran the tokenize pipeline; 4 documents
    # scans in the r9 plan), then the DF cap and the pair generation
    # come out of ONE digest-keyed aggregate: because the cap bounds
    # every kept shingle's doc list at SHINGLE_DF_CAP, the per-shingle
    # doc set is a tiny sorted array and the a<b pairs are a narrow
    # combination explode (the triangle_count combos idiom) — the
    # shingle self-join, its second full input evaluation, and the two
    # per-doc count builds all collapse into reads of two small tables.
    # State stays bounded: collect_set runs only on rows that survived
    # the df<=CAP semi-join, so no hot-shingle array can exceed CAP.
    # (r10 measured: spreading docs before this checkpointed shingle
    # build ran 1.04 -> 1.38 s interleaved - reverted.)
    sh = X.shingles_df(docs, "doc_id", F.col("text")).localCheckpoint(
        eager=True
    )
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .select("shingle")
    )
    capped = sh.join(keep, "shingle")
    grouped = capped.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    ).localCheckpoint(eager=True)
    counts = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    common = (
        grouped.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(ds, (x, i) ->
                        transform(slice(ds, i + 2, size(ds) - i - 1),
                                  y -> struct(x AS a, y AS b))))
                    """
                )
            ).alias("e")
        )
        .groupBy(
            F.col("e.a").alias("doc_a"), F.col("e.b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    cb = counts.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    jac = (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            stable_round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


register(
    Query(
        name="ngram_jaccard_capped",
        spark=_ngram_jaccard_capped,
        oracle=rf"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                           AS shingle
                FROM toks WHERE len(t) >= 3
            ),
            keep AS (
                SELECT shingle FROM sh
                GROUP BY 1 HAVING count(*) <= {SHINGLE_DF_CAP}
            ),
            capped AS (
                SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
            ),
            counts AS (
                SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1
            ),
            common AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM capped a JOIN capped b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   floor((n_common / CAST(ca.n_sh + cb.n_sh - n_common
                                          AS DOUBLE)) * 1000000.0 + 0.5)
                       / 1000000.0 AS jaccard
            FROM common
            JOIN counts ca ON ca.doc_id = doc_a
            JOIN counts cb ON cb.doc_id = doc_b
            WHERE floor((n_common / CAST(ca.n_sh + cb.n_sh - n_common
                                         AS DOUBLE)) * 1000000.0 + 0.5)
                  / 1000000.0 >= {JACCARD_THRESHOLD}
        """,
        tags=("dedup", "join", "scale-path"),
    )
)


# ------------------------------------------------------- vocabulary stats


def _vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 terms by document frequency (stop-word
    analysis / tokenizer sanity surface)."""
    docs = _docs(spark, sf_dir)
    terms = X.shingles_df(docs, "doc_id", F.col("text"), n=1).withColumnRenamed(
        "shingle", "term"
    )
    df_counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        df_counts.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
        .limit(20)
    )


register(
    Query(
        name="vocab_top_terms",
        spark=_vocab_top_terms,
        oracle=r"""
            WITH terms AS (
                SELECT DISTINCT doc_id, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS term
                FROM documents
            )
            SELECT term, count(*) AS doc_freq
            FROM terms
            GROUP BY 1
            ORDER BY doc_freq DESC, term
            LIMIT 20
        """,
        tags=("text", "O3"),
    )
)

# ------------------------------------------------------------ TF-IDF


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 terms per document (ties broken by term). TF is the
    in-doc term count, IDF is ln(N/df) — both engines compute the same
    formula in double."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("term")
    )
    # tf feeds both the doc-frequency aggregate and the scoring join —
    # lazily both re-ran the tokenize pass (3 documents scans in the
    # r10 before-plan). Materialize the narrow (doc_id, term, tf) table
    # once (guide §2.4; the bm25_topk precedent — same table, same fix).
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    df_counts = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n") / F.col("doc_freq")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 3
    )


register(
    Query(
        name="tfidf_top_terms",
        spark=_tfidf_top_terms,
        oracle=r"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ),
            dfreq AS (
                SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1
            ),
            n AS (SELECT count(*) AS n FROM documents),
            scored AS (
                SELECT doc_id, tf.term,
                       round(tf * ln(n / CAST(doc_freq AS DOUBLE)), 6) AS tfidf
                FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
            )
            SELECT doc_id, term, tfidf, rk FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS rk
                FROM scored
            ) WHERE rk <= 3
        """,
        tags=("text", "window"),
    )
)

# ------------------------------------------------- doc length histogram


def _doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucket histogram (quality-filter calibration surface):
    50-char buckets over n_chars."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            (F.floor(F.col("n_chars") / 50) * 50).alias("bucket_lo")
        )
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


register(
    Query(
        name="doc_length_histogram",
        spark=_doc_length_histogram,
        oracle="""
            SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
                   count(*) AS n_docs
            FROM documents
            GROUP BY 1
        """,
        tags=("text", "aggregation"),
    )
)

# ------------------------------------------- MinHash-LSH + SimHash (scale)

# Jaccard threshold the MinHash gate queries (full and incremental) and
# their DuckDB mirrors run at.
MINHASH_THRESHOLD = 0.3


def _minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup: MinHash signatures + LSH band join
    (functions.dedup). The gate runs the md5perm hash family — one md5
    per shingle, k universal-hash permutations in int64 arithmetic — so
    the ENTIRE pipeline (shingle → 32 min-hashes → 8×4 band collision →
    agreement estimate) value-hashes against a DuckDB mirror at
    xxhash64-comparable speed."""
    from ..functions.dedup import minhash_lsh_pairs

    # Unsplittable-input spread (guide §2.5): shingle+md5+32-permutation
    # mins — the memory-bandwidth-bound stage the r9 verdict flagged —
    # otherwise runs on ONE task; doc_id keying aligns with the
    # signature aggregate so no extra exchange appears.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    return minhash_lsh_pairs(
        docs, "doc_id", F.col("text"), threshold=MINHASH_THRESHOLD,
        family="md5perm",
    )


def _minhash_oracle() -> str:
    """DuckDB mirror of the md5perm MinHash-LSH pipeline, generated so
    the 32 permutation constants / 8 band predicates stay in lockstep
    with the Spark constants (imported, not re-derived). Band collision
    is expressed as slice equality — equivalent to band-hash equality
    because the band hash is a deterministic function of the slice.

    The band count DERIVES from the threshold via the same
    ``pick_bands_rows`` S-curve the Spark side uses (r9 fix: the oracle
    used to hardcode 8x4 while the engine picked 16x2 at threshold
    0.3 — indistinguishable on the driver's bimodal corpora, caught by
    the sf1.0 decade soak whose word-shuffled sibling docs populate
    the 0.3-0.5 Jaccard gray zone where candidacy depends on the
    banding)."""
    from ..functions.dedup import (
        DEFAULT_NUM_HASHES, MH_PERM_P, mh_perm_constants, pick_bands_rows,
    )

    threshold, k = MINHASH_THRESHOLD, DEFAULT_NUM_HASHES
    bands, r = pick_bands_rows(threshold, k)
    a_c, b_c = mh_perm_constants(k)
    # 32-bit base hash from the md5 hex prefix, nibble-by-nibble
    # (== int(md5(shingle)[:8], 16), matching Spark's conv()).
    base = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(shingle), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    mins = ",\n                   ".join(
        f"min(({a_c[i]} * __h + {b_c[i]}) % {MH_PERM_P}) AS mh{i}"
        for i in range(k)
    )
    # Candidates as a UNION of per-band EQUI-joins, not one OR-of-bands
    # predicate: DuckDB cannot hash-join a disjunctive condition and
    # falls back to a nested loop, which is O(n^2) at the sf1.0 decade
    # scale (50k docs). Each branch is hash-joinable; DISTINCT merges
    # multi-band collisions — semantically identical to the OR form.
    band_joins = "\n                  UNION ALL ".join(
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND "
        + " AND ".join(f"a.mh{b * r + j} = b.mh{b * r + j}" for j in range(r))
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return rf"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
                FROM toks WHERE len(t) >= 3
            ),
            hashed AS (
                SELECT doc_id, CAST({base} AS BIGINT) AS __h FROM sh
            ),
            sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
            cand AS (
                SELECT DISTINCT doc_a, doc_b FROM (
                  {band_joins}
                )
            )
            SELECT p.doc_a, p.doc_b,
                   round(({agree}) / {k}.0, 6) AS est_jaccard
            FROM cand p
            JOIN sig sa ON sa.doc_id = p.doc_a
            JOIN sig sb ON sb.doc_id = p.doc_b
            WHERE round(({agree}) / {k}.0, 6) >= {threshold}
    """


register(
    Query(
        name="minhash_lsh_pairs",
        spark=_minhash_lsh_pairs,
        oracle=_minhash_oracle(),
        tags=("dedup", "lsh"),
    )
)


# ------------------------------------- incremental (new-batch) near-dup

# Deterministic corpus/batch split for the gate: sources src16..src19
# (numeric suffix >= 16, ~20% of docs) arrive as the "new batch"; the
# rest are the already-indexed corpus. Mirrorable in both engines as
# integer arithmetic on the source suffix.
INCR_BATCH_MIN_SRC = 16


def _minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a new batch probed against the
    existing corpus's banded MinHash signatures
    (functions.dedup.minhash_incremental_pairs). The corpus side is
    never self-joined — the arriving batch broadcasts its own (small)
    banded signatures into a zero-shuffle probe. Gate runs the md5perm
    family so the full pipeline value-hashes against the DuckDB
    mirror."""
    from ..functions.dedup import minhash_incremental_pairs

    # Unsplittable-input spread (guide §2.5) — the r9 verdict's one
    # perf-weak item: the corpus-side 32-permutation signature build is
    # memory-bandwidth-bound AND ran on one task, which is exactly the
    # shape that amplifies host contention. Spread once before the
    # split; both sides inherit the doc_id clustering.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    src_num = F.substring("source", 4, 10).cast("int")
    return minhash_incremental_pairs(
        docs.filter(src_num < INCR_BATCH_MIN_SRC),
        docs.filter(src_num >= INCR_BATCH_MIN_SRC),
        "doc_id",
        F.col("text"),
        threshold=MINHASH_THRESHOLD,
        family="md5perm",
    )


def _minhash_incr_oracle() -> str:
    """DuckDB mirror of the incremental md5perm MinHash probe: same
    signature pipeline as ``_minhash_oracle``, but the join is
    corpus-side × batch-side (disjoint by the source split), with band
    collision again expressed as slice equality. Bands derive from the
    threshold exactly like the engine side (see ``_minhash_oracle``'s
    r9 note)."""
    from ..functions.dedup import (
        DEFAULT_NUM_HASHES, MH_PERM_P, mh_perm_constants, pick_bands_rows,
    )

    threshold, k = MINHASH_THRESHOLD, DEFAULT_NUM_HASHES
    bands, r = pick_bands_rows(threshold, k)
    a_c, b_c = mh_perm_constants(k)
    base = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(shingle), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    mins = ",\n                   ".join(
        f"min(({a_c[i]} * __h + {b_c[i]}) % {MH_PERM_P}) AS mh{i}"
        for i in range(k)
    )
    # UNION-of-equi-joins candidate form, hash-joinable in DuckDB at
    # decade scale — see _minhash_oracle's band_joins note.
    band_joins = "\n                  UNION ALL ".join(
        "SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id "
        "FROM corpus c JOIN batch b ON "
        + " AND ".join(f"c.mh{b * r + j} = b.mh{b * r + j}" for j in range(r))
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN sc.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return rf"""
            WITH toks AS (
                SELECT doc_id,
                       CAST(substr(source, 4) AS INTEGER) AS src_num,
                       string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            sh AS (
                SELECT doc_id, src_num,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
                FROM toks WHERE len(t) >= 3
            ),
            hashed AS (
                SELECT doc_id, src_num, CAST({base} AS BIGINT) AS __h FROM sh
            ),
            sig AS (
                SELECT doc_id, src_num, {mins}
                FROM hashed GROUP BY doc_id, src_num
            ),
            corpus AS (
                SELECT * FROM sig WHERE src_num < {INCR_BATCH_MIN_SRC}
            ),
            batch AS (
                SELECT * FROM sig WHERE src_num >= {INCR_BATCH_MIN_SRC}
            ),
            cand AS (
                SELECT DISTINCT corpus_id, batch_id FROM (
                  {band_joins}
                )
            )
            SELECT p.corpus_id, p.batch_id,
                   round(({agree}) / {k}.0, 6) AS est_jaccard
            FROM cand p
            JOIN sig sc ON sc.doc_id = p.corpus_id
            JOIN sig sb ON sb.doc_id = p.batch_id
            WHERE round(({agree}) / {k}.0, 6) >= {threshold}
    """


register(
    Query(
        name="minhash_incremental",
        spark=_minhash_incremental,
        oracle=_minhash_incr_oracle(),
        tags=("dedup", "lsh", "incremental"),
    )
)


# Hamming threshold and fingerprint width of the SimHash gate query and
# its DuckDB mirror (60 bits: 15 md5 hex chars fit a signed long).
SIMHASH_MAX_HAMMING = 3
SIMHASH_BITS = 60


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup #2: SimHash with banded Hamming join
    (functions.dedup.simhash_pairs). The gate runs the md5hex family at
    60 bits (15 md5 hex chars → signed long, no sign games) so the
    whole vote → fingerprint → band-block → Hamming pipeline
    value-hashes against a DuckDB mirror; the 64-bit xxhash64
    production family is plan-identical and unit-tested."""
    from ..functions.dedup import simhash_pairs

    # Unsplittable-input spread (guide §2.5): the per-token md5 + 60
    # bit-sum aggregate otherwise runs on ONE task (single-row-group
    # parquet); keyed on doc_id the spread exchange doubles as the
    # signature aggregate's clustering, so no extra shuffle appears.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    return simhash_pairs(
        docs.select("doc_id", X.tokens(F.col("text")).alias("toks")),
        "doc_id",
        F.col("toks"),
        max_hamming=SIMHASH_MAX_HAMMING,
        num_bits=SIMHASH_BITS,
        family="md5hex",
    )


def _simhash_oracle() -> str:
    """DuckDB mirror of the md5hex SimHash pipeline. The 60-bit token
    hash is rebuilt from md5 hex nibbles (strpos over '0123456789abcdef'
    == int(h[:15], 16)); votes, fingerprint assembly, band keys and
    bit_count(xor) Hamming are then plain integer arithmetic that both
    engines evaluate identically."""
    from ..functions.dedup import SIMHASH_BANDS

    max_hamming, bands, bits = SIMHASH_MAX_HAMMING, SIMHASH_BANDS, SIMHASH_BITS
    width = bits // bands
    mask = (1 << width) - 1
    val = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}"
        for i in range(15)
    )
    votes = ",\n                       ".join(
        f"sum(CASE WHEN (v >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    band_eq = "\n                  OR ".join(
        f"((a.fp >> {b * width}) & {mask}) = ((b.fp >> {b * width}) & {mask})"
        for b in range(bands)
    )
    return rf"""
            WITH th AS (
                SELECT doc_id,
                       CAST({val} AS BIGINT) AS v
                FROM (
                    SELECT doc_id, md5(t) AS h
                    FROM (
                        SELECT doc_id,
                               unnest(string_split_regex(
                                   lower(trim(text)), '\s+')) AS t
                        FROM documents
                    )
                )
            ),
            votes AS (
                SELECT doc_id,
                       {votes}
                FROM th GROUP BY doc_id
            ),
            fps AS (
                SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM votes
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
            FROM fps a JOIN fps b
              ON a.doc_id < b.doc_id AND ({band_eq})
            WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


register(
    Query(
        name="simhash_pairs",
        spark=_simhash_pairs,
        oracle=_simhash_oracle(),
        tags=("dedup", "lsh"),
    )
)


def _ngram_jaccard_oracle(threshold: float) -> str:
    """Exact word-3-gram Jaccard pair oracle, parameterized on the
    acceptance threshold (0.05 for the candidate query, the LSH
    operating point for the recall gate)."""
    return rf"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
                FROM toks WHERE len(t) >= 3
            ),
            counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   floor((n_common / CAST(ca.n_sh + cb.n_sh - n_common AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
            FROM common
            JOIN counts ca ON ca.doc_id = doc_a
            JOIN counts cb ON cb.doc_id = doc_b
            WHERE floor((n_common / CAST(ca.n_sh + cb.n_sh - n_common AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
                  >= {threshold}
        """


register(
    Query(
        name="ngram_jaccard_pairs",
        spark=_ngram_jaccard_pairs,
        oracle=_ngram_jaccard_oracle(JACCARD_THRESHOLD),
        tags=("dedup", "join"),
    )
)


# --------------------------------------------- MinHash-LSH recall gate

# The LSH operating threshold (minhash_lsh_pairs filters its Jaccard
# ESTIMATE at 0.3); recall is measured against exact pairs at the same
# point, so the number reflects both banding misses and estimator
# variance — what a user tuning bands/rows actually needs to watch.
MINHASH_RECALL_TAU = MINHASH_THRESHOLD


def _minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH scale path against exact word-3-gram
    Jaccard at the LSH operating threshold, as a gate row the driver
    watches round-over-round (the dedup twin of ``ann_lsh_recall``).
    Composition of two fully oracle-checked pipelines, so the recall
    number itself value-hashes in DuckDB."""
    exact = (
        _ngram_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= MINHASH_RECALL_TAU)
        .select("doc_a", "doc_b")
    )
    approx = _minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    hits = exact.join(approx, ["doc_a", "doc_b"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_true",
            "n_hit",
            # stable_round, not engine round: a ratio of counts can sit
            # exactly on a 4-dp midpoint, where Spark and DuckDB break
            # ties differently (the sf0.1-sweep divergence class).
            stable_round(
                F.col("n_hit") / F.nullif(F.col("n_true"), F.lit(0)), 4
            ).alias("recall"),
        )
    )


register(
    Query(
        name="minhash_lsh_recall",
        spark=_minhash_lsh_recall,
        oracle=f"""
            WITH exact AS (
                SELECT doc_a, doc_b
                FROM ({_ngram_jaccard_oracle(MINHASH_RECALL_TAU)})
            ),
            approx AS (
                SELECT doc_a, doc_b FROM ({_minhash_oracle()})
            ),
            agg AS (
                SELECT
                    (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_true,
                    (SELECT CAST(count(*) AS BIGINT) FROM exact e
                      WHERE EXISTS (SELECT 1 FROM approx a
                                    WHERE a.doc_a = e.doc_a
                                      AND a.doc_b = e.doc_b)) AS n_hit
            )
            SELECT n_true, n_hit,
                   {sql_stable_round(
                       'n_hit / CAST(nullif(n_true, 0) AS DOUBLE)', 4
                   )} AS recall
            FROM agg
        """,
        tags=("dedup", "lsh", "recall"),
    )
)


# ------------------------------------------- dedup clustering (components)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup CLUSTERS: connected components over the
    word-3-gram Jaccard pair graph (operators.graph, large-star/
    small-star — O(log n) rounds of key-shuffled joins, no driver
    state). Every document gets a row; ``cluster_id`` is the min doc_id
    of its component (singletons map to themselves) and
    ``is_canonical`` marks the one doc per cluster a dedup pass keeps.
    The oracle computes the same closure with a recursive CTE.

    ``leakage_safe_split``, ``cluster_representative`` and
    ``curation_pipeline_e2e`` call this inside their own plans; the CC
    output materializes once per plan (connected components ends in an
    eager ``localCheckpoint``)."""
    from ..operators.graph import connected_components

    pairs = _ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp = connected_components(pairs)
    docs = _docs(spark, sf_dir).select("doc_id")
    return (
        docs.join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("cluster_id") == F.col("doc_id"))
    )


register(
    Query(
        name="dedup_clusters",
        spark=_dedup_clusters,
        oracle=rf"""
            WITH RECURSIVE
            toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
                FROM toks WHERE len(t) >= 3
            ),
            counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM common
                JOIN counts ca ON ca.doc_id = doc_a
                JOIN counts cb ON cb.doc_id = doc_b
                WHERE floor((n_common / CAST(ca.n_sh + cb.n_sh - n_common
                            AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 >= {JACCARD_THRESHOLD}
            ),
            edges AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION
                SELECT doc_b, doc_a FROM pairs
            ),
            reach(node, lbl) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
            ),
            labels AS (
                SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
            )
            SELECT d.doc_id,
                   coalesce(l.cluster_id, d.doc_id) AS cluster_id,
                   coalesce(l.cluster_id, d.doc_id) = d.doc_id AS is_canonical
            FROM documents d
            LEFT JOIN labels l ON l.node = d.doc_id
        """,
        tags=("dedup", "graph"),
    )
)


# -------------------------------------------------- sliding-window chunking

CHUNK_TOKENS = 48
CHUNK_OVERLAP = 12


def _doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: token windows of CHUNK_TOKENS advancing
    by CHUNK_TOKENS-CHUNK_OVERLAP, produced entirely narrow (sequence +
    posexplode + slice — no shuffle; chunks materialize where the doc
    partition lives, which is what lets this run over 100 TB of text as
    a pure map stage)."""
    docs = _docs(spark, sf_dir)
    return X.chunk_df(
        docs, "doc_id", F.col("text"), CHUNK_TOKENS, CHUNK_OVERLAP
    )


register(
    Query(
        name="doc_chunks",
        spark=_doc_chunks,
        oracle=rf"""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            st AS (
                SELECT doc_id, t, len(t) AS n,
                       unnest(generate_series(
                           0, greatest(len(t) - 1, 0),
                           {CHUNK_TOKENS - CHUNK_OVERLAP})) AS s
                FROM toks
            )
            SELECT doc_id,
                   s // {CHUNK_TOKENS - CHUNK_OVERLAP} AS chunk_idx,
                   array_to_string(t[s + 1 : s + {CHUNK_TOKENS}], ' ')
                       AS chunk_text,
                   CAST(least({CHUNK_TOKENS}, n - s) AS BIGINT) AS n_tokens
            FROM st WHERE s < n
        """,
        tags=("text", "chunking"),
    )
)


# ------------------------------------------------- deterministic sampling

SAMPLE_K = 3
SAMPLE_FRACTION = 0.1


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible k-per-(lang, source) sample via Knuth-hash ranking
    (operators.sampling) — same rows every run on any engine, which is
    what makes corpus downsampling auditable. One hash-shuffle + a
    k-bounded window."""
    from ..operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return stratified_sample(docs, ["lang", "source"], "doc_id", SAMPLE_K)


register(
    Query(
        name="stratified_sample",
        spark=_stratified_sample,
        oracle=f"""
            WITH ranked AS (
                SELECT doc_id, lang, source,
                       row_number() OVER (
                           PARTITION BY lang, source
                           ORDER BY (doc_id * 2654435761) % 4294967296,
                                    doc_id
                       ) AS sample_rank
                FROM documents
            )
            SELECT doc_id, lang, source, sample_rank
            FROM ranked WHERE sample_rank <= {SAMPLE_K}
        """,
        tags=("sampling", "window"),
    )
)


def _bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% Bernoulli sample as a pure narrow filter (the
    hash predicate rides the parquet scan; no shuffle, no RNG state —
    the only sampling shape that stays trivially correct across
    re-partitioning at 100 TB)."""
    from ..operators.sampling import bernoulli_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return bernoulli_sample(docs, "doc_id", SAMPLE_FRACTION)


register(
    Query(
        name="bernoulli_sample",
        spark=_bernoulli_sample,
        oracle=f"""
            SELECT doc_id, lang, n_chars
            FROM documents
            WHERE (doc_id * 2654435761) % 4294967296
                  < CAST({SAMPLE_FRACTION} * 4294967296 AS BIGINT)
        """,
        tags=("sampling", "filter"),
    )
)

# -------------------------------------------------------- PII redaction


def _pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions.text.scrub_pii): the corpus text is salted
    with a synthetic email + phone per doc (the driver tables carry no
    real PII), then redacted; the gate hashes the redaction counts and
    an md5 of the scrubbed text, so a regex drift on either side
    hash-fails. Pure Catalyst regexps — codegen, no UDF."""
    from ..functions.text import pii_counts, scrub_pii

    docs = _docs(spark, sf_dir)
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("t"),
    )
    n_emails, n_phones = pii_counts(F.col("t"))
    return salted.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(scrub_pii(F.col("t"))).alias("scrubbed_md5"),
    )


register(
    Query(
        name="pii_scrub",
        spark=_pii_scrub,
        oracle=r"""
            WITH salted AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-01'
                            || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
                FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS n_emails,
                   len(regexp_extract_all(t, '\+?\d[\d-]{6,}\d')) AS n_phones,
                   md5(regexp_replace(
                       regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '\+?\d[\d-]{6,}\d', '<PHONE>', 'g')) AS scrubbed_md5
            FROM salted
        """,
        tags=("text", "pii"),
    )
)

# ------------------------------------------------- repetition (quality)


def _repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of a doc's word bigrams
    taken by its single most frequent bigram. High ratio = boilerplate/
    template text a quality filter should drop. Multiset shingles
    (distinct=False) → per-(doc, gram) counts → max/sum — two hash
    aggregations, no window over the full corpus."""
    docs = _docs(spark, sf_dir)
    grams = X.shingles_df(docs, "doc_id", F.col("text"), n=2, distinct=False)
    per_gram = grams.groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_n"),
        stable_round(F.max("c") / F.sum("c"), 6).alias("repetition_ratio"),
    )


register(
    Query(
        name="repetition_ratio",
        spark=_repetition_ratio,
        oracle=r"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])) AS shingle
                FROM toks WHERE len(t) >= 2
            ),
            per_gram AS (
                SELECT doc_id, shingle, count(*) AS c
                FROM grams GROUP BY 1, 2
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_bigrams,
                   CAST(max(c) AS BIGINT) AS top_bigram_n,
                   floor((max(c) / CAST(sum(c) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
                       AS repetition_ratio
            FROM per_gram GROUP BY 1
        """,
        tags=("text", "quality"),
    )
)

# --------------------------------------------- benchmark contamination


def _contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination scan: fraction of each candidate doc's
    distinct 3-gram shingles that also appear in the benchmark corpus
    (stand-in: source 'src0'). The scalable shape is the shingle
    equi-join (semi) — never a doc×doc comparison; the benchmark
    shingle set is distinct-deduped once and reused."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("source") == "src0")
    cands = docs.filter(F.col("source") != "src0")
    bench_sh = (
        X.shingles_df(bench, "doc_id", F.col("text"))
        .select("shingle")
        .distinct()
    )
    cand_sh = X.shingles_df(cands, "doc_id", F.col("text"))
    totals = cand_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        cand_sh.join(bench_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            stable_round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_sh"), 6
            ).alias("contamination"),
        )
    )


register(
    Query(
        name="contamination_scan",
        spark=_contamination_scan,
        oracle=r"""
            WITH toks AS (
                SELECT doc_id, source,
                       string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            sh AS (
                SELECT doc_id, source,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
                           AS shingle
                FROM toks WHERE len(t) >= 3
            ),
            bench AS (
                SELECT DISTINCT shingle FROM sh WHERE source = 'src0'
            ),
            cand AS (SELECT doc_id, shingle FROM sh WHERE source != 'src0'),
            totals AS (
                SELECT doc_id, count(*) AS n_sh FROM cand GROUP BY 1
            ),
            hits AS (
                SELECT doc_id, count(*) AS n_hit
                FROM cand WHERE EXISTS (
                    SELECT 1 FROM bench b WHERE b.shingle = cand.shingle)
                GROUP BY 1
            )
            SELECT t.doc_id, t.n_sh,
                   coalesce(h.n_hit, 0) AS n_hit,
                   floor((coalesce(h.n_hit, 0) / CAST(t.n_sh AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
                       AS contamination
            FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
        """,
        tags=("text", "dedup", "join"),
    )
)


# ------------------------------------- token-weighted quality quantiles


def _token_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted quality quantiles per source: the quality level
    the median (and p90) TRAINING TOKEN sees. Training consumes
    tokens, not documents, so a doc-level median over-weights short
    docs — this is the corpus-health number a data card actually
    reports.

    Exactness: the weighted quantile is the LOWER quantile — smallest
    q whose cumulative token weight reaches the target fraction —
    decided by integer comparisons (``2·cum_w ≥ tot``,
    ``10·cum_w ≥ 9·tot``), so there is no interpolation and no
    floating-point threshold for the engines to disagree on.

    Scale: one hash-shuffle on ``source``; both window passes
    (running and total weight) ride the same (source → q, doc_id)
    sort; the quantile extraction is a conditional-min hash aggregate,
    so output is |sources| rows and nothing else leaves the window
    stage. At 100 TB, sub-shard skewed sources by a salt on the FIRST
    pass and merge per-shard (cum_w, tot) pairs — same plan shape."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    t = F.col("text")
    base = docs.select(
        "doc_id",
        "source",
        X.token_count(t).alias("w"),
        X.quality_score(t).alias("q"),
    )
    run = (
        Window.partitionBy("source")
        .orderBy("q", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.select(
        "source",
        "q",
        F.sum("w").over(run).alias("cw"),
        F.sum("w").over(Window.partitionBy("source")).alias("tot"),
    )
    return cum.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("tot").alias("total_tokens"),
        F.min(F.when(2 * F.col("cw") >= F.col("tot"), F.col("q"))).alias(
            "median_token_quality"
        ),
        F.min(
            F.when(10 * F.col("cw") >= 9 * F.col("tot"), F.col("q"))
        ).alias("p90_token_quality"),
    )


def _token_weighted_quality_oracle() -> str:
    from .registry import QUERIES

    quality = QUERIES["text_quality"].oracle
    return f"""
        WITH j AS (
            SELECT d.source, tq.doc_id, tq.n_tokens AS w,
                   tq.quality_score AS q
            FROM ( {quality} ) tq
            JOIN documents d USING (doc_id)
        ),
        c AS (
            SELECT source, q,
                   sum(w) OVER (
                       PARTITION BY source ORDER BY q, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cw,
                   sum(w) OVER (PARTITION BY source) AS tot
            FROM j
        )
        SELECT source, count(*) AS n_docs,
               CAST(max(tot) AS BIGINT) AS total_tokens,
               min(CASE WHEN 2 * cw >= tot THEN q END)
                   AS median_token_quality,
               min(CASE WHEN 10 * cw >= 9 * tot THEN q END)
                   AS p90_token_quality
        FROM c GROUP BY 1
    """


register(
    Query(
        name="token_weighted_quality",
        spark=_token_weighted_quality,
        oracle=_token_weighted_quality_oracle(),
        tags=("text", "quality", "window", "llm-pipeline"),
    )
)


# ----------------------------------------------------- winnowing (MOSS)

WIN_K = 4  # tokens per k-gram
WIN_W = 4  # gram-hashes per winnowing window
# Position lift for the packed (hash, pos) ordering key: hash*2^21 + pos
# keeps lexicographic (hash, pos) order in ONE bigint min (exact,
# order-independent on both engines). Positions are per-document gram
# indexes; 2^21 covers ~2M tokens/doc (document the bound, don't shuffle
# structs).
WIN_LIFT = 1 << 21


def _winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): every stride-1 WIN_K-token gram
    is hashed (32-bit md5 prefix); within every window of WIN_W
    consecutive gram hashes the minimum (ties → leftmost position) is
    selected; the per-document fingerprint set is the distinct selected
    (hash, pos) pairs. Guarantee: any shared token run of at least
    WIN_K + WIN_W - 1 tokens yields a shared selected hash, at ~2/(W+1)
    the storage of the full gram set — the sampling step ``span_dedup``
    (all grams) doesn't have.

    Scale shape: gram hashing is a narrow map; window-min rides ONE
    (doc_id, pos) sort — no self-join; the distinct is a hash aggregate
    on (doc_id, packed_key). Text never shuffles."""
    # Unsplittable-input spread (guide §2.5): gram-hash + per-doc
    # window-min otherwise run on ONE task; doc_id keying doubles as
    # the window's partitioning so no extra exchange appears.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    return X.winnow_fingerprints(
        docs, "doc_id", F.col("text"), k=WIN_K, w=WIN_W, lift=WIN_LIFT
    )


def _winnowing_oracle() -> str:
    base = " + ".join(
        f"(strpos('0123456789abcdef', substr(g, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return rf"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(array_to_string(t[i:i + {WIN_K} - 1], ' ')) AS g
            FROM toks, unnest(generate_series(1, len(t) - {WIN_K} + 1))
                       AS u(i)
            WHERE len(t) >= {WIN_K}
        ),
        keyed AS (
            SELECT doc_id, pos,
                   CAST({base} AS BIGINT) * {WIN_LIFT} + pos AS key
            FROM grams
        ),
        sel AS (
            SELECT DISTINCT doc_id, sel_key FROM (
                SELECT doc_id,
                       min(key) OVER w AS sel_key,
                       count(*) OVER w AS w_size
                FROM keyed
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW
                             AND {WIN_W - 1} FOLLOWING)
            ) WHERE w_size = {WIN_W}
        )
        SELECT doc_id,
               CAST(floor(sel_key / {WIN_LIFT}) AS BIGINT) AS fp,
               CAST(sel_key % {WIN_LIFT} AS BIGINT) AS pos
        FROM sel
    """


register(
    Query(
        name="winnowing_fingerprints",
        spark=_winnowing_fingerprints,
        oracle=_winnowing_oracle(),
        tags=("dedup", "fingerprint", "window"),
    )
)


# ----------------------------------- prefix-filtered set-similarity join

SSJ_T = 0.9  # shingle-set Jaccard threshold


def _set_similarity_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle-set Jaccard pairs >= SSJ_T via prefix
    filtering (PPJoin family — Xiao et al., WWW 2008): order each
    document's distinct shingles rarest-first (global df asc, shingle
    asc); two sets with Jaccard >= t MUST share a shingle within their
    first ``s - ceil(t*s) + 1`` shingles, so the candidate join runs on
    the short prefixes only — plus the PPJoin length filter
    (t*s_a <= s_b <= s_a/t) applied inside the join — and the tiny
    survivor set is verified with the exact intersection.

    The set unit is the word-3-gram shingle, NOT the unigram token,
    and that choice is load-bearing: prefix filtering needs a large
    sparse universe. Measured on this corpus at sf0.1, the unigram
    variant collapses — a tiny Zipfian vocabulary makes even each
    doc's rarest tokens common, and 14k prefix rows exploded into
    11.3M candidate pairs (~90% of all pairs, 119 s). Over shingles
    the same prefixes are near-unique and candidates stay pair-scale.

    Scale shape vs ``ngram_jaccard_pairs`` (all-shingle equi-join):
    the candidate join touches ~(1-t)*s shingles per doc instead of s,
    rarest-first ordering keeps prefix buckets tiny, and the length
    filter kills cross-size matches before the pair ever materializes.
    Exactness: candidates are a superset by the prefix theorem;
    verification is exact integer set math."""
    # Unsplittable-input spread (guide §2.5), kept on the sf1.0
    # evidence (r11, VERDICT r10 item 6): the r10 sf0.1 A/B measured
    # 1.28 → 1.46 s and reverted; at sf1.0 the shingle build dominates
    # and the revert flips — 6.87 s (plain) → 5.88 s (spread) min-of-4
    # interleaved after deep warmup.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    # Materialized once: four consumers (sizes, dfreq, the ranked probe,
    # sets) each re-ran the tokenize→shingle pipeline lazily — the r9
    # plan scanned documents four times. One compute + four narrow
    # reads (see ngram_jaccard_pairs note).
    sh = (
        X.shingles_df(docs, "doc_id", F.col("text"))
        .withColumnRenamed("shingle", "term")
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    dfreq = sh.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(
            F.col("df").asc(), F.col("term").asc()
        )
    )
    ranked = (
        sh.join(dfreq, "term")
        .join(sizes, "doc_id")
        .withColumn("rk", rk)
    )
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("s") - F.ceil(F.lit(SSJ_T) * F.col("s")) + F.lit(1)
    ).select("doc_id", "term", "s")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # PPJoin length filter: |B| must sit in [t|A|, |A|/t]
            & (
                F.col("b.s").cast("double")
                >= F.lit(SSJ_T) * F.col("a.s").cast("double")
            )
            & (
                F.col("b.s").cast("double") * F.lit(SSJ_T)
                <= F.col("a.s").cast("double")
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("term")).alias("ts"),
        F.count(F.lit(1)).alias("s"),
    )
    inter = F.size(F.array_intersect(F.col("x.ts"), F.col("y.ts")))
    jac = stable_round(
        inter
        / (F.col("x.s") + F.col("y.s") - inter).cast("double"),
        6,
    )
    return (
        cand.join(sets.alias("x"), cand["doc_a"] == F.col("x.doc_id"))
        .join(sets.alias("y"), cand["doc_b"] == F.col("y.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= SSJ_T)
    )


register(
    Query(
        name="set_similarity_prefix_join",
        spark=_set_similarity_prefix_join,
        oracle=rf"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(
                    lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            sh AS MATERIALIZED (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       ))) AS term
                FROM toks WHERE len(t) >= 3
            ),
            sizes AS (
                SELECT doc_id, count(*) AS s FROM sh GROUP BY 1
            ),
            dfreq AS (
                SELECT term, count(*) AS df FROM sh GROUP BY 1
            ),
            ranked AS (
                SELECT t.doc_id, t.term,
                       row_number() OVER (PARTITION BY t.doc_id
                           ORDER BY d.df ASC, t.term ASC) AS rk,
                       z.s
                FROM sh t
                JOIN dfreq d ON t.term = d.term
                JOIN sizes z ON t.doc_id = z.doc_id
            ),
            pref AS MATERIALIZED (
                SELECT doc_id, term, s FROM ranked
                WHERE rk <= s - ceil({SSJ_T} * s) + 1
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM pref a JOIN pref b
                  ON a.term = b.term AND a.doc_id < b.doc_id
                 AND CAST(b.s AS DOUBLE) >= {SSJ_T} * CAST(a.s AS DOUBLE)
                 AND CAST(b.s AS DOUBLE) * {SSJ_T} <= CAST(a.s AS DOUBLE)
            ),
            sets AS MATERIALIZED (
                SELECT doc_id, list(term ORDER BY term) AS ts,
                       count(*) AS s
                FROM sh GROUP BY 1
            )
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT c.doc_a, c.doc_b,
                       floor((len(list_intersect(x.ts, y.ts))
                              / CAST(x.s + y.s
                                     - len(list_intersect(x.ts, y.ts))
                                     AS DOUBLE)) * 1000000.0 + 0.5)
                           / 1000000.0 AS jaccard
                FROM cand c
                JOIN sets x ON c.doc_a = x.doc_id
                JOIN sets y ON c.doc_b = y.doc_id
            )
            WHERE jaccard >= {SSJ_T}
        """,
        tags=("dedup", "join", "scale-path"),
    )
)


# ---------------------------------------------- distribution drift (KL)


def _source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution drift per source: KL(P_source || P_corpus)
    over token frequencies — the mixture-health metric a training
    pipeline watches when a new crawl slice shifts the corpus (high KL
    = the slice's language is unlike the blend it feeds).

    Every probability is a ratio of exact integer counts, so each
    term's contribution p_s·ln(p_s/p_c) is the identical IEEE double on
    both engines; the per-source sum rides a DECIMAL(38,12) accumulator.
    Plan shape: ONE corpus tokenize pass into a (source, term) hash
    aggregate; corpus-level term counts derive from it (re-aggregate,
    no second scan); the join is term-keyed, vocabulary-sized."""
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select(
            "source", F.explode(X.tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st"))
        # Vocabulary-sized (source, term) counts with FOUR consumers
        # (src_tot, corp, n_tot, the KL join) — lazily each re-ran the
        # corpus tokenize pass (4 documents scans in the r10 before-
        # plan). One tokenize pass + vocab-sized reads (guide §2.4;
        # the bm25_topk tf-checkpoint precedent).
        .localCheckpoint(eager=True)
    )
    src_tot = tf.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    corp = tf.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    n_tot = tf.agg(F.sum("c_st").alias("n"))
    p_s = F.col("c_st") / F.col("n_s")
    p_c = F.col("c_t") / F.col("n")
    contrib = (p_s * F.log(p_s / p_c)).cast("decimal(38,12)")
    return (
        tf.join(corp, "term")
        .join(src_tot, "source")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            stable_round(F.sum(contrib).cast("double"), 6).alias("kl"),
        )
    )


register(
    Query(
        name="source_kl_divergence",
        spark=_source_kl_divergence,
        oracle=r"""
            WITH tf AS MATERIALIZED (
                SELECT source, term, count(*) AS c_st FROM (
                    SELECT source, unnest(string_split_regex(
                        lower(trim(text)), '\s+')) AS term
                    FROM documents
                ) GROUP BY 1, 2
            ),
            src_tot AS (
                SELECT source, sum(c_st) AS n_s FROM tf GROUP BY 1
            ),
            corp AS (
                SELECT term, sum(c_st) AS c_t FROM tf GROUP BY 1
            ),
            n_tot AS (SELECT sum(c_st) AS n FROM tf)
            SELECT tf.source,
                   CAST(max(n_s) AS BIGINT) AS n_tokens,
                   floor(CAST(sum(CAST(
                       (c_st / CAST(n_s AS DOUBLE))
                       * ln((c_st / CAST(n_s AS DOUBLE))
                            / (c_t / CAST(n AS DOUBLE)))
                       AS DECIMAL(38,12))) AS DOUBLE) * 1000000.0 + 0.5)
                       / 1000000.0 AS kl
            FROM tf
            JOIN corp ON tf.term = corp.term
            JOIN src_tot ON tf.source = src_tot.source
            CROSS JOIN n_tot
            GROUP BY 1
        """,
        tags=("text", "aggregation", "drift"),
    )
)


# --------------------------------- lang × source mutual information


def _lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document language and source, plus
    both marginal entropies (nats): MI = Σ p(l,s)·ln(p(l,s)/(p(l)p(s))).
    The corpus-composition diagnostic — MI near 0 means sources are
    linguistically interchangeable; MI near min(H) means language is
    determined by source, and a mixture rebalance on one axis will
    skew the other.

    Shape: ONE (lang, source) hash-agg over the corpus (cells =
    |langs|×|sources|, tiny); marginals re-aggregate from the cells
    (no second scan); every probability is a ratio of exact integer
    counts so each ln-term is the identical IEEE double on both
    engines, and the sums ride DECIMAL(38,12) (the KL precedent)."""
    docs = _docs(spark, sf_dir)
    cells = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("c_ls"))
        # |langs|×|sources| rows with FOUR consumers (lm, sm, n and the
        # MI join) — lazily each re-ran the corpus aggregate (8
        # documents scans in the r10 before-plan). One corpus pass +
        # four reads of the tiny cell table (guide §2.4).
        .localCheckpoint(eager=True)
    )
    lm = cells.groupBy("lang").agg(F.sum("c_ls").alias("c_l"))
    sm = cells.groupBy("source").agg(F.sum("c_ls").alias("c_s"))
    n = cells.agg(F.sum("c_ls").alias("n"))
    dec = "decimal(38,12)"
    nd = F.col("n").cast("double")
    p_ls = F.col("c_ls") / nd
    p_l = F.col("c_l") / nd
    p_s = F.col("c_s") / nd
    joined = (
        cells.join(lm, "lang")
        .join(sm, "source")
        .crossJoin(F.broadcast(n))
    )
    mi_terms = joined.select(
        "n",
        (p_ls * F.log(p_ls / (p_l * p_s))).cast(dec).alias("mi_t"),
    )
    h_l = lm.crossJoin(F.broadcast(n)).select(
        (-(F.col("c_l") / nd) * F.log(F.col("c_l") / nd))
        .cast(dec)
        .alias("h")
    )
    h_s = sm.crossJoin(F.broadcast(n)).select(
        (-(F.col("c_s") / nd) * F.log(F.col("c_s") / nd))
        .cast(dec)
        .alias("h")
    )
    return (
        mi_terms.groupBy("n")
        .agg(F.sum("mi_t").alias("mi"))
        .crossJoin(
            F.broadcast(h_l.agg(F.sum("h").alias("h_lang")))
        )
        .crossJoin(
            F.broadcast(h_s.agg(F.sum("h").alias("h_source")))
        )
        .select(
            F.col("n").cast("long").alias("n_docs"),
            stable_round(F.col("mi").cast("double"), 6).alias("mi"),
            stable_round(F.col("h_lang").cast("double"), 6).alias("h_lang"),
            stable_round(F.col("h_source").cast("double"), 6).alias(
                "h_source"
            ),
        )
    )


register(
    Query(
        name="lang_source_mi",
        spark=_lang_source_mi,
        oracle="""
            WITH cells AS (
                SELECT lang, source, count(*) AS c_ls
                FROM documents GROUP BY 1, 2
            ),
            lm AS (SELECT lang, sum(c_ls) AS c_l FROM cells GROUP BY 1),
            sm AS (SELECT source, sum(c_ls) AS c_s FROM cells GROUP BY 1),
            nn AS (SELECT CAST(sum(c_ls) AS DOUBLE) AS n FROM cells),
            mi AS (
                SELECT sum(CAST(
                           (c_ls / n)
                           * ln((c_ls / n) / ((c_l / n) * (c_s / n)))
                           AS DECIMAL(38,12))) AS mi
                FROM cells JOIN lm USING (lang) JOIN sm USING (source),
                     nn
            ),
            hl AS (
                SELECT sum(CAST(-(c_l / n) * ln(c_l / n)
                                AS DECIMAL(38,12))) AS h_lang
                FROM lm, nn
            ),
            hs AS (
                SELECT sum(CAST(-(c_s / n) * ln(c_s / n)
                                AS DECIMAL(38,12))) AS h_source
                FROM sm, nn
            )
            SELECT CAST(n AS BIGINT) AS n_docs,
                   floor(CAST(mi AS DOUBLE) * 1000000.0 + 0.5)
                       / 1000000.0 AS mi,
                   floor(CAST(h_lang AS DOUBLE) * 1000000.0 + 0.5)
                       / 1000000.0 AS h_lang,
                   floor(CAST(h_source AS DOUBLE) * 1000000.0 + 0.5)
                       / 1000000.0 AS h_source
            FROM mi, hl, hs, nn
            -- engine contract: empty corpus -> no diagnostic row
            -- (Spark's groupBy over zero cells); n IS NULL only
            -- on empty input, so this is a no-op otherwise
            WHERE n IS NOT NULL
        """,
        tags=("text", "information-theory", "mixture"),
        doc="MI(lang; source) + marginal entropies from one cell-table "
        "agg; integer-count probabilities, decimal term accumulation",
    )
)


# ------------------------------------------- per-language term keyness


def _term_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature terms per language via Dunning's G² log-likelihood
    ratio (public formula: Dunning 1993, "Accurate Methods for the
    Statistics of Surprise and Coincidence"): for each (lang, term),
    build the 2×2 token contingency table (term-in-lang / term-in-rest
    / other-in-lang / other-in-rest) and score
    ``G² = 2·Σ O·ln(O/E)``; keep the top-5 over-represented terms per
    language. The corpus-curation use: per-source/per-language
    vocabulary signatures surface template boilerplate and scraper
    artifacts that per-doc quality scores miss.

    Scale shape: ONE (lang, term) token hash-agg over the corpus, then
    a vocab-sized equi-join against term totals (co-partitioned on
    term) and a broadcast of the |langs|-row marginals. The window is
    partitioned by lang over vocab-sized input. Exactness: every cell
    and marginal is an exact int64 count; each O/E ratio is written as
    ``(O/row)·(N/col)`` so both engines evaluate the identical
    correctly-rounded IEEE double ops; the over-representation filter
    ``a·N > n_l·c_t`` compares exact int64 products (no float
    boundary); ranking orders by the stable-rounded score."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang", F.explode(X.tokens(F.col("text"))).alias("term")
    )
    lt = (
        toks.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("a"))
        # Vocab-sized (lang, term) cells, four consumers (lang_tot,
        # term_tot, n, the G² join) — same §2.4 rewrite as
        # source_kl_divergence: one corpus tokenize pass, not four.
        .localCheckpoint(eager=True)
    )
    lang_tot = lt.groupBy("lang").agg(F.sum("a").alias("n_l"))
    term_tot = lt.groupBy("term").agg(F.sum("a").alias("c_t"))
    n = lt.agg(F.sum("a").alias("n"))
    joined = (
        lt.join(term_tot, "term")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(n))
        .filter(F.col("c_t") >= 5)
        # Exact over-representation test a/n_l > c_t/N as a product
        # comparison — in DECIMAL(19,0)x(19,0)=DECIMAL(38,0) so it
        # cannot overflow even at 100 TB token counts (a*n ~ 1e22
        # exceeds int64); the oracle mirrors with HUGEINT products.
        .filter(
            F.col("a").cast("decimal(19,0)")
            * F.col("n").cast("decimal(19,0)")
            > F.col("n_l").cast("decimal(19,0)")
            * F.col("c_t").cast("decimal(19,0)")
        )
    )
    ad = F.col("a").cast("double")
    bd = (F.col("c_t") - F.col("a")).cast("double")
    cd = (F.col("n_l") - F.col("a")).cast("double")
    dd = (
        F.col("n") - F.col("n_l") - (F.col("c_t") - F.col("a"))
    ).cast("double")
    nld = F.col("n_l").cast("double")
    nrd = (F.col("n") - F.col("n_l")).cast("double")
    ctd = F.col("c_t").cast("double")
    crd = (F.col("n") - F.col("c_t")).cast("double")
    nd = F.col("n").cast("double")
    t_a = ad * F.log((ad / nld) * (nd / ctd))
    t_b = F.when(
        bd > 0, bd * F.log((bd / nrd) * (nd / ctd))
    ).otherwise(F.lit(0.0))
    t_c = F.when(
        cd > 0, cd * F.log((cd / nld) * (nd / crd))
    ).otherwise(F.lit(0.0))
    t_d = F.when(
        dd > 0, dd * F.log((dd / nrd) * (nd / crd))
    ).otherwise(F.lit(0.0))
    scored = joined.select(
        "lang",
        "term",
        F.col("a").cast("long").alias("obs_count"),
        stable_round(
            F.lit(2.0) * (((t_a + t_b) + t_c) + t_d), 6
        ).alias("g2"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.col("g2").desc(), F.col("term").asc()
    )
    return scored.withColumn(
        "rk", F.row_number().over(w)
    ).filter(F.col("rk") <= 5)


register(
    Query(
        name="term_keyness",
        spark=_term_keyness,
        oracle=r"""
            WITH toks AS (
                SELECT lang, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS term
                FROM documents
            ),
            lt AS (
                SELECT lang, term, count(*) AS a FROM toks GROUP BY 1, 2
            ),
            lang_tot AS (SELECT lang, sum(a) AS n_l FROM lt GROUP BY 1),
            term_tot AS (SELECT term, sum(a) AS c_t FROM lt GROUP BY 1),
            nn AS (SELECT sum(a) AS n FROM lt),
            scored AS (
                SELECT lt.lang, lt.term, a,
                       2.0 * (((
                           CAST(a AS DOUBLE)
                           * ln((CAST(a AS DOUBLE) / CAST(n_l AS DOUBLE))
                                * (CAST(n AS DOUBLE) / CAST(c_t AS DOUBLE)))
                         + CASE WHEN c_t - a > 0 THEN
                               CAST(c_t - a AS DOUBLE)
                               * ln((CAST(c_t - a AS DOUBLE)
                                     / CAST(n - n_l AS DOUBLE))
                                    * (CAST(n AS DOUBLE)
                                       / CAST(c_t AS DOUBLE)))
                           ELSE 0.0 END)
                         + CASE WHEN n_l - a > 0 THEN
                               CAST(n_l - a AS DOUBLE)
                               * ln((CAST(n_l - a AS DOUBLE)
                                     / CAST(n_l AS DOUBLE))
                                    * (CAST(n AS DOUBLE)
                                       / CAST(n - c_t AS DOUBLE)))
                           ELSE 0.0 END)
                         + CASE WHEN n - n_l - (c_t - a) > 0 THEN
                               CAST(n - n_l - (c_t - a) AS DOUBLE)
                               * ln((CAST(n - n_l - (c_t - a) AS DOUBLE)
                                     / CAST(n - n_l AS DOUBLE))
                                    * (CAST(n AS DOUBLE)
                                       / CAST(n - c_t AS DOUBLE)))
                           ELSE 0.0 END) AS g2raw
                FROM lt
                JOIN term_tot USING (term)
                JOIN lang_tot USING (lang)
                CROSS JOIN nn
                WHERE c_t >= 5
                  AND CAST(a AS HUGEINT) * n > CAST(n_l AS HUGEINT) * c_t
            ),
            rounded AS (
                SELECT lang, term, CAST(a AS BIGINT) AS obs_count,
                       floor(g2raw * 1000000.0 + 0.5) / 1000000.0 AS g2
                FROM scored
            )
            SELECT lang, term, obs_count, g2, rk FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                    ORDER BY g2 DESC, term) AS rk
                FROM rounded
            ) WHERE rk <= 5
        """,
        tags=("text", "statistics", "keyness"),
        doc="Dunning G² signature terms per language: one (lang,term) "
        "token agg, vocab-sized term-total join, broadcast marginals; "
        "exact-int contingency cells, IEEE-identical O/E terms",
    )
)


# ------------------------------------------------------- Zipf exponent

ZIPF_HEAD = 1000


def _zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: least-squares fit of
    ``ln(count) = intercept − s·ln(rank)`` over the top-``ZIPF_HEAD``
    terms (Zipf's law is a head phenomenon; the tail is censored by
    corpus size). A healthy natural corpus sits near s ≈ 1 — strong
    deviation flags templated/boilerplate-heavy or synthetic text, so
    this is a one-row corpus health probe next to `lang_profile`.

    Scale shape: one corpus-sized (term) count agg; the head is
    k-bounded (TakeOrderedAndProject, never a vocab sort); ranking and
    the OLS sufficient statistics run over ≤ZIPF_HEAD rows. Each
    ln-term is the identical IEEE double on both engines (exact-int
    inputs), the five OLS sums ride DECIMAL(38,12) (order-independent),
    and the closed form is written identically in both engines."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(X.tokens(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    head = counts.orderBy(
        F.col("c").desc(), F.col("term").asc()
    ).limit(ZIPF_HEAD)
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    ranked = head.withColumn("r", F.row_number().over(w))
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    dec = "decimal(38,12)"
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
    )
    d = sums.select(
        F.col("n").cast("double").alias("nd"),
        F.col("n").cast("long").alias("n_terms"),
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxy").cast("double").alias("sxy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("syy").cast("double").alias("syy"),
    )
    slope = (F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    with_slope = d.select("n_terms", "nd", "sx", "sy", "sxx", "sxy",
                          "syy", slope.alias("b"))
    r2_num = (
        F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")
    )
    r2 = (r2_num * r2_num) / (
        (F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return with_slope.select(
        "n_terms",
        stable_round(-F.col("b"), 6).alias("zipf_exponent"),
        stable_round(
            (F.col("sy") - F.col("b") * F.col("sx")) / F.col("nd"), 6
        ).alias("intercept"),
        stable_round(r2, 6).alias("r2"),
    )


register(
    Query(
        name="zipf_slope",
        spark=_zipf_slope,
        oracle=r"""
            WITH toks AS (
                SELECT unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS term
                FROM documents
            ),
            counts AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
            head AS (
                SELECT term, c FROM counts
                ORDER BY c DESC, term LIMIT 1000
            ),
            ranked AS (
                SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r
                FROM head
            ),
            sums AS (
                SELECT count(*) AS n,
                       sum(CAST(ln(CAST(r AS DOUBLE))
                           AS DECIMAL(38,12))) AS sx,
                       sum(CAST(ln(CAST(c AS DOUBLE))
                           AS DECIMAL(38,12))) AS sy,
                       sum(CAST(ln(CAST(r AS DOUBLE))
                           * ln(CAST(c AS DOUBLE))
                           AS DECIMAL(38,12))) AS sxy,
                       sum(CAST(ln(CAST(r AS DOUBLE))
                           * ln(CAST(r AS DOUBLE))
                           AS DECIMAL(38,12))) AS sxx,
                       sum(CAST(ln(CAST(c AS DOUBLE))
                           * ln(CAST(c AS DOUBLE))
                           AS DECIMAL(38,12))) AS syy
                FROM ranked
            ),
            d AS (
                SELECT CAST(n AS DOUBLE) AS nd, CAST(n AS BIGINT) AS n_terms,
                       CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
                       CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
                       CAST(syy AS DOUBLE) AS syy
                FROM sums
            ),
            w AS (
                SELECT n_terms, nd, sx, sy, sxx, sxy, syy,
                       (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS b
                FROM d
            )
            SELECT n_terms,
                   floor((-b) * 1000000.0 + 0.5) / 1000000.0
                       AS zipf_exponent,
                   floor(((sy - b * sx) / nd) * 1000000.0 + 0.5)
                       / 1000000.0 AS intercept,
                   floor(((nd * sxy - sx * sy) * (nd * sxy - sx * sy))
                       / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))
                       * 1000000.0 + 0.5) / 1000000.0 AS r2
            FROM w
        """,
        tags=("text", "statistics", "corpus-health"),
        doc="Zipf exponent over the k-bounded frequency head: corpus "
        "agg + TakeOrdered(1000) + decimal OLS sums, one output row",
    )
)


# ------------------------------------------------- lexical diversity

# Quantum for the exact c·ln(c) accumulator: 1e-9 keeps the quantized
# term inside int64 for per-doc word counts up to ~4.4e8 (c·ln c·1e9 <
# 2^63), and the ≤0.5e-9-per-term quantization is identical in both
# engines, so parity is exact regardless of the quantum.
_LEX_Q = "1000000000.0"
_LN2 = "0.6931471805599453"


def _lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity profile: unigram Shannon entropy
    (bits), type-token ratio, and hapax-legomenon ratio — the
    vocabulary-richness screens a training-data pipeline runs next to
    the Gopher rules (templated/spammy docs score low entropy even when
    their raw token counts look healthy).

    Entropy uses the fold H = ln(N)/ln2 − (Σ c·ln c)/(N·ln2): the only
    data-dependent sum is Σ c·ln c over the doc's distinct words. Each
    term is quantized to integer 1e-9 quanta (an IEEE-identical double
    product in both engines, floored — exact as a double always, and
    within int64 far past any real per-doc word count) and accumulated
    in DECIMAL(38,0), so the sum is exact and associative — immune to
    partitioning. The closed form then runs in IEEE double written
    identically in both engines.

    Scale shape: explode → (doc_id, word) hash-count → per-doc fold.
    Two hash aggregates, both map-side combinable, keyed by int64 doc
    ids; the corpus text never rides a shuffle whole, only word-sized
    tokens (at 100 TB the grouping key would be xxhash64(word) —
    identical counts, digest-sized shuffle rows — kept as the raw word
    here so the oracle's grouping matches byte-for-byte)."""
    # Unsplittable-input spread (guide §2.5): tokenize + (doc, word)
    # count otherwise run on ONE task; doc_id keying aligns with both
    # downstream aggregates.
    docs = spread_scan(_docs(spark, sf_dir), spark, "doc_id")
    wc = (
        docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cd = F.col("c").cast("double")
    term = F.floor(cd * F.log(cd) * F.lit(float(_LEX_Q)) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        F.sum(term).alias("s"),
    )
    nd = F.col("n_tokens").cast("double")
    td = F.col("n_types").cast("double")
    entropy = (
        F.log(nd) - (F.col("s").cast("double") / F.lit(float(_LEX_Q))) / nd
    ) / F.lit(float(_LN2))
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        stable_round(entropy, 6).alias("entropy_bits"),
        stable_round(td / nd, 6).alias("ttr"),
        stable_round(F.col("n_hapax").cast("double") / td, 6).alias(
            "hapax_ratio"
        ),
    )


register(
    Query(
        name="lexical_diversity",
        spark=_lexical_diversity,
        oracle=rf"""
            WITH wc AS (
                SELECT doc_id, w, count(*) AS c
                FROM (SELECT doc_id,
                             unnest(string_split_regex(lower(trim(text)),
                                                       '\s+')) AS w
                      FROM documents)
                GROUP BY 1, 2
            ),
            per_doc AS (
                SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_tokens,
                       count(*) AS n_types,
                       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_hapax,
                       sum(CAST(floor(CAST(c AS DOUBLE)
                                      * ln(CAST(c AS DOUBLE))
                                      * {_LEX_Q} + 0.5)
                                AS DECIMAL(38,0))) AS s
                FROM wc GROUP BY 1
            )
            SELECT doc_id, n_tokens, n_types,
                   floor(((ln(CAST(n_tokens AS DOUBLE))
                           - (CAST(s AS DOUBLE) / {_LEX_Q})
                             / CAST(n_tokens AS DOUBLE)) / {_LN2})
                         * 1000000.0 + 0.5) / 1000000.0 AS entropy_bits,
                   floor((CAST(n_types AS DOUBLE)
                          / CAST(n_tokens AS DOUBLE))
                         * 1000000.0 + 0.5) / 1000000.0 AS ttr,
                   floor((CAST(n_hapax AS DOUBLE)
                          / CAST(n_types AS DOUBLE))
                         * 1000000.0 + 0.5) / 1000000.0 AS hapax_ratio
            FROM per_doc
        """,
        tags=("text", "quality", "entropy"),
        doc="per-doc unigram Shannon entropy + TTR + hapax ratio via an "
        "exact decimal-quantized c·ln c fold; two map-side-combinable "
        "hash aggregates, closed form shared between engines",
    )
)
