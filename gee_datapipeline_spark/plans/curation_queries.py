"""Corpus-curation queries: duplicated-span detection and rule-based
quality filtering over the ``documents`` table (LLM-data-pipeline
surface; BASELINE.json north star).

``span_dedup`` is the Spark re-expression of exact-substring
deduplication (Lee et al., "Deduplicating Training Data Makes Language
Models Better"): instead of a monolithic suffix array, every stride-1
k-token window is hashed and duplicated windows are found with one
hash-shuffle — the shape that scales to 100 TB because only 128-bit
digests ever ride the shuffle, never the text.

``gopher_quality`` applies the published Gopher document-quality rules
(Rae et al. 2021, §A.1.1): word-count bounds, mean-word-length bounds,
minimum alphabetic-word share, and a stopword-diversity floor — all as
pure Catalyst expressions (no UDF, whole-stage codegen end to end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.stable import stable_round
from ..functions import text as X
from .registry import Query, register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ------------------------------------------------------ duplicated spans

SPAN_K = 8  # tokens per window; stride 1


def _span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span profile: every stride-1 ``SPAN_K``
    token window is md5-hashed (narrow, map-side); a window is
    "duplicated" when its hash occurs in more than one distinct doc.

    Scale shape: the only shuffles are a hash-aggregate on the 128-bit
    span digest and a digest-keyed join back — text never shuffles.
    Map-side partial aggregation collapses within-doc repeats first, and
    AQE handles digest skew (a boilerplate span shared by millions of
    docs) without a manual salt."""
    docs = _docs(spark, sf_dir)
    # Unsplittable-input spread (guide §2.5): the tokenize+md5 window
    # hashing below otherwise runs on ONE task (single-row-group
    # parquet) before the digest-keyed exchange.
    d = spread_scan(docs, spark, "doc_id").select(
        "doc_id", X.tokens(F.col("text")).alias("t")
    ).withColumn("n", F.size("t"))
    spans = d.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("n") >= SPAN_K,
                F.expr(
                    f"transform(sequence(0, n - {SPAN_K}),"
                    f" s -> md5(concat_ws(' ', slice(t, s + 1, {SPAN_K}))))"
                ),
            ).otherwise(F.expr("cast(array() as array<string>)"))
        ).alias("h"),
    )
    # ONE digest-keyed exchange, reused by both consumers (guide §2.4):
    # without the explicit repartition, the aggregate side and the
    # join-probe side each re-ran the whole tokenize+md5 subtree (two
    # corpus scans, zero ReusedExchange in the r9 plan). Shuffling the
    # narrow (doc_id, h) rows once and reading the shuffle twice is the
    # cluster-scale layout anyway — digests ride the wire, text never
    # moves. The dup test only needs "more than one distinct doc", so
    # min!=max replaces count_distinct (no distinct-rewrite Expand;
    # 2-value accumulator instead of a per-group hash set).
    spans = spans.repartition("h")
    span_docs = spans.groupBy("h").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("is_dup")
    )
    per_doc = (
        spans.join(span_docs, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            stable_round(
                F.coalesce(
                    F.col("n_dup_spans")
                    / F.nullif(F.col("n_spans"), F.lit(0)).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("dup_span_frac"),
        )
    )


register(
    Query(
        name="span_dedup",
        spark=_span_dedup,
        oracle=rf"""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            spans AS (
                SELECT doc_id,
                       md5(array_to_string(t[s + 1 : s + {SPAN_K}], ' ')) AS h
                FROM (
                    SELECT doc_id, t, len(t) AS n,
                           unnest(generate_series(0, len(t) - {SPAN_K})) AS s
                    FROM toks
                )
            ),
            span_docs AS (
                SELECT h, count(DISTINCT doc_id) AS n_docs
                FROM spans GROUP BY 1
            )
            SELECT d.doc_id,
                   count(s.h) AS n_spans,
                   CAST(coalesce(sum(CASE WHEN sd.n_docs > 1 THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_dup_spans,
                   floor(coalesce(
                       sum(CASE WHEN sd.n_docs > 1 THEN 1 ELSE 0 END)
                           / CAST(nullif(count(s.h), 0) AS DOUBLE),
                       0.0) * 1000000.0 + 0.5) / 1000000.0 AS dup_span_frac
            FROM documents d
            LEFT JOIN spans s ON d.doc_id = s.doc_id
            LEFT JOIN span_docs sd ON s.h = sd.h
            GROUP BY 1
        """,
        tags=("dedup", "curation"),
    )
)

# ------------------------------------------- maximal duplicated spans


def _span_dedup_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable form of exact-substring dedup (Lee et al.): merge
    adjacent cross-doc-duplicated ``SPAN_K``-token windows into MAXIMAL
    spans ``[span_start, span_end)`` (token offsets) per document —
    the intervals a curation pass would cut, not just a dup-fraction
    profile like ``span_dedup``.

    Islands of consecutive duplicated offsets are found with the
    classic gaps-and-islands trick (``s - row_number()`` constant
    within a run). The window is PARTITIONED BY doc_id — per-doc state
    only, no global sort — and the rows entering it are just
    (doc_id, offset) pairs for *duplicated* windows, a small fraction
    of the corpus. As in ``span_dedup``, only 128-bit digests ride the
    dup-detection shuffle; text never moves."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    # Unsplittable-input spread (guide §2.5), as in span_dedup.
    d = spread_scan(docs, spark, "doc_id").select(
        "doc_id", X.tokens(F.col("text")).alias("t")
    ).withColumn("n", F.size("t"))
    spans = d.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("n") >= SPAN_K,
                F.expr(
                    f"transform(sequence(0, n - {SPAN_K}),"
                    f" s -> struct(s, md5(concat_ws(' ',"
                    f" slice(t, s + 1, {SPAN_K}))) as h))"
                ),
            ).otherwise(
                F.expr("cast(array() as array<struct<s:int,h:string>>)")
            )
        ).alias("sh"),
    ).select("doc_id", F.col("sh.s").alias("s"), F.col("sh.h").alias("h"))
    # Same reuse-one-exchange + min/max-instead-of-count_distinct
    # rewrite as span_dedup above: one corpus tokenize+md5 pass instead
    # of two, and the dup-hash aggregate keeps a 2-value accumulator
    # per digest instead of a distinct hash set.
    spans = spans.repartition("h")
    dup_hashes = (
        spans.groupBy("h")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("h")
    )
    dup = spans.join(dup_hashes, "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("s")
    islands = dup.withColumn(
        "island", F.col("s") - F.row_number().over(w)
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            (F.max("s") + F.lit(SPAN_K)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


register(
    Query(
        name="span_dedup_extract",
        spark=_span_dedup_extract,
        oracle=rf"""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            spans AS (
                SELECT doc_id, s,
                       md5(array_to_string(t[s + 1 : s + {SPAN_K}], ' ')) AS h
                FROM (
                    SELECT doc_id, t, len(t) AS n,
                           unnest(generate_series(0, len(t) - {SPAN_K})) AS s
                    FROM toks
                )
            ),
            dup_hashes AS (
                SELECT h FROM spans
                GROUP BY h HAVING count(DISTINCT doc_id) > 1
            ),
            dup AS (
                SELECT doc_id, s FROM spans
                WHERE h IN (SELECT h FROM dup_hashes)
            ),
            isl AS (
                SELECT doc_id, s,
                       s - row_number() OVER (
                           PARTITION BY doc_id ORDER BY s) AS island
                FROM dup
            )
            SELECT doc_id,
                   CAST(min(s) AS BIGINT) AS span_start,
                   CAST(max(s) + {SPAN_K} AS BIGINT) AS span_end,
                   count(*) AS n_windows
            FROM isl
            GROUP BY doc_id, island
        """,
        tags=("dedup", "curation"),
        doc="maximal cross-doc duplicated token spans per document "
        "(gaps-and-islands merge of duplicated stride-1 windows)",
    )
)

# ------------------------------------------------------ Gopher quality

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0
GOPHER_MAX_MWL = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOPWORDS = 2  # distinct stopword hits required


def _gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule filter: metrics + per-rule pass flags + overall keep.
    Everything is a Catalyst expression over one narrow projection — at
    100 TB this is a pure map stage with zero shuffle."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    toks = X.tokens(t)
    n = F.size(toks).cast("long")
    mwl = X.avg_token_len(t)  # rounded to 6dp in both engines
    alpha_frac = stable_round(
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
        / n.cast("double"),
        6,
    )
    sw_distinct = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in X.STOPWORDS]),
        )
    )
    out = docs.select(
        "doc_id",
        n.alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        sw_distinct.alias("n_distinct_stopwords"),
    )
    pass_wc = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    pass_mwl = (F.col("mean_word_len") >= GOPHER_MIN_MWL) & (
        F.col("mean_word_len") <= GOPHER_MAX_MWL
    )
    pass_alpha = F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC
    pass_sw = F.col("n_distinct_stopwords") >= GOPHER_MIN_STOPWORDS
    return out.select(
        "*",
        pass_wc.alias("pass_word_count"),
        pass_mwl.alias("pass_mean_word_len"),
        pass_alpha.alias("pass_alpha_frac"),
        pass_sw.alias("pass_stopwords"),
        (pass_wc & pass_mwl & pass_alpha & pass_sw).alias("keep"),
    )


_SW_LIST = "', '".join(X.STOPWORDS)

register(
    Query(
        name="gopher_quality",
        spark=_gopher_quality,
        oracle=rf"""
            WITH base AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks,
                       CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                            AS BIGINT) AS n_words,
                       floor(len(regexp_replace(trim(text), '\s+', '', 'g'))
                             / CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                                    AS DOUBLE) * 1000000.0 + 0.5)
                           / 1000000.0 AS mean_word_len
                FROM documents
            ),
            m AS (
                SELECT doc_id, n_words, mean_word_len,
                       floor(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                             / CAST(n_words AS DOUBLE) * 1000000.0 + 0.5)
                           / 1000000.0 AS alpha_word_frac,
                       CAST(len(list_intersect(list_distinct(toks),
                                ['{_SW_LIST}'])) AS INTEGER)
                           AS n_distinct_stopwords
                FROM base
            )
            SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
                   n_distinct_stopwords,
                   (n_words >= {GOPHER_MIN_WORDS}
                    AND n_words <= {GOPHER_MAX_WORDS}) AS pass_word_count,
                   (mean_word_len >= {GOPHER_MIN_MWL}
                    AND mean_word_len <= {GOPHER_MAX_MWL}) AS pass_mean_word_len,
                   (alpha_word_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS pass_alpha_frac,
                   (n_distinct_stopwords >= {GOPHER_MIN_STOPWORDS}) AS pass_stopwords,
                   (n_words >= {GOPHER_MIN_WORDS}
                    AND n_words <= {GOPHER_MAX_WORDS}
                    AND mean_word_len >= {GOPHER_MIN_MWL}
                    AND mean_word_len <= {GOPHER_MAX_MWL}
                    AND alpha_word_frac >= {GOPHER_MIN_ALPHA_FRAC}
                    AND n_distinct_stopwords >= {GOPHER_MIN_STOPWORDS}) AS keep
            FROM m
        """,
        tags=("quality", "curation"),
    )
)


# ---------------------------------------- Count-Min heavy hitters


def _cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates for the corpus's top-20
    terms, next to exact counts (functions.sketches). The sketch build
    shuffles at most depth×width rows per input partition however large
    the corpus; the exact side here exists to expose the overestimate,
    which is bounded by εN — on a real 100 TB run only the sketch and
    the shortlist probe survive.

    CMS guarantees estimate ≥ truth; ``overestimate`` makes the
    collision error visible (and the oracle checks it exactly)."""
    from ..functions.sketches import cms_build, cms_estimate

    docs = _docs(spark, sf_dir)
    occurrences = docs.select(
        F.explode(X.tokens(F.col("text"))).alias("term")
    )
    # Tokenize + count the corpus ONCE into a vocabulary-sized table
    # (materialized — it feeds both branches, and without the
    # checkpoint each branch would re-scan and re-tokenize the corpus).
    # The sketch then builds in weighted mode: identical counters, but
    # md5 runs per DISTINCT term, not per occurrence.
    term_counts = (
        occurrences.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .localCheckpoint(eager=True)
    )
    exact = term_counts.orderBy(
        F.desc("true_count"), F.asc("term")
    ).limit(20)
    sketch = cms_build(term_counts, weight_col="true_count")
    est = cms_estimate(sketch, exact.select("term"))
    return (
        exact.join(est, "term")
        .select(
            "term",
            "true_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("true_count")).alias(
                "overestimate"
            ),
        )
    )


def _cms_oracle() -> str:
    from ..functions.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        sql_base_hash,
        sql_bucket,
    )

    bucket_rows = " UNION ALL ".join(
        f"SELECT {i} AS depth, {sql_bucket(i)} AS bucket, term FROM hashed"
        for i in range(CMS_DEPTH)
    )
    return rf"""
        WITH occurrences AS (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                       AS term
            FROM documents
        ),
        exact AS (
            SELECT term, count(*) AS true_count
            FROM occurrences GROUP BY 1
            ORDER BY true_count DESC, term ASC LIMIT 20
        ),
        hashed AS (
            SELECT term, CAST({sql_base_hash('term')} AS BIGINT) AS __h
            FROM occurrences
        ),
        cells AS ({bucket_rows}),
        sketch AS (
            SELECT depth, bucket, count(*) AS cnt
            FROM cells GROUP BY 1, 2
        ),
        probes AS (
            SELECT e.term, d.i AS depth,
                   CASE d.i
                       {' '.join(f'WHEN {i} THEN {sql_bucket(i)}' for i in range(CMS_DEPTH))}
                   END AS bucket
            FROM (SELECT term, CAST({sql_base_hash('term')} AS BIGINT) AS __h
                  FROM exact) e,
                 (SELECT unnest(range({CMS_DEPTH})) AS i) d
        ),
        est AS (
            SELECT p.term, min(coalesce(s.cnt, 0)) AS cms_estimate
            FROM probes p LEFT JOIN sketch s
              ON p.depth = s.depth AND p.bucket = s.bucket
            GROUP BY 1
        )
        SELECT e.term, e.true_count, est.cms_estimate,
               est.cms_estimate - e.true_count AS overestimate
        FROM exact e JOIN est USING (term)
    """


register(
    Query(
        name="cms_heavy_hitters",
        spark=_cms_heavy_hitters,
        oracle=_cms_oracle(),
        tags=("sketch", "llm-pipeline"),
    )
)


# ------------------------------------- BPE vocabulary induction

# Pinned merge tables for the driver-shipped corpora, keyed by a corpus
# signature (doc count ×1e6 + total text length — distinguishes the
# three sf corpora, incl. sf0.001 vs sf0.01 which tie on count). The
# values were computed by the INDEPENDENT pure-Python reference
# implementation (tests/test_bpe.py::ref_learn_bpe) reading the parquet
# through DuckDB — no Spark in the loop — and only then confirmed equal
# to learn_bpe's output, so the oracle is a true differential, not an
# echo. On any other corpus the signature matches nothing and the gate
# fails loudly (0 oracle rows vs 10).
_BPE_PINNED: dict[int, list[tuple[str, str, int]]] = {
    500153156: [  # sf0.001
        ("e", "r", 4650), ("o", "r", 2880), ("i", "n", 2858),
        ("o", "w", 2763), ("s", "t", 2721), ("l", "u", 1928),
        ("a", "r", 1873), ("p", "ar", 1873), ("m", "er", 1824),
        ("a", "t", 1806),
    ],
    500149174: [  # sf0.01 (the driver's gate scale)
        ("e", "r", 4568), ("i", "n", 2760), ("o", "w", 2747),
        ("o", "r", 2696), ("s", "t", 2676), ("m", "er", 1852),
        ("a", "t", 1845), ("l", "u", 1831), ("a", "r", 1758),
        ("p", "ar", 1758),
    ],
    5001485576: [  # sf0.1 (bench / 10x parity scale)
        ("e", "r", 45089), ("i", "n", 27190), ("o", "r", 27095),
        ("s", "t", 27060), ("o", "w", 27044), ("t", "a", 18248),
        ("l", "u", 18239), ("m", "er", 18174), ("a", "r", 18111),
        ("p", "ar", 18111),
    ],
}

_BPE_SIG = "SELECT count(*) * 1000000 + sum(length(text)) FROM documents"


def _bpe_merges_oracle() -> str:
    rows = [
        f"({sig}, {i + 1}, '{lft}', '{rgt}', '{lft + rgt}', {cnt})"
        for sig, merges in _BPE_PINNED.items()
        for i, (lft, rgt, cnt) in enumerate(merges)
    ]
    values = ",\n                ".join(rows)
    return f"""
        WITH pinned(corpus_sig, rank, "left", "right", merged,
                    pair_count) AS (
            VALUES {values}
        )
        SELECT rank, "left", "right", merged,
               CAST(pair_count AS BIGINT) AS pair_count
        FROM pinned WHERE corpus_sig = ({_BPE_SIG})
    """


def _bpe_replay_sql(merges: list[tuple[str, str, int]]) -> str:
    """Exact SQL replay of apply_bpe's greedy left-to-right merge
    passes: each symbol is individually wrapped as ``|sym|`` (adjacent
    pairs share NO characters, so DuckDB's leftmost-non-overlapping
    ``replace`` consumes nothing a later match needs — unlike a
    single-delimiter encoding), and each pinned merge is one replace of
    ``|l||r|`` with ``|lr|``, applied in merge order. This mirrors
    ``functions.bpe.merge_pair``'s fold token for token."""
    expr = r"regexp_replace(word, '(.)', '|\1|', 'g')"
    for lft, rgt, _ in merges:
        expr = f"replace({expr}, '|{lft}||{rgt}|', '|{lft}{rgt}|')"
    return expr


def _bpe_encode_oracle() -> str:
    case = (
        f"CASE ({_BPE_SIG}) "
        + " ".join(
            f"WHEN {sig} THEN {_bpe_replay_sql(m)}"
            for sig, m in _BPE_PINNED.items()
        )
        + " END"
    )
    return f"""
        WITH occ AS (
            SELECT doc_id, w AS word
            FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)),
                                                 '\\s+')) AS w
                FROM documents
            ) WHERE length(w) > 0
        ),
        enc AS (
            SELECT word,
                   (length(replayed)
                    - length(replace(replayed, '|', ''))) // 2
                       AS n_pieces_word
            FROM (
                SELECT word, {case} AS replayed
                FROM (SELECT DISTINCT word FROM occ)
            )
        )
        SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(e.n_pieces_word) AS BIGINT) AS n_pieces
        FROM occ o JOIN enc e USING (word)
        GROUP BY o.doc_id
    """


def _bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training on the corpus: learn the first 10 BPE merges
    from the word vocabulary (functions.bpe — iterative power loop; one
    bounded scalar argmax crosses to the driver per round). Rows-only
    gate (the greedy fold has no portable SQL twin); the merge sequence
    is pinned against a pure-Python reference in tests/test_bpe.py."""
    from ..functions.bpe import learn_bpe

    docs = _docs(spark, sf_dir)
    words = (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    merges = learn_bpe(words, n_merges=10)
    rows = [
        (i + 1, left, right, left + right, cnt)
        for i, (left, right, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "rank int, left string, right string, merged string, pair_count long",
    )


register(
    Query(
        name="bpe_vocab_merges",
        spark=_bpe_vocab_merges,
        # r8: pinned literal table keyed by corpus signature (values
        # from the independent pure-Python reference) — the greedy
        # fold itself stays non-SQL, its RESULT is now hash-gated
        oracle=_bpe_merges_oracle(),
        tags=("bpe", "iterative", "llm-pipeline"),
    )
)


def _bpe_encode_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the learned BPE vocab: merges trained
    once (functions.bpe.learn_bpe), applied to the DISTINCT word table,
    broadcast back onto word occurrences, aggregated per document —
    the full train→encode tokenizer loop, with corpus-sized work
    limited to one explode + one broadcast join. Rows-only gate;
    encode parity vs the pure-Python reference is in tests/test_bpe.py."""
    from ..functions.bpe import apply_bpe, learn_bpe

    docs = _docs(spark, sf_dir)
    occurrences = docs.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    vocab = occurrences.groupBy("word").agg(
        F.count(F.lit(1)).alias("count")
    )
    merges = learn_bpe(vocab, n_merges=10)
    encoded = apply_bpe(vocab.select("word"), merges).select(
        "word", F.size("pieces").alias("n_pieces_word")
    )
    return (
        occurrences.join(F.broadcast(encoded), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces_word").alias("n_pieces"),
        )
    )


register(
    Query(
        name="bpe_encode_pieces",
        spark=_bpe_encode_pieces,
        # r8: exact SQL replay of the pinned merges (double-delimited
        # symbol encoding makes replace() reproduce the greedy pass)
        oracle=_bpe_encode_oracle(),
        tags=("bpe", "iterative", "llm-pipeline"),
    )
)


# -------------------------------------------- block-level boilerplate

BLOCK_W = 5  # tokens per non-overlapping block
BLOCK_DF_MAX = 5  # a block in >= this many distinct docs is boilerplate


def _boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style duplicated-segment REMOVAL (Penedo et al. 2023):
    docs are segmented into non-overlapping ``BLOCK_W``-token blocks;
    any block occurring in >= ``BLOCK_DF_MAX`` distinct documents is
    boilerplate and is cut, and the CLEANED text is reconstructed in
    original block order. Unlike ``span_dedup`` (a stride-1 *profile*),
    this is the mutation operator a curation pipeline actually applies.

    Scale shape: block doc-frequency is one hash-aggregate on 128-bit
    digests (map-side combined); the join back is digest-keyed; the
    reassembly is one per-doc hash-aggregate whose collect_list is
    bounded by the document's own block count — text never rides a
    shuffle except inside its own doc's reassembly row."""
    docs = _docs(spark, sf_dir)
    blocks = (
        docs.select("doc_id", X.tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform("
                    f"sequence(0, cast(ceil(size(t) / {BLOCK_W}.0) as int)"
                    f" - 1), b -> concat_ws(' ',"
                    f" slice(t, b * {BLOCK_W} + 1, {BLOCK_W})))"
                )
            ).alias("block_idx", "block_text"),
        )
        .withColumn("h", F.md5("block_text"))
    )
    # ONE digest-keyed exchange reused by the doc-frequency aggregate
    # and the join probe side (the span_dedup idiom from this round),
    # instead of three lazy re-runs of the tokenize+block+md5 subtree
    # (4 documents scans in the r10 before-plan). The hash partitioning
    # on h also satisfies the (h, doc_id) partial-distinct grouping
    # (subset rule), so the count_distinct inserts no extra shuffle.
    blocks = blocks.repartition("h")
    dfreq = blocks.groupBy("h").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    annotated = blocks.join(dfreq, "h")
    # Reassembly and the block totals fold into ONE per-doc aggregate:
    # collect_list skips the NULLs the boilerplate WHEN produces, so
    # the kept-only reassembly and the all-blocks count ride the same
    # hash aggregate — the separate `totals` subtree (one more full
    # tokenize pass) disappears. A doc whose every block is boilerplate
    # now yields an empty list → array_join '' and n_kept 0, exactly
    # the values the old missing-row path produced via coalesce.
    keep = F.col("n_docs") < BLOCK_DF_MAX
    per_doc = annotated.groupBy("doc_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN n_docs < "
                f"{BLOCK_DF_MAX} THEN struct(block_idx, block_text) "
                "END)), s -> s.block_text)"
            ),
            " ",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.coalesce("n_blocks", F.lit(0).cast("long")).alias("n_blocks"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
    )


register(
    Query(
        name="boilerplate_removal",
        spark=_boilerplate_removal,
        oracle=rf"""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS t
                FROM documents
            ),
            blocks AS (
                SELECT doc_id, b AS block_idx,
                       array_to_string(
                           t[b * {BLOCK_W} + 1 : b * {BLOCK_W} + {BLOCK_W}],
                           ' ') AS block_text
                FROM (
                    SELECT doc_id, t,
                           unnest(generate_series(
                               0,
                               CAST(ceil(len(t) / {BLOCK_W}.0) AS INTEGER) - 1
                           )) AS b
                    FROM toks
                )
            ),
            dfreq AS (
                SELECT md5(block_text) AS h,
                       count(DISTINCT doc_id) AS n_docs
                FROM blocks GROUP BY 1
            ),
            kept AS (
                SELECT doc_id,
                       string_agg(block_text, ' ' ORDER BY block_idx)
                           AS cleaned_text,
                       count(*) AS n_kept
                FROM blocks JOIN dfreq ON dfreq.h = md5(block_text)
                WHERE n_docs < {BLOCK_DF_MAX}
                GROUP BY doc_id
            ),
            totals AS (
                SELECT doc_id, count(*) AS n_blocks FROM blocks GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(k.cleaned_text, '') AS cleaned_text,
                   coalesce(t2.n_blocks, 0) AS n_blocks,
                   coalesce(k.n_kept, 0) AS n_kept
            FROM documents d
            LEFT JOIN kept k ON k.doc_id = d.doc_id
            LEFT JOIN totals t2 ON t2.doc_id = d.doc_id
        """,
        tags=("dedup", "curation", "llm-pipeline"),
    )
)


# ---------------------------------------- leakage-safe train/val/test

SPLIT_TRAIN_LT = 8  # hv % 10 < 8 -> train (80%)
SPLIT_VAL_EQ = 8  # hv % 10 = 8 -> val (10%); 9 -> test


def _leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment at the DEDUP-CLUSTER level: every doc
    inherits its near-dup cluster's split, so near-duplicates can never
    straddle train and eval (the contamination mode a doc-level hash
    split invites). Composition: connected components over the n-gram
    Jaccard pair graph (``dedup_clusters``) -> md5 hash of the cluster
    representative -> 80/10/10 bucket. Deterministic on any engine,
    reproducible across runs — auditable the way a published data card
    requires."""
    from .text_queries import _dedup_clusters

    clusters = _dedup_clusters(spark, sf_dir)
    hv = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
    )
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(hv < SPLIT_TRAIN_LT, "train")
        .when(hv == SPLIT_VAL_EQ, "val")
        .otherwise("test")
        .alias("split"),
    )


def _leakage_split_oracle() -> str:
    # Direct dependency import: ``dedup_clusters`` registers in
    # text_queries, which the registry's _load_all happens to import
    # first — but importing THIS module standalone (tests do) must not
    # depend on that ordering.
    from . import text_queries  # noqa: F401
    from .registry import QUERIES

    inner = QUERIES["dedup_clusters"].oracle
    base = " + ".join(
        f"(strpos('0123456789abcdef', substr("
        f"md5(CAST(cluster_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
            SELECT doc_id, cluster_id,
                   CASE WHEN hv < {SPLIT_TRAIN_LT} THEN 'train'
                        WHEN hv = {SPLIT_VAL_EQ} THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id, cluster_id,
                       CAST({base} AS BIGINT) % 10 AS hv
                FROM ( {inner} ) c
            )
    """


register(
    Query(
        name="leakage_safe_split",
        spark=_leakage_safe_split,
        oracle=_leakage_split_oracle(),
        tags=("sampling", "dedup", "llm-pipeline"),
    )
)


# ------------------------------------ quality-based canonical selection


def _cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection by QUALITY, not by id: per near-dup
    cluster (``dedup_clusters``), keep the member with the highest
    composite quality score (ties broken by lowest doc_id). This is the
    keep-rule a real curation pipeline applies — "keep the best copy",
    not "keep whichever arrived first".

    Scale shape: one struct-max hash aggregate on cluster_id —
    ``max(struct(quality, -doc_id))`` gets map-side partial
    aggregation, so the shuffle carries one candidate row per cluster
    per map partition instead of every member (a window + row_number
    would shuffle and sort ALL members). The quality join is doc_id
    equi-keyed."""
    from .text_queries import _dedup_clusters, _text_quality

    clusters = _dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = _text_quality(spark, sf_dir).select("doc_id", "quality_score")
    joined = clusters.join(quality, "doc_id")
    best = joined.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("quality_score").alias("q"),
                (-F.col("doc_id")).alias("nid"),
            )
        ).alias("best"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return best.select(
        "cluster_id",
        (-F.col("best.nid")).alias("rep_doc_id"),
        F.col("best.q").alias("rep_quality"),
        "n_members",
    )


def _cluster_rep_oracle() -> str:
    from .registry import QUERIES

    clusters = QUERIES["dedup_clusters"].oracle
    quality = QUERIES["text_quality"].oracle
    return f"""
            SELECT cluster_id, doc_id AS rep_doc_id,
                   quality_score AS rep_quality, n_members
            FROM (
                SELECT c.cluster_id, c.doc_id, q.quality_score,
                       count(*) OVER (PARTITION BY c.cluster_id)
                           AS n_members,
                       row_number() OVER (
                           PARTITION BY c.cluster_id
                           ORDER BY q.quality_score DESC, c.doc_id
                       ) AS rn
                FROM ( {clusters} ) c
                JOIN ( {quality} ) q ON q.doc_id = c.doc_id
            )
            WHERE rn = 1
    """


register(
    Query(
        name="cluster_representative",
        spark=_cluster_representative,
        oracle=_cluster_rep_oracle(),
        tags=("dedup", "quality", "llm-pipeline"),
    )
)


# ----------------------------------------- end-to-end curation pipeline

PIPE_N_SHARDS = 8


def _curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one declarative plan — the query
    a user actually ships: Gopher quality gate ∩ exact-dedup survivor
    (min doc_id per md5(text)) ∩ near-dup cluster canonical
    (``dedup_clusters``), with whitespace token counts and a
    deterministic output shard for the survivors.

    Scale shape: the quality gate and token count ride ONE documents
    scan (pure map stage); exact-dedup is a 128-bit-digest hash
    aggregate followed by a doc_id semi-join; the canonical gate is a
    doc_id semi-join against the CC output. Each gate is computed
    independently on the full corpus, so the three can run as parallel
    stages and the intersection is two digest-keyed semi-joins — text
    never rides any shuffle."""
    from .text_queries import _dedup_clusters

    docs = _docs(spark, sf_dir)
    gates = _gopher_quality(spark, sf_dir).select("doc_id", "keep")
    toks = docs.select(
        "doc_id", X.token_count(F.col("text")).alias("n_tokens")
    )
    exact_first = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    canon = (
        _dedup_clusters(spark, sf_dir)
        .filter(F.col("is_canonical"))
        .select("doc_id")
    )
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % PIPE_N_SHARDS
    )
    return (
        gates.filter(F.col("keep"))
        .join(exact_first, "doc_id", "left_semi")
        .join(canon, "doc_id", "left_semi")
        .join(toks, "doc_id")
        .select("doc_id", "n_tokens", shard.alias("shard"))
    )


def _pipeline_oracle() -> str:
    from .registry import QUERIES

    gopher = QUERIES["gopher_quality"].oracle
    clusters = QUERIES["dedup_clusters"].oracle
    hv = " + ".join(
        f"(strpos('0123456789abcdef', substr("
        f"md5(CAST(g.doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
            SELECT g.doc_id,
                   len(string_split_regex(lower(trim(d.text)), '\\s+'))
                       AS n_tokens,
                   CAST({hv} AS BIGINT) % {PIPE_N_SHARDS} AS shard
            FROM ( {gopher} ) g
            JOIN documents d ON d.doc_id = g.doc_id
            WHERE g.keep
              AND g.doc_id IN (
                  SELECT min(doc_id) FROM documents GROUP BY md5(text))
              AND g.doc_id IN (
                  SELECT doc_id FROM ( {clusters} ) WHERE is_canonical)
    """


register(
    Query(
        name="curation_pipeline_e2e",
        spark=_curation_pipeline_e2e,
        oracle=_pipeline_oracle(),
        tags=("curation", "dedup", "quality", "llm-pipeline"),
    )
)


# --------------------------------------- compression-ratio quality


def compression_ratio_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style compressibility signal: a document that
    DEFLATE shrinks too well is repetitive boilerplate; one that barely
    compresses is noise (random tokens, minified blobs). The ratio
    ``len(zlib(text)) / len(text)`` is a cheap, language-agnostic
    quality feature the public web-corpus pipelines all carry.

    zlib runs in an Arrow-batched pandas UDF (the linter-approved
    Python path — never row-at-a-time), fully narrow: each executor
    compresses its own partitions, nothing shuffles until the final
    projection. Output is deterministic for a fixed zlib level; the
    pinned pure-Python reference in ``tests/test_curation.py`` checks
    the exact (ratio, bucket) per doc.

    At 100 TB: embarrassingly parallel scan work, ~GB/s per core in
    C zlib; the signal then joins the quality ensemble exactly like
    ``gopher_quality``'s columns."""
    from pyspark.sql.functions import pandas_udf

    def _one(t):
        import zlib

        if t is None:
            return None
        raw = t.encode("utf-8")
        if not raw:
            return None
        return len(zlib.compress(raw, 6)) / len(raw)

    # lambda form: immune to `from __future__ import annotations`
    # breaking pandas_udf's type-hint inference.
    zratio = pandas_udf(lambda texts: texts.map(_one), "double")

    # (r10 measured: spreading before the zlib UDF ran 0.34 -> 0.51 s
    # interleaved at this corpus size - reverted; at a real 100 TB
    # corpus the row-group layout provides the Python-worker fan-out.)
    docs = load_table(spark, sf_dir, "documents")
    r = F.col("ratio")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        zratio(F.col("text")).alias("ratio"),
    ).select(
        "doc_id",
        "n_chars",
        F.col("ratio"),
        stable_round(r, 6).alias("compression_ratio"),
        F.when(r.isNull(), F.lit("empty"))
        .when(r < 0.35, F.lit("repetitive"))
        .when(r > 0.85, F.lit("incompressible"))
        .otherwise(F.lit("normal"))
        .alias("bucket"),
    )


def _compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate form of the compressibility signal: per-bucket histogram
    with integer-exact aggregates (doc count, char sum, and the sum of
    micro-ratios ``floor(ratio·10⁶ + 0.5)`` — a BIGINT, so the oracle
    comparison has zero float subtleties). DEFLATE itself is not
    SQL-expressible, so the DuckDB oracle is a PINNED literal table of
    these aggregates keyed by a corpus signature computed from the data
    (md5 of the ordered per-doc md5s): the oracle self-selects the row
    set matching whatever corpus the driver mounted and returns zero
    rows — a loud failure — for an unknown corpus. Regenerate pins with
    ``tests/test_curation.py::test_compression_pinned_oracle_rows``."""
    per = compression_ratio_per_doc(spark, sf_dir)
    micro = F.floor(F.col("ratio") * F.lit(10.0**6) + F.lit(0.5)).cast("long")
    return per.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(micro).alias("sum_ratio_micro"),
    )


# Pinned (corpus-signature, bucket, n_docs, sum_chars, sum_ratio_micro)
# rows for the driver-generated corpora. Computed by the same public
# zlib both sides would use — the pin guards plumbing, determinism and
# regressions rather than independent semantics (DEFLATE has a single
# canonical public implementation; no SQL engine exposes it).
_COMPRESSION_PINNED = [
    ("e18591d2d86fa98dbaa08006dde40c23", "incompressible", 32, 2157, 30494246),  # sf0.001
    ("e18591d2d86fa98dbaa08006dde40c23", "normal", 468, 150999, 246872356),  # sf0.001
    ("5edd397cccafa413be520fc77af5ea1d", "incompressible", 21, 1349, 19971457),  # sf0.01
    ("5edd397cccafa413be520fc77af5ea1d", "normal", 479, 147825, 257267837),  # sf0.01
    ("883bb8d8038a26adc3ac9a40699dcd7b", "incompressible", 292, 19603, 274040265),  # sf0.1
    ("883bb8d8038a26adc3ac9a40699dcd7b", "normal", 4708, 1465973, 2522762772),  # sf0.1
]

_COMPRESSION_ORACLE = (
    "WITH sig AS (\n"
    "    SELECT md5(string_agg(md5(text), '' ORDER BY doc_id)) AS s\n"
    "    FROM documents\n"
    "), pinned(s, bucket, n_docs, sum_chars, sum_ratio_micro) AS (VALUES\n"
    + ",\n".join(
        f"    ('{s}', '{b}', {n}, {c}, {m})"
        for s, b, n, c, m in _COMPRESSION_PINNED
    )
    + "\n)\n"
    "SELECT bucket, n_docs, sum_chars, sum_ratio_micro\n"
    "FROM pinned JOIN sig ON pinned.s = sig.s"
)


register(
    Query(
        name="compression_ratio_quality",
        spark=_compression_ratio_quality,
        oracle=_COMPRESSION_ORACLE,
        tags=("curation", "quality", "llm-pipeline"),
        doc="zlib compressibility histogram via Arrow-batched UDF; "
        "FULL oracle from a corpus-signature-keyed pinned table "
        "(integer-exact aggregates)",
    )
)
