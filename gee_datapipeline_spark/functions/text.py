"""Text-analysis column builders (LLM-data-pipeline surface).

Everything is a pure Catalyst expression — tokenization, shingling,
quality ratios and the language-ID heuristic are built from
``split``/``transform``/``filter``/``aggregate`` higher-order functions, so
the hot path stays JVM-side with whole-stage codegen. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE = r"\s+"
PUNCT_CLASS = "[.,!?;:]"

# Tiny per-language marker sets for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic — the point is the
# operator shape (vectorized scoring + argmax), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "de", "que", "es"),
    "zh": ("de", "shi", "le", "bu", "wo"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lower-cased, trimmed text."""
    return F.split(F.lower(F.trim(text)), WHITESPACE)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


# GPT-2-style pre-tokenizer shape (public knowledge): contraction
# suffixes, space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs, residual whitespace. Restricted to
# constructs BOTH Java regex and RE2 support identically (no lookahead,
# ordered alternation) so the count is cross-engine reproducible.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_ish_tokens(text: Column) -> Column:
    """Pre-tokenizer segments under :data:`BPE_ISH_PATTERN` — the unit
    a BPE vocabulary would merge within. Closer to a real LLM token
    count than whitespace splitting (punctuation and contractions
    separate; digits isolate)."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text)).cast("long")


# PII patterns, restricted to the Java/RE2 common dialect (no lookahead,
# no backrefs) so redaction counts are cross-engine reproducible.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?\d[\d-]{6,}\d"


def scrub_pii(text: Column) -> Column:
    """Redact emails then phone-shaped digit runs — the minimal PII
    scrub a training corpus gets before anything else. Order matters
    (emails can contain digits); both replacements are global."""
    no_email = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(no_email, PHONE_PATTERN, "<PHONE>")


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the raw text."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0)).cast("long"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_PATTERN), 0)).cast("long"),
    )


def shingles(toks: Column) -> Column:
    """Distinct word 3-gram shingles (the MinHash/Jaccard input unit).

    PERFORMANCE: higher-order functions are interpreted (CodegenFallback)
    — fine for small/ad-hoc inputs, but the pipeline path is
    :func:`shingles_df` (posexplode + window lead), which is codegen'd
    end-to-end and parallelizes across the shuffle."""
    n = 3
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_df(docs, id_col: str, text: Column, n: int = 3,
                distinct: bool = True):
    """(doc_id, shingle) rows — word n-grams per document (distinct by
    default; ``distinct=False`` keeps the multiset, which repetition
    metrics need).

    Shape: split (codegen) → posexplode (codegen) → window ``lead`` to
    assemble n-grams (one shuffle on doc id, codegen) → dropDuplicates.
    No interpreted HOFs anywhere; the shuffle distributes small-file
    inputs across the cluster (a 5 MB parquet file is one input split —
    without the shuffle every downstream expression runs on one core)."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text)).alias("pos", "t"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", j).over(w) for j in range(1, n)]
    grams = toks.select(
        "doc_id",
        F.concat_ws(" ", *parts).alias("shingle"),
        parts[-1].alias("__last"),
    ).filter(F.col("__last").isNotNull())
    out = grams.select("doc_id", "shingle")
    return out.dropDuplicates(["doc_id", "shingle"]) if distinct else out


def _in_set(x: Column, words: tuple[str, ...]) -> Column:
    cond = x == words[0]
    for w in words[1:]:
        cond = cond | (x == w)
    return cond


def stopword_count(toks: Column) -> Column:
    return F.size(F.filter(toks, lambda x: _in_set(x, STOPWORDS))).cast("long")


def punct_ratio(text: Column, scale: int = 6) -> Column:
    """Fraction of characters that are sentence punctuation.

    stable_round (floor-based): these ratios have power-of-two
    denominators often enough that exact decimal midpoints occur, and
    engine round()s break those ties differently (sf0.1 sweep)."""
    from .stable import stable_round

    total = F.length(text)
    stripped = F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    return stable_round((total - stripped) / total, scale)


def avg_token_len(text: Column, scale: int = 6) -> Column:
    """Mean token length = non-whitespace chars / token count
    (stable_round — see punct_ratio)."""
    from .stable import stable_round

    non_ws = F.length(F.regexp_replace(F.trim(text), WHITESPACE, ""))
    return stable_round(non_ws / token_count(text), scale)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic: stopword density + moderate token
    length + low punctuation, rounded to 6 decimals. Deterministic
    double arithmetic."""
    from .stable import stable_round

    toks = tokens(text)
    sw_ratio = stopword_count(toks) / F.size(toks)
    len_term = F.least(avg_token_len(text, 12) / F.lit(10.0), F.lit(1.0))
    return stable_round(
        0.4 * sw_ratio + 0.3 * len_term + 0.3 * (1.0 - punct_ratio(text, 12)),
        6,
    )


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (the n-gram language-ID signal)."""
    return {
        lang: F.size(F.filter(toks, lambda x: _in_set(x, words))).cast("long")
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(toks: Column) -> Column:
    """Argmax of the marker scores with a fixed tie-break order
    (en > de > fr > es > zh); 'und' (undetermined) when no marker hits."""
    scores = lang_scores(toks)
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in ("en", "de", "fr", "es", "zh"):
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def normalized_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-collapsed, lower-cased
    text — the near-exact dedup key."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), WHITESPACE, " ")))


def chunk_df(
    docs,
    id_col: str,
    text: Column,
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Sliding-window document chunking (the context-window prep step of
    a training pipeline): token windows of ``chunk_tokens`` advancing by
    ``chunk_tokens - overlap``.

    Pure Catalyst — tokens via split, window starts via sequence +
    posexplode, chunk text via slice + array_join — so the fan-out is
    codegen'd and narrow (no shuffle at all: each doc's chunks are
    produced where the doc row lives)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(text)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    return (
        docs.select(
            F.col(id_col),
            toks.alias("__toks"),
            n.alias("__n"),
            F.posexplode(starts).alias("chunk_idx", "__start"),
        )
        .filter(F.col("__start") < F.col("__n"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens), F.col("__n") - F.col("__start")
            ).cast("long").alias("n_tokens"),
        )
    )


def winnow_fingerprints(
    docs,
    id_col: str,
    text: Column,
    k: int = 4,
    w: int = 4,
    lift: int = 1 << 21,
):
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003): hash every stride-1 ``k``-token gram (32-bit md5
    prefix), slide a window of ``w`` consecutive gram hashes, select the
    window minimum (ties → leftmost position), emit the distinct
    selected ``(fp, pos)`` pairs per document.

    Guarantee: two documents sharing a run of at least ``k + w - 1``
    tokens share at least one selected fingerprint, at ~2/(w+1) the
    storage of the full gram set. ``lift`` packs (hash, pos) into one
    bigint so the window min is a single exact integer aggregate;
    positions must stay below ``lift`` (2^21 ≈ 2M tokens/doc by
    default).

    Scale shape: gram hashing is a narrow map; the window-min rides ONE
    (doc, pos) sort; the distinct is a hash aggregate on the packed
    key. Text never shuffles."""
    from pyspark.sql import Window as W

    d = docs.select(F.col(id_col), tokens(text).alias("__t")).withColumn(
        "__n", F.size("__t")
    )
    grams = d.filter(F.col("__n") >= k).select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, __n - {k}),"
                f" s -> md5(concat_ws(' ', slice(__t, s + 1, {k}))))"
            )
        ).alias("pos", "__g"),
    )
    keyed = grams.select(
        id_col,
        "pos",
        (
            F.conv(F.substring("__g", 1, 8), 16, 10).cast("long")
            * F.lit(lift)
            + F.col("pos")
        ).alias("__key"),
    )
    frame = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(W.currentRow, w - 1)
    )
    sel = (
        keyed.select(
            id_col,
            F.min("__key").over(frame).alias("__sel"),
            F.count(F.lit(1)).over(frame).alias("__w"),
        )
        .filter(F.col("__w") == w)
        .select(id_col, "__sel")
        .distinct()
    )
    return sel.select(
        id_col,
        F.floor(F.col("__sel") / lift).cast("long").alias("fp"),
        (F.col("__sel") % lift).cast("long").alias("pos"),
    )
