"""Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) as an
iterative DataFrame algorithm.

Each round: count adjacent symbol pairs across the (word, count)
vocabulary, pick the most frequent pair (deterministic lexicographic
tie-break), and greedily merge its occurrences left-to-right in every
word. The merge-application is a pure Catalyst ``aggregate`` lambda over
the symbol arrays — no UDF, no driver-side corpus.

Driver coordination per round is ONE scalar row (the argmax pair) — the
bounded-collect pattern that is legitimate at any scale: the heavy work
(pair counting over the corpus vocabulary) is a map-side-combined hash
aggregate; only the winner crosses to the driver to parameterize the
next round's expression. n_merges rounds ⇒ n_merges shuffles, same cost
envelope as n_merges groupBys of the vocab table.

Not SQL-oracle-able (the greedy fold inside the loop has no portable
SQL equivalent), so the gate entry is rows-only; correctness is pinned
by ``tests/test_bpe.py`` against an independent pure-Python reference
implementation, including property-based corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def chars(col: Column) -> Column:
    """Split a word into single-character symbols.

    Guarded for the empty string: ``sequence(1, 0)`` is a DESCENDING
    ``[1, 0]`` in Spark, which would yield a bogus ``["", ""]`` symbol
    pair — the empty word maps to an empty symbol array instead."""
    return F.when(
        F.length(col) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: col.substr(i, F.lit(1)),
        ),
    ).when(F.length(col) == 0, F.array().cast("array<string>"))


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right) into
    one symbol. A left fold: if the accumulator's last element is
    ``left`` and the current symbol is ``right``, replace the last
    element with the merged symbol (which, being strictly longer, can
    never spuriously re-match ``left`` in the same pass)."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over (syms array<string>, count)."""
    pairs = F.arrays_zip(
        F.slice(F.col("syms"), 1, F.size("syms") - 1),
        F.slice(F.col("syms"), 2, F.size("syms") - 1),
    )
    return (
        vocab.filter(F.size("syms") >= 2)
        .select(F.col("count"), F.explode(pairs).alias("p"))
        .select(
            F.col("p")["0"].alias("left"),
            F.col("p")["1"].alias("right"),
            "count",
        )
        .groupBy("left", "right")
        .agg(F.sum("count").alias("pair_count"))
    )


def learn_bpe(
    words: DataFrame, n_merges: int
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` merges from a (word, count) DataFrame,
    stopping early once the best pair occurs fewer than twice.

    Returns [(left, right, pair_count), ...] in merge order."""
    vocab = words.select(
        F.col("count").cast("long").alias("count"),
        chars(F.col("word")).alias("syms"),
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            pair_counts(vocab)
            .orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            )
            .limit(1)
            .collect()
        )
        if not best or best[0]["pair_count"] < 2:
            break
        left, right, cnt = (
            best[0]["left"],
            best[0]["right"],
            int(best[0]["pair_count"]),
        )
        merges.append((left, right, cnt))
        vocab = vocab.select(
            "count", merge_pair(F.col("syms"), left, right).alias("syms")
        )
        # Fixed-point arrays stay small; localCheckpoint would truncate
        # lineage on a real cluster — at n_merges ≤ ~50 the plan is fine.
    return merges


def apply_bpe(
    words: DataFrame, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """Encode words with a learned merge list: the merge sequence is
    replayed in order over the symbol arrays (same greedy fold as
    training, so train→encode is self-consistent). Adds ``pieces
    array<string>``.

    Scale: run this on the DISTINCT word table (vocab-sized, Zipf-small
    vs the corpus) and broadcast-join the result back to occurrences —
    tokenizing 100 TB costs one vocab-sized compute plus a broadcast."""
    syms = chars(F.col("word"))
    for left, right, _ in merges:
        syms = merge_pair(syms, left, right)
    return words.withColumn("pieces", syms)
