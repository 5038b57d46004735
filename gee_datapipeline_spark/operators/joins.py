"""Join operators (SURVEY.md §2.3).

The reference's joins are implicit — clip-by-geometry (a spatial semi-join,
DataDownloader_V1.py:145) and map overlays (point-proximity,
DataDownloader_V2.py:96-102). This module provides the queryable forms,
each planned so its shuffle behavior is predictable at 100 TB:

- interval/as-of joins (J4) — a broadcast range join against a bucketized
  spine. Spark has no native as-of join; the scalable form equi-joins on a
  coarse bucket of the range key first so the theta predicate only runs
  within a bucket.
- proximity joins (J2) — bbox prefilter + haversine, with a grid-cell
  (bucketed) variant that turns the cross product into an equi-join on
  cell id; see ``functions.geo`` for the geo-specific pieces.

Equi (J3), semi (J1) and anti (J5) joins need no helper: the plans call
``df.join(..., how=...)`` directly with ``inner`` / ``left_semi`` /
``left_anti`` (e.g. ``active_customers_semi``, ``date_spine_gaps``), and
Catalyst/AQE picks broadcast vs sort-merge.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join(
    facts: DataFrame,
    spine: DataFrame,
    ts_col: str,
) -> DataFrame:
    """J4 — attach each fact row to the calendar interval
    ``[month_start, month_end]`` of ``spine`` containing it (the
    monthly-composite attachment of DataDownloader_V2.py:170-183).

    The spine is calendar-sized (hundreds of rows), so it broadcasts and
    the range predicate is evaluated map-side — a BroadcastNestedLoopJoin
    whose inner side is tiny, which is the right physical plan. For a
    non-tiny right side, bucketize both sides on ``date_trunc`` first and
    equi-join on the bucket.
    """
    cond = (F.col(ts_col) >= F.col("month_start")) & (
        F.col(ts_col) <= F.col("month_end")
    )
    return facts.join(F.broadcast(spine), cond, "inner")


def value_proximity_join(
    left: DataFrame,
    right: DataFrame,
    equi_keys: Sequence[str],
    left_val: str,
    right_val: str,
    tolerance: float,
) -> DataFrame:
    """J2 (1-D form) — rows whose values lie within ``tolerance`` after an
    equi prefilter against the broadcast ``right`` side. The equi keys do
    the heavy pruning (hash join), the theta predicate is a post-join
    filter — the same shape as the spatial bbox-prefilter + haversine
    join."""
    joined = left.join(F.broadcast(right), on=list(equi_keys), how="inner")
    return joined.filter(
        F.abs(F.col(left_val) - F.col(right_val)) <= F.lit(tolerance)
    )


def asof_join(
    probe: DataFrame,
    ref: DataFrame,
    on: Sequence[str],
    ts: str = "ts",
    payload: Sequence[str] | None = None,
    suffix: str = "_ref",
) -> DataFrame:
    """Backward as-of join: each probe row gets the reference row with
    the greatest ``ts`` ≤ its own (per key group); NULLs when no prior
    reference exists (left semantics).

    Spark has no native ASOF JOIN. The naive formulation (range join +
    per-probe max) explodes to probe×ref pairs per key. This is the
    scalable union trick instead: tag both sides, union them, sort each
    key group once by (ts, ref-first), and carry the reference payload
    forward with ``last(ignorenulls)`` over an unbounded-preceding row
    frame. Exactly ONE shuffle (the window partition on the keys), no
    pair explosion, linear in probe+ref — at 100 TB this is the only
    affordable shape.

    Tie semantics: a reference AT the probe's timestamp matches
    (``>=``, ref sorts first). Callers should de-duplicate references
    per (key, ts) beforehand for fully deterministic output.

    Reference payload columns arrive as ``<col><suffix>`` plus
    ``<ts><suffix>`` (the matched timestamp). The whole matched row is
    carried as ONE struct through ``last(ignorenulls)`` and unpacked
    after the window — so a genuinely-NULL payload value in the matched
    reference row survives as NULL instead of being back-filled from an
    older reference (row atomicity, matching native ASOF JOIN engines).
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    keys = list(on)
    payload = list(
        payload
        if payload is not None
        else [c for c in ref.columns if c not in keys + [ts]]
    )
    ref_out = [f"{ts}{suffix}"] + [f"{c}{suffix}" for c in payload]
    probe_extra = [c for c in probe.columns if c not in keys]

    ref_struct_type = T.StructType(
        [T.StructField(f"{ts}{suffix}", ref.schema[ts].dataType)]
        + [
            T.StructField(f"{c}{suffix}", ref.schema[c].dataType)
            for c in payload
        ]
    )
    r = ref.select(
        *keys,
        F.col(ts).alias("__ts"),
        F.lit(1).alias("__is_ref"),
        F.struct(
            F.col(ts).alias(f"{ts}{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in payload],
        ).alias("__ref"),
        *[
            F.lit(None).cast(probe.schema[c].dataType).alias(c)
            for c in probe_extra
        ],
    )
    p = probe.select(
        *keys,
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__is_ref"),
        F.lit(None).cast(ref_struct_type).alias("__ref"),
        *[F.col(c) for c in probe_extra],
    )
    u = p.unionByName(r)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__is_ref").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("__ref", F.last("__ref", ignorenulls=True).over(w))
    return u.filter(F.col("__is_ref") == 0).select(
        *keys,
        *[F.col("__ref").getField(c).alias(c) for c in ref_out],
        *probe_extra,
    )


# --------------------------------------------------- Bloom prefilter
#
# The runtime-filter pattern for 100 TB joins: when the probe (fact)
# side must shuffle for a join whose build side is selective, first
# aggregate the build keys into a Bloom bitmap, broadcast the bitmap
# (KBs regardless of key count), and drop non-matching fact rows
# BEFORE the shuffle. No false negatives by construction; false
# positives are removed by the exact join that follows, so the final
# result is bit-identical to the plain join (which is exactly what the
# DuckDB oracle checks). Spark's own runtime filters (AQE/DPP) apply
# this idea to partition pruning; this operator makes it available as
# an explicit, testable plan step with deterministic md5 hashing.

BLOOM_M_BITS = 1 << 16  # 1024 64-bit words = 8 KiB broadcast
BLOOM_K = 3


def _bloom_pos(key: Column, i: Column, m_bits: int) -> Column:
    """Deterministic i-th Bloom position: 60-bit md5 prefix mod m."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", key.cast("string"), i.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(m_bits))


def bloom_build(
    keys: DataFrame, key: str, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """Fold the (distinct) build-side key set into a Bloom bitmap,
    represented as a ``(word_idx BIGINT, word BIGINT)`` table of at
    most ``m_bits/64`` rows. The build is one explode (k positions per
    key) + one hash-agg with map-side ``bit_or`` partials — a single
    fact-free shuffle of at most 1024 rows per partition."""
    probes = keys.select(F.col(key).alias("_k")).distinct().select(
        "_k",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_i"),
    )
    withpos = probes.select(
        _bloom_pos(F.col("_k"), F.col("_i"), m_bits).alias("_pos")
    )
    return (
        withpos.select(
            F.shiftright("_pos", 6).alias("word_idx"),
            F.expr("shiftleft(1L, cast(_pos % 64 AS INT))").alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("word"))
    )


def bloom_prefilter(
    fact: DataFrame,
    bloom: DataFrame,
    key: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Keep only fact rows whose ``key`` passes every Bloom probe.

    Each probe is one BroadcastHashJoin on the word index — map-side,
    the fact never shuffles (asserted in tests/test_plan_quality.py).
    A word index absent from the bitmap table means an all-zero word,
    so the left join's NULL word correctly rejects the row. With the
    defaults (m=2^16, k=3) and n build keys the false-positive rate is
    ~(nk/m)^k — e.g. 2.6e-6 at n=300; size m ≈ 10·n·k at 100 TB."""
    out = fact
    for i in range(k):
        b = bloom.select(
            F.col("word_idx").alias(f"_w{i}"),
            F.col("word").alias(f"_word{i}"),
        )
        out = (
            out.withColumn(
                f"_pos{i}", _bloom_pos(F.col(key), F.lit(i), m_bits)
            )
            .join(
                F.broadcast(b),
                F.shiftright(F.col(f"_pos{i}"), 6) == F.col(f"_w{i}"),
                "left",
            )
            .filter(
                F.col(f"_word{i}").isNotNull()
                & (
                    F.col(f"_word{i}").bitwiseAND(
                        F.expr(f"shiftleft(1L, cast(_pos{i} % 64 AS INT))")
                    )
                    != 0
                )
            )
            .drop(f"_pos{i}", f"_w{i}", f"_word{i}")
        )
    return out
