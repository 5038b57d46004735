"""Window-function operators (SURVEY.md §2.5, §2.6).

W1 — the reference min-max-normalizes every raster against its own global
min/max: ``(img - min) / (max - min + 1e-6)`` (DataDownloader_V1.py:62).
Set-based, that is an unbounded window over the image key: the min/max
travel with each row instead of being collected to the driver. Spark plans
this as a single shuffle on the partition key shared by all three window
aggregates — no extra pass versus the eager two-phase NumPy version.

O3 — top-k per group ("most intense fires per district") via row_number.
For a *global* top-k, prefer ``orderBy(...).limit(k)`` which Spark plans
as TakeOrderedAndProject (no total sort at scale).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

NORMALIZE_EPS = 1e-6  # division guard, DataDownloader_V1.py:62


def minmax_normalize(
    df: DataFrame,
    partition_keys: Sequence[str],
    value: str = "value",
    zero_preserving: bool = False,
) -> DataFrame:
    """W1 — per-image min-max normalization of ``value`` into
    ``norm_value`` (6 dp).

    ``zero_preserving=True`` reproduces the FRP variant
    (DataDownloader_SNPP_VIIRS_V1.py:74-82, fix_transparency.py:17-25):
    min/max are GLOBAL (zeros included), but only positive values are
    scaled — zeros stay exactly zero (transparent pixels). The guard is
    the reference's ``if max_val > min_val`` (else everything is 0),
    not the epsilon.
    """
    w = Window.partitionBy(*partition_keys)
    v = F.col(value)
    if zero_preserving:
        lo, hi = F.min(v).over(w), F.max(v).over(w)
        norm = F.when(
            (v > 0) & (hi > lo), (v - lo) / (hi - lo)
        ).otherwise(F.lit(0.0))
    else:
        lo, hi = F.min(v).over(w), F.max(v).over(w)
        norm = (v - lo) / (hi - lo + F.lit(NORMALIZE_EPS))
    return df.withColumn("norm_value", F.round(norm, 6))


def blocked_trailing_window(
    df: DataFrame, idx_col: str, n_preceding: int, block: int = 256
):
    """A globally-ordered trailing ROWS frame WITHOUT a single-partition
    window (no ``WindowExec: No Partition Defined`` collapse).

    Stage 1 computes each row's exact GLOBAL rank from value-blocks:
    rows are bucketed on ``floor(idx/block)``, per-bucket counts prefix-
    sum into bucket offsets (a window over the bucket table, bounded by
    the idx domain / block — calendar-index-sized, never corpus-sized),
    and offset + within-bucket row_number is the global rank. Stage 2
    re-blocks on ``floor(rank/block)`` — DENSE by construction, every
    rank-block except the last exactly full — and augments each block
    with the previous block's last ``n_preceding`` rows (carry rows), so
    a partitioned window over the block key sees exactly the same frame
    members as the global window would.

    The two stages exist because value-blocking alone is WRONG on
    sparse indexes: an empty idx range breaks the carry chain and a
    value-block holding fewer than ``n_preceding`` rows can't supply a
    full carry — the trailing frame silently loses members (caught by
    the star-schema differential fuzz; the dense day indexes of the
    fixed testdata never exposed it). Rank-blocking makes both
    impossible for any idx distribution.

    Returns ``(augmented_df, window_spec)``; the caller applies its frame
    aggregates over the spec, then filters ``~__carry`` and SELECTS its
    output columns explicitly (don't drop-by-name: the augmented frame
    carries three helpers — ``__pk``, ``__carry``, and the exact-rank
    stage's ``__rk`` — and future stages may add more). Requires unique ``idx_col`` values from a
    bounded domain (e.g. a grouped day index) so the bucket table stays
    small and carry rows order strictly before own rows. ``block`` must
    exceed ``n_preceding``.
    """
    if block <= n_preceding:
        raise ValueError("block must exceed n_preceding")
    vb = df.withColumn("__vb", F.floor(F.col(idx_col) / block))
    counts = vb.groupBy("__vb").agg(F.count(F.lit(1)).alias("__cnt"))
    # bounded unpartitioned window: |nonempty idx/block buckets| rows
    woff = Window.orderBy("__vb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(woff), F.lit(0))
    ).drop("__cnt")
    wrank = Window.partitionBy("__vb").orderBy(idx_col)
    ranked = (
        vb.join(F.broadcast(offsets), "__vb")
        .withColumn(
            "__rk", F.row_number().over(wrank) + F.col("__off") - 1
        )
        .drop("__vb", "__off")
    )
    aug = ranked.withColumn("__pk", F.floor(F.col("__rk") / block))
    wdesc = Window.partitionBy("__pk").orderBy(F.col("__rk").desc())
    tail = (
        aug.withColumn("__rn", F.row_number().over(wdesc))
        .filter(F.col("__rn") <= n_preceding)
        .drop("__rn")
        .withColumn("__pk", F.col("__pk") + 1)
        .withColumn("__carry", F.lit(True))
    )
    u = aug.withColumn("__carry", F.lit(False)).unionByName(tail)
    w = (
        Window.partitionBy("__pk")
        .orderBy("__rk")
        .rowsBetween(-n_preceding, 0)
    )
    return u, w


def topk_per_group(
    df: DataFrame,
    partition_keys: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
) -> DataFrame:
    """O3 — top-k rows per group, ranked 1..k in ``rk``. ``order_cols``
    must form a deterministic total order (append a unique id as
    tiebreaker) or results are partition-order dependent."""
    w = Window.partitionBy(*partition_keys).orderBy(*order_cols)
    return df.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
