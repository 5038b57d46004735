"""Temporal composites and reduction operators (SURVEY.md §2.4).

The reference's workhorse is the per-pixel temporal composite: ``mean()``
over a filtered ImageCollection (DataDownloader_V1.py:145) and ``max()``
for the most-intense-fire-per-pixel FRP layer
(DataDownloader_SNPP_VIIRS_V1.py:155). In the long pixel model a composite
is a hash aggregate grouped by the spatial key — Catalyst plans a partial
(map-side) aggregate before the shuffle, so at scale the shuffle carries
one row per (pixel, group) per input partition, not one row per
observation.

NULL semantics (SURVEY.md §7 watch-list #1): nodata is NULL, and Spark's
``avg``/``max``/``min`` skip NULLs — exactly the reference's ``nanmin`` /
``nanmax`` behavior (DataDownloader_V1.py:59-60). Groups that are entirely
NULL yield NULL, the analog of the reference's empty-collection check
(DataDownloader_V1.py:100-102).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.stable import stable_avg


def mean_composite(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A1 — per-key temporal mean of ``value`` as ``mean_value`` (6 dp;
    ``collection.mean()``, DataDownloader_V1.py:145). Adds an
    observation count (A3)."""
    return df.groupBy(*keys).agg(
        stable_avg("value", 6).alias("mean_value"),
        F.count("value").alias("n_obs"),
    )


def max_composite(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A2 — per-key temporal max of ``value`` as ``max_value``
    (``frp_collection.max()``, DataDownloader_SNPP_VIIRS_V1.py:155).
    Min/max are exact in FP, no stabilization needed."""
    return df.groupBy(*keys).agg(F.max("value").alias("max_value"))


def collection_size(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A3 — ``collection.size()`` (DataDownloader_V1.py:100), generalized
    to a per-dataset cardinality report."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def value_bounds(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A5/A8 — global min/max of ``value`` per image, the normalization
    bounds (``np.nanmin/np.nanmax``, DataDownloader_V1.py:59-60)."""
    return df.groupBy(*keys).agg(
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count("value").alias("n_obs"),
    )


def grid_resample(df: DataFrame, cell_cols: dict[str, Column]) -> DataFrame:
    """A7 — spatial resample: regrid to coarser cells during export
    (``scale=1000``, DataDownloader_V1.py:149). Expressed as a grid-bucket
    aggregate: ``groupBy(floor(x/k), floor(y/k))`` with the mean of
    ``value`` (6 dp) as ``cell_value`` plus ``n_obs``.

    ``cell_cols`` maps output column name → bucketing expression. Placing
    this *before* wide operators is the engine's aggregate-pushdown
    (SURVEY.md §4): it shrinks the shuffle by the resample factor squared.
    """
    bucketed = df.select(
        *[expr.alias(name) for name, expr in cell_cols.items()], F.col("value")
    )
    return bucketed.groupBy(*cell_cols).agg(
        stable_avg("value", 6).alias("cell_value"),
        F.count("value").alias("n_obs"),
    )
