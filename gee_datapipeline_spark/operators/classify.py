"""Threshold-bucket classification (SURVEY.md §2.8 F3).

The reference's V3 classifies each pixel against a per-dataset WHO standard
value: ``< std`` transparent, ``[std, 1.5·std)`` blue, ``[1.5·std, 2·std)``
green, ``>= 2·std`` red (DataDownloader_V3.py:62-73, thresholds dict
:172-184). That is a CASE WHEN chain over a broadcast-joined thresholds
dimension — Catalyst constant-folds literal thresholds and the broadcast
join never shuffles the pixel side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# WHO-style standard values from DataDownloader_V3.py:172-184.
STANDARD_VALUES = {
    "aerosol": 0.5,
    "no2": 0.04,
    "so2": 0.02,
    "co": 0.05,
}

# Bucket labels in reference rendering order (transparent/blue/green/red).
BUCKETS = ("below_standard", "elevated", "high", "severe")


def classify_expr(value: Column, std: Column) -> Column:
    """The 4-bucket CASE WHEN chain of DataDownloader_V3.py:62-73."""
    return (
        F.when(value < std, F.lit(BUCKETS[0]))
        .when(value < 1.5 * std, F.lit(BUCKETS[1]))
        .when(value < 2.0 * std, F.lit(BUCKETS[2]))
        .otherwise(F.lit(BUCKETS[3]))
    )


def classify_with_thresholds(
    df: DataFrame,
    thresholds: DataFrame,
    on: str,
    value: str = "value",
    out: str = "bucket",
) -> DataFrame:
    """Join a thresholds dimension (broadcast — it is datasets-sized) and
    classify each row against its dataset's ``std_value``."""
    joined = df.join(F.broadcast(thresholds), on=on, how="inner")
    return joined.withColumn(
        out, classify_expr(F.col(value), F.col("std_value"))
    )
