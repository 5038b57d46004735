"""User-facing pipeline facade — the reference's entry points, Spark-first.

A user of the reference drives three things (SURVEY.md §3):

1. ``generate_tif`` — filter a collection, composite it, export
   (DataDownloader_V1.py:94-153). Here: :func:`generate_composite` —
   one lazy DataFrame chain, materialized by :func:`export_composite`.
2. ``generate_html_map_from_tif`` — normalize, colormap, render
   (DataDownloader_V2.py:32-108). Here: :func:`render_composite` —
   normalize/classify + RGBA columns + the HTML layer map.
3. the monthly driver loops (DataDownloader_v4.py:204-217). Here the
   loop IS the ``time_bucket`` grouping — one query computes every
   month at once; :func:`run_monthly` keeps a per-month artifact tree
   for output compatibility (``exported_data/<date>/...``,
   DataDownloader_V2.py:49).

Every function takes/returns DataFrames and stays lazy until an
explicit export, exactly like the reference's deferred ee graph — but
the optimizer is Catalyst and the scan is a partition-pruned parquet
store instead of a GEE RPC.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.geo import bbox_contains
from .operators.classify import classify_with_thresholds
from .operators.composites import mean_composite, max_composite
from .operators.windows import minmax_normalize
from .sinks.writers import rgba_rows, write_pixels, write_points_csv

AGGS = {"mean": mean_composite, "max": max_composite}


def generate_composite(
    pixels: DataFrame,
    datasets: Sequence[str],
    start_date: str,
    end_date: str,
    bbox: tuple[float, float, float, float] | None = None,
    agg: str = "mean",
    time_bucket: str = "month",
    resample_cells: int | None = None,
) -> DataFrame:
    """The ``generate_tif`` query (DataDownloader_V1.py:94-153):
    dataset/date/bbox filters (P1/P4/P5) → optional grid resample (A7)
    → per-(pixel, bucket) composite (A1/A2). Fully lazy; filters prune
    partitions of the pixel store."""
    df = pixels.filter(
        F.col("dataset").isin(list(datasets))
        & (F.col("date") >= F.lit(start_date))
        & (F.col("date") < F.lit(end_date))
    )
    if bbox is not None:
        df = df.filter(
            bbox_contains(F.col("lon"), F.col("lat"), *bbox)
        )
    df = df.withColumn(
        "bucket",
        F.date_format(F.date_trunc(time_bucket, "date"), "yyyy-MM-dd"),
    )
    keys = ["dataset", "band", "bucket", "x", "y", "lon", "lat"]
    if resample_cells:
        # A7 — aggregate-pushdown regrid before the composite
        df = df.withColumn("x", F.floor(F.col("x") / resample_cells)).withColumn(
            "y", F.floor(F.col("y") / resample_cells)
        ).drop("lon", "lat")
        keys = ["dataset", "band", "bucket", "x", "y"]
    fn = AGGS[agg]
    out_col = "mean_value" if agg == "mean" else "max_value"
    return fn(df, keys).withColumnRenamed(out_col, "value_agg")


def render_composite(
    composite: DataFrame,
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """The rendering pass (DataDownloader_V2.py:62-92 /
    DataDownloader_V3.py:62-73): per-(dataset, bucket) min-max
    normalization (W1), optional WHO-threshold classification (F3),
    RGBA channels (F9) in the 'jet' colormap. Still lazy — a DataFrame
    of render-ready rows. The zero-preserving FRP normalization is
    ``operators.windows.minmax_normalize(zero_preserving=True)``."""
    normed = minmax_normalize(
        composite, ["dataset", "bucket"], value="value_agg"
    )
    if thresholds is not None:
        normed = classify_with_thresholds(
            normed, thresholds, on="dataset", value="value_agg",
            out="class_bucket",  # 'bucket' is the time bucket here
        )
    return rgba_rows(normed, value_col="norm_value")


def export_composite(composite: DataFrame, out_dir: str) -> None:
    """The export boundary (geemap.ee_export_image,
    DataDownloader_V1.py:149 + fix_transparency CSV): parquet
    partitioned by (dataset, bucket-as-date), then the lat,lon,mean CSV.
    Each write is its own Spark job, so the composite is computed once
    per format (twice per export)."""
    df = composite.withColumn("date", F.col("bucket"))
    write_pixels(df, os.path.join(out_dir, "parquet"))
    write_points_csv(
        df.filter(F.col("value_agg").isNotNull()),
        os.path.join(out_dir, "csv"),
        value_col="value_agg",
    )


def run_monthly(
    pixels: DataFrame,
    datasets: Sequence[str],
    start_date: str,
    end_date: str,
    out_root: str,
    **kwargs,
) -> dict[str, int]:
    """The monthly driver (DataDownloader_v4.py:204-217) without the
    loop: ONE query computes all months; the per-month output tree is
    just ``partitionBy`` (the reference's ``exported_data/<date>/``,
    DataDownloader_V2.py:49). Returns rows-per-month for the run log
    (the reference's "No data available" accounting,
    DataDownloader_V1.py:100-129)."""
    comp = generate_composite(
        pixels, datasets, start_date, end_date, **kwargs
    )
    export_composite(comp, out_root)
    counts = {
        r["bucket"]: r["n"]
        for r in comp.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return counts
