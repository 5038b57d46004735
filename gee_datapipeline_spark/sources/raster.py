"""Raster (GeoTIFF) ingest → pixel rows (SURVEY.md §2.1 S3, §2.10 UDTF).

The reference reads materialized GeoTIFFs with rasterio
(``rasterio.open(path); src.read(1)``, DataDownloader_V1.py:39,57) and
flattens them to (lat, lon, value) rows (fix_transparency.py:54-83).
Here the same ingest is a Spark job: ``binaryFile`` source → per-file
decode inside ``mapInPandas`` (UDTF-shaped: one input row fans out to
height×width pixel rows) → the long pixel table.

Decode is REAL and dependency-free: every file goes through the in-repo
pure-Python GeoTIFF codec (``sources.tiffcodec`` — strips or tiles,
uncompressed or DEFLATE, the shapes GEE exports take); a payload without
the TIFF byte-order magic is rejected.

Scale: one task per file; files are the parallelism unit (steady state
reads the Parquet pixel store, this path is ingest/backfill only).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PIXEL_ROWS_SCHEMA = (
    "path string, band int, x int, y int, "
    "lon double, lat double, value double"
)


def _decode_raster(payload: bytes):
    """GeoTIFF bytes (II*/MM*) → (values, min_x, min_y, cell, crs) via
    the pure-Python codec; any other payload is rejected."""
    if payload[:2] not in (b"II", b"MM"):
        raise ValueError("unknown raster format (magic not TIFF)")
    from .tiffcodec import decode_geotiff

    return decode_geotiff(payload)


def read_rasters(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan raster files (S5 file-glob discovery is free via the path
    glob) and unpivot each to pixel rows."""
    # A leaf-level glob goes through pathGlobFilter on the parent dir:
    # handing a glob string straight to load() makes the source's
    # FileStreamSink metadata probe getFileStatus() the literal glob
    # path and log a FileNotFoundException stack trace on every action.
    import os

    base_dir, leaf = os.path.split(path_glob)
    reader = spark.read.format("binaryFile")
    if base_dir and any(c in leaf for c in "*?[") and not any(
        c in base_dir for c in "*?["
    ):
        files = reader.option("pathGlobFilter", leaf).load(base_dir)
    else:
        files = reader.load(path_glob)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.crs import to_lonlat_fn

        for pdf in batches:
            for _, r in pdf.iterrows():
                vals, min_x, min_y, cell, crs = _decode_raster(
                    bytes(r["content"])
                )
                # single-band files decode to (h, w); multi-band
                # (SamplesPerPixel > 1, the file_per_band=False export
                # shape) returns (bands, h, w) — normalize to a cube
                cube = vals[np.newaxis] if vals.ndim == 2 else vals
                nb, h, w = cube.shape
                ys, xs = np.mgrid[0:h, 0:w]
                # anisotropic grids decode to (sx, sy); square grids
                # keep the scalar contract
                sx, sy = (
                    cell if isinstance(cell, (tuple, list)) else (cell, cell)
                )
                # pixel centers in the raster's own CRS, like
                # rasterio.transform.xy (fix_transparency.py:68)
                px = min_x + (xs.ravel() + 0.5) * sx
                py = min_y + (ys.ravel() + 0.5) * sy
                # non-4326 rasters (UTM/LCC/sinusoidal-tagged GeoTIFFs)
                # reproject to lon/lat at ingest — the reference's
                # rasterio.warp.transform(src.crs, 'EPSG:4326') pass,
                # including its identity fallback for CRSs it cannot
                # handle (fix_transparency.py:71-74)
                inv = to_lonlat_fn(crs)
                lon, lat = (px, py) if inv is None else inv(px, py)
                flat = cube.reshape(nb, -1).ravel()
                n_px = h * w
                out = pd.DataFrame(
                    {
                        "path": r["path"],
                        "band": np.repeat(
                            np.arange(nb, dtype="int32"), n_px
                        ),
                        "x": np.tile(xs.ravel().astype("int32"), nb),
                        "y": np.tile(ys.ravel().astype("int32"), nb),
                        "lon": np.tile(lon, nb),
                        "lat": np.tile(lat, nb),
                        "value": flat,
                    }
                )
                # NaN nodata → NULL (watch-list #1)
                out["value"] = out["value"].where(~np.isnan(flat), None)
                yield out

    return files.select("path", "content").mapInPandas(run, PIXEL_ROWS_SCHEMA)
