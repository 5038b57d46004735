"""Sinks (SURVEY.md §2.1 S6-S10).

- Parquet partitioned by (dataset, date): the engine's materialized
  store — the reference's ``exported_data/<date>/{layer}.tif`` tree
  (DataDownloader_V2.py:49,158-162) as a real partitioned table. The
  printed contract "reload from these files without invoking EE"
  (DataDownloader_V1.py:151) is exactly Parquet re-read semantics.
- CSV point export: the reference's raster→(lat,lon,mean) unpivot
  (fix_transparency.py:54-83) — in the long model it is a plain
  projection, no unpivot needed.
- PNG rendering (S7): real end-to-end — RGBA uint8 rows (data side,
  pure column math) + the in-repo pure-Python PNG encoder
  (``functions.imagecodec``; zlib/struct, no Pillow needed).
- HTML rendering (S9/S10): self-contained Leaflet-free HTML in
  ``sinks/html.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Image-shaped sinks need all pixels of one image in one place; safe only
# because images are bounded (~7.2e3–6.3e5 px, SURVEY.md §6). Guard it.
MAX_IMAGE_PIXELS = 2_000_000


def write_pixels(df: DataFrame, path: str) -> None:
    """S6 — the canonical partitioned store (zstd parquet, overwritten
    on re-export). Partition pruning on (dataset, date) makes P1/P4
    filters metadata-only at read time."""
    (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("dataset", "date")
        .parquet(path)
    )


def write_points_csv(df: DataFrame, path: str, value_col: str = "value") -> None:
    """S8 — lat,lon,mean CSV (fix_transparency.py:76-83; '%.6f' at :82),
    overwritten on re-export."""
    out = df.select(
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        F.round(F.col(value_col), 6).alias("mean"),
    )
    out.write.mode("overwrite").option("header", "true").csv(path)


def write_geotiffs(
    df: DataFrame,
    out_dir: str,
    cell_deg: float,
    compress: str | None = None,
    tile: int | None = None,
) -> DataFrame:
    """S6 (full form) — one real GeoTIFF file of ``value`` per
    (dataset, date) raster, the reference's actual export artifact
    (``geemap.ee_export_image`` → ``exported_data/viirs_frp_*.tif``,
    DataDownloader_SNPP_VIIRS_V1.py:174-180, discovered back by the
    S5 glob). Encoding uses the in-repo pure-Python GeoTIFF codec
    (``sources.tiffcodec``) so the export round-trips bit-exactly
    through :func:`..sources.raster.read_rasters`.

    Scale shape: ``applyInPandas`` per (dataset, date) group — each
    raster is assembled and encoded ON AN EXECUTOR (pixels of one
    image shuffle to one task; images are bounded, enforced by the
    ``MAX_IMAGE_PIXELS`` guard, so the group fits comfortably); the
    driver only sees the returned one-row-per-file manifest.
    Filenames are deterministic (``{dataset}_{date}.tif``), so a
    retried task rewrites identical bytes — idempotent under
    speculative execution. Returns the manifest DataFrame (consume it
    with an action to drive the writes).

    ``out_dir`` must be a filesystem path reachable from every
    executor (local dir in local mode, NFS/fuse mount on a cluster):
    files are written with plain ``open()``, not the Hadoop
    FileSystem API, so ``hdfs://``/``s3a://`` URIs are NOT supported —
    export to a mount, or swap the ``open`` for an fsspec handle.

    ``compress``/``tile`` pass through to ``encode_geotiff`` —
    ``compress="deflate"`` + ``tile=256`` writes the layout GDAL's
    ``COMPRESS=DEFLATE, TILED=YES`` produces (the common GEE-export
    shape), and ``read_rasters`` ingests either layout."""
    import os

    import numpy as np
    import pandas as pd

    from ..sources.tiffcodec import encode_geotiff

    os.makedirs(out_dir, exist_ok=True)

    def enc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        dataset = str(pdf["dataset"].iloc[0])
        date = str(pdf["date"].iloc[0])
        xs = pdf["x"].to_numpy()
        ys = pdf["y"].to_numpy()
        w, h = int(xs.max()) + 1, int(ys.max()) + 1
        if w * h > MAX_IMAGE_PIXELS:
            raise ValueError(
                f"raster {dataset}/{date} is {w}x{h}, over the "
                f"{MAX_IMAGE_PIXELS}-pixel image-sink guard"
            )
        vals = np.full((h, w), np.nan)
        vals[ys, xs] = pdf["value"].to_numpy(dtype="float64")
        # lon/lat are pixel CENTERS (read_rasters convention,
        # rasterio.transform.xy style): origin = center − (x + ½)·cell
        lon = pdf["lon"].to_numpy()
        lat = pdf["lat"].to_numpy()
        min_lon = float(lon[0] - (xs[0] + 0.5) * cell_deg)
        min_lat = float(lat[0] - (ys[0] + 0.5) * cell_deg)
        path = os.path.join(out_dir, f"{dataset}_{date}.tif")
        # tag the CRS explicitly (a geographic 4326 GeoKey, what GDAL
        # writes for lon/lat exports); decode treats untagged and
        # 4326-tagged identically, so the roundtrip gate is unchanged
        payload = encode_geotiff(vals, min_lon, min_lat, cell_deg,
                                 epsg=4326, compress=compress, tile=tile)
        with open(path, "wb") as fh:
            fh.write(payload)
        return pd.DataFrame(
            {
                "dataset": [dataset],
                "date": [date],
                "path": [path],
                "width": pd.Series([w], dtype="int32"),
                "height": pd.Series([h], dtype="int32"),
                "n_bytes": pd.Series([len(payload)], dtype="int64"),
            }
        )

    return df.groupBy("dataset", "date").applyInPandas(
        enc,
        "dataset string, date string, path string, "
        "width int, height int, n_bytes long",
    )


def write_geotiffs_multiband(
    df: DataFrame,
    out_dir: str,
    cell_deg: float,
    compress: str | None = None,
    tile: int | None = None,
) -> DataFrame:
    """S6, multi-band form — one GeoTIFF of ``value`` per ``date`` with
    ALL bands stacked as SamplesPerPixel (chunky interleave): the artifact
    ``geemap.ee_export_image(..., file_per_band=False)`` produces when
    several bands survive the select (DataDownloader_V1.py:149 option
    surface). Band index = rank of the ``band`` value in sorted
    order within the file; the manifest records the ordered band list
    so the mapping is queryable.

    Same execution shape and idempotence contract as
    :func:`write_geotiffs` (executor-side encode per group, bounded by
    the image guard, deterministic filenames)."""
    import os

    import numpy as np
    import pandas as pd

    from ..sources.tiffcodec import encode_geotiff

    os.makedirs(out_dir, exist_ok=True)

    def enc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        date = str(pdf["date"].iloc[0])
        bands = sorted(pdf["band"].unique().tolist())
        xs = pdf["x"].to_numpy()
        ys = pdf["y"].to_numpy()
        w, h = int(xs.max()) + 1, int(ys.max()) + 1
        if w * h * len(bands) > MAX_IMAGE_PIXELS:
            raise ValueError(
                f"raster {date} is {w}x{h}x{len(bands)}, over the "
                f"{MAX_IMAGE_PIXELS}-sample image-sink guard"
            )
        cube = np.full((len(bands), h, w), np.nan)
        rank = {b: i for i, b in enumerate(bands)}
        bi = pdf["band"].map(rank).to_numpy()
        cube[bi, ys, xs] = pdf["value"].to_numpy(dtype="float64")
        lon = pdf["lon"].to_numpy()
        lat = pdf["lat"].to_numpy()
        min_lon = float(lon[0] - (xs[0] + 0.5) * cell_deg)
        min_lat = float(lat[0] - (ys[0] + 0.5) * cell_deg)
        path = os.path.join(out_dir, f"stack_{date}.tif")
        payload = encode_geotiff(cube, min_lon, min_lat, cell_deg,
                                 epsg=4326, compress=compress, tile=tile)
        with open(path, "wb") as fh:
            fh.write(payload)
        return pd.DataFrame(
            {
                "date": [date],
                "path": [path],
                "bands": [",".join(str(b) for b in bands)],
                "n_bands": pd.Series([len(bands)], dtype="int32"),
                "width": pd.Series([w], dtype="int32"),
                "height": pd.Series([h], dtype="int32"),
                "n_bytes": pd.Series([len(payload)], dtype="int64"),
            }
        )

    return df.groupBy("date").applyInPandas(
        enc,
        "date string, path string, bands string, n_bands int, "
        "width int, height int, n_bytes long",
    )


def rgba_rows(df: DataFrame, value_col: str = "norm_value") -> DataFrame:
    """S7 (data side) — colormap a normalized [0,1] value to RGBA uint8
    channels as columns (DataDownloader_V1.py:64-68: matplotlib jet +
    alpha=0 where nodata; fix_transparency.py:35-41 transparency rule).

    A 5-stop piecewise-linear 'jet' approximation in pure column math —
    good enough for rendering parity and keeps the hot path JVM-side."""
    v = F.least(F.greatest(F.col(value_col), F.lit(0.0)), F.lit(1.0))

    def chan(expr: F.Column) -> F.Column:
        clamped = F.least(F.greatest(expr, F.lit(0.0)), F.lit(1.0))
        return F.round(clamped * 255).cast("int")

    r = chan(1.5 - F.abs(v - 0.75) * 4)
    g = chan(1.5 - F.abs(v - 0.50) * 4)
    b = chan(1.5 - F.abs(v - 0.25) * 4)
    alpha = F.when(
        F.col(value_col).isNull() | (F.col(value_col) <= 0), 0
    ).otherwise(255)
    return df.withColumns(
        {"r": r, "g": g, "b": b, "a": alpha.cast("int")}
    )


def render_png(df: DataFrame, path: str) -> None:
    """S7 (encode side) — collect ONE image's RGBA rows and encode.

    Encoding uses the in-repo pure-Python PNG codec
    (``functions.imagecodec``, zlib + struct only — no Pillow), so the
    reference's primary artifact (DataDownloader_V1.py:70-72) is real
    here end-to-end. The driver-side collect is safe only because images
    are bounded; the guard enforces it (SURVEY.md §7 watch-list #5)."""
    import numpy as np

    from ..functions.imagecodec import encode_png

    n = df.count()
    if n > MAX_IMAGE_PIXELS:
        raise ValueError(
            f"refusing to render {n} px (> {MAX_IMAGE_PIXELS}): image-"
            "shaped sinks require bounded images (SURVEY.md §7 watch-list #5)"
        )
    pdf = df.select("x", "y", "r", "g", "b", "a").toPandas()
    xs = pdf["x"].to_numpy()
    ys = pdf["y"].to_numpy()
    img = np.zeros((ys.max() + 1, xs.max() + 1, 4), dtype="uint8")
    img[ys, xs] = pdf[["r", "g", "b", "a"]].to_numpy(dtype="uint8")
    with open(path, "wb") as fh:
        fh.write(encode_png(img))
