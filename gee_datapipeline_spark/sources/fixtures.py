"""On-disk geo fixtures shared by Spark and the DuckDB oracle.

The geo gate queries (``plans.geo_queries``) run on synthetic rasters, not
the sf tables. Round 1 built those rasters in memory per-session, so the
oracle gate could only do a rows-only check ("no_oracle"). This module
materializes the exact same seeded rows ONCE to parquet under the repo's
``spark-warehouse/fixtures/`` — Spark reads them with
``spark.read.parquet`` and the DuckDB oracle reads the identical bytes
with ``read_parquet('<abs path>')`` — which upgrades every geo query to
the full row-count + schema + value-hash differential check.

Generation is idempotent and versioned: a manifest records the builder
parameters, and any mismatch (or missing file) triggers a rewrite. Writing
goes through pyarrow directly (no SparkSession needed) so oracles can be
materialized even before any Spark work starts.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .synthetic import (
    amenities_rows,
    pixels_rows,
    regions_rows,
    road_vertex_rows,
    roads_geojson,
    seam_pixel_rows,
    seam_road_vertex_rows,
    seam_roads_geojson,
    thresholds_rows,
)

# Bump when any builder or parameter below changes shape or content.
FIXTURES_VERSION = 11  # v11: antimeridian seam roads+pixels (+v10 media)

FIXTURES_DIR = Path(__file__).resolve().parents[2] / "spark-warehouse" / "fixtures"

# The parameterization the geo gate queries run on (grid=10 → 100 pixels,
# 2 months × 3 obs × 2 datasets = 1,200 observation rows).
PIXEL_PARAMS = dict(
    months=2, grid=10, datasets=("no2", "co"), seed=42, null_frac=0.05
)
AMENITY_PARAMS = dict(n=20, seed=7)
ROAD_PARAMS = dict(n_roads=14, seed=13)
# Antimeridian fixtures: roads straddling ±180 (RFC 7946 cut coverage)
# + an observation grid wrapping across the seam.
SEAM_ROAD_PARAMS = dict(n_roads=8, seed=29)
SEAM_PIXEL_PARAMS = dict(grid=18, seed=31, null_frac=0.05)
# Real-file twin: the OSM motorway centroid export, parsed by plain
# Python json into a parquet the oracle reads — the Spark side parses
# the ORIGINAL GeoJSON through sources.geojson, so the gate checks two
# independent parsers against each other (the raster-twin pattern).
REAL_MOTORWAY_GEOJSON = "/root/reference/AminitiesGeoJSON/motorway.geojson"
MEDIA_PARAMS = dict(n=60)
DHASH_PARAMS = dict(n=48, variant=2)
RASTER_PARAMS = dict(
    dates=("2025-01-15", "2025-02-15", "2025-03-15"),
    w=12, h=10, seed=5, cell=0.01, nan_frac=0.1,
)

# UTM-tagged raster fixture: zone 43N meters near the Delhi bbox
# (easting ~77°E at ~28.6°N), exercising the GeoKey → reproject ingest
# path end-to-end in the driver gate.
UTM_RASTER_PARAMS = dict(
    dates=("2025-01-15", "2025-02-15"),
    w=9, h=7, seed=11, cell=1000.0, nan_frac=0.1,
    zone=43, min_e=700000.0, min_n=3160000.0,
)

# DEFLATE/tiled raster fixture: one file per layout (deflate strips,
# uncompressed tiles, deflate tiles) — w/h deliberately NOT multiples
# of the 16-px tile edge so edge-tile cropping is inside the gate.
DEFLATE_RASTER_PARAMS = dict(
    dates=("2025-01-15", "2025-02-15", "2025-03-15", "2025-04-15",
           "2025-05-15"),
    w=21, h=19, seed=17, cell=0.01, nan_frac=0.1,
)

# Multi-band fixture (SamplesPerPixel=3, chunky): w/h again not
# multiples of the tile edge so edge-tile cropping composes with the
# per-pixel sample interleave in the gate.
MULTIBAND_RASTER_PARAMS = dict(
    dates=("2025-01-15", "2025-02-15"),
    w=21, h=19, n_bands=3, seed=23, cell=0.01, nan_frac=0.1,
)

_PIXELS_ARROW = pa.schema(
    [
        ("dataset", pa.string()),
        ("band", pa.string()),
        ("date", pa.date32()),
        ("ts", pa.timestamp("us")),
        ("x", pa.int32()),
        ("y", pa.int32()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("value", pa.float64()),
    ]
)

_REGIONS_ARROW = pa.schema(
    [
        ("region", pa.string()),
        ("min_lon", pa.float64()),
        ("min_lat", pa.float64()),
        ("max_lon", pa.float64()),
        ("max_lat", pa.float64()),
        ("polygon", pa.string()),
    ]
)

_THRESHOLDS_ARROW = pa.schema(
    [("dataset", pa.string()), ("std_value", pa.float64())]
)

_AMENITIES_ARROW = pa.schema(
    [
        ("source", pa.string()),
        ("feature_id", pa.string()),
        ("geom_type", pa.string()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("props", pa.map_(pa.string(), pa.string())),
    ]
)


_RASTER_MB_ARROW = pa.schema(
    [
        ("file", pa.string()),
        ("band", pa.int32()),
        ("x", pa.int32()),
        ("y", pa.int32()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("value", pa.float64()),
    ]
)

_ROAD_VERTICES_ARROW = pa.schema(
    [
        ("feature_id", pa.string()),
        ("road_class", pa.string()),
        ("seq", pa.int32()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
    ]
)

_SEAM_PIXELS_ARROW = pa.schema(
    [
        ("dataset", pa.string()),
        ("x", pa.int32()),
        ("y", pa.int32()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("value", pa.float64()),
    ]
)

_REAL_POINTS_ARROW = pa.schema(
    [
        ("feature_id", pa.string()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
    ]
)


_MEDIA_ARROW = pa.schema(
    [
        ("media_id", pa.int64()),
        ("kind", pa.string()),
        ("mime", pa.string()),
        ("payload", pa.binary()),
        # Expected features, computed in closed form by the generator —
        # the DuckDB oracle reads these while Spark decodes the actual
        # payload bytes, making the codec path a full differential check.
        ("exp_img_ok", pa.bool_()),
        ("exp_width", pa.int32()),
        ("exp_height", pa.int32()),
        ("exp_mean_luma", pa.float64()),
        ("exp_audio_ok", pa.bool_()),
        ("exp_sample_rate", pa.int32()),
        ("exp_n_samples", pa.int64()),
        ("exp_duration_ms", pa.float64()),
        ("exp_rms", pa.float64()),
        ("exp_zero_crossings", pa.int64()),
        ("exp_video_ok", pa.bool_()),
        ("exp_n_frames", pa.int64()),
        ("exp_frame_luma_sum", pa.float64()),
        # scene cuts: frame-to-frame |Δ mean luma| > SCENE_CUT_THRESH.
        # Fills step by +31 mod 256, so a delta is 31 (no cut) or 225
        # (a wrap = a cut) — closed form from the fill sequence.
        ("exp_scene_cuts", pa.int64()),
    ]
)

# Shared with plans.multimodal_queries: a luma jump above this is a cut.
SCENE_CUT_THRESH = 100.0


def media_rows(n: int = 60) -> list[tuple]:
    """Deterministic media payloads with closed-form expected features.

    Six kinds cycle by ``media_id``: constant-gray PNG, constant-RGB
    PNG, constant-RGB BMP, ±amp square-wave WAV, an undecodable binary
    blob, and a Y4M video of per-frame-constant luma planes. Constant
    images make the expected mean luma an exact closed form (Rec.601 of
    the constant color); the square wave makes RMS exactly the amplitude
    and zero-crossings exactly n-1; constant video frames make each
    frame's mean luma exactly its fill value (stored as the per-video
    sum) — so the oracle needs no codec, only these stored
    expectations. Videos with ``media_id % 24 == 11`` are truncated
    mid-frame (``exp_video_ok=false``) to pin the corrupt-payload path."""
    import numpy as np

    from ..functions.audiocodec import encode_wav
    from ..functions.imagecodec import encode_bmp, encode_png
    from ..functions.videocodec import encode_y4m

    rows = []
    for i in range(n):
        m = i % 6
        w, h = 4 + i % 13, 3 + i % 7
        img_ok = audio_ok = video_ok = False
        width = height = 0
        luma = None
        sr, ns, dur, rms, zc = 0, 0, 0.0, 0.0, 0
        nframes, luma_sum, scene_cuts = 0, 0.0, 0
        if m == 0:
            v = (i * 37) % 256
            payload = encode_png(np.full((h, w), v, dtype=np.uint8))
            kind, mime = "image", "image/png"
            img_ok, width, height, luma = True, w, h, float(v)
        elif m == 1:
            r, g, b = i % 256, (7 * i) % 256, (13 * i) % 256
            arr = np.zeros((h, w, 3), dtype=np.uint8)
            arr[:, :] = (r, g, b)
            payload = encode_png(arr)
            kind, mime = "image", "image/png"
            img_ok, width, height = True, w, h
            luma = 0.299 * r + 0.587 * g + 0.114 * b
        elif m == 2:
            r, g, b = (11 * i) % 256, (3 * i) % 256, (29 * i) % 256
            arr = np.zeros((h, w, 3), dtype=np.uint8)
            arr[:, :] = (r, g, b)
            payload = encode_bmp(arr)
            kind, mime = "image", "image/bmp"
            img_ok, width, height = True, w, h
            luma = 0.299 * r + 0.587 * g + 0.114 * b
        elif m == 3:
            amp = 1000 + (i % 50) * 100
            ns = 800 + (i % 5) * 160  # multiple of 16 → exact ms
            samples = np.empty(ns, dtype=np.int16)
            samples[0::2], samples[1::2] = amp, -amp
            payload = encode_wav(samples, 16_000)
            kind, mime = "audio", "audio/wav"
            audio_ok, sr = True, 16_000
            dur, rms, zc = 1000.0 * ns / 16_000, float(amp), ns - 1
        elif m == 4:
            payload = f"opaque payload #{i} - not decodable media".encode()
            kind, mime, ns = "binary", "application/octet-stream", 0
        else:
            # Y4M video: per-frame-constant luma planes, F25:1, mono and
            # 420 alternating. Frame j fill = (17i + 31j) mod 256 —
            # distinct within a video (31 is odd, nf ≤ 8), so
            # n_distinct_frames == n_frames.
            nf = 3 + i % 6
            vw, vh = 6 + 2 * (i % 4), 4 + 2 * (i % 3)
            fills = [(17 * i + 31 * j) % 256 for j in range(nf)]
            frames = np.stack(
                [np.full((vh, vw), v, dtype=np.uint8) for v in fills]
            )
            payload = encode_y4m(
                frames,
                fps=(25, 1),
                colorspace="mono" if i % 2 == 0 else "420jpeg",
            )
            kind, mime = "video", "video/x-yuv4mpeg"
            if i % 24 == 11:  # truncate mid-frame → undecodable
                payload = payload[: len(payload) - vw * vh // 2]
            else:
                video_ok = True
                nframes = nf
                luma_sum = float(sum(fills))
                scene_cuts = sum(
                    1
                    for a, b in zip(fills, fills[1:])
                    if abs(b - a) > SCENE_CUT_THRESH
                )
        rows.append(
            (i, kind, mime, payload, img_ok, width, height, luma,
             audio_ok, sr, ns if m == 3 else 0, dur, rms, zc,
             video_ok, nframes, luma_sum, scene_cuts)
        )
    return rows


_DHASH_ARROW = pa.schema(
    [
        ("media_id", pa.int64()),
        ("payload", pa.binary()),
        ("exp_ok", pa.bool_()),
        ("exp_seed", pa.int32()),
        ("exp_width", pa.int32()),
        ("exp_height", pa.int32()),
    ]
)


def dhash_rows(n: int = 48, variant: int = 2) -> list[tuple]:
    """Perceptual-dup image fixture with a closed-form dHash oracle.

    Each decodable image is a grayscale PNG of 9 block-constant column
    bands whose brighter/darker steps encode the bits of an 7-bit
    ``seed``: band j+1 = band j − step if bit j of seed is set, else
    band j + step.  dHash's 9×8 downsample recovers exactly one band
    per column, so every row of the 8×8 comparison grid equals the
    seed's bit pattern and the 64-bit hash is the closed form
    ``seed · 0x0101010101010101`` — computable by the SQL oracle with
    no codec.  Images sharing a seed differ in resolution (band width
    1–3 px, height 8–16 px) and contrast (step 9–15), so equal hashes
    across genuinely different payloads is the perceptual-dup property
    under test, not a byte-identity artifact.  Seeds stay < 128 so the
    oracle's multiply fits a signed BIGINT.  Every 16th-ish row is an
    undecodable text payload (``exp_ok=false``) pinning the
    corrupt-media path."""
    import numpy as np

    from ..functions.imagecodec import encode_png

    seeds = [5, 23, 42, 77, 91, 108, 13, 64, 99, 120, 3, 56]
    rows = []
    for i in range(n):
        if i % 16 == 13:
            payload = f"corrupt image stand-in #{i}".encode()
            rows.append((i, payload, False, 0, 0, 0))
            continue
        seed = seeds[i % len(seeds)]
        # Variation index is i // len(seeds), DECOUPLED from the seed
        # cycle, so the copies sharing a hash have pairwise-distinct
        # resolutions AND contrasts — perceptual duplicates, never
        # byte-identical payloads (variant=2; v1 tied both to i and
        # produced identical copies).
        v = i // len(seeds)
        kw, kh = 1 + v % 3, 1 + v % 2
        step = 9 + (v % 4) * 2  # ≤15: 8 cumulative steps stay in [8,248]
        vals = [128]
        for j in range(8):
            vals.append(vals[-1] - step if (seed >> j) & 1 else vals[-1] + step)
        col = np.repeat(np.array(vals, dtype=np.uint8), kw)
        img = np.tile(col, (8 * kh, 1))
        rows.append((i, encode_png(img), True, seed, 9 * kw, 8 * kh))
    return rows


_RASTER_PX_ARROW = pa.schema(
    [
        ("file", pa.string()),
        ("x", pa.int32()),
        ("y", pa.int32()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("value", pa.float64()),
    ]
)


def raster_fixture(
    dates: tuple[str, ...], w: int, h: int, seed: int, cell: float,
    nan_frac: float,
) -> tuple[dict[str, bytes], list[tuple]]:
    """Real uncompressed GeoTIFF payloads + their expected pixel rows.

    The .tif bytes come from ``tiffcodec.encode_geotiff``; the twin rows
    are computed from the pre-encode arrays with the exact float
    expression ``read_rasters`` uses (min + (idx + 0.5) * cell), so the
    decode → unpivot path is a bit-exact differential against DuckDB."""
    import numpy as np

    from .synthetic import DELHI_BBOX
    from .tiffcodec import encode_geotiff

    min_lon, min_lat = DELHI_BBOX[0], DELHI_BBOX[1]
    files: dict[str, bytes] = {}
    rows: list[tuple] = []
    for d in dates:
        rng = np.random.default_rng(seed + int(d.replace("-", "")))
        vals = rng.uniform(0.0, 300.0, size=(h, w))
        vals[rng.random((h, w)) < nan_frac] = np.nan
        name = f"no2_{d}.tif"
        files[name] = encode_geotiff(vals, min_lon, min_lat, cell)
        for y in range(h):
            for x in range(w):
                v = vals[y, x]
                rows.append(
                    (
                        name,
                        x,
                        y,
                        min_lon + (float(x) + 0.5) * cell,
                        min_lat + (float(y) + 0.5) * cell,
                        None if np.isnan(v) else float(v),
                    )
                )
    return files, rows


def utm_raster_fixture(
    dates: tuple[str, ...], w: int, h: int, seed: int, cell: float,
    nan_frac: float, zone: int, min_e: float, min_n: float,
) -> tuple[dict[str, bytes], list[tuple]]:
    """UTM-tagged GeoTIFF payloads + their expected REPROJECTED pixel
    rows. The twin's lon/lat are computed with the exact vectorized
    path ``read_rasters`` runs (np.mgrid centers → ``utm_inverse_np``),
    so the GeoKey parse + inverse-Krüger reprojection is a bit-exact
    differential against DuckDB reading the twin."""
    import numpy as np

    from ..functions.crs import utm_inverse_np
    from .tiffcodec import encode_geotiff

    files: dict[str, bytes] = {}
    rows: list[tuple] = []
    for d in dates:
        rng = np.random.default_rng(seed + int(d.replace("-", "")))
        vals = rng.uniform(0.0, 300.0, size=(h, w))
        vals[rng.random((h, w)) < nan_frac] = np.nan
        name = f"frp_utm_{d}.tif"
        files[name] = encode_geotiff(
            vals, min_e, min_n, cell, epsg=32600 + zone
        )
        ys, xs = np.mgrid[0:h, 0:w]
        px = min_e + (xs.ravel() + 0.5) * cell
        py = min_n + (ys.ravel() + 0.5) * cell
        lon, lat = utm_inverse_np(px, py, zone)
        flat = vals.ravel()
        for i in range(h * w):
            rows.append(
                (
                    name,
                    int(xs.ravel()[i]),
                    int(ys.ravel()[i]),
                    float(lon[i]),
                    float(lat[i]),
                    None if np.isnan(flat[i]) else float(flat[i]),
                )
            )
    return files, rows


def deflate_raster_fixture(
    dates: tuple[str, ...], w: int, h: int, seed: int, cell: float,
    nan_frac: float,
) -> tuple[dict[str, bytes], list[tuple]]:
    """Compressed / tiled GeoTIFF payloads + expected pixel rows —
    the layouts real-world GEE exports use (GDAL ``COMPRESS=DEFLATE``
    / ``COMPRESS=LZW``, ``TILED=YES``; fix_transparency.py:11-12 reads
    them via rasterio). One file per layout: deflate strips,
    uncompressed 16×16 tiles, deflate tiles, LZW strips, LZW tiles —
    the twin rows are identical in construction to
    ``raster_fixture``'s, so the decode of every layout is a bit-exact
    differential against DuckDB."""
    import numpy as np

    from .synthetic import DELHI_BBOX
    from .tiffcodec import encode_geotiff

    min_lon, min_lat = DELHI_BBOX[0], DELHI_BBOX[1]
    layouts = (
        ("deflate", dict(compress="deflate")),
        ("tiled", dict(tile=16)),
        ("deflate_tiled", dict(compress="deflate", tile=16)),
        ("lzw", dict(compress="lzw")),
        ("lzw_tiled", dict(compress="lzw", tile=16)),
    )
    files: dict[str, bytes] = {}
    rows: list[tuple] = []
    for d, (tag, kw) in zip(dates, layouts):
        rng = np.random.default_rng(seed + int(d.replace("-", "")))
        vals = rng.uniform(0.0, 300.0, size=(h, w))
        vals[rng.random((h, w)) < nan_frac] = np.nan
        name = f"aod_{tag}_{d}.tif"
        files[name] = encode_geotiff(vals, min_lon, min_lat, cell, **kw)
        for y in range(h):
            for x in range(w):
                v = vals[y, x]
                rows.append(
                    (
                        name,
                        x,
                        y,
                        min_lon + (float(x) + 0.5) * cell,
                        min_lat + (float(y) + 0.5) * cell,
                        None if np.isnan(v) else float(v),
                    )
                )
    return files, rows


def multiband_raster_fixture(
    dates: tuple[str, ...], w: int, h: int, n_bands: int, seed: int,
    cell: float, nan_frac: float,
) -> tuple[dict[str, bytes], list[tuple]]:
    """Multi-band (SamplesPerPixel > 1, chunky) GeoTIFF payloads +
    expected ``(file, band, x, y, lon, lat, value)`` rows — the shape
    ``geemap.ee_export_image(..., file_per_band=False)`` emits when
    more than one band survives the select (DataDownloader_V1.py:149
    option surface). One plain-strip file and one deflate+tiled file,
    so the multi-band sample interleave is gated through both segment
    layouts."""
    import numpy as np

    from .synthetic import DELHI_BBOX
    from .tiffcodec import encode_geotiff

    min_lon, min_lat = DELHI_BBOX[0], DELHI_BBOX[1]
    layouts = (("plain", {}), ("deflate_tiled", dict(compress="deflate",
                                                     tile=16)))
    files: dict[str, bytes] = {}
    rows: list[tuple] = []
    for d, (tag, kw) in zip(dates, layouts):
        rng = np.random.default_rng(seed + int(d.replace("-", "")))
        cube = rng.uniform(0.0, 300.0, size=(n_bands, h, w))
        cube[rng.random(cube.shape) < nan_frac] = np.nan
        name = f"multi_{tag}_{d}.tif"
        files[name] = encode_geotiff(cube, min_lon, min_lat, cell, **kw)
        for b in range(n_bands):
            for y in range(h):
                for x in range(w):
                    v = cube[b, y, x]
                    rows.append(
                        (
                            name,
                            b,
                            x,
                            y,
                            min_lon + (float(x) + 0.5) * cell,
                            min_lat + (float(y) + 0.5) * cell,
                            None if np.isnan(v) else float(v),
                        )
                    )
    return files, rows


def _write_delimited(base: Path) -> None:
    """Text-format twins of the pixel fixture, written by plain Python
    so both engines read IDENTICAL bytes: ``points.csv`` is the
    reference's lat,lon,mean export shape (fix_transparency.py:76-83,
    '%.6f'), ``logs.jsonl`` is a newline-delimited JSON event log. Value
    formatting is fixed-precision text so the parse is unambiguous."""
    rows = pixels_rows(**PIXEL_PARAMS)
    # pixels_rows tuple: (dataset, band, date, ts, x, y, lon, lat, value)
    with open(base / "points.csv", "w", newline="") as fh:
        fh.write("lat,lon,mean\n")
        for r in rows:
            if r[8] is None:
                continue
            fh.write(f"{r[7]:.6f},{r[6]:.6f},{r[8]:.6f}\n")
    with open(base / "logs.jsonl", "w") as fh:
        for r in rows:
            rec = {
                "dataset": r[0],
                "date": str(r[2]),
                "x": r[4],
                "y": r[5],
                "value": None if r[8] is None else round(r[8], 6),
            }
            fh.write(json.dumps(rec, separators=(",", ":")) + "\n")


def _rows_to_table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    arrays = []
    for field, col in zip(schema, cols):
        vals = list(col)
        if pa.types.is_map(field.type):
            vals = [sorted(v.items()) if v is not None else None for v in vals]
        arrays.append(pa.array(vals, type=field.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def _manifest() -> dict:
    return {
        "version": FIXTURES_VERSION,
        "pixels": {k: list(v) if isinstance(v, tuple) else v
                   for k, v in PIXEL_PARAMS.items()},
        "amenities": dict(AMENITY_PARAMS),
        "roads": dict(ROAD_PARAMS),
        "seam_roads": dict(SEAM_ROAD_PARAMS),
        "seam_pixels": dict(SEAM_PIXEL_PARAMS),
        "media": dict(MEDIA_PARAMS),
        "dhash_media": dict(DHASH_PARAMS),
        "rasters": {k: list(v) if isinstance(v, tuple) else v
                    for k, v in RASTER_PARAMS.items()},
        "utm_rasters": {k: list(v) if isinstance(v, tuple) else v
                        for k, v in UTM_RASTER_PARAMS.items()},
        "deflate_rasters": {k: list(v) if isinstance(v, tuple) else v
                            for k, v in DEFLATE_RASTER_PARAMS.items()},
        "multiband_rasters": {k: list(v) if isinstance(v, tuple) else v
                              for k, v in MULTIBAND_RASTER_PARAMS.items()},
    }


def ensure_geo_fixtures(base: Path | None = None) -> Path:
    """Write the fixture parquet files if absent or stale; return the dir.

    The real-file twin ``motorway_points`` is optional: it is written
    (and required for freshness) only where ``REAL_MOTORWAY_GEOJSON``
    exists, so every synthetic fixture materializes without it."""
    base = FIXTURES_DIR if base is None else Path(base)
    manifest_path = base / "MANIFEST.json"
    wanted = _manifest()
    has_motorway = os.path.exists(REAL_MOTORWAY_GEOJSON)
    names = ("pixels", "regions", "thresholds", "amenities", "media",
             "dhash_media", "raster_pixels", "raster_utm_pixels",
             "raster_deflate_pixels", "raster_multiband_pixels",
             "road_vertices", "seam_road_vertices", "seam_pixels")
    if has_motorway:
        names += ("motorway_points",)
    extra = ("points.csv", "logs.jsonl", "roads.geojson",
             "seam_roads.geojson")
    if manifest_path.exists() and all(
        (base / f"{n}.parquet").exists() for n in names
    ) and all((base / n).exists() for n in extra):
        try:
            if json.loads(manifest_path.read_text()) == wanted:
                return base
        except (ValueError, OSError):
            pass
    base.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        _rows_to_table(pixels_rows(**PIXEL_PARAMS), _PIXELS_ARROW),
        base / "pixels.parquet",
    )
    pq.write_table(
        _rows_to_table(regions_rows(), _REGIONS_ARROW),
        base / "regions.parquet",
    )
    pq.write_table(
        _rows_to_table(thresholds_rows(), _THRESHOLDS_ARROW),
        base / "thresholds.parquet",
    )
    pq.write_table(
        _rows_to_table(amenities_rows(**AMENITY_PARAMS), _AMENITIES_ARROW),
        base / "amenities.parquet",
    )
    pq.write_table(
        _rows_to_table(media_rows(**MEDIA_PARAMS), _MEDIA_ARROW),
        base / "media.parquet",
    )
    pq.write_table(
        _rows_to_table(dhash_rows(**DHASH_PARAMS), _DHASH_ARROW),
        base / "dhash_media.parquet",
    )
    tif_files, tif_rows = raster_fixture(**RASTER_PARAMS)
    raster_dir = base / "rasters"
    raster_dir.mkdir(parents=True, exist_ok=True)
    for name, payload in tif_files.items():
        (raster_dir / name).write_bytes(payload)
    pq.write_table(
        _rows_to_table(tif_rows, _RASTER_PX_ARROW),
        base / "raster_pixels.parquet",
    )
    dfl_files, dfl_rows = deflate_raster_fixture(**DEFLATE_RASTER_PARAMS)
    dfl_dir = base / "rasters_deflate"
    dfl_dir.mkdir(parents=True, exist_ok=True)
    for name, payload in dfl_files.items():
        (dfl_dir / name).write_bytes(payload)
    pq.write_table(
        _rows_to_table(dfl_rows, _RASTER_PX_ARROW),
        base / "raster_deflate_pixels.parquet",
    )
    mb_files, mb_rows = multiband_raster_fixture(**MULTIBAND_RASTER_PARAMS)
    mb_dir = base / "rasters_multiband"
    mb_dir.mkdir(parents=True, exist_ok=True)
    for name, payload in mb_files.items():
        (mb_dir / name).write_bytes(payload)
    pq.write_table(
        _rows_to_table(mb_rows, _RASTER_MB_ARROW),
        base / "raster_multiband_pixels.parquet",
    )
    utm_files, utm_rows = utm_raster_fixture(**UTM_RASTER_PARAMS)
    utm_dir = base / "rasters_utm"
    utm_dir.mkdir(parents=True, exist_ok=True)
    for name, payload in utm_files.items():
        (utm_dir / name).write_bytes(payload)
    pq.write_table(
        _rows_to_table(utm_rows, _RASTER_PX_ARROW),
        base / "raster_utm_pixels.parquet",
    )
    pq.write_table(
        _rows_to_table(road_vertex_rows(**ROAD_PARAMS), _ROAD_VERTICES_ARROW),
        base / "road_vertices.parquet",
    )
    (base / "roads.geojson").write_text(roads_geojson(**ROAD_PARAMS))
    pq.write_table(
        _rows_to_table(
            seam_road_vertex_rows(**SEAM_ROAD_PARAMS), _ROAD_VERTICES_ARROW
        ),
        base / "seam_road_vertices.parquet",
    )
    (base / "seam_roads.geojson").write_text(
        seam_roads_geojson(**SEAM_ROAD_PARAMS)
    )
    pq.write_table(
        _rows_to_table(seam_pixel_rows(**SEAM_PIXEL_PARAMS),
                       _SEAM_PIXELS_ARROW),
        base / "seam_pixels.parquet",
    )
    if has_motorway:
        pq.write_table(
            _rows_to_table(_real_motorway_points(), _REAL_POINTS_ARROW),
            base / "motorway_points.parquet",
        )
    _write_delimited(base)
    manifest_path.write_text(json.dumps(wanted, indent=2))
    return base


def _real_motorway_points() -> list[tuple]:
    """Plain-Python parse of the real motorway centroid export (every
    feature is a Point — OSM ``"@geometry": "center"``). Independent of
    the Spark GeoJSON reader under test; ``json.load`` floats are the
    same IEEE doubles Spark's variant parser yields, so the twin is
    bit-exact."""
    with open(REAL_MOTORWAY_GEOJSON) as fh:
        doc = json.load(fh)
    return [
        (
            f.get("id") or f["properties"]["@id"],
            float(f["geometry"]["coordinates"][0]),
            float(f["geometry"]["coordinates"][1]),
        )
        for f in doc["features"]
        if f["geometry"]["type"] == "Point"
    ]


def fixture_path(name: str) -> str:
    """Absolute path of a fixture parquet file (for DuckDB read_parquet)."""
    return str(FIXTURES_DIR / f"{name}.parquet")


def load_fixture(spark: SparkSession, name: str) -> DataFrame:
    """Spark-side reader; materializes the fixtures on first use."""
    ensure_geo_fixtures()
    return spark.read.parquet(fixture_path(name))
