"""Geo-domain queries on the materialized pixel fixtures (FIXTURES.md §A).

These register the reference's actual geospatial surface — the V1
pipeline chain, polygon clip, amenity proximity, resample-classify — as
``queries()`` entries. The fixtures are seeded-deterministic parquet files
(``sources.fixtures``) that Spark and DuckDB both read byte-identically,
so every query here carries a full differential oracle; semantics are
additionally golden-tested in ``tests/test_geo.py``.

Oracle notes:
- The clip oracle exploits that the ``delhi_diamond`` test polygon is an
  L1 ball (|lon-cx|+|lat-cy| <= r): the ray-cast UDF and the closed-form
  containment agree on every fixture pixel (no pixel sits on the
  boundary), giving plain SQL for a genuinely non-SQL operator.
- The proximity oracle mirrors the haversine formula term by term and
  both sides round the distance to 6 dp before the radius test, so libm
  ulp differences between the JVM and DuckDB cannot flip inclusion.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import (
    Z_ORDER_BITS,
    bbox_contains,
    clip_to_polygon,
    clip_to_union,
    line_segments,
    line_vertices,
    proximity_join,
    proximity_join_lines,
    rect_union_area,
    sql_antimeridian_halves,
    sql_point_to_segment_km,
)
from ..functions.stable import sql_stable_avg, sql_stable_sum
from ..operators.classify import classify_with_thresholds
from ..operators.composites import grid_resample, mean_composite, max_composite
from ..operators.windows import minmax_normalize
from ..sources.fixtures import (
    FIXTURES_DIR,
    REAL_MOTORWAY_GEOJSON,
    ensure_geo_fixtures,
    fixture_path,
    load_fixture,
)
from ..sources.geojson import read_geojson
from ..sources.synthetic import DELHI_BBOX
from .registry import Query, register

# Materialize at import so the synthetic fixtures the oracles read exist
# even if the driver runs DuckDB before (or without) the Spark side. The
# real-file twin (motorway_points) is written only where its source
# GeoJSON exists; see _geo_proximity_roads_real.
ensure_geo_fixtures()

_PX = fixture_path("pixels")
_FIXDIR = str(FIXTURES_DIR)
_AMEN = fixture_path("amenities")
_TH = fixture_path("thresholds")

# Fixture bbox bounds, inlined into oracle SQL.
_MIN_LON, _MIN_LAT, _MAX_LON, _MAX_LAT = DELHI_BBOX


def _pixels(spark: SparkSession) -> DataFrame:
    return load_fixture(spark, "pixels")


def _geo_flagship_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference V1 pipeline end-to-end (DataDownloader_V1.py:94-153):
    dataset/band select (P1) → date-range filter (P4) → bbox filter (P5)
    → per-pixel monthly mean (A1) → per-image min-max normalize (W1)."""
    px = _pixels(spark)
    month = F.date_format(F.date_trunc("month", "date"), "yyyy-MM")
    filtered = px.filter(
        (F.col("dataset") == "no2")
        & (F.col("date") >= F.lit("2025-01-01"))
        & (F.col("date") < F.lit("2025-03-01"))
        & bbox_contains(F.col("lon"), F.col("lat"), *DELHI_BBOX)
    )
    comp = mean_composite(
        filtered.withColumn("month", month), ["x", "y", "lon", "lat", "month"]
    )
    return minmax_normalize(comp, ["month"], value="mean_value")


register(
    Query(
        name="geo_flagship_v1",
        spark=_geo_flagship_v1,
        oracle=f"""
            WITH px AS (
                SELECT * FROM read_parquet('{_PX}')
                WHERE dataset = 'no2'
                  AND date >= DATE '2025-01-01' AND date < DATE '2025-03-01'
                  AND lon BETWEEN {_MIN_LON} AND {_MAX_LON}
                  AND lat BETWEEN {_MIN_LAT} AND {_MAX_LAT}
            ),
            comp AS (
                SELECT x, y, lon, lat,
                       strftime(date_trunc('month', date), '%Y-%m') AS month,
                       {sql_stable_avg('value')} AS mean_value,
                       count(value) AS n_obs
                FROM px GROUP BY x, y, lon, lat, month
            )
            SELECT x, y, lon, lat, month, mean_value, n_obs,
                   round((mean_value - min(mean_value) OVER (PARTITION BY month))
                         / (max(mean_value) OVER (PARTITION BY month)
                            - min(mean_value) OVER (PARTITION BY month)
                            + 1e-6), 6) AS norm_value
            FROM comp
        """,
        tags=("geo", "A1", "W1", "P4", "P5"),
    )
)


def _geo_clip_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — exact polygon clip (``clip(geom)`` / ``rasterio.mask``,
    DataDownloader_V1.py:145,54): bbox prefilter + ray-cast UDF, then a
    per-dataset count of surviving pixels."""
    px = _pixels(spark)
    regions = load_fixture(spark, "regions")
    poly = regions.filter(F.col("region") == "delhi_diamond").first()["polygon"]
    return (
        clip_to_polygon(px, poly)
        .groupBy("dataset")
        .agg(F.count(F.lit(1)).alias("n_pixels_in_region"))
    )


register(
    Query(
        name="geo_clip_polygon",
        spark=_geo_clip_polygon,
        # delhi_diamond is the L1 ball |lon-77.25|+|lat-28.6| < 0.3; no
        # fixture pixel lies on its boundary (grid step 0.08 with +0.04
        # offset never sums to 0.30), so ray-cast == closed form.
        oracle=f"""
            SELECT dataset, count(*) AS n_pixels_in_region
            FROM read_parquet('{_PX}')
            WHERE lon BETWEEN 76.95 AND 77.55 AND lat BETWEEN 28.3 AND 28.9
              AND abs(lon - 77.25) + abs(lat - 28.6) < 0.3
            GROUP BY dataset
        """,
        tags=("geo", "J1", "P6"),
    )
)


def _geo_clip_multipolygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 full form — clip to a HOLED, TWO-PART region (the
    ``rasterio.mask.mask`` shape class: FAO GAUL ADM1 boundaries the
    reference clips to are MultiPolygons in practice,
    DataDownloader_SNPP_VIIRS_V1.py:32-36). Even-odd ray cast over all
    rings: the hole toggles containment off inside part A; part B is a
    disjoint rectangle. Ring coords end in 5 at the thousandth so no
    pixel center sits on a boundary — the oracle is the closed-form
    rectangle algebra."""
    px = _pixels(spark)
    regions = load_fixture(spark, "regions")
    poly = regions.filter(
        F.col("region") == "delhi_holed_multi"
    ).first()["polygon"]
    return (
        clip_to_polygon(px, poly)
        .groupBy("dataset")
        .agg(F.count(F.lit(1)).alias("n_pixels_in_region"))
    )


register(
    Query(
        name="geo_clip_multipolygon",
        spark=_geo_clip_multipolygon,
        oracle=f"""
            SELECT dataset, count(*) AS n_pixels_in_region
            FROM read_parquet('{_PX}')
            WHERE ((lon BETWEEN 76.995 AND 77.235
                    AND lat BETWEEN 28.295 AND 28.615
                    AND NOT (lon BETWEEN 77.075 AND 77.155
                             AND lat BETWEEN 28.375 AND 28.535))
                OR (lon BETWEEN 77.315 AND 77.555
                    AND lat BETWEEN 28.675 AND 28.855))
            GROUP BY dataset
        """,
        tags=("geo", "J1", "P6"),
    )
)


def _geo_proximity_amenities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — the advocacy query the reference answers visually
    (README.md:2; power-plant overlay DataDownloader_V2.py:96-102):
    max observed value within 10 km of each amenity."""
    px = _pixels(spark).filter(F.col("value").isNotNull())
    amen = load_fixture(spark, "amenities")
    near = proximity_join(
        px.select("dataset", "lon", "lat", "value"),
        amen.select("feature_id", "lon", "lat"),
        radius_km=10.0,
        distance_round=6,
    )
    return near.groupBy("pt_feature_id", "dataset").agg(
        F.max("value").alias("max_value_10km"),
        F.count(F.lit(1)).alias("n_pixels"),
    )


register(
    Query(
        name="geo_proximity_amenities",
        spark=_geo_proximity_amenities,
        oracle=f"""
            WITH px AS (
                SELECT dataset, lon, lat, value
                FROM read_parquet('{_PX}') WHERE value IS NOT NULL
            ),
            pt AS (
                SELECT feature_id, lon AS alon, lat AS alat
                FROM read_parquet('{_AMEN}')
            ),
            pairs AS (
                SELECT px.dataset, px.value, pt.feature_id AS pt_feature_id
                FROM px CROSS JOIN pt
                WHERE round(2 * 6371.0088 * asin(sqrt(
                          pow(sin((radians(alat) - radians(lat)) / 2), 2)
                          + cos(radians(lat)) * cos(radians(alat))
                            * pow(sin((radians(alon) - radians(lon)) / 2), 2)
                      )), 6) <= 10.0
            )
            SELECT pt_feature_id, dataset, max(value) AS max_value_10km,
                   count(*) AS n_pixels
            FROM pairs GROUP BY pt_feature_id, dataset
        """,
        tags=("geo", "J2"),
    )
)


def _geo_resample_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + F3 — regrid to 2x2-coarser cells (scale=1000 analog,
    DataDownloader_V1.py:149) then classify cell means against the WHO
    thresholds (DataDownloader_V3.py:62-73)."""
    px = _pixels(spark)
    th = load_fixture(spark, "thresholds")
    cells = grid_resample(
        px.select("dataset", "x", "y", "value"),
        {
            "dataset": F.col("dataset"),
            "cx": F.floor(F.col("x") / 2),
            "cy": F.floor(F.col("y") / 2),
        },
    )
    classed = classify_with_thresholds(
        cells, th, on="dataset", value="cell_value"
    )
    return classed.groupBy("dataset", "bucket").agg(
        F.count(F.lit(1)).alias("n_cells")
    )


register(
    Query(
        name="geo_resample_classify",
        spark=_geo_resample_classify,
        oracle=f"""
            WITH cells AS (
                SELECT dataset, floor(x / 2) AS cx, floor(y / 2) AS cy,
                       {sql_stable_avg('value')} AS cell_value
                FROM read_parquet('{_PX}')
                GROUP BY dataset, cx, cy
            ),
            classed AS (
                SELECT c.dataset,
                       CASE WHEN cell_value < std_value THEN 'below_standard'
                            WHEN cell_value < 1.5 * std_value THEN 'elevated'
                            WHEN cell_value < 2.0 * std_value THEN 'high'
                            ELSE 'severe' END AS bucket
                FROM cells c
                JOIN read_parquet('{_TH}') t ON c.dataset = t.dataset
            )
            SELECT dataset, bucket, count(*) AS n_cells
            FROM classed GROUP BY dataset, bucket
        """,
        tags=("geo", "A7", "F3"),
    )
)


def _geo_feature_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 + F6 + S2 — FeatureCollection attribute filter: the chained
    property-equality predicates (``ee.Filter.eq('ADM1_NAME','Punjab')``,
    DataDownloader_SNPP_VIIRS_V1.py:33) against the MAP property bag."""
    amen = load_fixture(spark, "amenities")
    return (
        amen.filter(
            (F.col("props")["plant:source"] == "coal")
            & (F.col("geom_type") == "Point")
        )
        .select(
            "feature_id",
            F.col("props")["name"].alias("plant_name"),  # P9 tooltip proj
            "lon",
            "lat",
        )
    )


register(
    Query(
        name="geo_feature_filter",
        spark=_geo_feature_filter,
        # DuckDB 1.x map extraction returns a LIST; [1] unwraps the value.
        oracle=f"""
            SELECT feature_id, props['name'][1] AS plant_name, lon, lat
            FROM read_parquet('{_AMEN}')
            WHERE props['plant:source'][1] = 'coal' AND geom_type = 'Point'
        """,
        tags=("geo", "P2", "P9", "F6", "S2"),
    )
)


def _geo_region_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — geometry union as bbox envelope: dissolve each feature
    source to its bounding box (``punjab.geometry()``,
    DataDownloader_SNPP_VIIRS_V1.py:36)."""
    amen = load_fixture(spark, "amenities")
    return amen.groupBy("source").agg(
        F.round(F.min("lon"), 6).alias("min_lon"),
        F.round(F.min("lat"), 6).alias("min_lat"),
        F.round(F.max("lon"), 6).alias("max_lon"),
        F.round(F.max("lat"), 6).alias("max_lat"),
        F.count(F.lit(1)).alias("n_features"),
    )


register(
    Query(
        name="geo_region_envelope",
        spark=_geo_region_envelope,
        oracle=f"""
            SELECT source,
                   round(min(lon), 6) AS min_lon,
                   round(min(lat), 6) AS min_lat,
                   round(max(lon), 6) AS max_lon,
                   round(max(lat), 6) AS max_lat,
                   count(*) AS n_features
            FROM read_parquet('{_AMEN}')
            GROUP BY source
        """,
        tags=("geo", "A6", "aggregation"),
    )
)


def _geo_clip_dissolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 full form — clip to the DISSOLVED union of two overlapping
    district features (``punjab.geometry()``,
    DataDownloader_SNPP_VIIRS_V1.py:36): inside ANY member, each member
    even-odd with its own holes. The fixture districts overlap on a box
    that contains pixel centers, so this provably differs from
    flattening the rings into one even-odd test (which would toggle the
    shared area off) — the semantic content of a dissolve."""
    px = _pixels(spark)
    regions = load_fixture(spark, "regions").filter(
        F.col("region").isin("dist_west", "dist_east")
    )
    polys = [r["polygon"] for r in regions.select("polygon").collect()]
    return (
        clip_to_union(px, polys)
        .groupBy("dataset")
        .agg(F.count(F.lit(1)).alias("n_pixels_in_union"))
    )


register(
    Query(
        name="geo_clip_dissolved",
        spark=_geo_clip_dissolved,
        # The districts are axis-aligned rectangles whose boundary
        # coordinates never coincide with pixel centers, so the
        # dissolve's any-member test is closed-form OR-of-BETWEENs.
        oracle=f"""
            SELECT dataset, count(*) AS n_pixels_in_union
            FROM read_parquet('{_PX}')
            WHERE (lon BETWEEN 77.035 AND 77.315
                   AND lat BETWEEN 28.335 AND 28.615)
               OR (lon BETWEEN 77.235 AND 77.475
                   AND lat BETWEEN 28.455 AND 28.775)
            GROUP BY dataset
        """,
        tags=("geo", "A6", "J1", "P6"),
    )
)


def _geo_region_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 full form, metric side — the exact dissolved-union area of
    every region footprint (``geometry().area()`` over the GAUL
    dissolve): vertical slab decomposition + sorted-interval sweep,
    pure Catalyst expressions (see ``rect_union_area``). The fixture
    set exercises nesting (four Delhi shapes inside the NCR bbox),
    touching (Punjab meets Delhi along lat 29.0) and partial overlap
    (the two districts)."""
    regions = load_fixture(spark, "regions")
    return rect_union_area(
        regions, x1="min_lon", y1="min_lat", x2="max_lon", y2="max_lat"
    )


_REG = fixture_path("regions")

register(
    Query(
        name="geo_region_union_area",
        spark=_geo_region_union_area,
        # Same slab decomposition in SQL: distinct x-edges -> lead()
        # slabs -> spanning-rectangle join -> running-max interval
        # merge -> decimal-summed area, mirroring every float op.
        oracle=f"""
            WITH r AS (
                SELECT min_lon AS rx1, min_lat AS ry1,
                       max_lon AS rx2, max_lat AS ry2
                FROM read_parquet('{_REG}')
            ),
            xs AS (
                SELECT DISTINCT x FROM (
                    SELECT rx1 AS x FROM r
                    UNION ALL SELECT rx2 FROM r
                )
            ),
            slabs AS (
                SELECT x AS x_lo, lead(x) OVER (ORDER BY x) AS x_hi
                FROM xs
            ),
            cover AS (
                SELECT s.x_lo, s.x_hi, r.ry1, r.ry2
                FROM slabs s JOIN r
                  ON r.rx1 <= s.x_lo AND r.rx2 >= s.x_hi
                WHERE s.x_hi IS NOT NULL
            ),
            marked AS (
                SELECT x_lo, x_hi, ry1, ry2,
                       CASE WHEN ry1 > coalesce(
                                max(ry2) OVER (
                                    PARTITION BY x_lo ORDER BY ry1, ry2
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING),
                                -1e308)
                            THEN 1 ELSE 0 END AS newrun
                FROM cover
            ),
            runs AS (
                SELECT *, sum(newrun) OVER (
                        PARTITION BY x_lo ORDER BY ry1, ry2
                        ROWS UNBOUNDED PRECEDING) AS run
                FROM marked
            ),
            merged AS (
                SELECT x_lo, x_hi, run,
                       min(ry1) AS lo, max(ry2) AS hi
                FROM runs GROUP BY x_lo, x_hi, run
            ),
            tot AS (
                SELECT count(*) AS n_rects,
                       {sql_stable_sum('(rx2 - rx1) * (ry2 - ry1)', 6)}
                           AS sum_rect_area
                FROM r
            ),
            uni AS (
                SELECT {sql_stable_sum('(x_hi - x_lo) * (hi - lo)', 6)}
                           AS union_area
                FROM merged
            )
            SELECT n_rects, sum_rect_area, union_area FROM tot, uni
        """,
        tags=("geo", "A6", "aggregation"),
    )
)


def _geo_max_composite_frp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — the VIIRS max-FRP composite with zero-preserving normalize
    (DataDownloader_SNPP_VIIRS_V1.py:155,74-82) over the first fixture
    month of the 'co' dataset."""
    px = _pixels(spark).filter(
        (F.col("dataset") == "co") & (F.col("date") < F.lit("2025-02-01"))
    )
    comp = max_composite(
        px.withColumn("value", F.coalesce("value", F.lit(0.0))),
        ["x", "y"],
    )
    return minmax_normalize(
        comp.withColumn("img", F.lit("frp")), ["img"],
        value="max_value", zero_preserving=True,
    )


register(
    Query(
        name="geo_max_composite_frp",
        spark=_geo_max_composite_frp,
        oracle=f"""
            WITH comp AS (
                SELECT x, y, max(coalesce(value, 0.0)) AS max_value
                FROM read_parquet('{_PX}')
                WHERE dataset = 'co' AND date < DATE '2025-02-01'
                GROUP BY x, y
            )
            SELECT x, y, max_value, 'frp' AS img,
                   round(CASE WHEN max_value > 0
                              AND max(max_value) OVER ()
                                  > min(max_value) OVER ()
                         THEN (max_value - min(max_value) OVER ())
                              / (max(max_value) OVER ()
                                 - min(max_value) OVER ())
                         ELSE 0.0 END, 6) AS norm_value
            FROM comp
        """,
        tags=("geo", "A2", "W1"),
    )
)


def _raster_ingest_tif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GeoTIFF ingest (S3, no injected decoder): binaryFile scan →
    pure-Python strip decode (sources.tiffcodec) → UDTF-shaped unpivot to
    pixel rows, exactly the reference's rasterio read + flatten
    (DataDownloader_V1.py:39,57; fix_transparency.py:54-83). The oracle
    reads the parquet twin written from the same pre-encode arrays, so
    decode correctness (incl. NaN nodata → NULL and the row-flip
    orientation contract) is a bit-exact differential."""
    from ..sources.fixtures import FIXTURES_DIR, ensure_geo_fixtures
    from ..sources.raster import read_rasters

    ensure_geo_fixtures()
    df = read_rasters(spark, str(FIXTURES_DIR / "rasters" / "*.tif"))
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "x",
        "y",
        "lon",
        "lat",
        "value",
    )


register(
    Query(
        name="raster_ingest_tif",
        spark=_raster_ingest_tif,
        oracle=f"""
            SELECT file, x, y, lon, lat, value
            FROM read_parquet('{fixture_path("raster_pixels")}')
        """,
        tags=("geo", "S3", "S5"),
    )
)


def _raster_ingest_deflate_tif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — ingest of DEFLATE-compressed and TILED GeoTIFFs, the
    layouts real-world GEE exports use (rasterio reads arbitrary
    layouts in the reference — fix_transparency.py:11-12; GDAL writes
    COMPRESS=DEFLATE / TILED=YES routinely). The fixture dir holds one
    file per layout (deflate strips, uncompressed 16×16 tiles, deflate
    tiles) with a non-tile-aligned 21×19 grid, so edge-tile cropping,
    zlib segment decode, and tile assembly are all inside the bit-exact
    differential vs the parquet twin written from the pre-encode
    arrays."""
    from ..sources.fixtures import FIXTURES_DIR, ensure_geo_fixtures
    from ..sources.raster import read_rasters

    ensure_geo_fixtures()
    df = read_rasters(
        spark, str(FIXTURES_DIR / "rasters_deflate" / "*.tif")
    )
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "x",
        "y",
        "lon",
        "lat",
        "value",
    )


register(
    Query(
        name="raster_ingest_deflate_tif",
        spark=_raster_ingest_deflate_tif,
        oracle=f"""
            SELECT file, x, y, lon, lat, value
            FROM read_parquet('{fixture_path("raster_deflate_pixels")}')
        """,
        tags=("geo", "S3", "S5"),
    )
)


def _raster_ingest_multiband_tif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 multi-band — ingest of SamplesPerPixel=3 chunky GeoTIFFs
    (the ``file_per_band=False`` export shape,
    DataDownloader_V1.py:149 option surface): per-pixel interleaved
    samples de-interleave to a first-class ``band`` column inside the
    ingest UDTF, across both plain-strip and deflate+tiled layouts
    (edge tiles crop in SAMPLE units). Bit-exact differential vs the
    parquet twin written from the pre-encode cubes."""
    from ..sources.fixtures import FIXTURES_DIR, ensure_geo_fixtures
    from ..sources.raster import read_rasters

    ensure_geo_fixtures()
    df = read_rasters(
        spark, str(FIXTURES_DIR / "rasters_multiband" / "*.tif")
    )
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "band",
        "x",
        "y",
        "lon",
        "lat",
        "value",
    )


register(
    Query(
        name="raster_ingest_multiband_tif",
        spark=_raster_ingest_multiband_tif,
        oracle=f"""
            SELECT file, band, x, y, lon, lat, value
            FROM read_parquet('{fixture_path("raster_multiband_pixels")}')
        """,
        tags=("geo", "S3", "S5", "multiband"),
    )
)


def _raster_ingest_utm_tif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 + F8 — ingest of a PROJECTED (UTM-zone-43-tagged) GeoTIFF:
    binaryFile scan → GeoKeyDirectory parse → inverse-Krüger
    reprojection of pixel centers to lon/lat inside the ingest UDTF —
    the reference's rasterio ``src.crs`` → EPSG:4326 warp
    (fix_transparency.py:71-74) as one differential. The oracle reads
    the parquet twin whose lon/lat were computed by the identical
    vectorized inverse at fixture-build time, so the whole GeoKey +
    reprojection path is bit-exact gated."""
    from ..sources.fixtures import FIXTURES_DIR, ensure_geo_fixtures
    from ..sources.raster import read_rasters

    ensure_geo_fixtures()
    df = read_rasters(spark, str(FIXTURES_DIR / "rasters_utm" / "*.tif"))
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "x",
        "y",
        "lon",
        "lat",
        "value",
    )


register(
    Query(
        name="raster_ingest_utm_tif",
        spark=_raster_ingest_utm_tif,
        oracle=f"""
            SELECT file, x, y, lon, lat, value
            FROM read_parquet('{fixture_path("raster_utm_pixels")}')
        """,
        tags=("geo", "S3", "F8", "crs"),
    )
)


def _csv_points_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest differential (S8 inverse): both engines parse the
    SAME text bytes (fixture written by plain Python at fixed 6 dp), so
    any float-parsing or header/schema drift shows up as a hash
    mismatch. Explicit schema — no inference pass."""
    from ..sources.delimited import read_points_csv
    from ..sources.fixtures import ensure_geo_fixtures, FIXTURES_DIR

    ensure_geo_fixtures()
    return read_points_csv(spark, str(FIXTURES_DIR / "points.csv"))


register(
    Query(
        name="csv_points_source",
        spark=_csv_points_source,
        oracle=f"""
            SELECT lat, lon, mean
            FROM read_csv('{_FIXDIR}/points.csv',
                          header = true,
                          columns = {{'lat': 'DOUBLE', 'lon': 'DOUBLE',
                                      'mean': 'DOUBLE'}})
        """,
        tags=("source", "S8"),
    )
)


def _jsonl_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest + aggregate: newline-delimited JSON (the splittable
    form — each line parses independently, so 100 TB of logs fan out
    across executors with no coordination) with an explicit schema,
    rolled up per (dataset, date)."""
    from ..functions.stable import stable_avg
    from ..sources.delimited import read_jsonl
    from ..sources.fixtures import ensure_geo_fixtures, FIXTURES_DIR

    ensure_geo_fixtures()
    logs = read_jsonl(spark, str(FIXTURES_DIR / "logs.jsonl"))
    return logs.groupBy(
        "dataset", F.date_format("date", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_values"),
        stable_avg("value").alias("avg_value"),
    )


register(
    Query(
        name="jsonl_source_agg",
        spark=_jsonl_source_agg,
        oracle=f"""
            SELECT dataset,
                   strftime(CAST(date AS DATE), '%Y-%m-%d') AS day,
                   count(*) AS n_rows,
                   count(value) AS n_values,
                   {sql_stable_avg("value")} AS avg_value
            FROM read_json('{_FIXDIR}/logs.jsonl',
                           format = 'newline_delimited',
                           columns = {{'dataset': 'VARCHAR',
                                       'date': 'VARCHAR',
                                       'x': 'INTEGER', 'y': 'INTEGER',
                                       'value': 'DOUBLE'}})
            GROUP BY 1, 2
        """,
        tags=("source", "json"),
    )
)


# ------------------------------------------------- UTM reprojection (F8)


_UTM_ZONE_DELHI = 43  # Delhi bbox (76.95-77.55 E) sits in UTM zone 43N


def _crs_utm_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/U3 — pixel ingest through a non-4326 CRS: reproject every
    fixture pixel to UTM zone 43N (the reference's Sentinel/VIIRS
    exports over North India arrive in arbitrary ``src.crs``, commonly
    UTM — fix_transparency.py:71-74) and aggregate into 10 km easting/
    northing grid cells (count + stable mean).

    The forward transform is the 6th-order Krüger series emitted as
    portable SQL (``functions.crs.utm_forward_steps``) and folded via
    ``F.expr`` — pure JVM column math inside whole-stage codegen, no
    Python/UDF in the loop; the oracle evaluates the IDENTICAL
    expression chain in DuckDB. Projected meters are rounded to 3 dp
    before bucketing so libm ulp differences cannot flip a cell."""
    from ..functions.crs import utm_forward_steps
    from ..functions.stable import DECIMAL, stable_round

    df = _pixels(spark).filter(F.col("value").isNotNull()).select(
        "dataset", "lon", "lat", "value"
    )
    for name, expr in utm_forward_steps("lon", "lat", _UTM_ZONE_DELHI):
        df = df.withColumn(name, F.expr(expr))
    # stable_round (floor-form) instead of engine round: a /count
    # quotient can land exactly on a 6 dp midpoint, which Spark and
    # DuckDB round() tie-break differently.
    mean_val = stable_round(
        F.sum(F.col("value").cast(DECIMAL)).cast("double")
        / F.count("value"),
        6,
    )
    return (
        df.withColumn(
            "cell_e", F.floor(F.col("utm_e") / 10000).cast("long")
        )
        .withColumn("cell_n", F.floor(F.col("utm_n") / 10000).cast("long"))
        .groupBy("dataset", "cell_e", "cell_n")
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            mean_val.alias("mean_value"),
        )
    )


def _crs_utm_grid_oracle() -> str:
    from ..functions.crs import sql_utm_forward_select
    from ..functions.stable import DECIMAL, sql_stable_round

    projected = sql_utm_forward_select(
        f"""SELECT dataset, lon, lat, value
            FROM read_parquet('{_PX}') WHERE value IS NOT NULL""",
        "lon",
        "lat",
        _UTM_ZONE_DELHI,
    )
    mean_val = sql_stable_round(
        f"cast(sum(cast(value as {DECIMAL})) as double) / count(value)", 6
    )
    return f"""
        SELECT dataset,
               CAST(floor(utm_e / 10000) AS BIGINT) AS cell_e,
               CAST(floor(utm_n / 10000) AS BIGINT) AS cell_n,
               count(*) AS n_px,
               {mean_val} AS mean_value
        FROM ({projected})
        GROUP BY dataset, cell_e, cell_n
    """


register(
    Query(
        name="crs_utm_grid",
        spark=_crs_utm_grid,
        oracle=_crs_utm_grid_oracle(),
        tags=("geo", "F8", "U3", "crs"),
    )
)


# ------------------------- Lambert conformal conic / sinusoidal (F8)


def _india_lcc():
    """A published-convention LCC 2SP over North India (standard
    parallels bracketing the Delhi fixture bbox, origin on the 77°E
    meridian) — the generic-parameter route a user ingesting a
    Lambert-projected third-party raster would take
    (fix_transparency.py:71-74 accepts arbitrary ``src.crs``)."""
    from ..functions.crs import LccParams

    return LccParams(lat1=28.0, lat2=30.0, lat0=28.0, lon0=77.0)


def _crs_lcc_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — conic reprojection closing the last CRS-family gap vs the
    reference's arbitrary-``src.crs`` ingest: project every fixture
    pixel through Lambert conformal conic 2SP (EPSG method 9802,
    Snyder 1987 pp. 104-110) and aggregate into 10 km grid cells.

    Same discipline as ``crs_utm_grid``: the forward transform is
    emitted as portable SQL (``functions.crs.lcc_forward_steps``) and
    folded via ``F.expr`` — JVM column math inside whole-stage codegen,
    no Python — while the oracle evaluates the IDENTICAL expression
    chain in DuckDB; meters round to 3 dp before bucketing."""
    from ..functions.crs import lcc_forward_steps
    from ..functions.stable import DECIMAL, stable_round

    df = _pixels(spark).filter(F.col("value").isNotNull()).select(
        "dataset", "lon", "lat", "value"
    )
    for name, expr in lcc_forward_steps("lon", "lat", _india_lcc()):
        df = df.withColumn(name, F.expr(expr))
    mean_val = stable_round(
        F.sum(F.col("value").cast(DECIMAL)).cast("double")
        / F.count("value"),
        6,
    )
    return (
        df.withColumn(
            "cell_e", F.floor(F.col("lcc_e") / 10000).cast("long")
        )
        .withColumn("cell_n", F.floor(F.col("lcc_n") / 10000).cast("long"))
        .groupBy("dataset", "cell_e", "cell_n")
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            mean_val.alias("mean_value"),
        )
    )


def _crs_lcc_grid_oracle() -> str:
    from ..functions.crs import sql_lcc_forward_select
    from ..functions.stable import DECIMAL, sql_stable_round

    projected = sql_lcc_forward_select(
        f"""SELECT dataset, lon, lat, value
            FROM read_parquet('{_PX}') WHERE value IS NOT NULL""",
        "lon",
        "lat",
        _india_lcc(),
    )
    mean_val = sql_stable_round(
        f"cast(sum(cast(value as {DECIMAL})) as double) / count(value)", 6
    )
    return f"""
        SELECT dataset,
               CAST(floor(lcc_e / 10000) AS BIGINT) AS cell_e,
               CAST(floor(lcc_n / 10000) AS BIGINT) AS cell_n,
               count(*) AS n_px,
               {mean_val} AS mean_value
        FROM ({projected})
        GROUP BY dataset, cell_e, cell_n
    """


register(
    Query(
        name="crs_lcc_grid",
        spark=_crs_lcc_grid,
        oracle=_crs_lcc_grid_oracle(),
        tags=("geo", "F8", "crs", "lcc"),
    )
)


def _crs_sinu_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — equal-area reprojection onto the MODIS sinusoidal grid
    (Snyder 1987 pp. 243-248, R = 6371007.181 — the sphere of the
    MODIS land-product tiles): project fixture pixels and bucket into
    10 km sinusoidal cells. Portable-SQL fold + identical DuckDB
    oracle chain, like the UTM and LCC variants."""
    from ..functions.crs import sinu_forward_steps
    from ..functions.stable import DECIMAL, stable_round

    df = _pixels(spark).filter(F.col("value").isNotNull()).select(
        "dataset", "lon", "lat", "value"
    )
    for name, expr in sinu_forward_steps("lon", "lat"):
        df = df.withColumn(name, F.expr(expr))
    mean_val = stable_round(
        F.sum(F.col("value").cast(DECIMAL)).cast("double")
        / F.count("value"),
        6,
    )
    return (
        df.withColumn(
            "cell_x", F.floor(F.col("sinu_x") / 10000).cast("long")
        )
        .withColumn("cell_y", F.floor(F.col("sinu_y") / 10000).cast("long"))
        .groupBy("dataset", "cell_x", "cell_y")
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            mean_val.alias("mean_value"),
        )
    )


def _crs_sinu_grid_oracle() -> str:
    from ..functions.crs import sql_sinu_forward_select
    from ..functions.stable import DECIMAL, sql_stable_round

    projected = sql_sinu_forward_select(
        f"""SELECT dataset, lon, lat, value
            FROM read_parquet('{_PX}') WHERE value IS NOT NULL""",
        "lon",
        "lat",
    )
    mean_val = sql_stable_round(
        f"cast(sum(cast(value as {DECIMAL})) as double) / count(value)", 6
    )
    return f"""
        SELECT dataset,
               CAST(floor(sinu_x / 10000) AS BIGINT) AS cell_x,
               CAST(floor(sinu_y / 10000) AS BIGINT) AS cell_y,
               count(*) AS n_px,
               {mean_val} AS mean_value
        FROM ({projected})
        GROUP BY dataset, cell_x, cell_y
    """


register(
    Query(
        name="crs_sinu_grid",
        spark=_crs_sinu_grid,
        oracle=_crs_sinu_grid_oracle(),
        tags=("geo", "F8", "crs", "sinusoidal"),
    )
)


# ----------------------------------------- Z-order layout (scale design)


_Z_BUCKET_SHIFT = 6  # 64 consecutive Morton codes per bucket


def _zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering audit: interleave each pixel's grid
    (x, y) into its Z-code (``functions.geo.z_order_key`` — the sort
    key the raster sink writes by, so row-group min/max stats prune
    2-D ranges), bucket consecutive codes, and report each bucket's
    row count and bbox span. The span stays small precisely because
    the curve preserves locality — the layout property that makes
    Z-ordering the standard multi-dimensional file-clustering technique
    at 100 TB. All-integer arithmetic, so the oracle mirrors it
    exactly."""
    from ..functions.geo import z_order_key

    px = _pixels(spark)
    return (
        px.withColumn("z", z_order_key(F.col("x"), F.col("y")))
        .withColumn(
            "z_bucket", F.shiftright("z", _Z_BUCKET_SHIFT).cast("long")
        )
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            (
                (F.max("x") - F.min("x")) + (F.max("y") - F.min("y"))
            ).alias("bbox_span"),
        )
    )


def _sql_morton(xe: str, ye: str) -> str:
    """DuckDB mirror of ``z_order_key``: Σ_b ((x>>b)&1)·4^b·(1 + 2·[y])
    written with multiplication by precomputed powers (exact BIGINT
    arithmetic — no float anywhere, so parity is structural)."""
    bits = Z_ORDER_BITS
    xm = f"(({xe}) % {1 << bits})"  # mirror of the Spark-side bit mask
    ym = f"(({ye}) % {1 << bits})"
    terms = []
    for b in range(bits):
        terms.append(f"(({xm} // {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"(({ym} // {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


register(
    Query(
        name="zorder_layout",
        spark=_zorder_layout,
        oracle=f"""
            SELECT CAST({_sql_morton('x', 'y')} // {1 << _Z_BUCKET_SHIFT}
                        AS BIGINT) AS z_bucket,
                   count(*) AS n_px,
                   min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y,
                   (max(x) - min(x)) + (max(y) - min(y)) AS bbox_span
            FROM read_parquet('{_PX}')
            GROUP BY 1
        """,
        tags=("geo", "layout", "zorder"),
    )
)


_ROADV = fixture_path("road_vertices")
_MOTOR = fixture_path("motorway_points")
_ROADS_GEOJSON = str(FIXTURES_DIR / "roads.geojson")


def _geo_proximity_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-line — point-to-LINE proximity: max observed value within
    5 km of each road POLYLINE (the 'fires near roads' half of the
    advocacy question, README.md:2), not of one representative vertex.

    End-to-end through the real ingest path: the roads are a GeoJSON
    FeatureCollection of LineStrings parsed by ``sources.geojson``
    (full coordinates in ``props['__coordinates']``), exploded to
    vertices (JVM ``from_json``+``posexplode``), paired into segments
    (window ``lead``), then grid-bucket joined against the pixel grid
    with exact planar point-to-segment distance. The oracle rebuilds
    the identical segments from the vertex-parquet twin and brute-force
    cross-joins — equality of the two is also the bucketing's
    no-dropped-pairs proof at gate scale."""
    px = _pixels(spark).filter(F.col("value").isNotNull())
    roads = read_geojson(spark, _ROADS_GEOJSON, source="roads")
    segs = line_segments(line_vertices(roads))
    near = proximity_join_lines(
        px.select("dataset", "ts", "x", "y", "lon", "lat", "value"),
        segs,
        radius_km=5.0,
        distance_round=6,
    )
    return near.groupBy("pt_feature_id", "dataset").agg(
        F.max("value").alias("max_value_5km"),
        F.count(F.lit(1)).alias("n_pixels"),
        F.min("distance_km").alias("min_distance_km"),
    )


register(
    Query(
        name="geo_proximity_roads",
        spark=_geo_proximity_roads,
        oracle=f"""
            WITH v AS (
                SELECT feature_id, seq, lon, lat
                FROM read_parquet('{_ROADV}')
            ),
            seg AS (
                SELECT a.feature_id,
                       a.lon AS lon1, a.lat AS lat1,
                       b.lon AS lon2, b.lat AS lat2
                FROM v a JOIN v b
                  ON a.feature_id = b.feature_id AND b.seq = a.seq + 1
            ),
            px AS (
                SELECT dataset, ts, x, y, lon, lat, value
                FROM read_parquet('{_PX}') WHERE value IS NOT NULL
            ),
            pairs AS (
                SELECT px.dataset, px.ts, px.x, px.y, px.value,
                       seg.feature_id AS pt_feature_id,
                       round(min({sql_point_to_segment_km(
                           'px.lon', 'px.lat',
                           'seg.lon1', 'seg.lat1',
                           'seg.lon2', 'seg.lat2')}), 6) AS distance_km
                FROM px CROSS JOIN seg
                GROUP BY px.dataset, px.ts, px.x, px.y, px.lon, px.lat,
                         px.value, seg.feature_id
            )
            SELECT pt_feature_id, dataset, max(value) AS max_value_5km,
                   count(*) AS n_pixels,
                   min(distance_km) AS min_distance_km
            FROM pairs WHERE distance_km <= 5.0
            GROUP BY pt_feature_id, dataset
        """,
        tags=("geo", "J2", "lines"),
    )
)


def _geo_proximity_roads_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 on the REAL OSM motorway export: every feature in
    ``AminitiesGeoJSON/*.geojson`` is a Point (``"@geometry": "center"``
    — way centroids; motorway.geojson feature 0), so point-to-point
    proximity IS the correct operator for these files, with the
    polyline form covered by ``geo_proximity_roads``. Spark parses the
    original GeoJSON through ``sources.geojson``; the oracle reads a
    plain-Python-parsed parquet twin — two independent parsers of the
    same 2,332-feature file differentially checked.

    Runs only where the reference export ``REAL_MOTORWAY_GEOJSON``
    exists; elsewhere it raises ``FileNotFoundError`` before building a
    plan (its oracle's parquet twin is not written either)."""
    if not os.path.exists(REAL_MOTORWAY_GEOJSON):
        raise FileNotFoundError(
            f"reference data absent: {REAL_MOTORWAY_GEOJSON}"
        )
    px = _pixels(spark).filter(F.col("value").isNotNull())
    roads = read_geojson(spark, REAL_MOTORWAY_GEOJSON, source="motorway")
    near = proximity_join(
        px.select("dataset", "lon", "lat", "value"),
        roads.filter(F.col("geom_type") == "Point").select(
            "feature_id", "lon", "lat"
        ),
        radius_km=2.0,
        distance_round=6,
    )
    return near.groupBy("dataset").agg(
        F.max("value").alias("max_value_2km"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("pt_feature_id").alias("n_roads_hit"),
    )


register(
    Query(
        name="geo_proximity_roads_real",
        spark=_geo_proximity_roads_real,
        oracle=f"""
            WITH px AS (
                SELECT dataset, lon, lat, value
                FROM read_parquet('{_PX}') WHERE value IS NOT NULL
            ),
            pt AS (
                SELECT feature_id, lon AS alon, lat AS alat
                FROM read_parquet('{_MOTOR}')
            ),
            pairs AS (
                SELECT px.dataset, px.value, pt.feature_id
                FROM px CROSS JOIN pt
                WHERE round(2 * 6371.0088 * asin(sqrt(
                          pow(sin((radians(alat) - radians(lat)) / 2), 2)
                          + cos(radians(lat)) * cos(radians(alat))
                            * pow(sin((radians(alon) - radians(lon)) / 2), 2)
                      )), 6) <= 2.0
            )
            SELECT dataset, max(value) AS max_value_2km,
                   count(*) AS n_pairs,
                   count(DISTINCT feature_id) AS n_roads_hit
            FROM pairs GROUP BY dataset
        """,
        tags=("geo", "J2", "real-data"),
    )
)


# Shuffle partitions for the streaming aggregate's dimension-bounded
# state (see _road_enrich_stream).
_STREAM_STATE_PARTITIONS = 4


def _streaming_road_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-to-LINE proximity with a FULL replay-vs-batch
    oracle (the streaming_dedup pattern): the pixel fixture arrives as
    THREE micro-batches — month 1, month 2, then month 1 AGAIN (an
    at-least-once redelivery) — through the stream-static broadcast
    road join and a complete-mode max/min aggregate. Because max and
    min are idempotent under replay, the final table must equal the
    plain batch answer over the two months, which IS SQL-expressible:
    the oracle brute-force cross-joins the vertex-twin segments in
    DuckDB. Equality simultaneously gates the streaming plumbing, the
    replay tolerance, and the cell bucketing (no dropped border
    pairs)."""
    return _road_enrich_stream(spark)[0]


def _road_enrich_stream(spark: SparkSession) -> tuple[DataFrame, list]:
    """Run the three-batch stream of ``streaming_road_enrich``; return its
    final table and the query's ``recentProgress``."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..streaming.jobs import (
        enrich_stream_roads,
        run_to_memory,
        stream_from_dir,
    )

    px = _pixels(spark).filter(F.col("value").isNotNull()).select(
        "dataset", F.month("date").alias("m"), "lon", "lat", "value"
    )
    roads = read_geojson(spark, _ROADS_GEOJSON, source="roads")
    segs = line_segments(line_vertices(roads))
    # The streaming analyzer rejects monotonically_increasing_id()
    # anywhere in the plan (the GeoJSON reader's feature-id fallback
    # carries one), so the dimension-sized segment table (|segments|
    # rows, §0) is materialized once — exactly what a production job
    # would do with its broadcast dimension anyway.
    segs = spark.createDataFrame(segs.collect(), segs.schema)
    root = tempfile.mkdtemp(prefix="gee_stream_roads_gate_")
    try:
        src = os.path.join(root, "src")
        os.makedirs(src)
        months = [r["m"] for r in px.select("m").distinct().collect()]
        batches = sorted(months) + [min(months)]  # replay month 1
        # Fixture-prep cost is inside the timed region, so write each
        # month ONCE (two pixel scans instead of three) and make the
        # replay batch a byte-for-byte COPY of month 1's directory —
        # truer to at-least-once redelivery than re-running the write
        # (the redelivered file is verbatim identical), and one fewer
        # Spark job. The file source takes files oldest-first, and the
        # copy keeps month 1's mtime, so the replay is stamped strictly
        # later than both live months: it must not ride their trigger.
        for i, m in enumerate(batches[:-1]):
            px.filter(F.col("m") == m).drop("m").coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(src, f"b{i}"))
        live = [os.path.join(src, f"b{i}") for i in range(len(batches) - 1)]
        replay = os.path.join(src, f"b{len(batches) - 1}")
        shutil.copytree(live[0], replay)
        later = 1 + max(
            os.path.getmtime(os.path.join(d, f))
            for d in live for f in os.listdir(d)
        )
        for f in os.listdir(replay):
            os.utime(os.path.join(replay, f), (later, later))
        schema = T._parse_datatype_string(
            "dataset string, lon double, lat double, value double"
        )
        name = f"gate_roads_{abs(hash(root)) % 10**9}"
        # State-partition sizing (guide §2.2/§5): the complete-mode
        # aggregate's state is |roads|×|datasets| rows — dimension-
        # bounded forever — yet it inherited spark.sql.shuffle.partitions
        # (= the core count), so EVERY micro-batch paid a state-store
        # load/commit per partition (3 triggers × 32 stores here, most
        # holding a handful of rows). Pin the streaming aggregate to a
        # small partition count, the standard production tuning for
        # dimension-bounded streaming state; batch queries are untouched
        # (the conf is restored immediately after the stream starts —
        # streaming state partitioning is fixed at checkpoint creation).
        # Values are identical under any partitioning (max/min aggs).
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(_STREAM_STATE_PARTITIONS)
        )
        try:
            # Trigger coalescing: the two live months ride ONE trigger
            # (maxFilesPerTrigger = 2, and the replay's later mtime puts
            # it after the pair), the verbatim redelivery is its own
            # SECOND trigger after a committed batch. Per-trigger fixed
            # cost (plan + broadcast build + state txns + complete-mode
            # sink rewrite) measured ~1.4 s here, so 3 → 2 triggers cuts
            # the query ~25%. Final values identical (complete-mode
            # max/min over the same multiset).
            q = run_to_memory(
                enrich_stream_roads(
                    stream_from_dir(
                        spark, src + "/*", schema,
                        max_files_per_trigger=2,
                    ),
                    segs,
                    5.0,
                ),
                name,
                os.path.join(root, "ckpt"),
                output_mode="complete",
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        try:
            q.processAllAvailable()
            progress = q.recentProgress
        finally:
            q.stop()
        rows = spark.table(name).collect()
        return spark.createDataFrame(rows, spark.table(name).schema), progress
    finally:
        shutil.rmtree(root, ignore_errors=True)


register(
    Query(
        name="streaming_road_enrich",
        spark=_streaming_road_enrich,
        oracle=f"""
            WITH v AS (
                SELECT feature_id, seq, lon, lat
                FROM read_parquet('{_ROADV}')
            ),
            seg AS (
                SELECT a.feature_id,
                       a.lon AS lon1, a.lat AS lat1,
                       b.lon AS lon2, b.lat AS lat2
                FROM v a JOIN v b
                  ON a.feature_id = b.feature_id AND b.seq = a.seq + 1
            ),
            px AS (
                SELECT dataset, lon, lat, value
                FROM read_parquet('{_PX}') WHERE value IS NOT NULL
            ),
            pairs AS (
                SELECT px.dataset, px.value,
                       seg.feature_id AS pt_feature_id,
                       round({sql_point_to_segment_km(
                           'px.lon', 'px.lat',
                           'seg.lon1', 'seg.lat1',
                           'seg.lon2', 'seg.lat2')}, 6) AS d6
                FROM px CROSS JOIN seg
            )
            SELECT pt_feature_id, dataset,
                   max(value) AS max_value_5km,
                   min(d6) AS min_distance_km
            FROM pairs WHERE d6 <= 5.0
            GROUP BY pt_feature_id, dataset
        """,
        tags=("geo", "J2", "lines", "streaming"),
    )
)


_SEAMV = fixture_path("seam_road_vertices")
_SEAMPX = fixture_path("seam_pixels")
_SEAM_GEOJSON = str(FIXTURES_DIR / "seam_roads.geojson")


def _geo_proximity_seam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-line across the ANTIMERIDIAN: max observed value within 8 km
    of each road polyline in a window straddling ±180 — the global-feed
    shape (worldwide ``NASA/LANCE/SNPP_VIIRS/C2`` pull,
    DataDownloader_SNPP_VIIRS_V1.py:138, joined to a worldwide OSM way
    extract) that the Delhi-window ``geo_proximity_roads`` never
    exercises. Several fixture segments CROSS the seam (|lon1 − lon2| >
    180 in wrapped coordinates), so this query gates the RFC 7946
    §3.1.9 cut (``split_segments_at_antimeridian``) end-to-end through
    the real GeoJSON ingest: crossing ways are split at ±180 into two
    halves whose distances the existing ``wrap_dlon`` machinery
    measures on both sides, and pixels east and west of the seam match
    the same road. The oracle rebuilds the identical segments from the
    vertex-parquet twin, applies the token-for-token SQL mirror of the
    cut (``sql_antimeridian_halves``), and brute-force cross-joins —
    equality is simultaneously the cut's correctness proof and the
    wrapped cell bucketing's no-dropped-pairs proof at gate scale."""
    px = load_fixture(spark, "seam_pixels").filter(
        F.col("value").isNotNull()
    )
    roads = read_geojson(spark, _SEAM_GEOJSON, source="seam_roads")
    segs = line_segments(line_vertices(roads))
    near = proximity_join_lines(
        px.select("dataset", "x", "y", "lon", "lat", "value"),
        segs,
        radius_km=8.0,
        distance_round=6,
    )
    return near.groupBy("pt_feature_id", "dataset").agg(
        F.max("value").alias("max_value_8km"),
        F.count(F.lit(1)).alias("n_pixels"),
        F.min("distance_km").alias("min_distance_km"),
    )


register(
    Query(
        name="geo_proximity_seam",
        spark=_geo_proximity_seam,
        oracle=f"""
            WITH v AS (
                SELECT feature_id, seq, lon, lat
                FROM read_parquet('{_SEAMV}')
            ),
            seg AS (
                SELECT a.feature_id,
                       a.lon AS lon1, a.lat AS lat1,
                       b.lon AS lon2, b.lat AS lat2
                FROM v a JOIN v b
                  ON a.feature_id = b.feature_id AND b.seq = a.seq + 1
            ),
            halves AS (
                SELECT * FROM {sql_antimeridian_halves('seg')}
            ),
            px AS (
                SELECT dataset, x, y, lon, lat, value
                FROM read_parquet('{_SEAMPX}') WHERE value IS NOT NULL
            ),
            pairs AS (
                SELECT px.dataset, px.x, px.y, px.value,
                       halves.feature_id AS pt_feature_id,
                       round(min({sql_point_to_segment_km(
                           'px.lon', 'px.lat',
                           'halves.lon1', 'halves.lat1',
                           'halves.lon2', 'halves.lat2')}), 6)
                           AS distance_km
                FROM px CROSS JOIN halves
                GROUP BY px.dataset, px.x, px.y, px.value,
                         halves.feature_id
            )
            SELECT pt_feature_id, dataset,
                   max(value) AS max_value_8km,
                   count(*) AS n_pixels,
                   min(distance_km) AS min_distance_km
            FROM pairs WHERE distance_km <= 8.0
            GROUP BY pt_feature_id, dataset
        """,
        tags=("geo", "J2", "lines", "antimeridian"),
    )
)
