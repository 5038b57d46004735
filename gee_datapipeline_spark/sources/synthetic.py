"""Deterministic synthetic geo fixtures (FIXTURES.md §A).

Models the reference's data shapes for golden/unit tests and the geo gate
queries: the Delhi-NCR pollutant grid (1 km cells over the 0.8°x0.8° bbox,
DataDownloader_V2.py:24-25) and the Punjab VIIRS fire grid, with ~5%
NULL nodata, all-NULL groups (the empty-collection case,
DataDownloader_V1.py:100-102) and zero-inflated FRP (transparency logic,
DataDownloader_SNPP_VIIRS_V1.py:81-95).

Row builders are pure functions of their parameters (seeded NumPy), so the
same rows can be materialized either as an in-memory Spark DataFrame
(unit tests) or written once to parquet (``sources.fixtures``) where both
Spark AND the DuckDB oracle read identical bytes — that is what upgrades
the geo gate queries from rows-only to full differential checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..model import PIXELS_SCHEMA, REGIONS_SCHEMA, THRESHOLDS_SCHEMA

# Delhi-NCR bbox (DataDownloader_V2.py:24-25).
DELHI_BBOX = (76.85, 28.2, 77.65, 29.0)
# Punjab extent (index_viirs_frp.html:144).
PUNJAB_BBOX = (73.5, 29.0, 77.0, 32.0)

DATASETS = {
    "aerosol": ("absorbing_aerosol_index", 0.0, 1.2),
    "no2": ("NO2_column_number_density", 0.0, 0.1),
    "so2": ("SO2_column_number_density", 0.0, 0.05),
    "co": ("CO_column_number_density", 0.0, 0.12),
}

STANDARD_VALUES = {"aerosol": 0.5, "no2": 0.04, "so2": 0.02, "co": 0.05}


def pixels_rows(
    months: int = 3,
    grid: int = 12,
    datasets: tuple[str, ...] = ("no2", "co"),
    seed: int = 42,
    null_frac: float = 0.05,
) -> list[tuple]:
    """Long pixel rows over a ``grid x grid`` Delhi sub-grid for
    ``months`` months, a few observations per month per pixel."""
    rng = np.random.default_rng(seed)
    min_lon, min_lat, max_lon, max_lat = DELHI_BBOX
    lon_step = (max_lon - min_lon) / grid
    lat_step = (max_lat - min_lat) / grid
    rows = []
    for ds in datasets:
        band, lo, hi = DATASETS[ds]
        for m in range(months):
            month_start = pd.Timestamp(2025, m + 1, 1)
            for obs in range(3):  # 3 observations per month
                day = month_start + pd.Timedelta(days=int(obs * 9 + 1))
                for y in range(grid):
                    for x in range(grid):
                        v = rng.uniform(lo, hi)
                        if rng.random() < null_frac:
                            v = None
                        # one all-NULL pixel-month (empty-collection case)
                        if x == 0 and y == 0 and m == 0:
                            v = None
                        rows.append(
                            (
                                ds,
                                band,
                                day.date(),
                                day.to_pydatetime(),
                                x,
                                y,
                                min_lon + (x + 0.5) * lon_step,
                                min_lat + (y + 0.5) * lat_step,
                                v,
                            )
                        )
    return rows


def make_pixels(
    spark: SparkSession, months: int = 3, grid: int = 12
) -> DataFrame:
    return spark.createDataFrame(pixels_rows(months, grid), PIXELS_SCHEMA)


def regions_rows() -> list[tuple]:
    """Study areas incl. an exact polygon (a diamond inside Delhi bbox)
    for point-in-polygon tests."""
    diamond = (
        "77.25 28.3, 77.55 28.6, 77.25 28.9, 76.95 28.6, 77.25 28.3"
    )
    # Holed + two-part region (the GAUL-ADM1 shape class the reference
    # clips to): part A is a rectangle with a rectangular hole, part B
    # a disjoint rectangle. All ring coordinates end in 5 at the
    # thousandth so no fixture pixel center (hundredths, 76.89+0.08k /
    # 28.24+0.08k) ever lies on a boundary — ray-cast == closed form.
    holed_multi = (
        "76.995 28.295, 77.235 28.295, 77.235 28.615, 76.995 28.615,"
        " 76.995 28.295;"
        " 77.075 28.375, 77.155 28.375, 77.155 28.535, 77.075 28.535,"
        " 77.075 28.375;"
        " 77.315 28.675, 77.555 28.675, 77.555 28.855, 77.315 28.855,"
        " 77.315 28.675"
    )
    # Two OVERLAPPING district rectangles (the GAUL-ADM1 dissolve input:
    # ``punjab.geometry()`` unions adjacent/overlapping district
    # features, DataDownloader_SNPP_VIIRS_V1.py:32-36). Their overlap
    # box (77.235..77.315 x 28.455..28.615) contains fixture pixel
    # centers, so union semantics (inside ANY part) and even-odd
    # semantics (XOR of parts) provably differ on this pair — the
    # dissolve tests depend on that. Coordinates end in 5 at the
    # thousandth for the same no-pixel-on-boundary guarantee as above.
    dist_west = (
        "77.035 28.335, 77.315 28.335, 77.315 28.615, 77.035 28.615,"
        " 77.035 28.335"
    )
    dist_east = (
        "77.235 28.455, 77.475 28.455, 77.475 28.775, 77.235 28.775,"
        " 77.235 28.455"
    )
    return [
        ("delhi_ncr", *DELHI_BBOX, None),
        ("punjab", *PUNJAB_BBOX, None),
        ("delhi_diamond", 76.95, 28.3, 77.55, 28.9, diamond),
        ("delhi_holed_multi", 76.995, 28.295, 77.555, 28.855, holed_multi),
        ("dist_west", 77.035, 28.335, 77.315, 28.615, dist_west),
        ("dist_east", 77.235, 28.455, 77.475, 28.775, dist_east),
    ]


def make_regions(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(regions_rows(), REGIONS_SCHEMA)


def thresholds_rows() -> list[tuple]:
    """WHO standard values (DataDownloader_V3.py:172-184)."""
    return list(STANDARD_VALUES.items())


def make_thresholds(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(thresholds_rows(), THRESHOLDS_SCHEMA)


def amenities_rows(n: int = 25, seed: int = 7) -> list[tuple]:
    """Point amenities inside the Delhi bbox (power-plant analog)."""
    rng = np.random.default_rng(seed)
    min_lon, min_lat, max_lon, max_lat = DELHI_BBOX
    return [
        (
            "powerplants",
            f"node/{i}",
            "Point",
            float(rng.uniform(min_lon, max_lon)),
            float(rng.uniform(min_lat, max_lat)),
            {"name": f"Plant {i}", "plant:source": "coal"},
        )
        for i in range(n)
    ]


def make_amenities(spark: SparkSession, n: int = 25) -> DataFrame:
    from ..model import FEATURES_SCHEMA

    return spark.createDataFrame(amenities_rows(n), FEATURES_SCHEMA)


def roads_rows(
    n_roads: int = 14, seed: int = 13
) -> list[tuple[str, str, list[tuple[float, float]]]]:
    """Synthetic road LineStrings inside the Delhi bbox — the geometry
    class the real OSM exports were CENTROIDED away from (every
    ``AminitiesGeoJSON/*.geojson`` feature carries
    ``"@geometry": "center"``, i.e. way centers exported as Points;
    motorway.geojson feature 0 shows the shape). These model the
    pre-centroid ways so the point-to-LINE proximity operator (J2-line)
    has true polylines to run against.

    Returns ``(feature_id, road_class, vertices)`` with 4–16 vertices
    per road, each a random-walk polyline. Pure function of its
    parameters — the fixture writer materializes the SAME rows as a
    GeoJSON FeatureCollection (Spark ingest path) and as an exploded
    vertex parquet (DuckDB oracle path)."""
    rng = np.random.default_rng(seed)
    min_lon, min_lat, max_lon, max_lat = DELHI_BBOX
    classes = ("motorway", "highway", "primary", "secondary")
    roads = []
    for i in range(n_roads):
        n_verts = int(rng.integers(4, 17))
        lon = float(rng.uniform(min_lon + 0.05, max_lon - 0.05))
        lat = float(rng.uniform(min_lat + 0.05, max_lat - 0.05))
        heading = float(rng.uniform(0, 2 * np.pi))
        verts = [(lon, lat)]
        for _ in range(n_verts - 1):
            heading += float(rng.normal(0.0, 0.5))
            step = float(rng.uniform(0.01, 0.05))
            lon = min(max(lon + step * np.cos(heading), min_lon), max_lon)
            lat = min(max(lat + step * np.sin(heading), min_lat), max_lat)
            verts.append((float(lon), float(lat)))
        roads.append((f"way/road{i}", classes[i % len(classes)], verts))
    return roads


def road_vertex_rows(
    n_roads: int = 14, seed: int = 13
) -> list[tuple[str, str, int, float, float]]:
    """The same roads exploded to one row per vertex
    ``(feature_id, road_class, seq, lon, lat)`` — the oracle-side twin
    (segments reconstruct as ``seq`` joined to ``seq+1``)."""
    return [
        (fid, cls, seq, lon, lat)
        for fid, cls, verts in roads_rows(n_roads, seed)
        for seq, (lon, lat) in enumerate(verts)
    ]


def roads_geojson(n_roads: int = 14, seed: int = 13) -> str:
    """The same roads serialized as a GeoJSON FeatureCollection (the
    ingest-path twin — ``repr`` floats round-trip bit-exactly through
    JSON, so both materializations carry identical doubles)."""
    import json

    feats = [
        {
            "type": "Feature",
            "id": fid,
            "properties": {"@id": fid, "highway": cls},
            "geometry": {
                "type": "LineString",
                "coordinates": [[lon, lat] for lon, lat in verts],
            },
        }
        for fid, cls, verts in roads_rows(n_roads, seed)
    ]
    return json.dumps({"type": "FeatureCollection", "features": feats})


# ------------------------------------------------- antimeridian fixtures
#
# A window straddling ±180: unwrapped longitudes span
# [179.2, 180.8] and wrap to [179.2, 180.0] ∪ [−180.0, −179.2]. Roads
# random-walk in the UNWRAPPED frame and wrap per-vertex, so consecutive
# vertices routinely straddle the seam (|lon1 − lon2| > 180 after wrap)
# — exactly the RFC 7946 §3.1.9-violating shape a global OSM way extract
# feeds the proximity join (the reference's worldwide
# NASA/LANCE/SNPP_VIIRS/C2 pull, DataDownloader_SNPP_VIIRS_V1.py:138).
SEAM_WINDOW = (179.2, -1.0, 180.8, 1.0)  # unwrapped lon/lat bounds


def _wrap_lon(lon: float) -> float:
    """Wrap an unwrapped longitude into [−180, 180] (exactly 180 stays
    180 — a valid GeoJSON position on the seam's east image)."""
    return lon - 360.0 if lon > 180.0 else lon


def seam_roads_rows(
    n_roads: int = 8, seed: int = 29
) -> list[tuple[str, str, list[tuple[float, float]]]]:
    """Synthetic road LineStrings straddling the antimeridian —
    ``(feature_id, road_class, vertices)`` with wrapped-coordinate
    vertices, so some segments cross ±180 (split-path coverage), some
    sit entirely on one side near the seam (pmod cell-wrap coverage),
    and a few land exactly ON ±180 (the degenerate cut). Pure function
    of its parameters — the fixture writer materializes the SAME rows
    as GeoJSON (Spark ingest) and vertex parquet (DuckDB oracle)."""
    rng = np.random.default_rng(seed)
    min_lon, min_lat, max_lon, max_lat = SEAM_WINDOW
    classes = ("motorway", "highway", "primary", "secondary")
    roads = []
    for i in range(n_roads):
        n_verts = int(rng.integers(4, 13))
        lon = float(rng.uniform(min_lon + 0.05, max_lon - 0.05))
        lat = float(rng.uniform(min_lat + 0.05, max_lat - 0.05))
        heading = float(rng.uniform(0, 2 * np.pi))
        verts = [(_wrap_lon(lon), lat)]
        for _ in range(n_verts - 1):
            heading += float(rng.normal(0.0, 0.5))
            step = float(rng.uniform(0.01, 0.06))
            lon = min(max(lon + step * np.cos(heading), min_lon), max_lon)
            lat = min(max(lat + step * np.sin(heading), min_lat), max_lat)
            verts.append((_wrap_lon(float(lon)), float(lat)))
        if i % 4 == 3:  # pin a vertex exactly on the seam
            verts[len(verts) // 2] = (180.0, verts[len(verts) // 2][1])
        roads.append((f"way/seam{i}", classes[i % len(classes)], verts))
    return roads


def seam_road_vertex_rows(
    n_roads: int = 8, seed: int = 29
) -> list[tuple[str, str, int, float, float]]:
    """The seam roads exploded to one row per vertex — the oracle twin."""
    return [
        (fid, cls, seq, lon, lat)
        for fid, cls, verts in seam_roads_rows(n_roads, seed)
        for seq, (lon, lat) in enumerate(verts)
    ]


def seam_roads_geojson(n_roads: int = 8, seed: int = 29) -> str:
    """The seam roads as a GeoJSON FeatureCollection (ingest-path twin;
    ``repr`` floats round-trip bit-exactly through JSON)."""
    import json

    feats = [
        {
            "type": "Feature",
            "id": fid,
            "properties": {"@id": fid, "highway": cls},
            "geometry": {
                "type": "LineString",
                "coordinates": [[lon, lat] for lon, lat in verts],
            },
        }
        for fid, cls, verts in seam_roads_rows(n_roads, seed)
    ]
    return json.dumps({"type": "FeatureCollection", "features": feats})


def seam_pixel_rows(
    grid: int = 18, seed: int = 31, null_frac: float = 0.05,
    datasets: tuple[str, ...] = ("no2", "frp"),
) -> list[tuple]:
    """Observation grid over the wrapped seam window —
    ``(dataset, x, y, lon, lat, value)``, cell centers spanning both
    sides of ±180 (x indexes the UNWRAPPED axis, so the wrapped lon
    column is discontinuous mid-grid), ~``null_frac`` NULL nodata."""
    rng = np.random.default_rng(seed)
    min_lon, min_lat, max_lon, max_lat = SEAM_WINDOW
    dlon = (max_lon - min_lon) / grid
    dlat = (max_lat - min_lat) / grid
    rows = []
    for ds in datasets:
        for y in range(grid):
            for x in range(grid):
                v = float(rng.uniform(0.0, 300.0))
                if rng.random() < null_frac:
                    v = None
                rows.append(
                    (
                        ds,
                        x,
                        y,
                        _wrap_lon(min_lon + (x + 0.5) * dlon),
                        min_lat + (y + 0.5) * dlat,
                        v,
                    )
                )
    return rows
