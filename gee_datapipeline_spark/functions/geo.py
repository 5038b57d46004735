"""Geospatial column functions (SURVEY.md §2.2 P5/P6, §2.3 J1/J2).

Pure Catalyst expressions wherever geometry allows (bbox tests, haversine,
grid cells — all codegen'd JVM math); the only Python is the
point-in-polygon pandas UDF (Arrow-batched NumPy ray casting), and it must
always run *behind* a bbox prefilter — the reference itself defaulted to
bbox-only clipping (``apply_mask=False``, DataDownloader_V1.py:50).

Scale notes: radius joins never cross-join — ``proximity_join`` buckets
both sides onto a grid of cell size >= radius and equi-joins pixel cells
against the 3x3 neighborhood of each point's cell, so the theta predicate
only evaluates within adjacent cells. With dimension-sized amenity tables
(12–5,130 rows, SURVEY.md §0) the bucketed side broadcasts.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EARTH_RADIUS_KM = 6371.0088

# R * pi / 180; shared by the planar point-to-segment distance and its
# DuckDB oracle mirror (which embeds the same repr() so both engines
# compute with the identical double).
KM_PER_DEG = EARTH_RADIUS_KM * math.pi / 180.0

# km per degree of latitude on the mean-radius sphere — THE metric both
# haversine_km and point_to_segment_km measure in. Grid cells for the
# proximity joins MUST be sized in this same metric: the old 111.32
# (WGS84 equatorial km/deg) made a "one-cell" radius actually 1.0011
# cells on the sphere, so a boundary-sitting pair could land 2 cells
# apart and slip past the 1-cell halo (caught by the r9 150-example
# lattice fuzz: pixel (0.05, 1.2) vs segment vertex (0.05, 1.1) at
# 11.1195 km under radius 11.132). CELL_MARGIN additionally guards the
# floor() boundary: when (lat+90)/cell sits within an ulp of an
# integer, the two sides of a pair can round in opposite directions,
# so cells are oversized by 1e-9 relative — twelve orders above fp
# noise, unmeasurable in selectivity.
CELL_MARGIN = 1.0 + 1e-9


def _cell_sizes(radius_km: float, lat_cap_deg: float) -> tuple[float, float]:
    """(lat_cell_deg, lon_cell_deg_requested) >= radius in the sphere
    metric, with the boundary margin. Shared by every bucketed join so
    the sizing rule cannot drift between the point and line forms."""
    lat = max(radius_km * CELL_MARGIN / KM_PER_DEG, 1e-4)
    lon = max(
        radius_km * CELL_MARGIN
        / (KM_PER_DEG * math.cos(math.radians(lat_cap_deg))),
        1e-4,
    )
    return lat, lon


def bbox_contains(
    lon: Column, lat: Column,
    min_lon: Column | float, min_lat: Column | float,
    max_lon: Column | float, max_lat: Column | float,
) -> Column:
    """P5 — ``filterBounds`` for rectangles (ee.Geometry.Rectangle,
    DataDownloader_V1.py:25): a pair of BETWEENs, fully pushdown-able."""
    return lon.between(min_lon, max_lon) & lat.between(min_lat, max_lat)


def haversine_km(
    lon1: Column, lat1: Column, lon2: Column, lat2: Column
) -> Column:
    """Great-circle distance in km — pure column math, codegen'd."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = rlat2 - rlat1
    dlon = F.radians(lon2) - F.radians(lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def _lon_grid(cell_deg: float) -> tuple[int, float]:
    """(column count, effective cell width) for a longitude grid that
    tiles the 360-degree circle exactly — the count ROUNDS DOWN so the
    effective width is >= the requested one (never narrower than the
    join radius) and every column has equal width (no seam sliver)."""
    cols = max(1, int(math.floor(360.0 / cell_deg)))
    return cols, 360.0 / cols


def grid_cell(
    lon: Column, lat: Column, cell_deg: float, cell_lat_deg: float | None = None
) -> Column:
    """Integer grid-cell id — the geohash-style bucketing key for
    proximity joins. Encoded as one long (row-major over a global grid).
    ``cell_deg`` sizes the longitude axis; ``cell_lat_deg`` (default: same)
    sizes latitude, so the two axes can use different km-per-degree.

    The longitude index wraps modulo the cell count (r9): the global
    NRT feed (NASA/LANCE/SNPP_VIIRS/C2,
    DataDownloader_SNPP_VIIRS_V1.py:138-141) straddles the
    antimeridian, where a point at lon 179.99 and one at -179.99 are
    ~2 km apart and MUST share a neighborhood — and lon exactly +180
    (a legal GeoJSON coordinate) must alias cell 0, not fall off the
    grid's east edge. The lon axis therefore tiles the circle EXACTLY:
    ``cols = floor(360/cell_deg)`` columns of effective width
    ``360/cols >= cell_deg`` — rounding the count UP instead would
    leave a final sliver column narrower than the radius, and a 1-cell
    halo would under-reach across the seam (a point just east of
    ±180 would see only the sliver, not the full-width cell west of
    it)."""
    lat_deg = cell_deg if cell_lat_deg is None else cell_lat_deg
    cols, lon_deg = _lon_grid(cell_deg)
    cx = F.pmod(
        F.floor((lon + 180.0) / lon_deg).cast("long"), F.lit(cols)
    )
    cy = F.floor((lat + 90.0) / lat_deg).cast("long")
    return cy * F.lit(cols) + cx


def neighbor_cells(
    lon: Column, lat: Column, cell_deg: float, cell_lat_deg: float | None = None
) -> Column:
    """The 3x3 cell neighborhood around a point — points are exploded to
    all 9 cells so any pixel within one cell size of the point shares at
    least one cell (no missed pairs at cell borders). The longitude
    offsets wrap modulo the cell count (see :func:`grid_cell`), so the
    neighborhood of a cell on the ±180 seam includes the cells on the
    other side of the seam."""
    lat_deg = cell_deg if cell_lat_deg is None else cell_lat_deg
    cols, lon_deg = _lon_grid(cell_deg)
    cx = F.floor((lon + 180.0) / lon_deg).cast("long")
    cy = F.floor((lat + 90.0) / lat_deg).cast("long")
    return F.array(
        *[
            (cy + dy) * F.lit(cols) + F.pmod(cx + dx, F.lit(cols))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )


def proximity_join(
    pixels: DataFrame,
    points: DataFrame,
    radius_km: float,
    lat_cap_deg: float = 66.0,
    distance_round: int | None = None,
) -> DataFrame:
    """J2 — pixels within ``radius_km`` of any point (the power-plant
    overlay, DataDownloader_V2.py:96-102, made queryable). Both sides
    carry ``lon``/``lat``; the exploded point side is broadcast.

    Grid-bucketed: cell sizes are chosen >= radius in degrees per axis
    IN THE HAVERSINE METRIC (``KM_PER_DEG`` km per degree of latitude on
    the mean-radius sphere — see ``_cell_sizes``), points explode to
    their 3x3 neighborhood, and the join is an equi-join on cell id
    followed by the exact haversine test. The longitude cell is sized
    for the WORST-CASE latitude shrink up to ``lat_cap_deg`` (a degree
    of longitude is ``KM_PER_DEG·cos(lat)`` km, so a radius that fits
    one lat cell can span >1 lon cell away from the equator — sizing
    both axes from the lat bound would silently drop border pairs).
    Data above ``lat_cap_deg`` needs an explicitly larger cap.

    ``distance_round`` rounds the distance before the radius test — use
    it when the result must be reproducible across engines whose libm
    ulps differ (e.g. a DuckDB differential oracle)."""
    # sphere-metric cell sizing (see _cell_sizes / CELL_MARGIN)
    cell_lat_deg, cell_lon_deg = _cell_sizes(radius_km, lat_cap_deg)
    px = pixels.withColumn(
        "__cell",
        grid_cell(F.col("lon"), F.col("lat"), cell_lon_deg, cell_lat_deg),
    )
    pt = points.withColumn(
        "__cell",
        F.explode(
            neighbor_cells(
                F.col("lon"), F.col("lat"), cell_lon_deg, cell_lat_deg
            )
        ),
    )
    pt = F.broadcast(pt)
    # Points carry possibly-colliding column names; alias them.
    pt = pt.select(
        F.col("__cell"),
        *[
            F.col(c).alias(f"pt_{c}")
            for c in pt.columns
            if c != "__cell"
        ],
    )
    joined = px.join(pt, on="__cell", how="inner")
    dist = haversine_km(
        F.col("lon"), F.col("lat"), F.col("pt_lon"), F.col("pt_lat")
    )
    if distance_round is not None:
        dist = F.round(dist, distance_round)
    return joined.withColumn("distance_km", dist).filter(
        F.col("distance_km") <= radius_km
    ).drop("__cell")




def wrap_dlon(d: Column) -> Column:
    """Normalize a longitude DIFFERENCE to the near image across the
    antimeridian: |d| <= 180 passes through BIT-EXACT (no arithmetic
    touches it, so every existing oracle value is unchanged); |d| > 180
    is shifted by ±360 so a pixel at lon -179.99 measures ~0.02 deg
    from a vertex at 179.99, not ~360. Mirrored token-for-token in
    :func:`sql_wrap_dlon`."""
    return F.when(
        F.abs(d) > 180.0,
        F.when(d > 0.0, d - 360.0).otherwise(d + 360.0),
    ).otherwise(d)


def sql_wrap_dlon(d: str) -> str:
    """DuckDB mirror of :func:`wrap_dlon` — same branch structure, same
    constants, so the result doubles are bit-identical."""
    return (
        f"(CASE WHEN abs({d}) > 180.0 THEN "
        f"(CASE WHEN {d} > 0.0 THEN {d} - 360.0 ELSE {d} + 360.0 END) "
        f"ELSE {d} END)"
    )


def line_vertices(features: DataFrame) -> DataFrame:
    """Explode LineString features into one row per vertex.

    The GeoJSON reader (``sources.geojson``) keeps a representative
    point per feature plus the raw coordinate JSON in
    ``props['__coordinates']``; this recovers the full polyline as
    ``(…feature cols…, seq, vlon, vlat)`` with ``from_json`` +
    ``posexplode`` — all JVM-side, no Python. Non-LineString rows are
    dropped (Points have no polyline; Polygons go through
    ``clip_to_polygon``)."""
    coords = F.from_json(
        F.col("props")["__coordinates"], "array<array<double>>"
    )
    exploded = features.filter(F.col("geom_type") == "LineString").select(
        "source",
        "feature_id",
        "props",
        F.posexplode(coords).alias("seq", "__v"),
    )
    return exploded.select(
        "source",
        "feature_id",
        "props",
        "seq",
        F.col("__v")[0].alias("vlon"),
        F.col("__v")[1].alias("vlat"),
    )


def line_segments(vertices: DataFrame) -> DataFrame:
    """Consecutive-vertex segments from a vertex table: ``seq`` leads to
    ``seq+1`` per feature → ``(feature_id, seq, lon1, lat1, lon2,
    lat2)``. A window ``lead`` — one shuffle on feature_id, no join."""
    w = Window.partitionBy("feature_id").orderBy("seq")
    return (
        vertices.select(
            "feature_id",
            "seq",
            F.col("vlon").alias("lon1"),
            F.col("vlat").alias("lat1"),
            F.lead("vlon").over(w).alias("lon2"),
            F.lead("vlat").over(w).alias("lat2"),
        )
        .filter(F.col("lon2").isNotNull())
    )


def point_to_segment_km(
    plon: Column, plat: Column,
    lon1: Column, lat1: Column, lon2: Column, lat2: Column,
) -> Column:
    """Planar point-to-segment distance in km (local equirectangular
    projection anchored at the SEGMENT midpoint latitude, so the
    projection is a property of the segment, not the query point —
    both engines of a differential test see identical inputs).

    Exactness envelope: for city-scale segments (≲0.1°) the
    equirectangular error against the geodesic is well under the 1 km
    grid the reference exports at. Every step is deterministic IEEE
    double math, mirrored token-for-token in
    ``sql_point_to_segment_km``."""
    ky = F.lit(KM_PER_DEG)
    kx = ky * F.cos(F.radians((lat1 + lat2) / F.lit(2.0)))
    # wrap_dlon is a bit-exact identity for |dlon| <= 180, so only
    # genuinely seam-crossing pairs see the ±360 shift (r9).
    ax = wrap_dlon(lon1 - plon) * kx
    ay = (lat1 - plat) * ky
    bx = wrap_dlon(lon2 - plon) * kx
    by = (lat2 - plat) * ky
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    t = F.when(len2 == 0.0, F.lit(0.0)).otherwise(
        F.greatest(
            F.lit(0.0),
            F.least(F.lit(1.0), -(ax * dx + ay * dy) / len2),
        )
    )
    cx = ax + t * dx
    cy = ay + t * dy
    return F.sqrt(cx * cx + cy * cy)


def sql_point_to_segment_km(
    plon: str, plat: str,
    lon1: str, lat1: str, lon2: str, lat2: str,
) -> str:
    """DuckDB mirror of :func:`point_to_segment_km` — same operations in
    the same order on the same repr'd constant, so the result doubles
    are bit-identical."""
    kx = f"({KM_PER_DEG!r} * cos(radians(({lat1} + {lat2}) / 2.0)))"
    ax = f"({sql_wrap_dlon(f'({lon1} - {plon})')} * {kx})"
    ay = f"(({lat1} - {plat}) * {KM_PER_DEG!r})"
    bx = f"({sql_wrap_dlon(f'({lon2} - {plon})')} * {kx})"
    by = f"(({lat2} - {plat}) * {KM_PER_DEG!r})"
    dx = f"({bx} - {ax})"
    dy = f"({by} - {ay})"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    t = (
        f"(CASE WHEN {len2} = 0.0 THEN 0.0 ELSE "
        f"greatest(0.0, least(1.0, -({ax} * {dx} + {ay} * {dy}) / {len2}))"
        f" END)"
    )
    cx = f"({ax} + {t} * {dx})"
    cy = f"({ay} + {t} * {dy})"
    return f"sqrt({cx} * {cx} + {cy} * {cy})"


def split_segments_at_antimeridian(segments: DataFrame) -> DataFrame:
    """RFC 7946 §3.1.9 cut: a segment whose endpoints span more than
    180° of longitude takes its SHORT way around the globe through the
    antimeridian; replace it with two segments meeting at ±180, at the
    latitude where the near-image straight segment (linear in lon/lat —
    the GeoJSON chord convention) meets the seam.

    Non-crossing rows pass through BIT-EXACT — the ``otherwise`` branch
    carries the original columns with no arithmetic — so every existing
    oracle value is unchanged, and the cut is idempotent (a half never
    spans > 180°, so a second application is the identity).

    Crossing rows (WLOG ``lon1 > 0 > lon2``; valid [−180, 180] coords
    admit no other crossing sign pattern): the near image of the far
    endpoint is ``lon2 + 360``; the seam parameter is
    ``t = (180 − lon1) / (lon2 + 360 − lon1) ∈ [0, 1)`` and the cut
    latitude ``lat_cut = lat1 + t·(lat2 − lat1)``. The mirrored case
    negates the seam and the shift. Degenerate ``lon1 = 180,
    lon2 = −180`` (the segment lies ON the seam — both endpoints name
    the same meridian) zeroes the denominator; ``t`` falls back to 1.0
    so the lon1-side half carries the whole segment and the far half
    collapses to its endpoint — metrically equivalent under
    :func:`wrap_dlon`, which maps both seam images to equal distances.

    Mirrored token-for-token in :func:`sql_antimeridian_halves` (same
    branch structure, same operation order, so the cut latitudes are
    bit-identical doubles in both engines).

    Reference behavior: the global ``NASA/LANCE/SNPP_VIIRS/C2`` feed
    (DataDownloader_SNPP_VIIRS_V1.py:138) joined against a worldwide
    OSM way extract (the AminitiesGeoJSON/motorway.geojson pattern)
    contains seam-crossing ways; GEE geometries cut them server-side,
    so the Spark re-expression must too (previously rejected loudly —
    r9 `line_proximity_pairs` guard)."""
    lon1, lat1 = F.col("lon1"), F.col("lat1")
    lon2, lat2 = F.col("lon2"), F.col("lat2")
    cross = F.abs(lon1 - lon2) > 180.0
    seam1 = F.when(lon1 > 0.0, F.lit(180.0)).otherwise(F.lit(-180.0))
    seam2 = F.when(lon1 > 0.0, F.lit(-180.0)).otherwise(F.lit(180.0))
    lon2_near = F.when(lon1 > 0.0, lon2 + 360.0).otherwise(lon2 - 360.0)
    denom = lon2_near - lon1
    t = F.when(denom != 0.0, (seam1 - lon1) / denom).otherwise(F.lit(1.0))
    lat_cut = lat1 + t * (lat2 - lat1)
    halves = F.when(
        cross,
        F.array(
            F.struct(
                lon1.alias("lon1"), lat1.alias("lat1"),
                seam1.alias("lon2"), lat_cut.alias("lat2"),
            ),
            F.struct(
                seam2.alias("lon1"), lat_cut.alias("lat1"),
                lon2.alias("lon2"), lat2.alias("lat2"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                lon1.alias("lon1"), lat1.alias("lat1"),
                lon2.alias("lon2"), lat2.alias("lat2"),
            )
        )
    )
    other = [
        c for c in segments.columns
        if c not in ("lon1", "lat1", "lon2", "lat2")
    ]
    return segments.select(
        *other, F.explode(halves).alias("__half")
    ).select(
        *other,
        F.col("__half.lon1").alias("lon1"),
        F.col("__half.lat1").alias("lat1"),
        F.col("__half.lon2").alias("lon2"),
        F.col("__half.lat2").alias("lat2"),
    )


def sql_antimeridian_halves(seg: str) -> str:
    """DuckDB mirror of :func:`split_segments_at_antimeridian` for a
    segment CTE/table ``seg`` with columns ``(feature_id, lon1, lat1,
    lon2, lat2)`` — a UNION ALL of the bit-exact pass-through and the
    two halves of each crossing segment, same branch structure and
    operation order, so the cut latitudes are bit-identical doubles."""
    seam1 = "(CASE WHEN lon1 > 0.0 THEN 180.0 ELSE -180.0 END)"
    seam2 = "(CASE WHEN lon1 > 0.0 THEN -180.0 ELSE 180.0 END)"
    lon2_near = "(CASE WHEN lon1 > 0.0 THEN lon2 + 360.0 ELSE lon2 - 360.0 END)"
    denom = f"({lon2_near} - lon1)"
    t = (
        f"(CASE WHEN {denom} <> 0.0 THEN ({seam1} - lon1) / {denom} "
        f"ELSE 1.0 END)"
    )
    lat_cut = f"(lat1 + {t} * (lat2 - lat1))"
    return f"""(
        SELECT feature_id, lon1, lat1, lon2, lat2
        FROM {seg} WHERE abs(lon1 - lon2) <= 180.0
        UNION ALL
        SELECT feature_id, lon1, lat1,
               {seam1} AS lon2, {lat_cut} AS lat2
        FROM {seg} WHERE abs(lon1 - lon2) > 180.0
        UNION ALL
        SELECT feature_id, {seam2} AS lon1, {lat_cut} AS lat1,
               lon2, lat2
        FROM {seg} WHERE abs(lon1 - lon2) > 180.0
    )"""


def line_proximity_pairs(
    pixels: DataFrame,
    segments: DataFrame,
    radius_km: float,
    lat_cap_deg: float = 66.0,
) -> DataFrame:
    """Pair-level (pixel, segment) candidates of the point-to-line
    proximity join: pixel columns + ``pt_feature_id`` +
    ``distance_km`` (raw planar point-to-segment km), one row per
    co-located segment — a pixel near k segments of the same feature
    yields k rows. Candidate-complete within ``radius_km`` (the cell
    bucketing below never drops a pair at that distance) but NOT
    radius-filtered or per-feature deduplicated; consumers either
    collapse pairs (``proximity_join_lines``) or must be
    duplicate-tolerant (max/min aggregates — the streaming enrich).

    Bucketing: cells sized >= radius per axis; segments explode to the
    COVERING CELL RANGE of their bbox plus a 1-cell halo, so any pixel
    within the radius of some point of the segment shares a cell with
    that range and the exact distance only evaluates on co-located
    pairs — never a cross join. A segment explodes to
    O(len_deg/cell + 2)^2 cells (city-scale roads: a handful); pixels
    hash to exactly one cell, so a given (pixel, segment) pair joins
    AT MOST ONCE (the exploded cells of one segment are distinct).

    Scale: the exploded segment side stays dimension-sized for road
    networks (|segments| x ~9 cells) and broadcasts; the pixel/fact
    side (``lon``/``lat`` columns) shuffles ZERO times (map-side hash
    probe). The join is STATELESS, which is what makes it legal on an
    unbounded stream (stream-static broadcast enrich)."""
    # sphere-metric cell sizing (see _cell_sizes / CELL_MARGIN), then
    # the exact-tiling lon grid (see grid_cell): effective width >= the
    # radius-derived request, count divides 360 so pmod wrap is sound
    cell_lat_deg, lon_req = _cell_sizes(radius_km, lat_cap_deg)
    cols, cell_lon_deg = _lon_grid(lon_req)

    def cx_of(lon: Column) -> Column:
        return F.floor((lon + 180.0) / cell_lon_deg).cast("long")

    def cy_of(lat: Column) -> Column:
        return F.floor((lat + 90.0) / cell_lat_deg).cast("long")

    px = pixels.withColumn(
        "__cell",
        cy_of(F.col("lat")) * F.lit(cols)
        + F.pmod(cx_of(F.col("lon")), F.lit(cols)),
    )
    # Antimeridian discipline (r10, replacing the r9 loud reject): a
    # segment whose raw endpoints span more than 180 deg of longitude
    # CROSSES the seam — its covering cell range in raw coordinates
    # would be the whole globe's width and its planar distance is
    # ill-defined unsplit. Cut it at ±180 per RFC 7946 §3.1.9 BEFORE
    # any cell math; each half then satisfies |dlon| <= 180, so
    # covering ranges stay local, exploded cells wrap modulo the
    # column count, and wrap_dlon yields the near-image distance on
    # both sides of the seam. Non-crossing rows pass through the cut
    # bit-exact, and downstream consumers are duplicate-tolerant by
    # this function's contract (a pixel near BOTH halves of one
    # original segment emits two rows of the same pt_feature_id,
    # exactly like any multi-segment feature).
    segments = split_segments_at_antimeridian(segments)
    la1, la2 = F.col("lat1"), F.col("lat2")
    lo1, lo2 = F.col("lon1"), F.col("lon2")
    seg = (
        segments.withColumn(
            "__cx", F.explode(F.sequence(
                F.least(cx_of(lo1), cx_of(lo2)) - 1,
                F.greatest(cx_of(lo1), cx_of(lo2)) + 1,
            ))
        )
        .withColumn(
            "__cy", F.explode(F.sequence(
                F.least(cy_of(la1), cy_of(la2)) - 1,
                F.greatest(cy_of(la1), cy_of(la2)) + 1,
            ))
        )
        .select(
            (
                F.col("__cy") * F.lit(cols)
                + F.pmod(F.col("__cx"), F.lit(cols))
            ).alias("__cell"),
            F.col("feature_id").alias("pt_feature_id"),
            "lon1", "lat1", "lon2", "lat2",
        )
    )
    seg = F.broadcast(seg)
    dist = point_to_segment_km(
        F.col("lon"), F.col("lat"), lo1, la1, lo2, la2
    )
    return (
        px.join(seg, on="__cell", how="inner")
        .withColumn("distance_km", dist)
        .select(*pixels.columns, "pt_feature_id", "distance_km")
    )


def proximity_join_lines(
    pixels: DataFrame,
    segments: DataFrame,
    radius_km: float,
    lat_cap_deg: float = 66.0,
    distance_round: int | None = None,
) -> DataFrame:
    """J2-line — pixels within ``radius_km`` of any polyline segment
    (point-to-LINE proximity; the road-corridor form of the advocacy
    question, README.md:2 'fires near roads').

    Output: pixel columns + ``pt_feature_id`` + ``distance_km`` — the
    MINIMUM distance over all of that feature's segments, one row per
    (pixel, feature) pair within radius (multi-segment duplicates from
    :func:`line_proximity_pairs` collapse in the min-aggregate, with
    map-side partial min before the single pair-keyed shuffle)."""
    pairs = line_proximity_pairs(
        pixels, segments, radius_km, lat_cap_deg=lat_cap_deg
    )
    joined = pairs.groupBy(*pixels.columns, "pt_feature_id").agg(
        F.min("distance_km").alias("distance_km")
    )
    if distance_round is not None:
        joined = joined.withColumn(
            "distance_km", F.round("distance_km", distance_round)
        )
    return joined.filter(F.col("distance_km") <= radius_km)


# Bits per axis of the Morton key (a 32-bit Z-code from two 16-bit
# grid indices); the DuckDB mirror in plans.geo_queries reads it too.
Z_ORDER_BITS = 16


def z_order_key(x: Column, y: Column) -> Column:
    """Morton (Z-order) interleave of two grid indices — the sort key
    that keeps 2-D-adjacent pixels adjacent in file order, so row-group
    min/max statistics prune spatial ranges inside each partition.
    Built from static shift/mask ops (codegen'd)."""
    bits = Z_ORDER_BITS
    xl = x.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    yl = y.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    key = F.lit(0).cast("long")
    for b in range(bits):
        bit = F.shiftleft(F.lit(1).cast("long"), b)
        key = key.bitwiseOR(
            F.shiftleft(
                F.shiftright(xl.bitwiseAND(bit), b).cast("long"), 2 * b
            )
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(yl.bitwiseAND(bit), b).cast("long"), 2 * b + 1
            )
        )
    return key


# --------------------------------------------------- point in polygon UDF


def _parse_ring(poly: str) -> np.ndarray:
    """Parse 'lon lat, lon lat, ...' into an (n, 2) array."""
    pts = [p.strip().split() for p in poly.split(",") if p.strip()]
    return np.array([[float(a), float(b)] for a, b in pts], dtype=np.float64)


def _parse_rings(poly) -> list[np.ndarray]:
    """Polygon spec → list of (n, 2) rings, even-odd semantics.

    Accepts the legacy single-ring ``'lon lat, lon lat, ...'`` string, a
    ``;``-separated multi-ring string (interior rings are holes, extra
    exterior rings are MultiPolygon parts — both are just "more rings"
    under even-odd), or a GeoJSON ``Polygon``/``MultiPolygon`` geometry
    (mapping or JSON string) — the shapes ``rasterio.mask.mask`` accepts
    in the reference (DataDownloader_V1.py:54) and what the FAO GAUL
    ADM1 boundaries it clips to actually are
    (DataDownloader_SNPP_VIIRS_V1.py:32-36 — MultiPolygons in
    practice)."""
    import json

    if isinstance(poly, str) and poly.lstrip().startswith("{"):
        poly = json.loads(poly)
    if isinstance(poly, dict):
        gtype = poly.get("type")
        coords = poly.get("coordinates", [])
        # Real-world GeoJSON (some GAUL exports) carries 3-element
        # [lon, lat, z] positions; keep only lon/lat so the (n,3)
        # shape can't break ray casting or bbox unpacking.
        if gtype == "Polygon":
            rings = [np.asarray(r, dtype=np.float64)[:, :2] for r in coords]
        elif gtype == "MultiPolygon":
            rings = [
                np.asarray(r, dtype=np.float64)[:, :2]
                for part in coords
                for r in part
            ]
        else:
            raise ValueError(
                f"unsupported GeoJSON geometry type {gtype!r}"
            )
        if not rings:
            raise ValueError("geometry has no rings")
        return rings
    return [_parse_ring(seg) for seg in str(poly).split(";") if seg.strip()]


def _ray_cast(lons: np.ndarray, lats: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: point vs one polygon ring."""
    inside = np.zeros(len(lons), dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        cond = (y1 > lats) != (y2 > lats)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (lats - y1) / (y2 - y1) + x1
        inside ^= cond & (lons < xint)
    return inside


def _ray_cast_rings(
    lons: np.ndarray, lats: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Even-odd over ALL rings: XOR of per-ring crossings. A point in
    an outer ring and its hole toggles twice → outside; a point in any
    one disjoint part toggles once → inside — matching
    ``rasterio.mask.mask`` / GeoJSON winding-agnostic semantics."""
    inside = np.zeros(len(lons), dtype=bool)
    for ring in rings:
        inside ^= _ray_cast(lons, lats, ring)
    return inside


def make_point_in_polygon_udf(polygon):
    """P6/J1 — exact polygon containment (the ``rasterio.mask.mask``
    clip, DataDownloader_V1.py:54) as an Arrow-batched pandas UDF.

    Accepts single-ring strings, ``;``-separated multi-ring strings,
    and GeoJSON Polygon/MultiPolygon geometries (see ``_parse_rings``).
    Rings are parsed once per executor (closure), the test is
    vectorized NumPy over the whole Arrow batch — never per-row Python.
    Always apply after a bbox prefilter (bbox_contains) so the UDF sees
    only candidate rows."""
    rings = _parse_rings(polygon)

    @F.pandas_udf(T.BooleanType())
    def pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        res = _ray_cast_rings(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), rings
        )
        return pd.Series(res)

    return pip


def clip_to_polygon(pixels: DataFrame, polygon) -> DataFrame:
    """J1 — clip: bbox prefilter (pushdown-able) + exact ray-cast test.
    ``polygon`` may be any shape ``_parse_rings`` accepts (single ring,
    multi-ring with holes, MultiPolygon); the bbox prefilter is the
    envelope of every ring."""
    pts = np.vstack(_parse_rings(polygon))
    lo_lon, lo_lat = pts.min(axis=0)
    hi_lon, hi_lat = pts.max(axis=0)
    pip = make_point_in_polygon_udf(polygon)
    return pixels.filter(
        bbox_contains(
            F.col("lon"), F.col("lat"), lo_lon, lo_lat, hi_lon, hi_lat
        )
    ).filter(pip(F.col("lon"), F.col("lat")))


# --------------------------------------------------- exact dissolve (A6)


def make_point_in_union_udf(geometries):
    """A6 full form — containment in the DISSOLVED union of a feature
    set (``punjab.geometry()``, DataDownloader_SNPP_VIIRS_V1.py:36): a
    point is inside iff it is inside ANY member geometry, each member
    evaluated even-odd with its own holes. This is exact for arbitrary
    overlaps, where flattening all rings into one even-odd test would
    wrongly toggle the shared area OFF — the reason a dissolve is not
    just "more rings".

    ``geometries`` is a list of polygon specs (any shape
    ``_parse_rings`` accepts). Parsed once per executor; the test is
    vectorized NumPy over the whole Arrow batch."""
    parts = [_parse_rings(g) for g in geometries]
    if not parts:
        raise ValueError("union of zero geometries")

    @F.pandas_udf(T.BooleanType())
    def piu(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lons = lon.to_numpy(np.float64)
        lats = lat.to_numpy(np.float64)
        inside = np.zeros(len(lons), dtype=bool)
        for rings in parts:
            inside |= _ray_cast_rings(lons, lats, rings)
        return pd.Series(inside)

    return piu


def clip_to_union(pixels: DataFrame, geometries) -> DataFrame:
    """Clip to the dissolved union of several geometries: bbox
    prefilter on the union envelope (pushdown-able), then the exact
    any-member ray-cast test. Covers every reference use of the
    dissolve — GEE's ``geometry()`` union feeds either a clip mask or a
    bounds request, never the merged boundary itself."""
    pts = np.vstack([np.vstack(_parse_rings(g)) for g in geometries])
    lo_lon, lo_lat = pts.min(axis=0)
    hi_lon, hi_lat = pts.max(axis=0)
    piu = make_point_in_union_udf(geometries)
    return pixels.filter(
        bbox_contains(
            F.col("lon"), F.col("lat"), lo_lon, lo_lat, hi_lon, hi_lat
        )
    ).filter(piu(F.col("lon"), F.col("lat")))


def rect_union_area(
    rects: DataFrame,
    x1: str = "x1",
    y1: str = "y1",
    x2: str = "x2",
    y2: str = "y2",
    group: list[str] | None = None,
) -> DataFrame:
    """Exact dissolved-union AREA of axis-aligned rectangles (scene /
    export footprints — ``ee.Geometry.Rectangle`` is the reference's
    own region currency, DataDownloader_V1.py:25) via vertical slab
    decomposition, entirely in Catalyst expressions — no UDF, no
    geometry library:

    1. slab edges = distinct x-coordinates of all rectangle sides;
       consecutive pairs (lead over an x-sort) form vertical slabs;
    2. each slab joins the rectangles fully spanning it (range
       predicate on two sorted bounds);
    3. per slab, the classic sorted-interval sweep merges overlapping
       [y1, y2] intervals: a running max of y2 over the y-sort marks
       interval starts, a running sum of the marks numbers the merged
       runs, and a group-by collapses them;
    4. union area = Σ slab_width × merged-interval length, summed
       through DECIMAL so the total is partition-order independent.

    Returns one row per ``group`` (or one global row) with
    ``n_rects``, ``sum_rect_area`` (double-counts overlaps) and
    ``union_area`` (exact dissolve).

    Scale: the decomposition is per-``group`` — at 100 TB you dissolve
    footprints within a region/tile/day key, so every window below is
    key-partitioned and each group holds a bounded footprint set (the
    global-sort form only runs when ``group`` is None, i.e. on
    dimension-sized inputs). Slab count is 2·N per group and the
    slab×rect range join is the O(N²)-worst-case plane sweep — the
    standard exact algorithm; for the heavier general-polygon dissolve
    semantics use :func:`clip_to_union`, which never materializes the
    union at all."""
    keys = list(group or [])
    cx1, cy1 = F.col(x1), F.col(y1)
    cx2, cy2 = F.col(x2), F.col(y2)
    r = rects.select(
        *keys,
        F.least(cx1, cx2).alias("__rx1"),
        F.least(cy1, cy2).alias("__ry1"),
        F.greatest(cx1, cx2).alias("__rx2"),
        F.greatest(cy1, cy2).alias("__ry2"),
    )
    xs = r.select(
        *keys, F.explode(F.array("__rx1", "__rx2")).alias("__x")
    ).distinct()
    wx = (
        Window.partitionBy(*keys).orderBy("__x")
        if keys
        else Window.orderBy("__x")
    )
    slabs = (
        xs.withColumn("__x_hi", F.lead("__x").over(wx))
        .filter(F.col("__x_hi").isNotNull())
        .withColumnRenamed("__x", "__x_lo")
    )
    cond = (F.col("__rx1") <= F.col("__x_lo")) & (
        F.col("__rx2") >= F.col("__x_hi")
    )
    for k in keys:
        cond = cond & (slabs[k] == r[k])
    cover = slabs.join(r, cond).select(
        *[slabs[k] for k in keys], "__x_lo", "__x_hi", "__ry1", "__ry2"
    )
    wy = Window.partitionBy(*keys, "__x_lo").orderBy("__ry1", "__ry2")
    run_max = F.max("__ry2").over(
        wy.rowsBetween(Window.unboundedPreceding, -1)
    )
    cover = cover.withColumn(
        "__new", (run_max.isNull() | (F.col("__ry1") > run_max)).cast("int")
    ).withColumn(
        "__run",
        F.sum("__new").over(wy.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = cover.groupBy(*keys, "__x_lo", "__x_hi", "__run").agg(
        F.min("__ry1").alias("__lo"), F.max("__ry2").alias("__hi")
    )
    from .stable import stable_sum

    piece = (F.col("__x_hi") - F.col("__x_lo")) * (
        F.col("__hi") - F.col("__lo")
    )
    union = merged.groupBy(*keys).agg(
        stable_sum(piece, 6).alias("union_area")
    )
    totals = r.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rects"),
        stable_sum(
            (F.col("__rx2") - F.col("__rx1"))
            * (F.col("__ry2") - F.col("__ry1")),
            6,
        ).alias("sum_rect_area"),
    )
    if keys:
        return totals.join(union, keys).select(
            *keys, "n_rects", "sum_rect_area", "union_area"
        )
    return totals.crossJoin(F.broadcast(union)).select(
        "n_rects", "sum_rect_area", "union_area"
    )
