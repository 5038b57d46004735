"""Tests: raster ingest UDTF plumbing (S3), CRS transforms (F8), and the
HTML presentation sinks (S9/S10)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gee_datapipeline_spark.functions.crs import make_crs_transform_udf
from gee_datapipeline_spark.sinks.html import render_layer_map, render_wrapper
from gee_datapipeline_spark.sources.raster import read_rasters
from gee_datapipeline_spark.sources.tiffcodec import encode_geotiff


@pytest.fixture(scope="module")
def raster_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rasters")
    vals1 = np.array([[1.0, 2.0], [3.0, np.nan]])
    vals2 = np.array([[10.0, 20.0], [30.0, 40.0]])
    (d / "no2_2025-01-01.tif").write_bytes(
        encode_geotiff(vals1, 77.0, 28.0, 0.01)
    )
    (d / "no2_2025-02-01.tif").write_bytes(
        encode_geotiff(vals2, 77.0, 28.0, 0.01)
    )
    return str(d)


def test_read_rasters_unpivots(spark, raster_dir):
    """S3 — two files → 8 pixel rows; NaN became NULL; pixel centers
    offset by half a cell (fix_transparency.py:68)."""
    px = read_rasters(spark, raster_dir + "/*.tif")
    rows = px.collect()
    assert len(rows) == 8
    jan = [r for r in rows if "2025-01-01" in r.path]
    assert len(jan) == 4
    nulls = [r for r in jan if r.value is None]
    assert len(nulls) == 1 and nulls[0].x == 1 and nulls[0].y == 1
    first = next(r for r in jan if r.x == 0 and r.y == 0)
    assert first.lon == pytest.approx(77.005) and first.lat == pytest.approx(28.005)


def test_read_rasters_glob_pruning(spark, raster_dir):
    """S5 — filename-glob partition discovery."""
    only_jan = read_rasters(spark, raster_dir + "/no2_2025-01*.tif")
    assert only_jan.count() == 4


def test_crs_roundtrip_webmercator(spark):
    """F8 — 4326 → 3857 → 4326 roundtrip; known anchor: lon 180° maps to
    ~20037508.34 m."""
    df = spark.createDataFrame(
        [(180.0, 0.0), (77.2, 28.6), (0.0, 0.0)], ["lon", "lat"]
    )
    fwd = make_crs_transform_udf("EPSG:4326", "EPSG:3857")
    back = make_crs_transform_udf("EPSG:3857", "EPSG:4326")
    out = (
        df.withColumn("m", fwd(F.col("lon"), F.col("lat")))
        .withColumn("r", back(F.col("m.x"), F.col("m.y")))
        .collect()
    )
    anchor = next(r for r in out if r.lon == 180.0)
    assert anchor.m.x == pytest.approx(20037508.342789244)
    for r in out:
        assert r.r.x == pytest.approx(r.lon, abs=1e-9)
        assert r.r.y == pytest.approx(r.lat, abs=1e-9)


def test_crs_identity_fallback(spark):
    """F8 — unsupported pair falls back to identity (the reference's
    try/except, fix_transparency.py:71-74); strict mode raises.
    EPSG:27700 (OSGB, needs a datum shift) is deliberately out of scope."""
    df = spark.createDataFrame([(1.0, 2.0)], ["x", "y"])
    ident = make_crs_transform_udf("EPSG:27700", "EPSG:4326")
    r = df.select(ident(F.col("x"), F.col("y")).alias("o")).collect()[0].o
    assert (r.x, r.y) == (1.0, 2.0)
    with pytest.raises(ValueError, match="unsupported CRS pair"):
        make_crs_transform_udf("EPSG:27700", "EPSG:4326", strict=True)


# ------------------------------------------------------------- UTM (F8)


def _snyder_utm_forward(lon, lat, zone):
    """Independent check implementation: Snyder 1987 (USGS PP 1395,
    eqs. 8-9..8-15) Redfearn-style UTM forward — a DIFFERENT public
    series from the Krüger expansion under test. Agreement is ~0.1 mm
    within a zone."""
    import numpy as np

    a, f, k0 = 6378137.0, 1 / 298.257223563, 0.9996
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    phi = np.radians(lat)
    lam = np.radians(lon - (zone * 6 - 183))
    N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
    T = np.tan(phi) ** 2
    C = ep2 * np.cos(phi) ** 2
    A = lam * np.cos(phi)
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024)
        * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    x = (
        k0
        * N
        * (
            A
            + (1 - T + C) * A**3 / 6
            + (5 - 18 * T + T**2 + 72 * C - 58 * ep2) * A**5 / 120
        )
        + 500000.0
    )
    y = k0 * (
        M
        + N
        * np.tan(phi)
        * (
            A**2 / 2
            + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
            + (61 - 58 * T + T**2 + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    return x, y


def test_utm_forward_matches_snyder():
    """Krüger series vs the independent Snyder series: < 1 mm across a
    grid spanning the zone width and ±80° latitude."""
    import numpy as np

    from gee_datapipeline_spark.functions.crs import utm_forward_np

    lon = np.linspace(72.5, 77.5, 21)  # zone 43 spans 72-78
    lat = np.linspace(-80.0, 80.0, 41)
    LON, LAT = np.meshgrid(lon, lat)
    e1, n1 = utm_forward_np(LON.ravel(), LAT.ravel(), 43)
    e2, n2 = _snyder_utm_forward(LON.ravel(), LAT.ravel(), 43)
    assert np.abs(e1 - e2).max() < 1e-3
    assert np.abs(n1 - n2).max() < 1e-3


def test_utm_central_meridian_anchors():
    """Closed-form anchors: E is exactly 500 km on the central meridian;
    N equals k0 × the meridian arc, checked against a NUMERICALLY
    INTEGRATED arc length (independent of any series)."""
    import numpy as np

    from gee_datapipeline_spark.functions.crs import utm_forward_np

    a, f, k0 = 6378137.0, 1 / 298.257223563, 0.9996
    e2 = f * (2 - f)
    e, n = utm_forward_np(np.array([75.0]), np.array([40.0]), 43)
    assert e[0] == pytest.approx(500000.0, abs=1e-6)
    phi = np.linspace(0.0, np.radians(40.0), 2_000_001)
    integrand = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
    arc = np.trapz(integrand, phi)
    assert n[0] == pytest.approx(k0 * arc, abs=1e-3)
    # equator → N = 0; southern hemisphere false northing
    _, n0 = utm_forward_np(np.array([74.0]), np.array([0.0]), 43)
    assert n0[0] == pytest.approx(0.0, abs=1e-9)
    es, ns = utm_forward_np(np.array([75.0]), np.array([-40.0]), 43,
                            south=True)
    assert ns[0] == pytest.approx(10000000.0 - k0 * arc, abs=1e-3)


def test_utm_roundtrip_property():
    """forward ∘ inverse = identity to < 1e-9 degrees over random points
    spanning the zone (the reference's arbitrary-src.crs contract)."""
    import numpy as np

    from gee_datapipeline_spark.functions.crs import (
        utm_forward_np,
        utm_inverse_np,
    )

    rng = np.random.default_rng(1234)
    lon = 75.0 + rng.uniform(-3, 3, 5000)
    lat = rng.uniform(-84, 84, 5000)
    e, n = utm_forward_np(lon, lat, 43)
    lon2, lat2 = utm_inverse_np(e, n, 43)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9
    # south variant
    e, n = utm_forward_np(lon, -np.abs(lat), 43, south=True)
    lon2, lat2 = utm_inverse_np(e, n, 43, south=True)
    assert np.abs(lon2 - lon).max() < 1e-9


def test_utm_udf_and_chain(spark):
    """F8/U3 — EPSG:32643↔4326 through the pandas-UDF surface, plus the
    chained 32643→3857 route (UTM → 4326 hub → Web Mercator)."""
    import numpy as np

    from gee_datapipeline_spark.functions.crs import utm_forward_np

    df = spark.createDataFrame(
        [(77.2, 28.6), (73.9, 15.5), (76.0, -10.0)], ["lon", "lat"]
    )
    fwd = make_crs_transform_udf("EPSG:4326", "EPSG:32643")
    back = make_crs_transform_udf("EPSG:32643", "EPSG:4326")
    out = (
        df.withColumn("m", fwd(F.col("lon"), F.col("lat")))
        .withColumn("r", back(F.col("m.x"), F.col("m.y")))
        .collect()
    )
    for r in out:
        ee, nn = utm_forward_np(np.array([r.lon]), np.array([r.lat]), 43)
        assert r.m.x == pytest.approx(ee[0], abs=1e-6)
        assert r.m.y == pytest.approx(nn[0], abs=1e-6)
        assert r.r.x == pytest.approx(r.lon, abs=1e-9)
        assert r.r.y == pytest.approx(r.lat, abs=1e-9)
    chained = make_crs_transform_udf("EPSG:32643", "EPSG:3857")
    direct = make_crs_transform_udf("EPSG:4326", "EPSG:3857")
    got = (
        df.withColumn("m", fwd(F.col("lon"), F.col("lat")))
        .withColumn("wm", chained(F.col("m.x"), F.col("m.y")))
        .withColumn("wd", direct(F.col("lon"), F.col("lat")))
        .collect()
    )
    for r in got:
        assert r.wm.x == pytest.approx(r.wd.x, abs=1e-6)
        assert r.wm.y == pytest.approx(r.wd.y, abs=1e-6)


def test_utm_sql_steps_match_numpy(spark):
    """The portable-SQL forward chain (the relational scale path, no
    Python) agrees with the NumPy reference after the 3 dp round."""
    import numpy as np

    from gee_datapipeline_spark.functions.crs import (
        utm_forward_np,
        utm_forward_steps,
    )

    rng = np.random.default_rng(7)
    lon = (75.0 + rng.uniform(-3, 3, 500)).tolist()
    lat = rng.uniform(5, 40, 500).tolist()
    df = spark.createDataFrame(list(zip(lon, lat)), ["lon", "lat"])
    for name, expr in utm_forward_steps("lon", "lat", 43):
        df = df.withColumn(name, F.expr(expr))
    got = df.select("lon", "lat", "utm_e", "utm_n").collect()
    e_ref, n_ref = utm_forward_np(np.array(lon), np.array(lat), 43)
    ref = {
        (lo, la): (round(e, 3), round(n, 3))
        for lo, la, e, n in zip(lon, lat, e_ref, n_ref)
    }
    for r in got:
        re_, rn_ = ref[(r.lon, r.lat)]
        assert r.utm_e == pytest.approx(re_, abs=1e-3)
        assert r.utm_n == pytest.approx(rn_, abs=1e-3)


def test_render_layer_map_selection():
    """S9 — overlays + P8 layer selection (unselected layers hidden)."""
    html = render_layer_map(
        "2025-01-01",
        {
            "no2": {"bounds": (76.85, 28.2, 77.65, 29.0), "image": "no2.png"},
            "co": {"bounds": (76.85, 28.2, 77.65, 29.0), "image": "co.png"},
        },
        selected=["no2"],
    )
    assert 'id="layer-no2"' in html and "display:block" in html
    assert 'id="layer-co"' in html and "display:none" in html
    assert "76.85" in html  # envelope bounds present


def test_render_wrapper_slider_defaults_latest():
    """S10 + W2 — slider spans the date spine, defaulting to latest."""
    html = render_wrapper(
        "wrapper", ["2025-02", "2025-01", "2025-03"], "maps/{date}/index.html"
    )
    assert 'max="2"' in html and 'value="2"' in html
    assert "2025-03" in html.split("date-label")[1][:40]
    assert "maps/2025-01/index.html" in html
    with pytest.raises(ValueError):
        render_wrapper("empty", [], "x/{date}")


def test_render_wrapper_from_spine_is_the_spine_query(spark):
    """S10 ⟷ A9 closure: the slider's date list IS the date-spine
    relation's output — feed date_spine_from over a 3-day table and
    every spine day (including the unobserved middle one) must appear,
    latest selected."""
    from gee_datapipeline_spark.operators.calendar import date_spine_from
    from gee_datapipeline_spark.sinks.html import render_wrapper_from_spine

    df = spark.createDataFrame(
        [("2025-01-01",), ("2025-01-03",)], ["d"]
    ).select(F.to_date("d").alias("d"))
    spine = date_spine_from(df, F.col("d"))
    html = render_wrapper_from_spine("w", spine, "maps/{date}/index.html")
    assert 'max="2"' in html and 'value="2"' in html
    assert "2025-01-03" in html.split("date-label")[1][:40]
    assert "maps/2025-01-02/index.html" in html  # the gap day, from A9


# -------------------- Lambert conformal conic + sinusoidal (F8, r5)


def test_lcc_forward_matches_snyder_worked_example():
    """Snyder 1987 pp. 295-297 numerical example (Clarke 1866, SP
    33/45, origin 23N 96W): (35N, 75W) -> (1894410.9, 1564649.5) m,
    matched to the book's published 0.1 m precision, inverse included."""
    import numpy as np

    from gee_datapipeline_spark.functions.crs import (
        LccParams,
        lcc_forward_np,
        lcc_inverse_np,
    )

    clarke = LccParams(
        33.0, 45.0, 23.0, -96.0, a=6378206.4, f=1 / 294.97869821
    )
    e, n = lcc_forward_np(np.array([-75.0]), np.array([35.0]), clarke)
    assert e[0] == pytest.approx(1894410.9, abs=0.1)
    assert n[0] == pytest.approx(1564649.5, abs=0.1)
    lo, la = lcc_inverse_np(
        np.array([1894410.9]), np.array([1564649.5]), clarke
    )
    assert lo[0] == pytest.approx(-75.0, abs=1e-6)
    assert la[0] == pytest.approx(35.0, abs=1e-6)


def test_lcc_anchors_and_scale():
    """Closed-form anchors: the projection origin maps to (FE, FN), and
    the point scale factor equals 1 along BOTH standard parallels (the
    defining property of the 2SP variant), measured differentially
    against the ellipsoidal parallel arc."""
    import math

    import numpy as np

    from gee_datapipeline_spark.functions.crs import (
        EPSG_3978,
        GRS80_A,
        GRS80_F,
        lcc_forward_np,
    )

    e, n = lcc_forward_np(np.array([-95.0]), np.array([49.0]), EPSG_3978)
    assert e[0] == pytest.approx(0.0, abs=1e-6)
    assert n[0] == pytest.approx(0.0, abs=1e-6)
    e2 = GRS80_F * (2 - GRS80_F)
    d = 1e-3
    for sp in (49.0, 77.0):
        p1 = lcc_forward_np(np.array([-100.0]), np.array([sp]), EPSG_3978)
        p2 = lcc_forward_np(
            np.array([-100.0 + d]), np.array([sp]), EPSG_3978
        )
        proj = math.hypot(p2[0][0] - p1[0][0], p2[1][0] - p1[1][0])
        nu = GRS80_A / math.sqrt(1 - e2 * math.sin(math.radians(sp)) ** 2)
        arc = nu * math.cos(math.radians(sp)) * math.radians(d)
        assert proj / arc == pytest.approx(1.0, abs=1e-9)


def test_lcc_roundtrip_property():
    import numpy as np

    from gee_datapipeline_spark.functions.crs import (
        EPSG_3978,
        lcc_forward_np,
        lcc_inverse_np,
    )

    rng = np.random.default_rng(99)
    lon = rng.uniform(-141, -52, 5000)
    lat = rng.uniform(41, 84, 5000)
    e, n = lcc_forward_np(lon, lat, EPSG_3978)
    lon2, lat2 = lcc_inverse_np(e, n, EPSG_3978)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9


def test_sinu_anchors_and_roundtrip():
    """Sinusoidal closed forms: x(±180°, 0) = ±πR (the published MODIS
    grid extent 20015109.354 m), y(φ) = Rφ, equal-area column width
    shrinks with cos(φ); roundtrip to 1e-9 degrees."""
    import math

    import numpy as np

    from gee_datapipeline_spark.functions.crs import (
        MODIS_SINU_R,
        sinu_forward_np,
        sinu_inverse_np,
    )

    x, y = sinu_forward_np(np.array([180.0]), np.array([0.0]))
    assert x[0] == pytest.approx(math.pi * MODIS_SINU_R, abs=1e-3)
    x, y = sinu_forward_np(np.array([100.0]), np.array([60.0]))
    assert y[0] == pytest.approx(MODIS_SINU_R * math.radians(60), abs=1e-6)
    assert x[0] == pytest.approx(
        MODIS_SINU_R * math.radians(100) * 0.5, abs=1e-6
    )
    rng = np.random.default_rng(5)
    lon = rng.uniform(-179, 179, 5000)
    lat = rng.uniform(-85, 85, 5000)
    lon2, lat2 = sinu_inverse_np(*sinu_forward_np(lon, lat))
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9


def test_lcc_sinu_udf_routing(spark):
    """The pandas-UDF surface routes EPSG:3978, generic LCC:... params,
    and SINU through the 4326 hub, including a conic→sinusoidal chain."""
    import numpy as np

    from gee_datapipeline_spark.functions.crs import (
        EPSG_3978,
        lcc_forward_np,
        sinu_forward_np,
    )

    df = spark.createDataFrame(
        [(-95.0, 49.0), (-75.3, 45.4), (-123.1, 49.3)], ["lon", "lat"]
    )
    fwd = make_crs_transform_udf("EPSG:4326", "EPSG:3978")
    back = make_crs_transform_udf("EPSG:3978", "EPSG:4326")
    to_sinu = make_crs_transform_udf("EPSG:3978", "SINU")
    out = (
        df.withColumn("m", fwd(F.col("lon"), F.col("lat")))
        .withColumn("r", back(F.col("m.x"), F.col("m.y")))
        .withColumn("s", to_sinu(F.col("m.x"), F.col("m.y")))
        .collect()
    )
    for r in out:
        ee, nn = lcc_forward_np(
            np.array([r.lon]), np.array([r.lat]), EPSG_3978
        )
        assert r.m.x == pytest.approx(ee[0], abs=1e-6)
        assert r.m.y == pytest.approx(nn[0], abs=1e-6)
        assert r.r.x == pytest.approx(r.lon, abs=1e-9)
        assert r.r.y == pytest.approx(r.lat, abs=1e-9)
        sx, sy = sinu_forward_np(np.array([r.lon]), np.array([r.lat]))
        assert r.s.x == pytest.approx(sx[0], abs=1e-6)
        assert r.s.y == pytest.approx(sy[0], abs=1e-6)
    # generic parameter token matches the named registry entry
    gen = make_crs_transform_udf("EPSG:4326", "LCC:49,77,49,-95")
    got = df.withColumn("g", gen(F.col("lon"), F.col("lat"))).collect()
    for r, o in zip(got, out):
        assert r.g.x == pytest.approx(o.m.x, abs=1e-6)
        assert r.g.y == pytest.approx(o.m.y, abs=1e-6)


def test_lcc_sinu_sql_steps_match_numpy(spark):
    """The portable-SQL forward chains agree with the NumPy references
    after the 3 dp round (the relational scale path, no Python)."""
    import numpy as np

    from gee_datapipeline_spark.functions.crs import (
        LccParams,
        lcc_forward_np,
        lcc_forward_steps,
        sinu_forward_np,
        sinu_forward_steps,
    )

    p = LccParams(28.0, 30.0, 28.0, 77.0)
    rng = np.random.default_rng(11)
    lon = (77.0 + rng.uniform(-3, 3, 500)).tolist()
    lat = rng.uniform(20, 37, 500).tolist()
    df = spark.createDataFrame(list(zip(lon, lat)), ["lon", "lat"])
    for name, expr in lcc_forward_steps("lon", "lat", p):
        df = df.withColumn(name, F.expr(expr))
    for name, expr in sinu_forward_steps("lon", "lat"):
        df = df.withColumn(name, F.expr(expr))
    got = df.select("lon", "lat", "lcc_e", "lcc_n", "sinu_x",
                    "sinu_y").collect()
    e_ref, n_ref = lcc_forward_np(np.array(lon), np.array(lat), p)
    x_ref, y_ref = sinu_forward_np(np.array(lon), np.array(lat))
    ref = {
        (lo, la): (round(e, 3), round(n, 3), round(x, 3), round(y, 3))
        for lo, la, e, n, x, y in zip(lon, lat, e_ref, n_ref, x_ref, y_ref)
    }
    for r in got:
        re_, rn_, rx_, ry_ = ref[(r.lon, r.lat)]
        assert r.lcc_e == pytest.approx(re_, abs=2e-3)
        assert r.lcc_n == pytest.approx(rn_, abs=2e-3)
        assert r.sinu_x == pytest.approx(rx_, abs=2e-3)
        assert r.sinu_y == pytest.approx(ry_, abs=2e-3)
