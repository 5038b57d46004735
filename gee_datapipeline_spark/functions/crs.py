"""Coordinate reference system transforms (SURVEY.md §2.8 F8).

The reference reprojects raster coordinates to EPSG:4326 with
``rasterio.warp.transform`` and falls back to identity on failure
(fix_transparency.py:71-74) — and its source rasters arrive in
*arbitrary* ``src.crs`` (Sentinel-5P / VIIRS exports are commonly UTM).
pyproj/rasterio are not in this container, so the projections are
implemented directly from their public formulas:

- EPSG:4326 (lon/lat degrees, WGS84) — the canonical model CRS.
- EPSG:3857 (Web Mercator meters) — what the folium/leaflet viewers
  render in (index.html map tiles).
- EPSG:326xx / 327xx (UTM north/south, WGS84) — ellipsoidal transverse
  Mercator via the 6th-order Krüger flattening series (Karney 2011,
  "Transverse Mercator with an accuracy of a few nanometers"; the same
  series PROJ uses as ``tmerc`` default). Forward and inverse; inverse
  recovers geodetic latitude by Newton iteration on the conformal
  tangent. Accuracy is sub-micrometer within a zone.
- Lambert conformal conic 2SP (EPSG method 9802; Snyder 1987
  pp. 104-110) — parameterized (``LCC:lat1,lat2,lat0,lon0[,fe,fn]``)
  with EPSG:3978 (NAD83 / Canada Atlas Lambert) as the named instance.
  Forward and inverse (Snyder 7-9 fixed-point for φ).
- Sinusoidal (Snyder 1987 pp. 243-248, spherical) — ``SINU`` is the
  MODIS grid sphere (R = 6371007.181); ``SINU:<radius>`` for other
  published spheres. Forward and inverse.

The NumPy forms back the Arrow-batched pandas UDF (API surface). For the
relational scale path, :func:`utm_forward_steps` emits the SAME formula
chain as portable SQL strings evaluable by both Spark (``F.expr`` —
JVM-side, whole-stage codegen, no Python) and DuckDB (oracle mirror):
identical expression trees, constants interpolated from the identical
Python doubles, so the engines differ only by libm ulps — absorbed by
rounding projected meters to 3 dp before any bucketing or compare.
Unknown CRS pairs raise (or identity-fallback, mirroring the reference).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

WGS84_RADIUS_M = 6378137.0  # spherical Web Mercator Earth radius


def _lonlat_to_webmercator(lon: np.ndarray, lat: np.ndarray):
    x = np.radians(lon) * WGS84_RADIUS_M
    lat_c = np.clip(lat, -85.051128779806604, 85.051128779806604)
    y = WGS84_RADIUS_M * np.log(np.tan(np.pi / 4 + np.radians(lat_c) / 2))
    return x, y


def _webmercator_to_lonlat(x: np.ndarray, y: np.ndarray):
    lon = np.degrees(x / WGS84_RADIUS_M)
    lat = np.degrees(2 * np.arctan(np.exp(y / WGS84_RADIUS_M)) - np.pi / 2)
    return lon, lat

# --- WGS84 ellipsoid + UTM convention constants (public: EPSG 9807) ---
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
UTM_K0 = 0.9996
UTM_FE = 500000.0
UTM_FN_SOUTH = 10000000.0

_N = WGS84_F / (2.0 - WGS84_F)  # third flattening
_E2 = WGS84_F * (2.0 - WGS84_F)  # eccentricity^2
_E = math.sqrt(_E2)
# Rectifying radius A = a/(1+n) * (1 + n^2/4 + n^4/64 + n^6/256)
_RECT_A = (
    WGS84_A
    / (1.0 + _N)
    * (1.0 + _N**2 / 4.0 + _N**4 / 64.0 + _N**6 / 256.0)
)

# Krüger series coefficients to n^6 (Karney 2011 eqs. 35-36; identical
# to the PROJ etmerc/Poder-Engsager expansion truncated at 6th order).
_ALPHA = (
    _N / 2 - 2 * _N**2 / 3 + 5 * _N**3 / 16 + 41 * _N**4 / 180
    - 127 * _N**5 / 288 + 7891 * _N**6 / 37800,
    13 * _N**2 / 48 - 3 * _N**3 / 5 + 557 * _N**4 / 1440
    + 281 * _N**5 / 630 - 1983433 * _N**6 / 1935360,
    61 * _N**3 / 240 - 103 * _N**4 / 140 + 15061 * _N**5 / 26880
    + 167603 * _N**6 / 181440,
    49561 * _N**4 / 161280 - 179 * _N**5 / 168
    + 6601661 * _N**6 / 7257600,
    34729 * _N**5 / 80640 - 3418889 * _N**6 / 1995840,
    212378941 * _N**6 / 319334400,
)
_BETA = (
    _N / 2 - 2 * _N**2 / 3 + 37 * _N**3 / 96 - _N**4 / 360
    - 81 * _N**5 / 512 + 96199 * _N**6 / 604800,
    _N**2 / 48 + _N**3 / 15 - 437 * _N**4 / 1440 + 46 * _N**5 / 105
    - 1118711 * _N**6 / 3870720,
    17 * _N**3 / 480 - 37 * _N**4 / 840 - 209 * _N**5 / 4480
    + 5569 * _N**6 / 90720,
    4397 * _N**4 / 161280 - 11 * _N**5 / 504 - 830251 * _N**6 / 7257600,
    4583 * _N**5 / 161280 - 108847 * _N**6 / 3991680,
    20648693 * _N**6 / 638668800,
)


def utm_zone_lon0(zone: int) -> float:
    """Central meridian (degrees) of UTM zone 1..60."""
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone out of range: {zone}")
    return float(zone * 6 - 183)


def parse_utm_epsg(code: str):
    """``EPSG:326xx``/``EPSG:327xx`` → (zone, south) or None."""
    c = code.upper()
    if not c.startswith("EPSG:"):
        return None
    try:
        num = int(c[5:])
    except ValueError:
        return None
    if 32601 <= num <= 32660:
        return num - 32600, False
    if 32701 <= num <= 32760:
        return num - 32700, True
    return None


def utm_forward_np(lon: np.ndarray, lat: np.ndarray, zone: int,
                   south: bool = False):
    """Geodetic (lon, lat) degrees → UTM (easting, northing) meters."""
    lam = np.radians(lon - utm_zone_lon0(zone))
    phi = np.radians(lat)
    sphi = np.sin(phi)
    sigma = np.sinh(_E * np.arctanh(_E * sphi))
    tau = np.tan(phi)
    taup = tau * np.sqrt(1 + sigma**2) - sigma * np.sqrt(1 + tau**2)
    coslam = np.cos(lam)
    xip = np.arctan2(taup, coslam)
    etap = np.arcsinh(np.sin(lam) / np.sqrt(taup**2 + coslam**2))
    xi = xip.copy()
    eta = etap.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xi = xi + a * np.sin(2 * j * xip) * np.cosh(2 * j * etap)
        eta = eta + a * np.cos(2 * j * xip) * np.sinh(2 * j * etap)
    e = UTM_FE + UTM_K0 * _RECT_A * eta
    n = (UTM_FN_SOUTH if south else 0.0) + UTM_K0 * _RECT_A * xi
    return e, n


def utm_inverse_np(e: np.ndarray, n: np.ndarray, zone: int,
                   south: bool = False):
    """UTM (easting, northing) meters → geodetic (lon, lat) degrees.

    Latitude is recovered from the conformal tangent τ′ by Newton
    iteration (Karney 2011 §6); 5 iterations reach machine precision."""
    eta = (np.asarray(e, dtype=np.float64) - UTM_FE) / (UTM_K0 * _RECT_A)
    xi = (
        np.asarray(n, dtype=np.float64) - (UTM_FN_SOUTH if south else 0.0)
    ) / (UTM_K0 * _RECT_A)
    xip = xi.copy()
    etap = eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xip = xip - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        etap = etap - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    shp = np.sinh(etap)
    cxp = np.cos(xip)
    taup = np.sin(xip) / np.sqrt(shp**2 + cxp**2)
    lam = np.arctan2(shp, cxp)
    tau = taup.copy()
    for _ in range(5):
        sig = np.sinh(_E * np.arctanh(_E * tau / np.sqrt(1 + tau**2)))
        f_tau = (
            tau * np.sqrt(1 + sig**2) - sig * np.sqrt(1 + tau**2) - taup
        )
        dtau = (
            (np.sqrt((1 + sig**2) * (1 + tau**2)) - sig * tau)
            * (1 - _E2)
            * np.sqrt(1 + tau**2)
            / (1 + (1 - _E2) * tau**2)
        )
        tau = tau - f_tau / dtau
    lon = np.degrees(lam) + utm_zone_lon0(zone)
    lat = np.degrees(np.arctan(tau))
    return lon, lat


def utm_forward_steps(
    lon_expr: str, lat_expr: str, zone: int
) -> list[tuple[str, str]]:
    """The forward transform to a northern-hemisphere zone (EPSG:326xx,
    false northing 0) as a chain of named portable-SQL steps.

    Each ``(name, expr)`` may reference earlier names. The emitted
    subset (sin/cos/tan/atan2/exp/ln/sqrt/radians/arithmetic) parses and
    evaluates identically in Spark SQL and DuckDB; hyperbolics are
    spelled out via exp/ln on BOTH engines so the expression trees — not
    just the math — are the same, leaving only libm ulp differences.
    All constants are interpolated from the same Python doubles.

    Consumers: Spark via ``withColumn(name, F.expr(expr))`` folds
    (whole-stage codegen, no Python), DuckDB via a nested-SELECT chain
    (:func:`sql_utm_forward_select`).
    """
    lon0 = utm_zone_lon0(zone)
    kA = UTM_K0 * _RECT_A
    steps: list[tuple[str, str]] = [
        ("__lam", f"radians(({lon_expr}) - {lon0!r})"),
        ("__phi", f"radians({lat_expr})"),
        ("__esphi", f"{_E!r} * sin(__phi)"),
        # atanh(x) = ln((1+x)/(1-x))/2 ; sinh(x) = (exp(x)-exp(-x))/2
        ("__q", f"{_E!r} * ln((1 + __esphi) / (1 - __esphi)) / 2"),
        ("__sigma", "(exp(__q) - exp(-__q)) / 2"),
        ("__tau", "tan(__phi)"),
        (
            "__taup",
            "__tau * sqrt(1 + __sigma * __sigma) "
            "- __sigma * sqrt(1 + __tau * __tau)",
        ),
        ("__coslam", "cos(__lam)"),
        ("__xip", "atan2(__taup, __coslam)"),
        (
            "__z",
            "sin(__lam) / sqrt(__taup * __taup + __coslam * __coslam)",
        ),
        # asinh(z) = ln(z + sqrt(z^2 + 1))
        ("__etap", "ln(__z + sqrt(__z * __z + 1))"),
        (
            "__xi",
            "__xip + "
            + " + ".join(
                f"{a!r} * sin({2 * j} * __xip) "
                f"* ((exp({2 * j} * __etap) + exp(-({2 * j}) * __etap)) / 2)"
                for j, a in enumerate(_ALPHA, start=1)
            ),
        ),
        (
            "__eta",
            "__etap + "
            + " + ".join(
                f"{a!r} * cos({2 * j} * __xip) "
                f"* ((exp({2 * j} * __etap) - exp(-({2 * j}) * __etap)) / 2)"
                for j, a in enumerate(_ALPHA, start=1)
            ),
        ),
        # round to mm so JVM-vs-DuckDB libm ulps can never flip a
        # downstream bucket or hash compare
        ("utm_e", f"round({UTM_FE!r} + {kA!r} * __eta, 3)"),
        ("utm_n", f"round(0.0 + {kA!r} * __xi, 3)"),
    ]
    return steps


def sql_utm_forward_select(
    source_sql: str, lon_expr: str, lat_expr: str, zone: int
) -> str:
    """Wrap ``source_sql`` in a nested-SELECT chain computing
    ``utm_e``/``utm_n`` — the DuckDB mirror of the Spark
    ``withColumn(F.expr(...))`` fold over :func:`utm_forward_steps`."""
    sql = f"SELECT * FROM ({source_sql})"
    for name, expr in utm_forward_steps(lon_expr, lat_expr, zone):
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return sql


# --- Lambert conformal conic (2SP) — Snyder 1987 pp. 104-110, EPSG
# method 9802. Parameterized so ANY published LCC definition routes
# through the same math; EPSG:3978 (NAD83 / Canada Atlas Lambert,
# GRS80) ships as the named instance. NAD83↔WGS84 datum offsets are
# ≤~2 m and are conventionally treated as identity (the same zero
# transformation PROJ applies by default), so only the ellipsoid
# constants differ.
GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101


class LccParams:
    """Precomputed 2SP constants n, F, ρ0 (Snyder eqs. 15-1..15-3)."""

    def __init__(self, lat1: float, lat2: float, lat0: float, lon0: float,
                 fe: float = 0.0, fn: float = 0.0,
                 a: float = GRS80_A, f: float = GRS80_F):
        self.lat1, self.lat2 = lat1, lat2
        self.lat0, self.lon0 = lat0, lon0
        self.fe, self.fn = fe, fn
        self.a = a
        self.e2 = f * (2.0 - f)
        self.e = math.sqrt(self.e2)

        def m(phi):
            return math.cos(phi) / math.sqrt(
                1 - self.e2 * math.sin(phi) ** 2
            )

        def t(phi):
            es = self.e * math.sin(phi)
            return math.tan(math.pi / 4 - phi / 2) / (
                (1 - es) / (1 + es)
            ) ** (self.e / 2)

        p1, p2, p0 = map(math.radians, (lat1, lat2, lat0))
        m1, m2 = m(p1), m(p2)
        t1, t2, t0 = t(p1), t(p2), t(p0)
        self.n = (math.log(m1) - math.log(m2)) / (
            math.log(t1) - math.log(t2)
        )
        self.big_f = m1 / (self.n * t1**self.n)
        self.rho0 = self.a * self.big_f * t0**self.n
        self._t = t  # scalar t(φ), reused by tests


# EPSG:3978 — NAD83 / Canada Atlas Lambert (public EPSG registry entry:
# SP1 49°N, SP2 77°N, origin 49°N 95°W, FE=FN=0, GRS80).
EPSG_3978 = LccParams(lat1=49.0, lat2=77.0, lat0=49.0, lon0=-95.0)

_LCC_REGISTRY = {"EPSG:3978": EPSG_3978}


def parse_lcc(code: str) -> LccParams | None:
    """``EPSG:3978`` or generic ``LCC:lat1,lat2,lat0,lon0[,fe,fn]`` —
    the parameterized route for arbitrary published LCC definitions."""
    c = code.upper()
    if c in _LCC_REGISTRY:
        return _LCC_REGISTRY[c]
    if c.startswith("LCC:"):
        try:
            nums = [float(v) for v in c[4:].split(",")]
        except ValueError:
            return None
        if len(nums) in (4, 6):
            return LccParams(*nums)
    return None


def lcc_forward_np(lon: np.ndarray, lat: np.ndarray, p: LccParams):
    """Geodetic (lon, lat) degrees → LCC (easting, northing) meters."""
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    esin = p.e * np.sin(phi)
    t = np.tan(np.pi / 4 - phi / 2) / ((1 - esin) / (1 + esin)) ** (
        p.e / 2
    )
    rho = p.a * p.big_f * t**p.n
    theta = p.n * np.radians(np.asarray(lon, np.float64) - p.lon0)
    return p.fe + rho * np.sin(theta), p.fn + p.rho0 - rho * np.cos(theta)


def lcc_inverse_np(e: np.ndarray, n: np.ndarray, p: LccParams):
    """LCC (easting, northing) meters → geodetic (lon, lat) degrees.

    φ is recovered from t′ by Snyder eq. 7-9 fixed-point iteration;
    7 rounds reach double precision for |φ| < 89°."""
    de = np.asarray(e, np.float64) - p.fe
    dn = p.rho0 - (np.asarray(n, np.float64) - p.fn)
    rho = np.sign(p.n) * np.sqrt(de**2 + dn**2)
    tp = (rho / (p.a * p.big_f)) ** (1.0 / p.n)
    theta = np.arctan2(np.sign(p.n) * de, np.sign(p.n) * dn)
    lon = np.degrees(theta / p.n) + p.lon0
    phi = np.pi / 2 - 2 * np.arctan(tp)
    for _ in range(7):
        esin = p.e * np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(
            tp * ((1 - esin) / (1 + esin)) ** (p.e / 2)
        )
    return lon, np.degrees(phi)


def lcc_forward_steps(
    lon_expr: str, lat_expr: str, p: LccParams
) -> list[tuple[str, str]]:
    """The LCC forward transform as portable-SQL steps (same contract
    as :func:`utm_forward_steps`: identical expression trees in Spark
    and DuckDB, constants interpolated from the same Python doubles,
    meters rounded to 3 dp)."""
    return [
        ("__phi", f"radians({lat_expr})"),
        ("__esin", f"{p.e!r} * sin(__phi)"),
        (
            "__t",
            f"tan({math.pi / 4!r} - __phi / 2)"
            f" / power((1 - __esin) / (1 + __esin), {p.e / 2!r})",
        ),
        ("__rho", f"{p.a * p.big_f!r} * power(__t, {p.n!r})"),
        (
            "__theta",
            f"{p.n!r} * radians(({lon_expr}) - {p.lon0!r})",
        ),
        ("lcc_e", f"round({p.fe!r} + __rho * sin(__theta), 3)"),
        (
            "lcc_n",
            f"round({p.fn!r} + {p.rho0!r} - __rho * cos(__theta), 3)",
        ),
    ]


def sql_lcc_forward_select(
    source_sql: str, lon_expr: str, lat_expr: str, p: LccParams
) -> str:
    """DuckDB mirror of the Spark ``F.expr`` fold over
    :func:`lcc_forward_steps`."""
    sql = f"SELECT * FROM ({source_sql})"
    for name, expr in lcc_forward_steps(lon_expr, lat_expr, p):
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return sql


# --- Sinusoidal (equal-area) — Snyder 1987 pp. 243-248, spherical
# form: x = R·(λ−λ0)·cosφ, y = R·φ. The radius parameterizes the two
# published instances that matter: the MODIS sinusoidal grid
# (R = 6371007.181, the authalic sphere PROJ spells
# ``+proj=sinu +R=6371007.181``) and the sphere-on-WGS84-semimajor
# variant (R = 6378137).
MODIS_SINU_R = 6371007.181


def parse_sinu(code: str) -> float | None:
    """``SINU`` (MODIS radius) or ``SINU:<radius_m>`` → sphere radius."""
    c = code.upper()
    if c == "SINU":
        return MODIS_SINU_R
    if c.startswith("SINU:"):
        try:
            r = float(c[5:])
        except ValueError:
            return None
        return r if r > 0 else None
    return None


def sinu_forward_np(lon: np.ndarray, lat: np.ndarray,
                    radius: float = MODIS_SINU_R):
    phi = np.radians(np.asarray(lat, np.float64))
    return (
        radius * np.radians(np.asarray(lon, np.float64)) * np.cos(phi),
        radius * phi,
    )


def sinu_inverse_np(x: np.ndarray, y: np.ndarray,
                    radius: float = MODIS_SINU_R):
    phi = np.asarray(y, np.float64) / radius
    lon = np.degrees(
        np.asarray(x, np.float64) / (radius * np.cos(phi))
    )
    return lon, np.degrees(phi)


def sinu_forward_steps(lon_expr: str, lat_expr: str) -> list[tuple[str, str]]:
    """Sinusoidal forward on the MODIS sphere as portable SQL (same
    contract as the UTM and LCC step chains)."""
    radius = MODIS_SINU_R
    return [
        ("__phi", f"radians({lat_expr})"),
        (
            "sinu_x",
            f"round({radius!r} * radians({lon_expr}) * cos(__phi), 3)",
        ),
        ("sinu_y", f"round({radius!r} * __phi, 3)"),
    ]


def sql_sinu_forward_select(
    source_sql: str, lon_expr: str, lat_expr: str
) -> str:
    sql = f"SELECT * FROM ({source_sql})"
    for name, expr in sinu_forward_steps(lon_expr, lat_expr):
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return sql


_XY_SCHEMA = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)


def to_lonlat_fn(code: str):
    """(x, y) -> (lon, lat) NumPy callable for a supported CRS, or
    None. Shared by the UDF surface and the GeoTIFF ingest path."""
    c = code.upper()
    if c == "EPSG:4326":
        return lambda x, y: (x, y)
    if c == "EPSG:3857":
        return _webmercator_to_lonlat
    utm = parse_utm_epsg(c)
    if utm:
        return lambda x, y: utm_inverse_np(x, y, *utm)
    lcc = parse_lcc(c)
    if lcc:
        return lambda x, y: lcc_inverse_np(x, y, lcc)
    sinu = parse_sinu(c)
    if sinu:
        return lambda x, y: sinu_inverse_np(x, y, sinu)
    return None


def from_lonlat_fn(code: str):
    """(lon, lat) -> (x, y) NumPy callable for a supported CRS, or
    None."""
    c = code.upper()
    if c == "EPSG:4326":
        return lambda x, y: (x, y)
    if c == "EPSG:3857":
        return _lonlat_to_webmercator
    utm = parse_utm_epsg(c)
    if utm:
        return lambda x, y: utm_forward_np(x, y, *utm)
    lcc = parse_lcc(c)
    if lcc:
        return lambda x, y: lcc_forward_np(x, y, lcc)
    sinu = parse_sinu(c)
    if sinu:
        return lambda x, y: sinu_forward_np(x, y, sinu)
    return None


def make_crs_transform_udf(src: str, dst: str, strict: bool = False):
    """Vectorized (x, y) -> struct(x, y) transform between supported CRS.

    ``strict=False`` reproduces the reference's identity fallback for
    unsupported pairs (fix_transparency.py:73-74: "use original
    coordinates")."""
    src_n, dst_n = src.upper(), dst.upper()

    def pick():
        if src_n == dst_n:
            return lambda x, y: (x, y)
        # any supported pair routes through the 4326 hub (how PROJ
        # pipelines compose too); 4326 legs are identity lambdas
        inv, fwd = to_lonlat_fn(src_n), from_lonlat_fn(dst_n)
        if inv is not None and fwd is not None:
            return lambda x, y: fwd(*inv(x, y))
        if strict:
            raise ValueError(f"unsupported CRS pair {src} -> {dst}")
        return lambda x, y: (x, y)  # reference fallback behavior

    fn = pick()

    @F.pandas_udf(_XY_SCHEMA)
    def crs_udf(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        ox, oy = fn(x.to_numpy(np.float64), y.to_numpy(np.float64))
        return pd.DataFrame({"x": ox, "y": oy})

    return crs_udf
