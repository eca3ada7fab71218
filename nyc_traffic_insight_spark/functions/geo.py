"""Geo expression library (SURVEY.md §2.9 C1/C17, §2.1 S6/S8).

- C1  WKT POINT parse → (x, y) columns: JVM regexp, no UDF.
- C17 EPSG:2263 → EPSG:4326 reprojection: the reference's one genuine
  UDF (it uses pyproj; ``scripts/convert_traffic_csv_to_geojson_point.py:15-22``).
  pyproj is not available here, so the Lambert Conformal Conic (2SP)
  forward/inverse formulas are implemented directly (Snyder, "Map
  Projections — A Working Manual", USGS PP 1395, public domain; EPSG
  registry parameters for 2263) as a VECTORIZED numpy Pandas UDF —
  Arrow-batched, no per-row Python.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_WKT_POINT_RE = r"POINT \(([-0-9.]+) ([-0-9.]+)\)"


def wkt_point_x(wkt: Column | str) -> Column:
    """C1: x (first) coordinate of a WKT POINT, null when malformed."""
    return F.regexp_extract(wkt, _WKT_POINT_RE, 1).try_cast("double")


def wkt_point_y(wkt: Column | str) -> Column:
    return F.regexp_extract(wkt, _WKT_POINT_RE, 2).try_cast("double")


# ---------------------------------------------------------------- EPSG:2263
# NAD83 / New York Long Island (ftUS); Lambert Conformal Conic 2SP.
# Parameters from the public EPSG registry entry for 2263 + GRS80.

_FT_US = 1200.0 / 3937.0  # US survey foot in meters (exact ratio)
_A = 6378137.0 / _FT_US  # GRS80 semi-major axis, US survey feet
_F_INV = 298.257222101
_E2 = 2.0 / _F_INV - 1.0 / (_F_INV * _F_INV)
_E = math.sqrt(_E2)

_LAT1 = math.radians(40.0 + 40.0 / 60.0)  # standard parallel 1: 40°40'N
_LAT2 = math.radians(41.0 + 2.0 / 60.0)  # standard parallel 2: 41°02'N
_LAT0 = math.radians(40.0 + 10.0 / 60.0)  # latitude of origin: 40°10'N
_LON0 = math.radians(-74.0)  # central meridian
_FE = 984250.0  # false easting, ftUS
_FN = 0.0  # false northing, ftUS


def _m(phi: np.ndarray | float) -> np.ndarray | float:
    return np.cos(phi) / np.sqrt(1.0 - _E2 * np.sin(phi) ** 2)


def _t(phi: np.ndarray | float) -> np.ndarray | float:
    es = _E * np.sin(phi)
    return np.tan(np.pi / 4.0 - phi / 2.0) / ((1.0 - es) / (1.0 + es)) ** (_E / 2.0)


_N = (math.log(_m(_LAT1)) - math.log(_m(_LAT2))) / (
    math.log(_t(_LAT1)) - math.log(_t(_LAT2))
)
_BIG_F = _m(_LAT1) / (_N * _t(_LAT1) ** _N)
_RHO0 = _A * _BIG_F * _t(_LAT0) ** _N


def lcc_forward(lon_deg: np.ndarray, lat_deg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WGS84/NAD83 lon/lat (deg) → EPSG:2263 easting/northing (ftUS)."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    t = _t(lat)
    rho = _A * _BIG_F * t**_N
    theta = _N * (lon - _LON0)
    x = _FE + rho * np.sin(theta)
    y = _FN + _RHO0 - rho * np.cos(theta)
    return x, y


def lcc_inverse(x_ft: np.ndarray, y_ft: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:2263 easting/northing (ftUS) → lon/lat degrees.

    Newton-free fixed-point iteration for φ (converges in ≤6 rounds to
    float64 precision)."""
    x = np.asarray(x_ft, dtype=np.float64) - _FE
    y = _RHO0 - (np.asarray(y_ft, dtype=np.float64) - _FN)
    rho = np.sign(_N) * np.sqrt(x * x + y * y)
    theta = np.arctan2(x, y)
    t = (rho / (_A * _BIG_F)) ** (1.0 / _N)
    lon = theta / _N + _LON0

    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(8):
        es = _E * np.sin(phi)
        phi = np.pi / 2.0 - 2.0 * np.arctan(
            t * ((1.0 - es) / (1.0 + es)) ** (_E / 2.0)
        )
    return np.degrees(lon), np.degrees(phi)


# The pandas_udf wrappers are built lazily: decorating needs an active
# SparkSession (the DDL return type is parsed through it), and this
# module must stay importable session-free (catalog collection).

def epsg2263_to_wgs84(x_ft, y_ft) -> Column:
    """C17: the engine's one genuine UDF — vectorized CRS reprojection.
    Arrow-batched: each call reprojects a whole record batch in numpy.
    Reference: convert_traffic_csv_to_geojson_point.py:15-22 (pyproj).
    """

    @pandas_udf("lon double, lat double")
    def inv(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        lon, lat = lcc_inverse(x.to_numpy(), y.to_numpy())
        return pd.DataFrame({"lon": lon, "lat": lat})

    return inv(x_ft, y_ft)


def wgs84_to_epsg2263(lon, lat) -> Column:
    """Forward transform (round-trip testing + writing state-plane output)."""

    @pandas_udf("x double, y double")
    def fwd(lo: pd.Series, la: pd.Series) -> pd.DataFrame:
        x, y = lcc_forward(lo.to_numpy(), la.to_numpy())
        return pd.DataFrame({"x": x, "y": y})

    return fwd(lon, lat)
