"""Minimal projected-CRS support for the dependency-free shapefile path.

The reference reprojects every shapefile to EPSG:4326 unconditionally
(process_climate_amazon_annual.py:159-161, via geopandas/pyproj). This
module inverts, with numpy only, the projections Brazilian municipal
shapefiles actually ship:

- **Transverse Mercator** (all SIRGAS 2000 / UTM zones) — forward and
  inverse via the Krüger n-series (public formulas, e.g. Karney 2011
  "Transverse Mercator with an accuracy of a few nanometers"; the
  4th-order series here is sub-millimeter across a UTM zone);
- **Polyconic** (SIRGAS 2000 / Brazil Polyconic, the IBGE Brazil-wide
  layout) — forward from Snyder, *Map Projections: A Working Manual*
  (USGS PP 1395, pp. 124-130), inverted by a vectorized 2-D Newton
  iteration on the forward model (robust, no hand-derived inverse).

Everything is numpy-vectorized: reprojection happens driver-side over the
~5,570-municipality dimension (a few hundred thousand vertices), well
under a second. WKT parsing is a deliberately loose regex extraction of
SPHEROID / PROJECTION / PARAMETER — enough for ESRI/OGC WKT1 ``.prj``
files; anything else raises, naming what is unsupported.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np


@dataclass
class ProjectedCRS:
    projection: str                  # normalized projection name
    a: float                         # ellipsoid semi-major axis (m)
    inv_f: float                     # inverse flattening
    params: dict[str, float] = field(default_factory=dict)

    @property
    def f(self) -> float:
        return 1.0 / self.inv_f

    @property
    def e2(self) -> float:
        return self.f * (2.0 - self.f)


_SUPPORTED = {"transverse_mercator", "polyconic"}


def parse_projected_prj(wkt: str) -> ProjectedCRS | None:
    """Extract projection + parameters from a PROJCS WKT string; returns
    None for geographic CRSs, raises NotImplementedError for projected
    CRSs this module cannot invert."""
    if "PROJCS" not in wkt.upper():
        return None
    m = re.search(r'SPHEROID\[\s*"[^"]*"\s*,\s*([0-9.Ee+-]+)\s*,\s*([0-9.Ee+-]+)', wkt)
    if not m:
        raise NotImplementedError("projected .prj without a SPHEROID clause")
    a, inv_f = float(m.group(1)), float(m.group(2))
    m = re.search(r'PROJECTION\[\s*"([^"]+)"', wkt)
    if not m:
        raise NotImplementedError("PROJCS without a PROJECTION clause")
    proj_name = m.group(1).strip()
    proj = proj_name.lower()
    params = {
        k.strip().lower(): float(v)
        for k, v in re.findall(
            r'PARAMETER\[\s*"([^"]+)"\s*,\s*(-?[0-9.Ee+-]+)', wkt
        )
    }
    # The PROJCS-level UNIT is the LAST UNIT clause in WKT1 (the GEOGCS
    # nested earlier carries its own angular UNIT).  Unanchored so that
    # trailing AUTHORITY[...] clauses — inside the UNIT or after it — still
    # match; a foot-based CRS silently treated as metres would invert to
    # wrong lon/lat with no error.
    units = re.findall(r'UNIT\[\s*"[^"]*"\s*,\s*([0-9.Ee+-]+)', wkt)
    if not units:
        raise NotImplementedError(
            "projected .prj without a parseable UNIT clause; refusing to "
            "assume metres (only metre-based projections are supported)"
        )
    if abs(float(units[-1]) - 1.0) > 1e-9:
        raise NotImplementedError(
            f"projected CRS with non-metre unit factor {float(units[-1])!r}; "
            "only metre-based projections are supported"
        )
    if proj not in _SUPPORTED:
        raise NotImplementedError(
            f"projection {proj_name!r} is not supported; the reprojection "
            "inverts Transverse_Mercator and Polyconic only"
        )
    return ProjectedCRS(proj, a, inv_f, params)


def _p(crs: ProjectedCRS, *names: str) -> float:
    for n in names:
        if n in crs.params:
            return crs.params[n]
    return 0.0


# --- meridian arc (shared by both projections) ------------------------------


def meridian_arc(phi, a: float, e2: float):
    """Meridian distance from the equator, Snyder (3-21)."""
    e4, e6 = e2 * e2, e2 * e2 * e2
    return a * (
        (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * np.sin(2 * phi)
        + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * phi)
        - (35 * e6 / 3072) * np.sin(6 * phi)
    )


# --- transverse Mercator (Krüger series) ------------------------------------


def _tm_constants(crs: ProjectedCRS):
    n = crs.f / (2.0 - crs.f)
    n2, n3, n4 = n * n, n**3, n**4
    A = crs.a / (1 + n) * (1 + n2 / 4 + n4 / 64)
    alpha = (
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440,
        61 * n3 / 240 - 103 * n4 / 140,
        49561 * n4 / 161280,
    )
    beta = (
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440,
        17 * n3 / 480 - 37 * n4 / 840,
        4397 * n4 / 161280,
    )
    delta = (
        2 * n - 2 * n2 / 3 - 2 * n3 + 116 * n4 / 45,
        7 * n2 / 3 - 8 * n3 / 5 - 227 * n4 / 45,
        56 * n3 / 15 - 136 * n4 / 35,
        4279 * n4 / 630,
    )
    return A, alpha, beta, delta


def tm_forward(lon_deg, lat_deg, crs: ProjectedCRS):
    """Geographic degrees → projected (easting, northing)."""
    lam0 = np.radians(_p(crs, "central_meridian", "longitude_of_origin"))
    phi0 = np.radians(_p(crs, "latitude_of_origin", "latitude_of_center"))
    k0 = crs.params.get("scale_factor", 1.0)
    fe, fn = _p(crs, "false_easting"), _p(crs, "false_northing")
    e = np.sqrt(crs.e2)
    A, alpha, _, _ = _tm_constants(crs)

    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    dlam = np.radians(np.asarray(lon_deg, dtype=np.float64)) - lam0
    t = np.sinh(np.arcsinh(np.tan(phi)) - e * np.arctanh(e * np.sin(phi)))
    xi = np.arctan2(t, np.cos(dlam))
    eta = np.arcsinh(np.sin(dlam) / np.sqrt(t * t + np.cos(dlam) ** 2))
    xs, es = xi.copy(), eta.copy()
    for j, aj in enumerate(alpha, start=1):
        xs = xs + aj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        es = es + aj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    n0 = meridian_arc(phi0, crs.a, crs.e2)
    return fe + k0 * A * es, fn + k0 * (A * xs - n0)


def tm_inverse(x, y, crs: ProjectedCRS):
    """Projected (easting, northing) → geographic degrees."""
    lam0 = np.radians(_p(crs, "central_meridian", "longitude_of_origin"))
    phi0 = np.radians(_p(crs, "latitude_of_origin", "latitude_of_center"))
    k0 = crs.params.get("scale_factor", 1.0)
    fe, fn = _p(crs, "false_easting"), _p(crs, "false_northing")
    A, _, beta, delta = _tm_constants(crs)

    n0 = meridian_arc(phi0, crs.a, crs.e2)
    xi = (np.asarray(y, dtype=np.float64) - fn + k0 * n0) / (k0 * A)
    eta = (np.asarray(x, dtype=np.float64) - fe) / (k0 * A)
    xs, es = xi.copy(), eta.copy()
    for j, bj in enumerate(beta, start=1):
        xs = xs - bj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        es = es - bj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xs) / np.cosh(es))
    phi = chi.copy()
    for j, dj in enumerate(delta, start=1):
        phi = phi + dj * np.sin(2 * j * chi)
    lam = lam0 + np.arctan2(np.sinh(es), np.cos(xs))
    return np.degrees(lam), np.degrees(phi)


# --- polyconic (Snyder pp. 124-130) -----------------------------------------


def polyconic_forward(lon_deg, lat_deg, crs: ProjectedCRS):
    lam0 = np.radians(_p(crs, "central_meridian", "longitude_of_origin"))
    phi0 = np.radians(_p(crs, "latitude_of_origin", "latitude_of_center"))
    fe, fn = _p(crs, "false_easting"), _p(crs, "false_northing")
    a, e2 = crs.a, crs.e2

    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    dlam = np.radians(np.asarray(lon_deg, dtype=np.float64)) - lam0
    m0 = meridian_arc(phi0, a, e2)
    m = meridian_arc(phi, a, e2)
    # equator rows degenerate (cot 0): handled by the limit x=a*dlam, y=-M0
    with np.errstate(divide="ignore", invalid="ignore"):
        nu = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
        ee = dlam * np.sin(phi)
        cot = 1.0 / np.tan(phi)
        x = nu * cot * np.sin(ee)
        y = m - m0 + nu * cot * (1 - np.cos(ee))
    on_equator = np.abs(phi) < 1e-12
    x = np.where(on_equator, a * dlam, x)
    y = np.where(on_equator, -m0, y)
    return fe + x, fn + y


def polyconic_inverse(x, y, crs: ProjectedCRS):
    """Vectorized Newton inversion of the forward model (numerical
    Jacobian; converges in a handful of iterations anywhere a polyconic
    chart is actually used)."""
    a = crs.a
    lam0 = _p(crs, "central_meridian", "longitude_of_origin")
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    fe, fn = _p(crs, "false_easting"), _p(crs, "false_northing")
    # initial guess: spherical-ish
    lat = np.clip((y - fn) / a * (180.0 / np.pi), -89.0, 89.0)
    lon = lam0 + (x - fe) / (a * np.cos(np.radians(np.clip(lat, -85, 85)))) * (
        180.0 / np.pi
    )
    h = 1e-7  # degrees; central differences
    for _ in range(25):
        fx, fy = polyconic_forward(lon, lat, crs)
        rx, ry = fx - x, fy - y
        if max(np.abs(rx).max(initial=0), np.abs(ry).max(initial=0)) < 1e-6:
            break
        x1, y1 = polyconic_forward(lon + h, lat, crs)
        x2, y2 = polyconic_forward(lon, lat + h, crs)
        j11, j21 = (x1 - fx) / h, (y1 - fy) / h
        j12, j22 = (x2 - fx) / h, (y2 - fy) / h
        det = j11 * j22 - j12 * j21
        lon = lon - (j22 * rx - j12 * ry) / det
        lat = lat - (-j21 * rx + j11 * ry) / det
    return lon, lat


# --- entry point ------------------------------------------------------------


def inverse_to_lonlat(x, y, crs: ProjectedCRS):
    """Projected coordinates → geographic degrees for a parsed PROJCS."""
    if crs.projection == "transverse_mercator":
        return tm_inverse(x, y, crs)
    if crs.projection == "polyconic":
        return polyconic_inverse(x, y, crs)
    raise NotImplementedError(crs.projection)


def forward_from_lonlat(lon, lat, crs: ProjectedCRS):
    """Geographic degrees → projected coordinates (fixture generation and
    the polyconic Newton model)."""
    if crs.projection == "transverse_mercator":
        return tm_forward(lon, lat, crs)
    if crs.projection == "polyconic":
        return polyconic_forward(lon, lat, crs)
    raise NotImplementedError(crs.projection)
