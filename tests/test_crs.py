"""Projected-CRS reprojection (crs_min): the dependency-free counterpart
of the reference's unconditional to_crs(4326)
(process_climate_amazon_annual.py:159-161).

Validation strategy without pyproj in the container:
- a PUBLIC geodetic constant (the GRS80 quarter-meridian arc,
  10,001,965.729 m) pins the meridian-arc series;
- the Krüger-series transverse Mercator forward is cross-checked against
  an INDEPENDENT derivation (Snyder's USGS PP 1395 TM series) — two
  unrelated formulations agreeing to sub-centimeter across a UTM zone
  rule out a shared systematic error;
- forward∘inverse roundtrips pin each inverse against its forward;
- the full shapefile ingest runs on projected fixtures (UTM 20S and
  Brazil Polyconic) and must recover the geographic centroids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from amazon_climate_data_etl_spark.sources.crs_min import (
    forward_from_lonlat,
    inverse_to_lonlat,
    meridian_arc,
    parse_projected_prj,
    polyconic_forward,
    polyconic_inverse,
    tm_forward,
    tm_inverse,
)

UTM20S = (
    'PROJCS["SIRGAS 2000 / UTM zone 20S",GEOGCS["SIRGAS 2000",DATUM["D",'
    'SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Transverse_Mercator"],'
    'PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-63],'
    'PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],'
    'PARAMETER["false_northing",10000000],UNIT["metre",1]]'
)
BRAZIL_POLYCONIC = (
    'PROJCS["SIRGAS 2000 / Brazil Polyconic",GEOGCS["SIRGAS 2000",DATUM["D",'
    'SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]],PROJECTION["Polyconic"],'
    'PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-54],'
    'PARAMETER["false_easting",5000000],PARAMETER["false_northing",10000000],'
    'UNIT["metre",1]]'
)


def test_parse_prj_variants():
    crs = parse_projected_prj(UTM20S)
    assert crs.projection == "transverse_mercator"
    assert crs.a == 6378137.0 and abs(crs.inv_f - 298.257222101) < 1e-9
    assert crs.params["central_meridian"] == -63.0
    assert parse_projected_prj('GEOGCS["SIRGAS 2000",DATUM["D"]]') is None
    with pytest.raises(NotImplementedError, match="Albers_Conic_Equal_Area"):
        parse_projected_prj(
            'PROJCS["x",GEOGCS["g",DATUM["D",SPHEROID["GRS 1980",6378137,'
            '298.257222101]]],PROJECTION["Albers_Conic_Equal_Area"],'
            'UNIT["metre",1]]'
        )


def test_parse_prj_unit_with_authority():
    """WKT1 .prj files from EPSG registries carry AUTHORITY clauses inside
    and after UNIT; the unit factor must still be found (last UNIT wins —
    the GEOGCS-level degree unit earlier in the string must NOT match),
    and a foot-based CRS must refuse rather than silently invert as
    metres."""
    with_auth = UTM20S.replace(
        'UNIT["metre",1]]',
        'UNIT["metre",1,AUTHORITY["EPSG","9001"]],'
        'AUTHORITY["EPSG","31980"]]',
    )
    crs = parse_projected_prj(with_auth)
    assert crs is not None and crs.projection == "transverse_mercator"
    feet = UTM20S.replace(
        'UNIT["metre",1]]',
        'UNIT["US survey foot",0.30480060960121924,'
        'AUTHORITY["EPSG","9003"]]]',
    )
    with pytest.raises(NotImplementedError, match="non-metre"):
        parse_projected_prj(feet)
    no_unit = UTM20S.replace('UNIT["metre",1]]', "]").replace(
        'UNIT["degree",0.0174532925199433]],', "],"
    )
    with pytest.raises(NotImplementedError, match="UNIT"):
        parse_projected_prj(no_unit)


def test_frame_at_ms_empty_avi():
    """A frameless/corrupt AVI must raise a clear error on the sampling
    path instead of IndexError from the min(idx, -1) clamp."""
    from amazon_climate_data_etl_spark.sources.avi_min import AviVideo

    empty = AviVideo(codec="MPNG", width=4, height=4, us_per_frame=40000, frames=[])
    with pytest.raises(ValueError, match="no video frames"):
        empty.frame_at_ms(0)


def test_meridian_arc_public_constant():
    """GRS80 quarter meridian = 10,001,965.729 m (public geodesy
    constant); the Snyder series must land within a millimeter."""
    crs = parse_projected_prj(UTM20S)
    qa = meridian_arc(np.pi / 2, crs.a, crs.e2)
    assert abs(qa - 10001965.729) < 1e-3


def _snyder_tm_forward(lon_deg, lat_deg, crs):
    """Independent TM forward: Snyder, USGS PP 1395 eq. 8-9..8-13 —
    a different series than the Krüger formulation under test."""
    lam0 = np.radians(crs.params["central_meridian"])
    k0 = crs.params["scale_factor"]
    fe, fn = crs.params["false_easting"], crs.params["false_northing"]
    a, e2 = crs.a, crs.e2
    ep2 = e2 / (1 - e2)
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    dlam = np.radians(np.asarray(lon_deg, dtype=np.float64)) - lam0
    N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
    T = np.tan(phi) ** 2
    C = ep2 * np.cos(phi) ** 2
    A = dlam * np.cos(phi)
    M = meridian_arc(phi, a, e2)
    x = k0 * N * (
        A + (1 - T + C) * A**3 / 6
        + (5 - 18 * T + T * T + 72 * C - 58 * ep2) * A**5 / 120
    )
    y = k0 * (
        M + N * np.tan(phi) * (
            A * A / 2 + (5 - T + 9 * C + 4 * C * C) * A**4 / 24
            + (61 - 58 * T + T * T + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    return fe + x, fn + y


def test_tm_kruger_vs_snyder_independent_series():
    crs = parse_projected_prj(UTM20S)
    rng = np.random.default_rng(7)
    lons = rng.uniform(-66, -60, 500)
    lats = rng.uniform(-20, 5, 500)
    x1, y1 = tm_forward(lons, lats, crs)
    x2, y2 = _snyder_tm_forward(lons, lats, crs)
    assert np.abs(x1 - x2).max() < 0.01  # meters
    assert np.abs(y1 - y2).max() < 0.01


def test_tm_anchors_and_roundtrip():
    crs = parse_projected_prj(UTM20S)
    x, y = tm_forward(-63.0, 0.0, crs)
    assert abs(x - 500000.0) < 1e-6 and abs(y - 10000000.0) < 1e-6
    lon, lat = tm_inverse(500000.0, 10000000.0, crs)
    assert abs(lon + 63.0) < 1e-12 and abs(lat) < 1e-12
    rng = np.random.default_rng(0)
    lons = rng.uniform(-66, -60, 2000)
    lats = rng.uniform(-15, 5, 2000)
    lon2, lat2 = tm_inverse(*tm_forward(lons, lats, crs), crs)
    assert max(np.abs(lon2 - lons).max(), np.abs(lat2 - lats).max()) < 1e-9


def test_polyconic_anchors_and_roundtrip():
    crs = parse_projected_prj(BRAZIL_POLYCONIC)
    x, y = polyconic_forward(-54.0, 0.0, crs)
    assert abs(x - 5000000.0) < 1e-6 and abs(y - 10000000.0) < 1e-6
    rng = np.random.default_rng(1)
    lons = rng.uniform(-74, -35, 2000)  # all of Brazil
    lats = rng.uniform(-34, 6, 2000)
    lon2, lat2 = polyconic_inverse(*polyconic_forward(lons, lats, crs), crs)
    assert max(np.abs(lon2 - lons).max(), np.abs(lat2 - lats).max()) < 1e-7


@pytest.mark.parametrize("wkt", [UTM20S, BRAZIL_POLYCONIC])
def test_projected_shapefile_ingest_end_to_end(spark, tmp_path, wkt):
    """A projected-.prj shapefile ingests through the minimal path and
    recovers the geographic centroids — the reference's to_crs(4326)
    behavior, dependency-free."""
    from amazon_climate_data_etl_spark.sources.ingest import (
        municipalities_from_shapefile,
    )
    from amazon_climate_data_etl_spark.sources.shapefile_min import (
        SHP_POLYGON,
        Shape,
        write_dbf,
        write_shp,
    )

    crs = parse_projected_prj(wkt)
    centers = [(-63.0, -9.9), (-60.0, -3.1)]

    def square(cx, cy, r=0.25):
        ring = np.array(
            [[cx - r, cy - r], [cx - r, cy + r], [cx + r, cy + r],
             [cx + r, cy - r], [cx - r, cy - r]]
        )
        x, y = forward_from_lonlat(ring[:, 0], ring[:, 1], crs)
        return Shape(SHP_POLYGON, np.column_stack([x, y]))

    df = pd.DataFrame(
        {
            "CD_MUN": ["1100015", "1300029"],
            "NM_MUN": ["Alta Floresta", "Manaus"],
            "SIGLA_UF": ["RO", "AM"],
        }
    )
    (tmp_path / "mun.shp").write_bytes(write_shp([square(*c) for c in centers]))
    (tmp_path / "mun.dbf").write_bytes(write_dbf(df))
    (tmp_path / "mun.prj").write_text(wkt)
    rows = (
        municipalities_from_shapefile(spark, str(tmp_path / "mun.shp"))
        .orderBy("CD_MUN")
        .collect()
    )
    assert [r["CD_MUN"] for r in rows] == ["1100015", "1300029"]
    for r, (cx, cy) in zip(rows, centers):
        # projecting a square bends its edges, so the polygon centroid in
        # geographic space is not EXACTLY the source center; at this size
        # the difference is far below a grid cell
        assert abs(r["lon"] - cx) < 1e-4
        assert abs(r["lat"] - cy) < 1e-4


def test_inverse_dispatch_matches_projection():
    utm = parse_projected_prj(UTM20S)
    poly = parse_projected_prj(BRAZIL_POLYCONIC)
    lon, lat = np.array([-63.5]), np.array([-10.0])
    for crs in (utm, poly):
        x, y = forward_from_lonlat(lon, lat, crs)
        lon2, lat2 = inverse_to_lonlat(x, y, crs)
        assert abs(lon2[0] - lon[0]) < 1e-7 and abs(lat2[0] - lat[0]) < 1e-7


def test_crs_roundtrip_property():
    """Hypothesis fuzz over projection parameters AND points: random UTM-
    like TM setups (any central meridian, hemisphere offsets, scale) and
    polyconic charts must roundtrip forward∘inverse to ~1e-7 degrees
    within their zone of use."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_climate_data_etl_spark.sources.crs_min import ProjectedCRS

    @st.composite
    def cases(draw):
        rng = np.random.default_rng(draw(st.integers(0, 2**31)))
        proj = draw(st.sampled_from(["transverse_mercator", "polyconic"]))
        cm = draw(st.integers(-177, 177))
        params = {
            "central_meridian": float(cm),
            "latitude_of_origin": 0.0,
            "false_easting": float(draw(st.sampled_from([0, 500000, 5000000]))),
            "false_northing": float(draw(st.sampled_from([0, 10000000]))),
        }
        if proj == "transverse_mercator":
            params["scale_factor"] = draw(st.sampled_from([0.9996, 1.0]))
        crs = ProjectedCRS(proj, 6378137.0, 298.257222101, params)
        n = draw(st.integers(1, 50))
        # stay in the projection's zone of use: ±3° of the CM for TM
        # (a UTM zone), wider for polyconic
        half_width = 3.0 if proj == "transverse_mercator" else 15.0
        lons = rng.uniform(cm - half_width, cm + half_width, n)
        lats = rng.uniform(-60.0, 60.0, n)
        return crs, lons, lats

    @given(case=cases())
    @settings(max_examples=40, deadline=None)
    def check(case):
        crs, lons, lats = case
        x, y = forward_from_lonlat(lons, lats, crs)
        lon2, lat2 = inverse_to_lonlat(x, y, crs)
        assert np.abs(lon2 - lons).max() < 1e-7
        assert np.abs(lat2 - lats).max() < 1e-7

    check()
