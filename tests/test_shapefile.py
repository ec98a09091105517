"""Dependency-free shapefile ingest (S2): format roundtrip, shoelace
centroids, and the real municipalities_from_shapefile path end-to-end on
in-test-generated .shp/.dbf fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from amazon_climate_data_etl_spark.sources.ingest import (
    municipalities_from_shapefile,
)
from amazon_climate_data_etl_spark.sources.shapefile_min import (
    SHP_POINT,
    SHP_POLYGON,
    Shape,
    is_geographic_prj,
    polygon_centroid,
    read_dbf,
    read_shp,
    write_dbf,
    write_shp,
)


def _square(cx, cy, r):
    # closed ring, clockwise (ESRI shell winding)
    return np.array(
        [
            [cx - r, cy - r],
            [cx - r, cy + r],
            [cx + r, cy + r],
            [cx + r, cy - r],
            [cx - r, cy - r],
        ]
    )


def test_shp_roundtrip_polygon_and_point():
    shapes = [
        Shape(SHP_POLYGON, _square(-63.0, -8.0, 0.5)),
        Shape(SHP_POLYGON, _square(-60.0, -3.0, 1.0)),
    ]
    back = read_shp(write_shp(shapes))
    assert len(back) == 2
    assert back[0].shape_type == SHP_POLYGON
    assert np.allclose(back[1].points, shapes[1].points)
    pts = [Shape(SHP_POINT, np.array([[-64.5, -9.25]]))]
    backp = read_shp(write_shp(pts))
    assert backp[0].shape_type == SHP_POINT
    assert np.allclose(backp[0].points, pts[0].points)


def test_dbf_roundtrip_types():
    df = pd.DataFrame(
        {
            "CD_MUN": ["1100015", "1300029"],
            "NM_MUN": ["Alta Floresta", "Manaus"],
            "SIGLA_UF": ["RO", "AM"],
            "POP": [25000, 2200000],
            "AREA_KM2": [7067.025, 11401.092],
        }
    )
    back = read_dbf(write_dbf(df))
    assert list(back.columns) == list(df.columns)
    assert back["CD_MUN"].tolist() == df["CD_MUN"].tolist()
    assert back["POP"].tolist() == df["POP"].tolist()
    assert np.allclose(back["AREA_KM2"], df["AREA_KM2"])


def test_shoelace_centroid_square_and_hole():
    sq = Shape(SHP_POLYGON, _square(10.0, 20.0, 2.0))
    assert polygon_centroid(sq) == (10.0, 20.0)
    # shell with an off-center hole: centroid moves AWAY from the hole —
    # area-weighted, not vertex-mean
    shell = _square(0.0, 0.0, 4.0)               # clockwise
    hole = _square(2.0, 0.0, 1.0)[::-1].copy()   # counter-clockwise
    poly = Shape(
        SHP_POLYGON,
        np.vstack([shell, hole]),
        parts=(0, len(shell)),
    )
    cx, cy = polygon_centroid(poly)
    assert cx < 0.0 and abs(cy) < 1e-12
    # exact: (A_shell*0 - A_hole*2) / (A_shell - A_hole) = -8/60
    assert abs(cx - (-8.0 / 60.0)) < 1e-12


def test_is_geographic_prj():
    assert is_geographic_prj('GEOGCS["SIRGAS 2000",DATUM["..."]]')
    assert not is_geographic_prj('PROJCS["UTM 20S",GEOGCS["SIRGAS 2000"]]')


def _write_fixture(tmp_path, with_state_col=True, prj=None):
    df = pd.DataFrame(
        {
            "CD_MUN": ["1100015", "1300029", "3550308"],
            "NM_MUN": ["Alta Floresta", "Manaus", "Sao Paulo"],
        }
    )
    if with_state_col:
        df["SIGLA_UF"] = ["RO", "AM", "SP"]
    shapes = [
        Shape(SHP_POLYGON, _square(-63.0, -9.9, 0.4)),
        Shape(SHP_POLYGON, _square(-60.0, -3.1, 0.6)),
        Shape(SHP_POLYGON, _square(-46.6, -23.5, 0.3)),
    ]
    (tmp_path / "mun.shp").write_bytes(write_shp(shapes))
    (tmp_path / "mun.dbf").write_bytes(write_dbf(df))
    if prj is not None:
        (tmp_path / "mun.prj").write_text(prj)
    return str(tmp_path / "mun.shp")


def test_municipalities_from_shapefile_real_path(spark, tmp_path):
    """REAL S2 ingest, dependency-free: .shp+.dbf decode, state filter,
    shoelace centroids → broadcast-ready dimension."""
    path = _write_fixture(tmp_path, prj='GEOGCS["SIRGAS 2000"]')
    dim = municipalities_from_shapefile(spark, path).orderBy("CD_MUN")
    rows = dim.collect()
    # SP is filtered out by the northern-states default
    assert [r["CD_MUN"] for r in rows] == ["1100015", "1300029"]
    assert rows[0]["UF"] == "RO" and rows[1]["UF"] == "AM"
    assert abs(rows[0]["lon"] - (-63.0)) < 1e-9
    assert abs(rows[0]["lat"] - (-9.9)) < 1e-9
    assert [f.name for f in dim.schema.fields] == [
        "CD_MUN", "NM_MUN", "UF", "lon", "lat",
    ]


def test_municipalities_ibge_prefix_fallback(spark, tmp_path):
    """No state column in the .dbf → the IBGE code-prefix mapping fills UF
    (the reference's fallback, annual.py:146-152)."""
    path = _write_fixture(tmp_path, with_state_col=False)
    rows = municipalities_from_shapefile(spark, path).orderBy("CD_MUN").collect()
    assert [r["UF"] for r in rows] == ["RO", "AM"]  # 11->RO, 13->AM; 35 unmapped


def test_unsupported_projection_fails_loudly(spark, tmp_path):
    """Projections outside crs_min's inventory (here Lambert conic) fail
    the ingest loudly, naming the projection."""
    path = _write_fixture(
        tmp_path,
        prj='PROJCS["Custom LCC",GEOGCS["SIRGAS 2000",DATUM["D",'
            'SPHEROID["GRS 1980",6378137,298.257222101]]],'
            'PROJECTION["Lambert_Conformal_Conic_2SP"],'
            'PARAMETER["central_meridian",-54],UNIT["metre",1]]',
    )
    with pytest.raises(NotImplementedError, match="Lambert_Conformal_Conic_2SP"):
        municipalities_from_shapefile(spark, path)


def test_shapefile_roundtrip_property():
    """Hypothesis roundtrip: random polygon/point collections and typed
    attribute tables through write → read must reproduce geometry and
    attributes exactly (record framing, ring offsets, dbf field widths)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def collections(draw):
        rng = np.random.default_rng(draw(st.integers(0, 2**31)))
        n = draw(st.integers(1, 6))
        kind = draw(st.sampled_from([SHP_POINT, SHP_POLYGON]))
        shapes = []
        for _ in range(n):
            if kind == SHP_POINT:
                shapes.append(Shape(SHP_POINT, rng.uniform(-180, 180, (1, 2))))
            else:
                n_rings = draw(st.integers(1, 3))
                pts, parts, off = [], [], 0
                for _ in range(n_rings):
                    ring_len = draw(st.integers(4, 8))
                    ring = rng.uniform(-90, 90, (ring_len, 2))
                    ring[-1] = ring[0]  # closed
                    parts.append(off)
                    pts.append(ring)
                    off += ring_len
                shapes.append(Shape(SHP_POLYGON, np.vstack(pts), tuple(parts)))
        attrs = pd.DataFrame(
            {
                "CD_MUN": [f"{1100000 + i}" for i in range(n)],
                "NM_MUN": [f"Mun {i}" for i in range(n)],
                "POP": rng.integers(0, 10**6, n),
                "AREA": np.round(rng.uniform(1, 1e4, n), 6),
            }
        )
        return shapes, attrs

    @given(case=collections())
    @settings(max_examples=25, deadline=None)
    def check(case):
        shapes, attrs = case
        back_shapes = read_shp(write_shp(shapes))
        assert len(back_shapes) == len(shapes)
        for a, b in zip(shapes, back_shapes):
            assert a.shape_type == b.shape_type
            assert tuple(a.parts) == tuple(b.parts) or a.shape_type == SHP_POINT
            assert np.allclose(a.points, b.points, rtol=0, atol=0)
        back_attrs = read_dbf(write_dbf(attrs))
        assert back_attrs["CD_MUN"].tolist() == attrs["CD_MUN"].tolist()
        assert back_attrs["POP"].tolist() == attrs["POP"].tolist()
        assert np.allclose(back_attrs["AREA"], attrs["AREA"], atol=1e-6)

    check()


def test_dbf_integer_field_with_decimal_point():
    """Real-world DBFs store '123.0' / '1.' in DEC=0 numeric columns; the
    reader must parse them as numbers, not abort the ingest."""
    df = pd.DataFrame({"CD_MUN": ["1100015"], "POP": [25000]})
    raw = write_dbf(df)
    # patch the 18-wide DEC=0 numeric cell from '             25000'
    # to '           25000.0' (still right-justified, same width)
    patched = raw.replace(b"             25000", b"           25000.0")
    assert patched != raw
    back = read_dbf(patched)
    assert back["POP"].tolist() == [25000]
    assert isinstance(back["POP"][0], (int, np.integer))
    # non-integral value in a DEC=0 column survives as float
    frac = raw.replace(b"             25000", b"           25000.5")
    assert read_dbf(frac)["POP"].tolist() == [25000.5]


def test_null_shape_centroid_and_ingest_filtering(spark, tmp_path):
    """Null shapes (type 0) have no geometry: polygon_centroid refuses
    them, and the municipalities ingest drops them together with their
    attribute rows instead of emitting NaN centroids."""
    with pytest.raises(ValueError, match="null/empty"):
        polygon_centroid(Shape(0, np.empty((0, 2))))

    df = pd.DataFrame(
        {
            "CD_MUN": ["1100015", "1300029"],
            "NM_MUN": ["Alta Floresta", "Manaus"],
            "SIGLA_UF": ["RO", "AM"],
        }
    )
    shapes = [
        Shape(SHP_POLYGON, _square(-63.0, -9.9, 0.4)),
        Shape(0, np.empty((0, 2))),  # null geometry for Manaus
    ]
    (tmp_path / "mun.shp").write_bytes(write_shp(shapes))
    (tmp_path / "mun.dbf").write_bytes(write_dbf(df))
    rows = (
        municipalities_from_shapefile(spark, str(tmp_path / "mun.shp"))
        .orderBy("CD_MUN")
        .collect()
    )
    assert [r["CD_MUN"] for r in rows] == ["1100015"]
    assert all(r["lat"] == r["lat"] for r in rows)  # no NaNs
