"""GeoTIFF spec-subset codec: roundtrips across sample types × layouts ×
compression, a hand-built BIG-endian fixture (the writer is LE-only, so
endianness coverage cannot come from roundtrip), loud gates on format
corners outside the subset, hypothesis fuzz, and the distributed ingest
boundary feeding the unchanged climate pipeline."""

from __future__ import annotations

import datetime
import struct
import zlib

import numpy as np
import pytest

from amazon_climate_data_etl_spark.sources.geotiff_min import (
    GeoRaster,
    read_geotiff,
    write_geotiff,
)


@pytest.mark.parametrize("dtype", ["f4", "f8", "i2", "i4", "u1", "u2", "u4"])
@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"compress": True},
        {"rows_per_strip": 3},
        {"compress": True, "rows_per_strip": 2},
        {"tile": (4, 4)},
        {"tile": (4, 4), "compress": True},
        {"compress": "lzw"},
        {"compress": "lzw", "rows_per_strip": 2},
        {"tile": (4, 4), "compress": "lzw"},
        {"bigtiff": True, "compress": "lzw"},
        {"compress": "packbits"},
        {"compress": "packbits", "tile": (4, 4)},
        {"pixel_is_point": True},
        # BigTIFF: magic-43 structure, same pixel payloads
        {"bigtiff": True},
        {"bigtiff": True, "compress": True, "rows_per_strip": 2},
        {"bigtiff": True, "tile": (4, 4), "compress": True},
    ],
)
def test_roundtrip_matrix(dtype, kw):
    rng = np.random.default_rng(hash(dtype) % 2**31)
    a = (
        rng.normal(20, 5, (7, 9))
        if dtype.startswith("f")
        else rng.integers(0, 200, (7, 9))
    ).astype(dtype)
    if dtype[0] in "iu":
        kw = dict(kw, predictor=True)  # exercise horizontal differencing
    r = read_geotiff(write_geotiff(a, lat0=-2.0, lon0=-60.0, scale=0.25, **kw))
    assert np.allclose(r.data, a.astype(np.float64))
    # lat0/lon0 are CELL CENTERS whatever the raster space convention
    assert np.allclose(r.lon, -60.0 + np.arange(9) * 0.25)
    assert np.allclose(r.lat, -2.0 - np.arange(7) * 0.25)
    assert r.epsg == 4326


def test_nodata_to_nan():
    a = np.array([[1.5, -999.0], [2.5, 3.5]], dtype="f4")
    r = read_geotiff(write_geotiff(a, 0.0, 0.0, 1.0, nodata=-999.0))
    assert np.isnan(r.data[0, 1])
    assert r.data[1, 0] == 2.5
    assert r.nodata == -999.0
    i = np.array([[7, 0], [8, 9]], dtype="i2")
    ri = read_geotiff(write_geotiff(i, 0.0, 0.0, 1.0, nodata=0))
    assert np.isnan(ri.data[0, 1]) and ri.data[1, 1] == 9.0


def test_big_endian_hand_built():
    """MM-order TIFF assembled by hand (int16 samples, strip layout,
    PixelIsPoint): proves the reader honors byte order everywhere —
    header, IFD, inline values, out-of-line doubles, and sample words."""
    vals = np.array([[100, -200], [300, -400]], dtype=">i2")
    entries = []  # (tag, type, count, packed-value-or-None, payload)
    heap = b""
    heap_off = 8 + 2 + 12 * 11 + 4

    def inline(fmt, *v):
        return struct.pack(">" + fmt, *v).ljust(4, b"\x00")

    scale_off = heap_off
    heap += struct.pack(">3d", 0.5, 0.5, 0.0)
    tie_off = heap_off + len(heap) - 24 + 24  # == heap_off + 24
    heap += struct.pack(">6d", 0.0, 0.0, 0.0, -60.0, -2.0, 0.0)
    gk_off = heap_off + len(heap)
    gk = [1, 1, 0, 2, 1024, 0, 1, 2, 1025, 0, 1, 2]  # geographic, PixelIsPoint
    heap += struct.pack(f">{len(gk)}H", *gk)
    data_off = heap_off + len(heap)
    heap += vals.tobytes()

    entries = [
        (256, 4, 1, inline("I", 2)),
        (257, 4, 1, inline("I", 2)),
        (258, 3, 1, inline("H", 16)),
        (259, 3, 1, inline("H", 1)),
        (273, 4, 1, inline("I", data_off)),
        (277, 3, 1, inline("H", 1)),
        (279, 4, 1, inline("I", 8)),
        (339, 3, 1, inline("H", 2)),
        (33550, 12, 3, inline("I", scale_off)),
        (33922, 12, 6, inline("I", tie_off)),
        (34735, 3, len(gk), inline("I", gk_off)),
    ]
    buf = struct.pack(">2sHI", b"MM", 42, 8) + struct.pack(">H", len(entries))
    for tag, typ, cnt, val in entries:
        buf += struct.pack(">HHI", tag, typ, cnt) + val
    buf += struct.pack(">I", 0) + heap

    r = read_geotiff(buf)
    assert np.array_equal(r.data, vals.astype(np.float64))
    assert np.allclose(r.lon, [-60.0, -59.5])
    assert np.allclose(r.lat, [-2.0, -2.5])


def test_gates_raise_loudly():
    base = write_geotiff(np.ones((2, 2), dtype="f4"), 0.0, 0.0, 1.0)
    with pytest.raises(ValueError, match="byte-order"):
        read_geotiff(b"XX" + base[2:])
    # BigTIFF with a non-8 offset size is malformed, not merely unsupported
    with pytest.raises(ValueError, match="offset size"):
        read_geotiff(struct.pack("<2sHHH", b"II", 43, 4, 0) + base[8:])
    with pytest.raises(ValueError, match="predictor is integer-only"):
        write_geotiff(np.ones((2, 2), dtype="f4"), 0, 0, 1.0, predictor=True)

    def patch_tag_short(buf: bytes, tag: int, new_val: int) -> bytes:
        (n,) = struct.unpack_from("<H", buf, 8)
        for k in range(n):
            t = struct.unpack_from("<H", buf, 10 + 12 * k)[0]
            if t == tag:
                return (
                    buf[: 10 + 12 * k + 8]
                    + struct.pack("<I", new_val)
                    + buf[10 + 12 * k + 12 :]
                )
        raise AssertionError(f"tag {tag} absent")

    with pytest.raises(NotImplementedError, match="compression 7"):
        read_geotiff(patch_tag_short(base, 259, 7))  # JPEG
    with pytest.raises(NotImplementedError, match="multi-band"):
        read_geotiff(patch_tag_short(base, 277, 3))
    with pytest.raises(NotImplementedError, match="projected"):
        # GeoKeyDirectory short-array: ModelType value sits in the heap;
        # simplest projected fixture is writing with a patched geokey list
        buf = write_geotiff(np.ones((2, 2), dtype="f4"), 0, 0, 1.0)
        gk_area = struct.pack("<4H", 1024, 0, 1, 2)
        assert gk_area in buf
        read_geotiff(buf.replace(gk_area, struct.pack("<4H", 1024, 0, 1, 1)))


def test_geotiff_fuzz_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def cases(draw):
        rng = np.random.default_rng(draw(st.integers(0, 2**31)))
        h = draw(st.integers(1, 12))
        w = draw(st.integers(1, 12))
        dtype = draw(st.sampled_from(["f4", "f8", "i2", "i4", "u2"]))
        a = (
            rng.normal(0, 100, (h, w))
            if dtype.startswith("f")
            else rng.integers(-30000 if dtype[0] == "i" else 0, 30000, (h, w))
        ).astype(dtype)
        kw = {}
        if draw(st.booleans()):
            kw["compress"] = draw(st.sampled_from([True, "lzw", "packbits"]))
        layout = draw(st.sampled_from(["whole", "strips", "tiles"]))
        if layout == "strips":
            kw["rows_per_strip"] = draw(st.integers(1, h))
        elif layout == "tiles":
            kw["tile"] = (draw(st.integers(1, 8)), draw(st.integers(1, 8)))
        if dtype[0] in "iu" and draw(st.booleans()):
            kw["predictor"] = True
        if draw(st.booleans()):
            kw["pixel_is_point"] = True
        if draw(st.booleans()):
            kw["bigtiff"] = True
        return a, draw(st.floats(-80, 80)), draw(st.floats(-170, 170)), kw

    @given(case=cases())
    @settings(max_examples=60, deadline=None)
    def check(case):
        a, lat0, lon0, kw = case
        r = read_geotiff(write_geotiff(a, lat0, lon0, 0.25, **kw))
        assert np.allclose(r.data, a.astype(np.float64))
        assert np.allclose(r.lat[0], lat0) and np.allclose(r.lon[0], lon0)

    check()


def test_ingest_geotiff_pipeline_e2e(spark, tmp_path):
    """Per-day GeoTIFFs → distributed ingest → the UNCHANGED climate
    pipeline (grid-snap enrich + daily agg), values compared against a
    direct in-memory recomputation from the same rasters."""
    from amazon_climate_data_etl_spark.sources.ingest import (
        _geotiff_date,
        decode_geotiff_long,
        ingest_geotiff_to_parquet,
    )

    rng = np.random.default_rng(11)
    days = [datetime.date(2001, 1, d) for d in (1, 2, 3)]
    # both file-name date forms: YYYY-MM-DD and YYYYMMDD
    names = {
        day: f"tmax_{day.isoformat() if i else day.strftime('%Y%m%d')}.tif"
        for i, day in enumerate(days)
    }
    with pytest.raises(ValueError, match="carries no"):
        _geotiff_date("/data/tmax.tif")
    rasters = {}
    d = tmp_path / "tifs"
    d.mkdir()
    for i, day in enumerate(days):
        a = rng.normal(28.0, 3.0, (6, 8)).astype("f4")
        a[0, 0] = -999.0  # nodata cell must drop out as NaN
        rasters[day] = a
        (d / names[day]).write_bytes(
            write_geotiff(
                a, lat0=-2.0, lon0=-62.0, scale=0.25, nodata=-999.0,
                compress=True, rows_per_strip=2,
                bigtiff=(i == 1),  # mixed classic/BigTIFF days: per-file
                                   # magic dispatch inside the same glob
            )
        )
    out = str(tmp_path / "grid_parquet")
    bounds = {"lat_min": -3.5, "lat_max": -2.0, "lon_min": -62.0, "lon_max": -60.5}
    ingest_geotiff_to_parquet(spark, str(d / "*.tif"), out, "tmax", bounds)
    got = spark.read.parquet(out).orderBy("date", "lat", "lon").toPandas()

    import pandas as pd

    want = pd.concat(
        [
            decode_geotiff_long((d / names[day]).read_bytes(), "tmax", day, bounds)
            for day in days
        ]
    ).sort_values(["date", "lat", "lon"])
    assert len(got) == len(want) > 0
    assert np.allclose(
        got["value"].to_numpy(), want["value"].to_numpy(), equal_nan=True
    )
    assert got["lat"].min() >= -3.5 and got["lon"].max() <= -60.5
    assert np.isnan(
        got[(got.lat == -2.0) & (got.lon == -62.0)]["value"].to_numpy()
    ).all()
    assert sorted(got["date"].unique()) == days
    # year partition column materialized for pruning
    assert "year=2001" in ",".join(
        str(p) for p in (tmp_path / "grid_parquet").iterdir()
    )


def test_lzw_hand_packed_stream():
    """Absolute convention pin, independent of the encoder: a hand-packed
    MSB-first 9-bit stream CLEAR(256) 'A'(65) 'B'(66) EOI(257) is exactly
    80 10 48 50 10 and must decode to b"AB"."""
    from amazon_climate_data_etl_spark.sources.geotiff_min import lzw_decode

    assert lzw_decode(bytes([0x80, 0x10, 0x48, 0x50, 0x10])) == b"AB"


def test_lzw_roundtrip_across_width_boundaries():
    """The 9->10->11->12-bit early-change boundaries and the 4094-entry
    re-clear, all crossed: incompressible bytes force one table add per
    code, so 200k bytes sweep every width and several clears."""
    from amazon_climate_data_etl_spark.sources.geotiff_min import (
        lzw_decode,
        lzw_encode,
    )

    rng = np.random.default_rng(5)
    for data in (
        b"",
        b"a",
        b"TOBEORNOTTOBEORTOBEORNOT" * 500,
        bytes(rng.integers(0, 256, 200_000, dtype=np.uint8)),
        bytes(rng.integers(0, 4, 50_000, dtype=np.uint8)),
    ):
        assert lzw_decode(lzw_encode(data)) == data


def test_lzw_corrupt_streams_fail_cleanly():
    from amazon_climate_data_etl_spark.sources.geotiff_min import lzw_decode

    with pytest.raises(ValueError, match="start with clear"):
        lzw_decode(bytes([0x20, 0x80, 0x00]))  # data code before any clear
    # code far beyond the table: CLEAR, 'A', then code 400 (unassigned)
    bits = "100000000" + "001000001" + "110010000"
    bits += "0" * (-len(bits) % 8)  # right-pad: MSB-first byte packing
    raw = int(bits, 2).to_bytes(len(bits) // 8, "big")
    with pytest.raises(ValueError, match="beyond table"):
        lzw_decode(raw)


def test_packbits_spec_example():
    """The worked example from TIFF 6.0 §9 decodes to its published
    expansion (absolute pin, independent of the encoder)."""
    from amazon_climate_data_etl_spark.sources.geotiff_min import (
        packbits_decode,
        packbits_encode,
    )

    enc = bytes(
        [0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03, 0x80, 0x00,
         0x2A, 0x22, 0xF7, 0xAA]
    )
    want = bytes(
        [0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA, 0xAA, 0xAA, 0x80,
         0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA,
         0xAA, 0xAA]
    )
    assert packbits_decode(enc) == want
    assert packbits_decode(packbits_encode(want)) == want
    # -128 is a no-op byte
    assert packbits_decode(bytes([0x80, 0x00, 0x41])) == b"A"


def test_packbits_roundtrip_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_climate_data_etl_spark.sources.geotiff_min import (
        packbits_decode,
        packbits_encode,
    )

    @settings(max_examples=200, deadline=None)
    @given(data=st.binary(min_size=0, max_size=2000))
    def rt(data):
        assert packbits_decode(packbits_encode(data)) == data

    rt()


def test_codec_junk_inputs_fail_cleanly():
    """Arbitrary bytes through the block codecs must raise cleanly or
    decode — never hang or escape with an unexpected exception type."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_climate_data_etl_spark.sources.geotiff_min import (
        lzw_decode,
        packbits_decode,
    )

    @settings(max_examples=150, deadline=None)
    @given(junk=st.binary(min_size=0, max_size=300))
    def rt(junk):
        try:
            lzw_decode(junk)
        except ValueError:
            pass
        packbits_decode(junk)  # PackBits decodes anything, by design

    rt()
