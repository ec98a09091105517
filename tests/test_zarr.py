"""Zarr v2 codec + distributed ingest boundary.

Codec-level: writer↔reader roundtrips across dtypes/chunkings/compressors/
separators, sparse (missing-chunk) reads, fail-loud gates on the
unsupported corners, and a hypothesis fuzz roundtrip. Ingest-level: the
chunk-parallel Spark boundary against a store built by OUR writer, value-
compared cell-by-cell to the source cube, plus a cross-format twin — the
SAME cube ingested via the classic-NetCDF and the GeoTIFF boundaries must
produce the IDENTICAL relational frame (independent decode stacks
agreeing is the strongest certification any of them has)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from conftest import tasks_per_year
from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_climate_data_etl_spark.sources.zarr_min import (
    chunk_slices,
    open_group_array_meta,
    parse_zarray,
    read_zarr_array,
    read_zattrs,
    write_zarr_array,
    write_zarr_group,
)

# --- codec roundtrips -------------------------------------------------------


@pytest.mark.parametrize("dtype", ["<f8", "<f4", "<i4", "<i2", "|u1"])
def test_roundtrip_dtypes(tmp_path, dtype):
    rng = np.random.default_rng(7)
    arr = (rng.uniform(0, 100, (7, 5)) ).astype(np.dtype(dtype))
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, chunks=(3, 4))
    np.testing.assert_array_equal(read_zarr_array(p), arr)


@pytest.mark.parametrize("compressor", [None, "zlib", "gzip", "blosc"])
def test_roundtrip_compressors(tmp_path, compressor):
    arr = np.arange(60, dtype="<f8").reshape(3, 4, 5)
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, chunks=(2, 3, 2), compressor=compressor)
    np.testing.assert_array_equal(read_zarr_array(p), arr)


def test_v2_blosc_snappy_store_reads(tmp_path):
    """A hand-built v2 store whose chunks are blosc-snappy containers
    (pyarrow's snappy as the reference block writer — the wire bytes
    numcodecs Blosc(cname='snappy', shuffle=SHUFFLE) emits) reads back
    bit-exact through the normal read path."""
    import json
    import struct

    import pyarrow as pa

    from amazon_climate_data_etl_spark.sources import blosc_min as B

    arr = np.linspace(-3, 3, 8).astype("<f4")
    p = tmp_path / "a"
    p.mkdir()
    (p / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2, "shape": [8], "chunks": [4],
                "dtype": "<f4", "fill_value": 0.0, "order": "C",
                "filters": None,
                "compressor": {"id": "blosc", "cname": "snappy",
                               "clevel": 5, "shuffle": 1},
            }
        )
    )
    for k in (0, 1):
        raw = arr[4 * k : 4 * k + 4].tobytes()
        comp = pa.compress(B.shuffle(raw, 4), codec="snappy", asbytes=True)
        payload = struct.pack("<i", len(comp)) + comp
        buf = (
            struct.pack(
                "<BBBBiii", 2, 1,
                (B._CODEC_SNAPPY << 5) | B._FLAG_SHUFFLE | B._FLAG_DONT_SPLIT,
                4, len(raw), len(raw), 16 + 4 + len(payload),
            )
            + struct.pack("<i", 20)
            + payload
        )
        (p / str(k)).write_bytes(buf)
    np.testing.assert_array_equal(read_zarr_array(str(p)), arr)


def test_v2_bare_lz4_store_reads(tmp_path):
    """A hand-built v2 store whose compressor is bare numcodecs LZ4
    (LE32 uncompressed-size prefix + one raw block) reads back bit-exact;
    pyarrow's lz4_raw codec writes the reference blocks."""
    import json

    import pyarrow as pa

    arr = np.arange(64, dtype="<i8") % 7
    p = tmp_path / "a"
    p.mkdir()
    (p / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2, "shape": [64], "chunks": [32],
                "dtype": "<i8", "fill_value": 0, "order": "C",
                "filters": None,
                "compressor": {"id": "lz4", "acceleration": 1},
            }
        )
    )
    for k in (0, 1):
        raw = arr[32 * k : 32 * k + 32].tobytes()
        block = pa.compress(raw, codec="lz4_raw", asbytes=True)
        (p / str(k)).write_bytes(len(raw).to_bytes(4, "little") + block)
    np.testing.assert_array_equal(read_zarr_array(str(p)), arr)
    # a size prefix that exceeds its block: the block holds 31 elements,
    # the prefix claims the full 32-element chunk, so a decoder that pads
    # up to the prefix would pass the chunk-length check with garbage
    raw = arr[32:63].tobytes()
    block = pa.compress(raw, codec="lz4_raw", asbytes=True)
    (p / "1").write_bytes((len(raw) + 8).to_bytes(4, "little") + block)
    with pytest.raises(ValueError, match="(?i)lz4"):
        read_zarr_array(str(p))


def test_roundtrip_slash_separator(tmp_path):
    arr = np.arange(24, dtype="<i4").reshape(4, 6)
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, chunks=(3, 2), separator="/")
    assert (tmp_path / "a" / "0" / "1").exists()  # nested chunk keys
    np.testing.assert_array_equal(read_zarr_array(p), arr)


def test_roundtrip_1d_and_exact_chunk_fit(tmp_path):
    arr = np.linspace(-5, 5, 12)
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, chunks=(4,))  # 12 % 4 == 0: no edge trim
    np.testing.assert_array_equal(read_zarr_array(p), arr)


def test_missing_chunk_reads_fill_value(tmp_path):
    arr = np.ones((4, 4), dtype="<f8")
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, chunks=(2, 2), fill_value=-9.5)
    (tmp_path / "a" / "1.0").unlink()  # sparse store: drop one chunk
    out = read_zarr_array(p)
    np.testing.assert_array_equal(out[:2, :2], 1.0)
    np.testing.assert_array_equal(out[2:, :2], -9.5)
    np.testing.assert_array_equal(out[:, 2:], 1.0)


def test_nan_fill_value_json_roundtrip(tmp_path):
    arr = np.full((2, 2), 3.0)
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, chunks=(1, 2), fill_value=float("nan"))
    (tmp_path / "a" / "1.0").unlink()
    out = read_zarr_array(p)
    assert np.isnan(out[1]).all() and (out[0] == 3.0).all()


def test_edge_chunks_stored_full_size(tmp_path):
    """Spec rule: edge chunks are padded to full chunk shape on disk."""
    arr = np.arange(10, dtype="|u1").reshape(2, 5)
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, chunks=(2, 4), compressor=None)
    assert (tmp_path / "a" / "0.1").stat().st_size == 8  # 2x4, not 2x1
    np.testing.assert_array_equal(read_zarr_array(p), arr)


# --- gates ------------------------------------------------------------------


def _meta(**over):
    base = {
        "zarr_format": 2, "shape": [4], "chunks": [2], "dtype": "<f8",
        "fill_value": 0, "order": "C", "filters": None, "compressor": None,
    }
    base.update(over)
    import json

    return json.dumps(base).encode()


@pytest.mark.parametrize(
    "over",
    [
        {"zarr_format": 3},
        # order="F" and delta/shuffle filter chains are supported; vlen
        # filters and unknown ids still gate
        {"filters": [{"id": "vlen-utf8"}]},
        # snappy is supported; blosclz stays gated (blosc's own codec, no
        # in-container reference to validate against)
        {"compressor": {"id": "blosc", "cname": "blosclz"}},
        {"compressor": {"id": "blosc", "cname": "lz4", "shuffle": 2}},
        {"compressor": {"id": "lzma"}},
        {"dtype": "|S8"},
        {"dtype": "<U4"},
        {"dimension_separator": "-"},
        {"fill_value": "0x7fc00000"},
    ],
)
def test_unsupported_corners_fail_loudly(over):
    with pytest.raises(NotImplementedError):
        parse_zarray(_meta(**over))


def test_missing_chunk_with_null_fill_gates(tmp_path):
    arr = np.ones((4,), dtype="<f8")
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, chunks=(2,), fill_value=None)
    (tmp_path / "a" / "1").unlink()
    with pytest.raises(NotImplementedError):
        read_zarr_array(p)


def test_chunk_key_rank_mismatch():
    meta = parse_zarray(_meta(shape=[4, 4], chunks=[2, 2]))
    with pytest.raises(ValueError):
        chunk_slices(meta, "1.0.0")


# --- fuzz -------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    ndim=st.integers(1, 3),
    data=st.data(),
    compressor=st.sampled_from([None, "zlib", "gzip", "blosc"]),
    separator=st.sampled_from([".", "/"]),
)
def test_fuzz_roundtrip(tmp_path_factory, ndim, data, compressor, separator):
    shape = tuple(data.draw(st.integers(1, 9)) for _ in range(ndim))
    chunks = tuple(data.draw(st.integers(1, 9)) for _ in range(ndim))
    seed = data.draw(st.integers(0, 2**31))
    arr = np.random.default_rng(seed).normal(size=shape)
    p = str(tmp_path_factory.mktemp("z") / "a")
    write_zarr_array(p, arr, chunks=chunks, compressor=compressor, separator=separator)
    np.testing.assert_array_equal(read_zarr_array(p), arr)


# --- group + attrs ----------------------------------------------------------


def test_group_roundtrip_with_attrs(tmp_path):
    p = str(tmp_path / "g")
    t = np.arange(3, dtype="<f8")
    v = np.arange(12, dtype="<f8").reshape(3, 2, 2)
    write_zarr_group(
        p,
        {
            "time": (t, {"units": "days since 2001-01-01", "calendar": "standard"}),
            "tmax": (v, {"_ARRAY_DIMENSIONS": ["time", "lat", "lon"]}, (2, 2, 1)),
        },
    )
    assert (tmp_path / "g" / ".zgroup").exists()
    np.testing.assert_array_equal(read_zarr_array(p + "/time"), t)
    np.testing.assert_array_equal(read_zarr_array(p + "/tmax"), v)
    meta, attrs = open_group_array_meta(p, "tmax")
    assert attrs["_ARRAY_DIMENSIONS"] == ["time", "lat", "lon"]
    assert meta.chunks == (2, 2, 1)
    assert read_zattrs(p + "/time")["units"].startswith("days since")


# --- distributed ingest boundary -------------------------------------------


def _climate_store(path, nt=6, nlat=5, nlon=4, separator=".",
                   calendar="standard", compressor="zlib",
                   start=dt.date(2001, 2, 27), lon_max=-60.0):
    """A small but structurally real climate store: descending latitudes
    (north-up), CF day offsets from ``start``, chunked so the variable
    spans MULTIPLE chunk objects along every axis (incl. partial edge
    chunks)."""
    rng = np.random.default_rng(11)
    lat = np.linspace(2.0, -6.0, nlat)  # descending, crosses the equator
    lon = np.linspace(-73.0, lon_max, nlon)
    tvals = np.arange(nt, dtype="<f8")
    cube = np.round(rng.uniform(15, 35, (nt, nlat, nlon)), 2)
    write_zarr_group(
        str(path),
        {
            "time": (
                tvals,
                {
                    "units": f"days since {start.isoformat()}",
                    "calendar": calendar,
                    "_ARRAY_DIMENSIONS": ["time"],
                },
            ),
            "lat": (lat, {"_ARRAY_DIMENSIONS": ["lat"]}),
            "lon": (lon, {"_ARRAY_DIMENSIONS": ["lon"]}),
            "tmax": (
                cube,
                {"_ARRAY_DIMENSIONS": ["time", "lat", "lon"]},
                (4, 2, 3),
            ),
        },
        separator=separator,
        compressor=compressor,
    )
    dates = [start + dt.timedelta(days=int(d)) for d in tvals]
    return cube, dates, lat, lon


def _expected_long(cube, dates, lat, lon, bounds=None):
    rows = {}
    for ti, d in enumerate(dates):
        for yi, la in enumerate(lat):
            for xi, lo in enumerate(lon):
                if bounds is not None and not (
                    bounds["lat_min"] <= la <= bounds["lat_max"]
                    and bounds["lon_min"] <= lo <= bounds["lon_max"]
                ):
                    continue
                rows[(d, round(float(la), 9), round(float(lo), 9))] = float(
                    cube[ti, yi, xi]
                )
    return rows


def _ingested_rows(spark, out):
    got = {}
    for r in spark.read.parquet(out).collect():
        got[(r.date, round(r.lat, 9), round(r.lon, 9))] = r.value
    return got


@pytest.mark.parametrize(
    "separator,compressor", [(".", "zlib"), ("/", "zlib"), (".", "blosc")]
)
def test_ingest_zarr_chunk_parallel(spark, tmp_path, separator, compressor):
    from amazon_climate_data_etl_spark.sources.ingest import ingest_zarr_to_parquet

    store = tmp_path / "store.zarr"
    cube, dates, lat, lon = _climate_store(
        store, separator=separator, compressor=compressor
    )
    out = str(tmp_path / "grid")
    ingest_zarr_to_parquet(spark, str(store), out, "tmax")
    got = _ingested_rows(spark, out)
    exp = _expected_long(cube, dates, lat, lon)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, abs=0, rel=0), k
    # year partitioning actually materialized
    assert any("year=2001" in str(p) for p in (tmp_path / "grid").iterdir())


def test_ingest_zarr_bounds_clip(spark, tmp_path):
    from amazon_climate_data_etl_spark.sources.ingest import ingest_zarr_to_parquet

    store = tmp_path / "store.zarr"
    cube, dates, lat, lon = _climate_store(store)
    bounds = {"lat_min": -4.0, "lat_max": 1.0, "lon_min": -70.0, "lon_max": -62.0}
    out = str(tmp_path / "grid")
    ingest_zarr_to_parquet(spark, str(store), out, "tmax", bounds=bounds)
    got = _ingested_rows(spark, out)
    exp = _expected_long(cube, dates, lat, lon, bounds)
    assert got == {k: pytest.approx(v) for k, v in exp.items()}
    assert 0 < len(got) < len(dates) * len(lat) * len(lon)


def test_ingest_zarr_sparse_chunks_drop_rows(spark, tmp_path):
    """Missing chunk objects (fill-value-only regions) contribute no rows."""
    from amazon_climate_data_etl_spark.sources.ingest import ingest_zarr_to_parquet

    store = tmp_path / "store.zarr"
    cube, dates, lat, lon = _climate_store(store)
    (store / "tmax" / "0.0.0").unlink()
    out = str(tmp_path / "grid")
    ingest_zarr_to_parquet(spark, str(store), out, "tmax")
    got = _ingested_rows(spark, out)
    exp = _expected_long(cube, dates, lat, lon)
    dropped = set(exp) - set(got)
    # chunk (0,0,0) covers t 0-3, lat rows 0-1, lon cols 0-2
    assert dropped == {
        k
        for k in exp
        if k[0] in dates[:4] and k[1] in {round(float(v), 9) for v in lat[:2]}
        and k[2] in {round(float(v), 9) for v in lon[:3]}
    }


def test_ingest_zarr_calendar_gate(spark, tmp_path):
    from amazon_climate_data_etl_spark.sources.ingest import ingest_zarr_to_parquet

    store = tmp_path / "store.zarr"
    _climate_store(store, calendar="noleap")
    with pytest.raises(NotImplementedError, match="calendar"):
        ingest_zarr_to_parquet(spark, str(store), str(tmp_path / "g"), "tmax")


def test_ingest_zarr_matches_netcdf_twin(spark, tmp_path):
    """Cross-format certification: the SAME cube through the Zarr, the
    classic-NetCDF and the GeoTIFF (one raster per day) boundaries must
    produce identical relational frames — three independent decode stacks
    agreeing end-to-end. The days run across a year end, and the two
    ingests that run one task per chunk or per day write, in each year,
    one parquet file per task that decoded rows of that year."""
    from amazon_climate_data_etl_spark.sources.geotiff_min import write_geotiff
    from amazon_climate_data_etl_spark.sources.ingest import (
        ingest_geotiff_to_parquet,
        ingest_netcdf_to_parquet,
        ingest_zarr_to_parquet,
    )
    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile,
        NcVar,
        write_classic,
    )

    store = tmp_path / "store.zarr"
    # lon step 2° like the lat step, so the cube is also a square-pixel raster
    start = dt.date(2001, 12, 29)
    cube, dates, lat, lon = _climate_store(store, start=start, lon_max=-67.0)
    nc = NcFile(
        dims={"time": len(dates), "lat": len(lat), "lon": len(lon)},
        variables={
            "time": NcVar(
                "time", ("time",),
                np.arange(len(dates), dtype="<f8"),
                {"units": f"days since {start.isoformat()}", "calendar": "standard"},
            ),
            "lat": NcVar("lat", ("lat",), lat, {}),
            "lon": NcVar("lon", ("lon",), lon, {}),
            "tmax": NcVar("tmax", ("time", "lat", "lon"), cube, {}),
        },
    )
    ncp = tmp_path / "cube.nc"
    ncp.write_bytes(write_classic(nc))
    tifs = tmp_path / "tifs"
    tifs.mkdir()
    for day, grid in zip(dates, cube):
        (tifs / f"tmax_{day.isoformat()}.tif").write_bytes(
            write_geotiff(grid, lat0=lat[0], lon0=lon[0], scale=2.0)
        )
    out_z, out_n, out_g = (tmp_path / "gz"), (tmp_path / "gn"), (tmp_path / "gg")
    ingest_zarr_to_parquet(spark, str(store), str(out_z), "tmax")
    ingest_netcdf_to_parquet(spark, str(ncp), str(out_n), "tmax")
    ingest_geotiff_to_parquet(spark, str(tifs / "*.tif"), str(out_g), "tmax")
    zarr_rows = _ingested_rows(spark, str(out_z))
    assert len(zarr_rows) == cube.size
    assert zarr_rows == _ingested_rows(spark, str(out_n))
    assert zarr_rows == _ingested_rows(spark, str(out_g))

    def chunk_years(path):
        # a chunk key's first index is its time chunk, of 4 days
        t = int(path.rsplit("/", 1)[-1].split(".")[0])
        return {d.year for d in dates[4 * t : 4 * t + 4]}

    def tif_years(path):
        return {int(path.rsplit("tmax_", 1)[1][:4])}

    chunks = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "{c.*,[0-9]*}")
        .option("recursiveFileLookup", "true")
        .load(str(store / "tmax"))
    )
    tif_files = spark.read.format("binaryFile").load(str(tifs / "*.tif"))
    for out, raw, years_of in (
        (out_z, chunks, chunk_years),
        (out_g, tif_files, tif_years),
    ):
        files = {d.name: len(list(d.glob("*.parquet"))) for d in out.glob("year=*")}
        assert sorted(files) == ["year=2001", "year=2002"]
        assert files == tasks_per_year(raw, years_of), files


# --- Zarr v3 ----------------------------------------------------------------


def _v3_meta(**over):
    import json

    base = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": [4],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        "attributes": {},
    }
    base.update(over)
    return json.dumps(base).encode()


@pytest.mark.parametrize("dtype", ["<f8", "<f4", "<i4", "<i2", "|u1"])
@pytest.mark.parametrize("compress", [False, True])
def test_v3_roundtrip_dtypes(tmp_path, dtype, compress):
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_array

    rng = np.random.default_rng(7)
    arr = rng.uniform(0, 100, (7, 5)).astype(np.dtype(dtype))
    p = str(tmp_path / "a")
    write_zarr_v3_array(p, arr, chunks=(3, 4), compress=compress)
    np.testing.assert_array_equal(read_zarr_array(p), arr)


@pytest.mark.parametrize("separator", ["/", "."])
def test_v3_roundtrip_separators(tmp_path, separator):
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_array

    arr = np.arange(24, dtype="<f8").reshape(4, 6)
    p = str(tmp_path / "a")
    write_zarr_v3_array(p, arr, chunks=(2, 4), separator=separator)
    # '/' nests chunk dirs under the c prefix; '.' stores flat c.i.j files
    import os

    names = sorted(os.listdir(p))
    if separator == "/":
        assert "c" in names
    else:
        assert any(n.startswith("c.") for n in names)
    np.testing.assert_array_equal(read_zarr_array(p), arr)


def test_v3_missing_chunk_reads_fill(tmp_path):
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_array

    arr = np.ones((4,), dtype="<f8")
    p = tmp_path / "a"
    write_zarr_v3_array(str(p), arr, chunks=(2,), fill_value=-5.0)
    (p / "c" / "1").unlink()
    got = read_zarr_array(str(p))
    np.testing.assert_array_equal(got, np.array([1.0, 1.0, -5.0, -5.0]))


def test_v3_nan_fill_json_roundtrip(tmp_path):
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_array

    arr = np.full((3,), 2.5, dtype="<f8")
    p = tmp_path / "a"
    write_zarr_v3_array(str(p), arr, chunks=(2,), fill_value=float("nan"))
    (p / "c" / "1").unlink()
    got = read_zarr_array(str(p))
    assert got[0] == 2.5 and np.isnan(got[2])


@pytest.mark.parametrize(
    "over",
    [
        {"zarr_format": 2},
        {"chunk_grid": {"name": "rectilinear", "configuration": {}}},
        {"chunk_key_encoding": {"name": "morton"}},
        {"codecs": []},
        {"codecs": [{"name": "gzip"}]},  # missing the bytes codec
        {"codecs": [{"name": "bytes"}, {"name": "bz2"}]},
        # configless blosc defaults to cname=zstd and is supported, as is
        # snappy; blosclz remains gated
        {"codecs": [{"name": "bytes"},
                    {"name": "blosc", "configuration": {"cname": "blosclz"}}]},
        {"codecs": [{"name": "transpose"}, {"name": "bytes"}]},
        # sharding corners: bad index location / index codecs / inner chain
        {"codecs": [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [2],
            "codecs": [{"name": "bytes"}],
            "index_codecs": [{"name": "bytes"}, {"name": "crc32c"}],
            "index_location": "middle"}}]},
        {"codecs": [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [2],
            "codecs": [{"name": "bytes"}],
            "index_codecs": [{"name": "zstd"}]}}]},
        {"codecs": [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [2],
            "codecs": [{"name": "bytes"}, {"name": "bz2"}],
            "index_codecs": [{"name": "bytes"}, {"name": "crc32c"}]}}]},
        {"data_type": "complex64"},
        {"data_type": "r8"},
    ],
)
def test_v3_unsupported_corners_fail_loudly(over):
    from amazon_climate_data_etl_spark.sources.zarr_min import parse_zarr_json

    with pytest.raises(NotImplementedError):
        parse_zarr_json(_v3_meta(**over))


def test_v3_group_dimension_names_probe(tmp_path):
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_group

    p = str(tmp_path / "g")
    write_zarr_v3_group(
        p,
        {
            "time": (np.arange(4, dtype="<f8"),
                     {"attrs": {"units": "days since 2001-02-27",
                                "calendar": "standard"},
                      "dimension_names": ["time"]}),
            "tmax": (np.zeros((4, 2, 3), dtype="<f8"),
                     {"dimension_names": ["time", "lat", "lon"],
                      "chunks": (2, 2, 2)}),
        },
        attrs={"title": "v3 group"},
    )
    meta, attrs = open_group_array_meta(p, "tmax")
    # v3 dimension_names arrive through the same _ARRAY_DIMENSIONS dialect
    assert attrs["_ARRAY_DIMENSIONS"] == ["time", "lat", "lon"]
    assert meta.version == 3 and meta.chunks == (2, 2, 2)
    assert read_zattrs(p + "/time")["units"].startswith("days since")
    assert read_zattrs(p + "/time")["_ARRAY_DIMENSIONS"] == ["time"]


def _climate_store_v3(path, nt=6, nlat=5, nlon=4, separator="/",
                      compressor="gzip"):
    """The v3 twin of _climate_store: same cube, same descending-lat and
    CF-time structure, written as a v3 group with dimension_names."""
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_group

    rng = np.random.default_rng(11)
    lat = np.linspace(2.0, -6.0, nlat)
    lon = np.linspace(-73.0, -60.0, nlon)
    tvals = np.arange(nt, dtype="<f8")
    cube = np.round(rng.uniform(15, 35, (nt, nlat, nlon)), 2)
    write_zarr_v3_group(
        str(path),
        {
            "time": (tvals, {"attrs": {"units": "days since 2001-02-27",
                                       "calendar": "standard"},
                             "dimension_names": ["time"]}),
            "lat": (lat, {"dimension_names": ["lat"]}),
            "lon": (lon, {"dimension_names": ["lon"]}),
            "tmax": (cube, {"dimension_names": ["time", "lat", "lon"],
                            "chunks": (4, 2, 3)}),
        },
        separator=separator,
        compress="blosc" if compressor == "blosc" else True,
    )
    dates = [dt.date(2001, 2, 27) + dt.timedelta(days=int(d)) for d in tvals]
    return cube, dates, lat, lon


@pytest.mark.parametrize("separator", ["/", "."])
def test_ingest_zarr_v3_chunk_parallel(spark, tmp_path, separator):
    from amazon_climate_data_etl_spark.sources.ingest import ingest_zarr_to_parquet

    store = tmp_path / "store3.zarr"
    cube, dates, lat, lon = _climate_store_v3(store, separator=separator)
    out = str(tmp_path / "grid3")
    ingest_zarr_to_parquet(spark, str(store), out, "tmax")
    got = _ingested_rows(spark, out)
    exp = _expected_long(cube, dates, lat, lon)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, abs=0, rel=0), k


def test_ingest_zarr_v2_v3_cross_version_twin(spark, tmp_path):
    """The SAME cube written as a v2 store and a v3 store must ingest to
    the IDENTICAL relational frame — two metadata dialects, two chunk-key
    encodings, one decode contract."""
    from amazon_climate_data_etl_spark.sources.ingest import ingest_zarr_to_parquet

    s2, s3 = tmp_path / "v2.zarr", tmp_path / "v3.zarr"
    _climate_store(s2)           # rng(11) → same cube
    _climate_store_v3(s3)
    out2, out3 = str(tmp_path / "g2"), str(tmp_path / "g3")
    ingest_zarr_to_parquet(spark, str(s2), out2, "tmax")
    ingest_zarr_to_parquet(spark, str(s3), out3, "tmax")
    assert _ingested_rows(spark, out2) == _ingested_rows(spark, out3)

# --- Zarr v3 sharding_indexed codec -----------------------------------------


def test_crc32c_known_vectors():
    """The pure-Python CRC-32C against the RFC 3720 test vectors."""
    from amazon_climate_data_etl_spark.sources.zarr_min import crc32c

    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(bytes(32)) == 0x8A9136AA
    assert crc32c(bytes([0xFF]) * 32) == 0x62A8AB43


@pytest.mark.parametrize("compress", [False, True])
@pytest.mark.parametrize("index_location", ["end", "start"])
@pytest.mark.parametrize(
    "shape,chunks,shards",
    [
        ((12, 8), (2, 2), (4, 4)),
        ((10, 7), (3, 2), (6, 4)),  # edge shards clip against the shape
        ((30,), (5,), (10,)),
    ],
)
def test_v3_sharded_roundtrip(tmp_path, compress, index_location, shape,
                              chunks, shards):
    """sharding_indexed stores: inner chunks behind a crc32c-checked
    (offset, nbytes) index, start- or end-located, raw or gzip inner
    chain, edge shards included."""
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_array

    rng = np.random.default_rng(23)
    arr = rng.normal(0, 5, shape).astype("<f4")
    p = str(tmp_path / "a")
    write_zarr_v3_array(p, arr, chunks=chunks, shards=shards,
                        compress=compress, index_location=index_location,
                        fill_value=0.0)
    np.testing.assert_array_equal(read_zarr_array(p), arr)


def test_v3_shard_index_corruption_fails_loudly(tmp_path):
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_array

    p = tmp_path / "a"
    arr = np.arange(16, dtype="<i4").reshape(4, 4)
    write_zarr_v3_array(str(p), arr, chunks=(2, 2), shards=(4, 4),
                        compress=False)
    shard = p / "c" / "0" / "0"
    blob = bytearray(shard.read_bytes())
    blob[-1] ^= 0xFF  # flip a byte of the end-located index checksum
    shard.write_bytes(bytes(blob))
    with pytest.raises(ValueError, match="crc32c"):
        read_zarr_array(str(p))


def test_v3_sharded_missing_inner_chunk_reads_fill(tmp_path):
    """An all-ones offset/nbytes pair marks an unwritten inner chunk; the
    reader fills it — sparse writes inside a shard, per ZEP 2."""
    from amazon_climate_data_etl_spark.sources.zarr_min import (
        _SHARD_MISSING, crc32c, write_zarr_v3_array)

    p = tmp_path / "a"
    arr = np.arange(16, dtype="<i4").reshape(4, 4)
    write_zarr_v3_array(str(p), arr, chunks=(2, 2), shards=(4, 4),
                        compress=False, fill_value=-9)
    shard = p / "c" / "0" / "0"
    blob = bytearray(shard.read_bytes())
    # 4 inner chunks -> 68-byte end index; mark inner chunk (1, 1) missing
    idx = np.frombuffer(bytes(blob[-68:-4]), dtype="<u8").reshape(4, 2).copy()
    idx[3] = (_SHARD_MISSING, _SHARD_MISSING)
    body = idx.tobytes()
    blob[-68:] = body + crc32c(body).to_bytes(4, "little")
    shard.write_bytes(bytes(blob))
    got = read_zarr_array(str(p))
    exp = arr.copy()
    exp[2:, 2:] = -9
    np.testing.assert_array_equal(got, exp)


def test_v3_missing_whole_shard_reads_fill(tmp_path):
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_array

    p = tmp_path / "a"
    arr = np.ones((8,), dtype="<f8")
    write_zarr_v3_array(str(p), arr, chunks=(2,), shards=(4,),
                        fill_value=-5.0)
    (p / "c" / "1").unlink()
    got = read_zarr_array(str(p))
    np.testing.assert_array_equal(got, np.r_[np.ones(4), np.full(4, -5.0)])


def test_ingest_zarr_v3_sharded_chunk_parallel(spark, tmp_path):
    """The distributed ingest over a SHARDED v3 store: each task decodes
    one whole shard object (the chunk-parallel plan is unchanged — a
    shard is still one independently decodable object), and the result
    matches the unsharded twin row for row."""
    from amazon_climate_data_etl_spark.sources.ingest import ingest_zarr_to_parquet
    from amazon_climate_data_etl_spark.sources.zarr_min import write_zarr_v3_group

    rng = np.random.default_rng(11)
    nt, nlat, nlon = 6, 5, 4
    lat = np.linspace(2.0, -6.0, nlat)
    lon = np.linspace(-73.0, -60.0, nlon)
    tvals = np.arange(nt, dtype="<f8")
    cube = np.round(rng.uniform(15, 35, (nt, nlat, nlon)), 2)
    store = tmp_path / "sharded.zarr"
    write_zarr_v3_group(
        str(store),
        {
            "time": (tvals, {"attrs": {"units": "days since 2001-02-27",
                                       "calendar": "standard"},
                             "dimension_names": ["time"]}),
            "lat": (lat, {"dimension_names": ["lat"]}),
            "lon": (lon, {"dimension_names": ["lon"]}),
            "tmax": (cube, {"dimension_names": ["time", "lat", "lon"],
                            "chunks": (2, 1, 2), "shards": (4, 2, 4)}),
        },
    )
    out = str(tmp_path / "grid_sharded")
    ingest_zarr_to_parquet(spark, str(store), out, "tmax")
    got = _ingested_rows(spark, out)
    dates = [dt.date(2001, 2, 27) + dt.timedelta(days=int(d)) for d in tvals]
    exp = _expected_long(cube, dates, lat, lon)
    assert got == exp


# --- v2 F-order + filter chains ---------------------------------------------


def test_v2_f_order_store_roundtrip(tmp_path):
    """order="F" stores (xarray writes these for transposed data): the
    chunk byte stream walks Fortran-style. numpy itself is the reference
    for F-order semantics — the hand-check below never touches the
    writer."""
    arr = np.arange(24, dtype="<i4").reshape(4, 6)
    p = str(tmp_path / "forder")
    write_zarr_array(p, arr, chunks=(2, 3), order="F")
    np.testing.assert_array_equal(read_zarr_array(p), arr)
    # hand-check one chunk object against numpy's own F-order bytes
    import zlib as _z

    chunk0 = _z.decompress((tmp_path / "forder" / "0.0").read_bytes())
    assert chunk0 == np.ascontiguousarray(arr[:2, :3]).tobytes(order="F")


def test_v2_delta_filter_roundtrip_and_hand_vector(tmp_path):
    arr = np.arange(100, dtype="<i8") * 3 + 7
    p = str(tmp_path / "delta")
    write_zarr_array(
        p, arr, chunks=(100,), compressor=None,
        filters=[{"id": "delta", "dtype": "<i8"}],
    )
    np.testing.assert_array_equal(read_zarr_array(p), arr)
    # the stored chunk must literally be first-value + differences
    raw = np.frombuffer((tmp_path / "delta" / "0").read_bytes(), dtype="<i8")
    assert raw[0] == 7 and (raw[1:] == 3).all()


def test_v2_delta_filter_narrow_astype(tmp_path):
    # differences stored narrower than the data (the numcodecs Delta
    # contract: first value AND every delta must fit astype; the decode
    # cumsum runs in the wide output dtype)
    arr = np.array([100, 227, 100, 21], dtype="<i8")  # deltas 127,-127,-79
    p = str(tmp_path / "deltaw")
    write_zarr_array(
        p, arr, chunks=(4,), compressor=None,
        filters=[{"id": "delta", "dtype": "<i8", "astype": "<i1"}],
    )
    np.testing.assert_array_equal(read_zarr_array(p), arr)
    # the stored chunk really is 1 byte per element
    assert (tmp_path / "deltaw" / "0").stat().st_size == 4


def test_v2_shuffle_filter_with_compressor(tmp_path):
    arr = np.linspace(0, 1, 60, dtype="<f8").reshape(6, 10)
    p = str(tmp_path / "shuf")
    write_zarr_array(
        p, arr, chunks=(3, 5), compressor="zlib",
        filters=[{"id": "shuffle", "elementsize": 8}],
    )
    np.testing.assert_array_equal(read_zarr_array(p), arr)


def test_v2_filter_chain_delta_then_shuffle(tmp_path):
    arr = (np.arange(48, dtype="<i4") ** 2).reshape(8, 6)
    p = str(tmp_path / "chain")
    write_zarr_array(
        p, arr, chunks=(4, 3), compressor="zlib", order="F",
        filters=[{"id": "delta", "dtype": "<i4"},
                 {"id": "shuffle", "elementsize": 4}],
    )
    np.testing.assert_array_equal(read_zarr_array(p), arr)


def test_v2_delta_without_dtype_rejected():
    with pytest.raises(ValueError, match="delta filter requires dtype"):
        parse_zarray(_meta(filters=[{"id": "delta"}]))


def test_v2_float_delta_roundtrip(tmp_path):
    # float deltas are lossy in general but the cumsum decode is the
    # exact inverse for values whose differences are representable;
    # numcodecs applies it to regularly-gridded coordinates
    arr = np.arange(0, 16, 0.25, dtype="<f8")
    p = str(tmp_path / "fdelta")
    write_zarr_array(
        p, arr, chunks=(64,), compressor=None,
        filters=[{"id": "delta", "dtype": "<f8"}],
    )
    np.testing.assert_array_equal(read_zarr_array(p), arr)
