"""Ingest boundary: the one grid writer (binaryFile → mapInPandas →
year-partitioned parquet, S1), the dependency-free NetCDF decode path
(renamed dims, descending latitude, bbox clip, packing, record layouts)
end to end through Spark, plus the long→wide pivot (J2)."""

from __future__ import annotations

from datetime import date, timedelta

import pandas as pd
import pytest
from conftest import jobs_started, tasks_per_year
from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amazon_climate_data_etl_spark.sources.ingest import (
    GRID_DAILY_SCHEMA,
    GRID_VARIABLES,
    _ingest_files,
    pivot_grid_wide,
    probe_coord_dims,
    probe_time_dim,
)


def _fake_decode(start: date, fail_on: str | None = None):
    """A decode that derives deterministic rows from the file size instead
    of NetCDF bytes: one day per byte from ``start``, and a NaN in the
    first row's ``value``. A file whose name ends in ``fail_on`` raises.
    Nested so cloudpickle ships it by value (test modules aren't
    importable from Python workers)."""

    def decode(row) -> pd.DataFrame:
        if fail_on is not None and str(row.path).endswith(fail_on):
            raise ValueError(f"undecodable {fail_on}")
        n = int(row.length)
        return pd.DataFrame(
            {
                "date": [start + timedelta(days=i) for i in range(n)],
                "lat": [-10.0 + 0.25 * (i % 4) for i in range(n)],
                "lon": [-65.0 + 0.25 * (i % 4) for i in range(n)],
                "var": ["Tmax"] * n,
                "value": [float("nan")] + [28.0 + (i % 10) for i in range(1, n)],
            }
        )

    return decode


def _binary_inputs(spark, d, sizes):
    d.mkdir()
    for i, n in enumerate(sizes):
        (d / f"f{i}.nc").write_bytes(b"x" * n)
    return spark.read.format("binaryFile").load(str(d / "*.nc"))


def test_binaryfile_mapinpandas_plumbing(spark, tmp_path):
    """``_ingest_files``, the writer every grid ingest goes through, on a
    fake decode: one decode per binaryFile row, the grid schema plus an
    int year partition column, a NaN ``value`` read back as null, and in
    each year one parquet file per task that decoded rows of that year.
    Every file's days run across a year end."""
    raw = _binary_inputs(spark, tmp_path / "in", (8, 9, 10))
    out = tmp_path / "grid"
    written = _ingest_files(spark, raw, _fake_decode(date(2001, 12, 28)), str(out))
    grid = spark.read.parquet(str(out))
    assert grid.schema == T.StructType(
        [*GRID_DAILY_SCHEMA.fields, T.StructField("year", T.IntegerType())]
    )
    assert grid.count() == 8 + 9 + 10 == sum(n for _, n in written)
    assert grid.filter(F.col("value").isNull()).count() == 3
    assert grid.filter(F.isnan("value")).count() == 0
    files = {d.name: len(list(d.glob("*.parquet"))) for d in out.glob("year=*")}
    assert files == tasks_per_year(raw, lambda path: (2001, 2002))
    assert sum(files.values()) == len(written)
    assert sorted(p.name for p in out.iterdir()) == ["_SUCCESS", "year=2001", "year=2002"]


def test_ingest_failure_keeps_output_and_overwrite_replaces(spark, tmp_path):
    """A decode that raises on one of three files fails the call, leaves
    no parquet of that call and no staging directory; the next ingest into
    the same ``out_path`` replaces what is there, leaving only its own rows
    and ``_SUCCESS``. The failing call decodes its files in one task, in
    size order, so the two good files are staged before the third raises,
    and no task of the failed job is still writing when its staging
    directory is removed."""
    out = tmp_path / "grid"
    first = _binary_inputs(spark, tmp_path / "a", (3, 4))
    _ingest_files(spark, first, _fake_decode(date(2001, 1, 1)), str(out))
    kept = sorted(out.rglob("*.parquet"))
    assert kept

    raw = _binary_inputs(spark, tmp_path / "b", (5, 6, 7))
    raw = raw.repartition(1).sortWithinPartitions("length")
    with pytest.raises(PySparkException, match="undecodable f2.nc"):
        _ingest_files(spark, raw, _fake_decode(date(2001, 1, 1), "f2.nc"), str(out))
    assert sorted(out.rglob("*.parquet")) == kept
    assert not (out / "_temporary").exists()

    again = _binary_inputs(spark, tmp_path / "c", (2,))
    _ingest_files(spark, again, _fake_decode(date(2005, 6, 1)), str(out))
    assert sorted(p.name for p in out.iterdir()) == ["_SUCCESS", "year=2005"]
    back = spark.read.parquet(str(out)).orderBy("date").collect()
    assert [(str(r.date), r.year) for r in back] == [
        ("2005-06-01", 2005), ("2005-06-02", 2005),
    ]


def test_probe_coord_dims_variants():
    """Dim-name discovery must mirror the reference's probing
    (process_climate_amazon_annual.py:202-227): substring lon/lat matches,
    bare x/y axes, coords filling missing dims, longitude/latitude
    fallback."""
    assert probe_coord_dims(["time", "lat", "lon"]) == ("lon", "lat")
    assert probe_coord_dims(["time", "latitude", "longitude"]) == (
        "longitude", "latitude",
    )
    assert probe_coord_dims(["time", "y", "x"]) == ("x", "y")
    assert probe_coord_dims(["time", "Lat", "Lon"]) == ("Lon", "Lat")
    # dims carry nothing; coords carry the axes
    assert probe_coord_dims(["time", "cell"], ["longitude", "latitude"]) == (
        "longitude", "latitude",
    )
    # nothing recognizable anywhere → reference's default fallback
    assert probe_coord_dims(["time", "cell"], ["height"]) == ("lon", "lat")
    # 'longitude' present but only via the fallback scan (e.g. dims renamed
    # to something the loop skips) — matches the reference default branch
    assert probe_coord_dims(["time", "cell", "longitude", "latitude"]) == (
        "longitude", "latitude",
    )


def test_probe_time_dim():
    assert probe_time_dim(["time", "lat", "lon"]) == "time"
    assert probe_time_dim(["day", "latitude", "longitude"]) == "day"
    assert probe_time_dim(["x", "y", "t"]) == "t"


def _write_classic_fixture(path, var="Tmax", lat_name="latitude",
                           lon_name="longitude", time_name="time",
                           packed=False, time_units="days since 2001-01-01"):
    """A REAL classic-NetCDF file: descending latitude, CF time units,
    optionally int16-packed values with scale/offset + fill."""
    import numpy as np

    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile, NcVar, write_classic,
    )

    time = np.array([0.0, 1.0], dtype=np.float64)
    lat = np.array([5.0, 4.75, 4.5], dtype=np.float64)  # descending
    lon = np.array([-65.0, -64.75], dtype=np.float64)
    vals = (np.arange(12, dtype=np.float64).reshape(2, 3, 2) + 25.0)
    if packed:
        data = np.round((vals - 20.0) / 0.5).astype(np.int16)
        data[0, 0, 0] = 32767  # fill one cell
        attrs = {
            "scale_factor": np.float64(0.5),
            "add_offset": np.float64(20.0),
            "_FillValue": np.int16(32767),
        }
    else:
        data, attrs = vals, {"units": "degC"}
    nc = NcFile(
        dims={time_name: 2, lat_name: 3, lon_name: 2},
        variables={
            time_name: NcVar(time_name, (time_name,), time,
                             {"units": time_units}),
            lat_name: NcVar(lat_name, (lat_name,), lat),
            lon_name: NcVar(lon_name, (lon_name,), lon),
            var: NcVar(var, (time_name, lat_name, lon_name), data, attrs),
        },
    )
    path.write_bytes(write_classic(nc))
    return vals


def test_real_classic_netcdf_ingest_end_to_end(spark, tmp_path):
    """The REAL decode path, dependency-free: write a genuine classic
    NetCDF file (descending latitude, longitude/latitude dim names, a
    time axis named ``day``, CF time units), run the actual distributed
    ingest job (binaryFile → read_classic → normalize → partitioned
    parquet), and check the relationalized values."""
    import numpy as np

    from amazon_climate_data_etl_spark.sources.ingest import (
        ingest_netcdf_to_parquet,
    )

    vals = _write_classic_fixture(tmp_path / "tmax.nc", time_name="day")
    out = tmp_path / "out_parquet"
    ingest_netcdf_to_parquet(
        spark, str(tmp_path / "*.nc"), str(out), "Tmax"
    )
    back = spark.read.parquet(str(out))
    assert set(back.columns) == {"date", "lat", "lon", "var", "value", "year"}
    rows = back.collect()
    assert len(rows) == 12
    got = {(str(r["date"]), r["lat"], r["lon"]): r["value"] for r in rows}
    # spot-check corners against the written cube (time 0, lat 5.0, lon -65)
    assert got[("2001-01-01", 5.0, -65.0)] == vals[0, 0, 0]
    assert got[("2001-01-02", 4.5, -64.75)] == vals[1, 2, 1]
    assert all(r["var"] == "Tmax" for r in rows)


def test_netcdf_ingest_runs_one_job(spark, tmp_path):
    """One ingest call on one file is one Spark job: the decode task writes
    its year partitions itself, with no shuffle in front of the write. The
    file spans a new year, and each year still gets exactly one file."""
    from amazon_climate_data_etl_spark.sources.ingest import (
        ingest_netcdf_to_parquet,
    )

    _write_classic_fixture(tmp_path / "tmax.nc", time_units="days since 2000-12-31")
    out = tmp_path / "out_parquet"
    n = jobs_started(
        spark,
        lambda: ingest_netcdf_to_parquet(spark, str(tmp_path / "tmax.nc"), str(out), "Tmax"),
    )
    assert n == 1
    per_year = {p.name: len(list(p.glob("*.parquet"))) for p in out.glob("year=*")}
    assert per_year == {"year=2000": 1, "year=2001": 1}


def test_classic_cdf2_offset64_roundtrip():
    """The CDF-2 (64-bit offset) read branch, via the writer's offset64
    mode — real BR-DWGD-era files commonly use this variant."""
    import numpy as np

    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile, NcVar, read_classic, write_classic,
    )

    v = np.arange(6, dtype=np.float32).reshape(2, 3)
    nc = NcFile(
        dims={"y": 2, "x": 3},
        variables={"v": NcVar("v", ("y", "x"), v, {"units": "K"})},
    )
    buf = write_classic(nc, offset64=True)
    assert buf[:4] == b"CDF\x02"
    back = read_classic(buf)
    assert np.allclose(back.variables["v"].data, v)
    assert back.variables["v"].attrs["units"] == "K"


def test_classic_record_variable_layout():
    """Unlimited-dimension (record) layout: time-leading variables store
    interleaved per-record slabs — the layout real daily BR-DWGD-style
    files use. Roundtrip with TWO record variables (exercises the
    per-slab padding rule) plus fixed coordinate vars."""
    import numpy as np

    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile, NcVar, read_classic, write_classic,
    )

    lat = np.array([5.0, 4.75, 4.5])
    a = np.arange(9, dtype=np.float32).reshape(3, 3) + 1.0
    b = (np.arange(9, dtype=np.int16) * 3).reshape(3, 3)
    nc = NcFile(
        dims={"time": 3, "lat": 3},
        variables={
            "lat": NcVar("lat", ("lat",), lat),
            "time": NcVar("time", ("time",), np.arange(3, dtype=np.float64),
                          {"units": "days since 2001-01-01"}),
            "A": NcVar("A", ("time", "lat"), a),
            "B": NcVar("B", ("time", "lat"), b),
        },
    )
    buf = write_classic(nc, record_dim="time")
    back = read_classic(buf)
    assert back.dims == {"time": 3, "lat": 3}
    assert np.allclose(back.variables["A"].data, a)
    assert (back.variables["B"].data == b).all()
    assert np.allclose(back.variables["lat"].data, lat)
    # the time COORD itself is a record variable here too
    assert np.allclose(back.variables["time"].data, [0, 1, 2])
    # single-record-var layout (no padding special case): int16 slabs of
    # 6 bytes exercise the unpadded stride
    nc1 = NcFile(
        dims={"time": 4, "x": 3},
        variables={"only": NcVar("only", ("time", "x"),
                                 np.arange(12, dtype=np.int16).reshape(4, 3))},
    )
    back1 = read_classic(write_classic(nc1, record_dim="time"))
    assert (back1.variables["only"].data ==
            np.arange(12, dtype=np.int16).reshape(4, 3)).all()


def test_classic_record_layout_through_ingest(spark, tmp_path):
    """The real distributed ingest over a RECORD-layout file (unlimited
    time) must produce the same relational rows as the fixed layout."""
    import numpy as np

    from amazon_climate_data_etl_spark.sources.ingest import decode_classic_long
    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile, NcVar, write_classic,
    )

    time = np.array([0.0, 1.0])
    lat = np.array([5.0, 4.75])
    lon = np.array([-65.0])
    vals = np.arange(4, dtype=np.float64).reshape(2, 2, 1) + 30.0
    nc = NcFile(
        dims={"time": 2, "lat": 2, "lon": 1},
        variables={
            "time": NcVar("time", ("time",), time,
                          {"units": "days since 2001-01-01"}),
            "lat": NcVar("lat", ("lat",), lat),
            "lon": NcVar("lon", ("lon",), lon),
            "Tmax": NcVar("Tmax", ("time", "lat", "lon"), vals),
        },
    )
    fixed = decode_classic_long(write_classic(nc), "Tmax")
    record = decode_classic_long(write_classic(nc, record_dim="time"), "Tmax")
    pd.testing.assert_frame_equal(
        fixed.sort_values(["date", "lat"]).reset_index(drop=True),
        record.sort_values(["date", "lat"]).reset_index(drop=True),
    )


def test_classic_decode_packed_and_bounds():
    """scale/offset unpacking, fill→NaN, and bbox clipping on the
    dependency-free decoder (pure function, no Spark needed)."""
    import math

    import numpy as np

    from amazon_climate_data_etl_spark.sources.ingest import decode_classic_long
    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile, NcVar, write_classic,
    )

    import pathlib
    import tempfile
    tmp = pathlib.Path(tempfile.mkdtemp())
    vals = _write_classic_fixture(tmp / "p.nc", packed=True)
    content = (tmp / "p.nc").read_bytes()
    long = decode_classic_long(content, "Tmax")
    assert len(long) == 12
    filled = long[(long["lat"] == 5.0) & (long["lon"] == -65.0)]
    assert math.isnan(filled.iloc[0]["value"])  # _FillValue -> NaN
    other = long[(long["lat"] == 4.75) & (long["lon"] == -64.75)]
    assert other.iloc[0]["value"] == vals[0, 1, 1]  # unpacked exactly
    # bbox clip (descending latitude axis, mask-based: direction-agnostic)
    clipped = decode_classic_long(
        content, "Tmax",
        bounds={"lat_min": 4.6, "lat_max": 5.1, "lon_min": -64.9, "lon_max": -64.0},
    )
    assert set(clipped["lat"]) == {5.0, 4.75} and set(clipped["lon"]) == {-64.75}


def test_pivot_long_to_wide(spark):
    long = spark.createDataFrame(
        [
            (date(2001, 1, 1), -10.0, -65.0, "Tmax", 30.0),
            (date(2001, 1, 1), -10.0, -65.0, "Tmin", 20.0),
            (date(2001, 1, 2), -10.0, -65.0, "Tmax", 31.0),
        ],
        GRID_DAILY_SCHEMA,
    )
    wide = pivot_grid_wide(long).orderBy("date")
    rows = wide.collect()
    # every known variable is a column, present in the input or not
    assert wide.columns == ["date", "lat", "lon", *GRID_VARIABLES]
    assert rows[0]["Tmax"] == 30.0 and rows[0]["Tmin"] == 20.0
    assert rows[1]["Tmin"] is None  # ragged grid: no Tmin row that day
    assert all(rows[0][v] is None for v in ("pr", "RH", "ETo", "u2", "Rs"))


def test_pivot_unknown_variable_fails_at_collect(spark):
    """A variable outside GRID_VARIABLES (here a lower-case ``tmax``) must
    fail the query naming the value, never vanish from the wide grid."""
    long = spark.createDataFrame(
        [
            (date(2001, 1, 1), -10.0, -65.0, "Tmax", 30.0),
            (date(2001, 1, 1), -10.0, -65.0, "tmax", 31.0),
        ],
        GRID_DAILY_SCHEMA,
    )
    wide = pivot_grid_wide(long)  # building does not check the data
    with pytest.raises(PySparkException, match="unknown grid variable: tmax"):
        wide.collect()


def test_pivot_build_starts_no_job(spark):
    """With a fixed variable list the pivot is a static aggregate: building
    it runs no ``distinct(var)`` discovery job."""
    long = spark.createDataFrame(
        [(date(2001, 1, 1), -10.0, -65.0, "Tmax", 30.0)], GRID_DAILY_SCHEMA
    )
    assert jobs_started(spark, lambda: pivot_grid_wide(long)) == 0


def test_classic_netcdf_roundtrip_property():
    """Hypothesis roundtrip: random dims/dtypes/record layouts through
    write_classic → read_classic must reproduce every array bit-exactly
    (offsets, padding, striding, and endianness all verified at once)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile, NcVar, read_classic, write_classic,
    )

    dtypes = st.sampled_from(["int16", "int32", "float32", "float64"])

    @st.composite
    def nc_files(draw):
        nt = draw(st.integers(1, 4))
        ny = draw(st.integers(1, 3))
        nx = draw(st.integers(1, 5))
        n_vars = draw(st.integers(1, 4))
        record = draw(st.booleans())
        offset64 = draw(st.booleans())
        rng = np.random.default_rng(draw(st.integers(0, 2**31)))
        variables = {}
        for i in range(n_vars):
            dt = draw(dtypes)
            rank = draw(st.sampled_from([("time",), ("time", "y"), ("time", "y", "x"), ("y", "x")]))
            shape = tuple({"time": nt, "y": ny, "x": nx}[d] for d in rank)
            if np.issubdtype(np.dtype(dt), np.integer):
                data = rng.integers(-1000, 1000, size=shape).astype(dt)
            else:
                data = rng.normal(size=shape).astype(dt)
            variables[f"v{i}"] = NcVar(f"v{i}", rank, data)
        nc = NcFile(dims={"time": nt, "y": ny, "x": nx}, variables=variables)
        return nc, record, offset64

    @given(case=nc_files())
    @settings(max_examples=30, deadline=None)
    def check(case):
        nc, record, offset64 = case
        buf = write_classic(nc, offset64=offset64,
                            record_dim="time" if record else None)
        back = read_classic(buf)
        assert back.dims == nc.dims
        for name, v in nc.variables.items():
            got = back.variables[name]
            assert got.dims == v.dims
            assert got.data.shape == v.data.shape
            assert (np.asarray(got.data) == np.asarray(v.data)).all()

    check()


def test_nonstandard_cf_calendar_rejected(tmp_path):
    """noleap/360_day calendars decode to WRONG proleptic-Gregorian dates
    if treated naively — the minimal path must fail loudly."""
    import numpy as np
    import pytest

    from amazon_climate_data_etl_spark.sources.ingest import decode_classic_long
    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile, NcVar, write_classic,
    )

    def fixture(calendar):
        tattrs = {"units": "days since 2001-01-01"}
        if calendar is not None:
            tattrs["calendar"] = calendar
        nc = NcFile(
            dims={"time": 2, "lat": 2, "lon": 2},
            variables={
                "time": NcVar("time", ("time",),
                              np.array([0.0, 1.0]), tattrs),
                "lat": NcVar("lat", ("lat",), np.array([1.0, 2.0])),
                "lon": NcVar("lon", ("lon",), np.array([3.0, 4.0])),
                "Tmax": NcVar("Tmax", ("time", "lat", "lon"),
                              np.arange(8, dtype=np.float64).reshape(2, 2, 2)),
            },
        )
        return write_classic(nc)

    for bad in ("noleap", "365_day", "360_day", "julian"):
        with pytest.raises(NotImplementedError, match="calendar"):
            decode_classic_long(fixture(bad), "Tmax")
    # absent or Gregorian-compatible calendars decode fine
    for ok in (None, "standard", "gregorian", "proleptic_gregorian"):
        out = decode_classic_long(fixture(ok), "Tmax")
        assert len(out) == 8


def test_cdf5_roundtrip_and_ingest(tmp_path):
    """CDF-5 ("64-bit data") variant: 64-bit counts and the unsigned/
    int64 value types roundtrip, and decode_classic_long handles a CDF-5
    grid identically to CDF-1/2 (the variant multi-GB classic files use)."""
    import numpy as np

    from amazon_climate_data_etl_spark.sources.ingest import decode_classic_long
    from amazon_climate_data_etl_spark.sources.netcdf_classic import (
        NcFile, NcVar, read_classic, write_classic,
    )

    big = (np.arange(6, dtype=np.int64).reshape(2, 3)) * 10_000_000_000
    nc = NcFile(
        dims={"y": 2, "x": 3},
        variables={
            "big": NcVar("big", ("y", "x"), big, {"units": "count"}),
            "u": NcVar("u", ("y", "x"), np.arange(6, dtype=np.uint32).reshape(2, 3)),
        },
    )
    buf = write_classic(nc, cdf5=True)
    assert buf[:4] == b"CDF\x05"
    back = read_classic(buf)
    assert np.array_equal(back.variables["big"].data, big)
    assert back.variables["big"].attrs["units"] == "count"

    # full grid decode through the shared path
    grid = NcFile(
        dims={"time": 2, "lat": 2, "lon": 2},
        variables={
            "time": NcVar("time", ("time",), np.array([0.0, 1.0]),
                          {"units": "days since 2001-01-01"}),
            "lat": NcVar("lat", ("lat",), np.array([1.0, 2.0])),
            "lon": NcVar("lon", ("lon",), np.array([3.0, 4.0])),
            "Tmax": NcVar("Tmax", ("time", "lat", "lon"),
                          np.arange(8, dtype=np.float64).reshape(2, 2, 2)),
        },
    )
    long = decode_classic_long(write_classic(grid, cdf5=True), "Tmax")
    assert len(long) == 8
    assert long["value"].tolist() == list(range(8))
