"""Relationalization ingest jobs: NetCDF grids and shapefile dimensions.

Reference inputs (``/root/reference/scripts/process_climate_amazon_annual.py``):
- 7 single-variable NetCDF files, dims (time, lat, lon), lazily opened with
  dask chunking (:188-253) — S1.
- an IBGE municipality shapefile reduced to centroids (:125-168) — S2.

Spark-first design: both become **one-time ingest jobs** producing Parquet;
the query layer never touches NetCDF/SHP. Every grid format (NetCDF,
GeoTIFF, Zarr) goes through the same two pieces: a format-specific decode
of one file or chunk into a (time, lat, lon) cube that ends in
``_grid_long``, the one relationalizer, and ``_ingest_files``, the one
``binaryFile`` + ``mapInPandas`` writer, which partitions the output by
year so downstream year filters prune partitions. The task that decodes a
file also encodes its Parquet, with pyarrow's writer, and the driver only
commits the files: shipping the decoded rows back for the JVM to encode
cost most of the ingest's CPU (see ``_ingest_files``). ``pivot_grid_wide``
then assembles the variables into one wide row per (date, cell).

Decode backends are the dependency-free readers: ``netcdf_classic.py`` for
CDF-1/CDF-2/CDF-5 and, through it, ``netcdf4_min.py`` for NetCDF-4/HDF5;
``geotiff_min.py``; ``zarr_min.py``. The one decode path that runs is the
one that is tested, and layouts the readers do not handle fail loudly by
name. Shapefiles go through ``shapefile_min.py`` and ``crs_min.py``.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from amazon_climate_data_etl_spark.session import ship_package_to_workers
from amazon_climate_data_etl_spark.sources.crs_min import (
    inverse_to_lonlat,
    parse_projected_prj,
)
from amazon_climate_data_etl_spark.sources.geotiff_min import read_geotiff
from amazon_climate_data_etl_spark.sources.netcdf_classic import read_classic
from amazon_climate_data_etl_spark.sources.shapefile_min import (
    is_geographic_prj,
    polygon_centroid,
    read_dbf,
    read_shp,
)
from amazon_climate_data_etl_spark.sources.zarr_min import (
    chunk_slices,
    decode_chunk,
    open_group_array_meta,
    read_zarr_array,
    read_zattrs,
)

GRID_DAILY_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("var", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

MUNICIPALITIES_SCHEMA = T.StructType(
    [
        T.StructField("CD_MUN", T.StringType()),
        T.StructField("NM_MUN", T.StringType()),
        T.StructField("UF", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
)

# IBGE code prefix → state, the reference's fallback mapping
# (process_climate_amazon_annual.py:146-152)
IBGE_PREFIX_TO_UF = {
    "11": "RO", "12": "AC", "13": "AM", "14": "RR",
    "15": "PA", "16": "AP", "17": "TO",
}

NORTHERN_STATES = ("AC", "AM", "AP", "PA", "RO", "RR", "TO")

# the reference's 7 Xavier (BR-DWGD) variables, one NetCDF file each
# (process_climate_amazon_annual.py:188-253): the columns of the wide grid
GRID_VARIABLES = ("Tmax", "Tmin", "pr", "RH", "ETo", "u2", "Rs")


def probe_coord_dims(
    dims: "list[str] | tuple[str, ...]", coords: "list[str] | tuple[str, ...]" = ()
) -> tuple[str, str]:
    """Discover the (lon, lat) dimension names of a NetCDF dataset.

    Mirrors the reference's probing (process_climate_amazon_annual.py:202-227):
    scan dims for names containing ``lon``/``lat`` or exactly ``x``/``y``
    (last match wins, as in the reference loop), then coordinates (first
    match fills a still-missing slot), then fall back to
    ``longitude``/``latitude`` if present among dims/coords, else
    ``lon``/``lat``. Pure function."""
    lon_dim = lat_dim = None
    for dim in dims:
        d = dim.lower()
        if "lon" in d or d == "x":
            lon_dim = dim
        elif "lat" in d or d == "y":
            lat_dim = dim
    for coord in coords:
        c = coord.lower()
        if "lon" in c and lon_dim is None:
            lon_dim = coord
        elif "lat" in c and lat_dim is None:
            lat_dim = coord
    names = set(dims) | set(coords)
    if lon_dim is None:
        lon_dim = "longitude" if "longitude" in names else "lon"
    if lat_dim is None:
        lat_dim = "latitude" if "latitude" in names else "lat"
    return lon_dim, lat_dim


def probe_time_dim(dims: "list[str] | tuple[str, ...]") -> str:
    """Time-axis name: ``time`` if present (the BR-DWGD convention and the
    reference's assumption), else the first dim that is neither the lon nor
    the lat axis."""
    if "time" in dims:
        return "time"
    lon_dim, lat_dim = probe_coord_dims(dims)
    for dim in dims:
        if dim not in (lon_dim, lat_dim):
            return dim
    return "time"


def _decode_time_units(values, units) -> list:
    """CF time axis → dates: '<unit> since <base>' with unit in
    days/hours/minutes/seconds; an axis without string units is read as
    datetimes."""
    if not isinstance(units, str):
        return list(pd.to_datetime(np.asarray(values)).date)
    parts = units.split(" since ", 1)
    if len(parts) != 2:
        raise NotImplementedError(f"unsupported time units {units!r}")
    unit, base_s = parts[0].strip().lower(), parts[1].strip()
    base = pd.Timestamp(base_s)
    seconds = {"days": 86400.0, "hours": 3600.0, "minutes": 60.0, "seconds": 1.0}
    if unit not in seconds:
        raise NotImplementedError(f"unsupported time unit {unit!r}")
    return [
        (base + dt.timedelta(seconds=float(v) * seconds[unit])).date()
        for v in np.asarray(values)
    ]


def _gate_cf_calendar(calendar) -> None:
    """Shared CF-calendar gate (NetCDF + Zarr minimal decode paths):
    noleap/365_day/360_day etc. are common in climate model output, and
    decoding them as proleptic-Gregorian silently shifts every date — so
    fail loudly, naming the calendar."""
    if isinstance(calendar, bytes):
        calendar = calendar.decode("ascii", "replace")
    if calendar is not None and str(calendar).lower() not in (
        "standard",
        "gregorian",
        "proleptic_gregorian",
    ):
        raise NotImplementedError(
            f"CF calendar {calendar!r} is not supported by the minimal "
            "decoder (standard/gregorian/proleptic_gregorian only)"
        )


def _grid_long(
    cube, dates, lat, lon, var_name: str, bounds: dict | None = None
) -> pd.DataFrame:
    """A (time, lat, lon) cube and its axes → the long grid frame, columns
    in ``GRID_DAILY_SCHEMA`` order: the one relationalizer every grid
    format's decode ends in.

    ``bounds`` (lon_min / lon_max / lat_min / lat_max) clips through
    coordinate masks, which are direction-agnostic: a descending
    (north-up) latitude axis clips identically."""
    cube = np.asarray(cube, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    if bounds is not None:
        lat_m = (lat >= bounds["lat_min"]) & (lat <= bounds["lat_max"])
        lon_m = (lon >= bounds["lon_min"]) & (lon <= bounds["lon_max"])
        cube = cube[:, lat_m][:, :, lon_m]
        lat, lon = lat[lat_m], lon[lon_m]
    nt, nlat, nlon = cube.shape
    return pd.DataFrame(
        {
            "date": np.repeat(np.array(dates, dtype=object), nlat * nlon),
            "lat": np.tile(np.repeat(lat, nlon), nt),
            "lon": np.tile(lon, nt * nlat),
            "var": var_name,
            "value": cube.ravel(),
        }
    )


_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

# the Arrow twin of GRID_DAILY_SCHEMA, which every ingest task writes
GRID_DAILY_ARROW = to_arrow_schema(GRID_DAILY_SCHEMA)


def _ingest_files(
    spark: SparkSession,
    raw: DataFrame,
    decode: Callable[[tuple], pd.DataFrame],
    out_path: str,
) -> list[tuple[str, int]]:
    """The one grid writer: ``decode(row)`` once per binaryFile row of
    ``raw`` (a named tuple: path, modificationTime, length, content) in a
    ``mapInPandas`` worker, and the output partitioned by year, so every
    downstream time-ranged query prunes partitions (the reference's manual
    time-chunk logic, annual.py:58-62, becomes storage layout).

    The task that decoded the rows writes them. When the frames went back
    to the JVM for Parquet-MR to encode, the seven ingest calls of a cold
    ``raw_netcdf`` pass (perfbench, 4-vCPU machine) cost a median 15.3
    CPU-s of 39.6, for 594k rows that take 0.18 CPU-s to decode and
    convert to Arrow; written in the task, they cost 7.2. So each task
    streams its frames into one ``pyarrow.parquet.ParquetWriter`` per year
    under an attempt-scoped staging directory,
    ``out_path/_temporary/<attempt>``, and returns only ``(file, rows)``.
    The call stays one Spark job, and a year gets one file per task that
    decoded rows of it (one per input file and year for NetCDF). The
    driver then commits what the successful attempts reported: it clears
    ``out_path`` (overwrite), moves those files into ``year=Y/``, writes
    ``_SUCCESS`` and removes the staging directory, which a failed job
    removes too, leaving ``out_path`` as it was. Worker writes and the
    commit both go through ``pyarrow.fs``, so ``out_path`` is a local path
    or any URI ``FileSystem.from_uri`` resolves. Returns the committed
    ``(path, rows)`` pairs."""
    ship_package_to_workers(spark)
    uri = out_path if _URI_SCHEME.match(out_path) else os.path.abspath(out_path)
    fs, root = pafs.FileSystem.from_uri(uri)
    staging = f"{root}/_temporary"

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        task_fs, _ = pafs.FileSystem.from_uri(uri)
        ctx = TaskContext.get()
        attempt = str(ctx.taskAttemptId())
        name = f"part-{ctx.partitionId():05d}.parquet"
        writers: dict[int, pq.ParquetWriter] = {}
        rows: dict[int, int] = {}
        try:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    table = pa.Table.from_pandas(
                        decode(row), schema=GRID_DAILY_ARROW, preserve_index=False
                    )
                    years = pc.year(table["date"])
                    if years.null_count:
                        raise ValueError("decoded grid rows without a date")
                    for y in pc.unique(years).to_pylist():
                        if y not in writers:
                            task_fs.create_dir(f"{staging}/{attempt}/year={y}")
                            writers[y] = pq.ParquetWriter(
                                f"{staging}/{attempt}/year={y}/{name}",
                                GRID_DAILY_ARROW,
                                filesystem=task_fs,
                            )
                        part = table.filter(pc.equal(years, y))
                        writers[y].write_table(part)
                        rows[y] = rows.get(y, 0) + part.num_rows
        finally:
            for w in writers.values():
                w.close()
        if rows:
            yield pd.DataFrame(
                {
                    "file": [f"{attempt}/year={y}/{name}" for y in rows],
                    "rows": list(rows.values()),
                }
            )

    try:
        written = raw.mapInPandas(worker, schema="file string, rows long").collect()
        fs.create_dir(root)
        for info in fs.get_file_info(pafs.FileSelector(root)):
            if info.base_name == "_temporary":
                continue
            if info.type == pafs.FileType.Directory:
                fs.delete_dir(info.path)
            else:
                fs.delete_file(info.path)
        committed = []
        for file, n in written:
            dest = f"{root}/{file.split('/', 1)[1]}"
            fs.create_dir(dest.rsplit("/", 1)[0])
            fs.move(f"{staging}/{file}", dest)
            committed.append((dest, n))
        fs.open_output_stream(f"{root}/_SUCCESS").close()
        return committed
    finally:
        if fs.get_file_info(staging).type != pafs.FileType.NotFound:
            fs.delete_dir(staging)


def decode_classic_long(
    content: bytes, var_name: str, bounds: dict | None = None
) -> pd.DataFrame:
    """NetCDF bytes → canonical long grid frame, dependency-free.

    The decode path for BOTH flavors: CDF-1/CDF-2/CDF-5 (read_classic
    handles the classic binary format) and NetCDF-4 (read_classic
    dispatches the HDF5 magic to the minimal HDF5 decoder,
    netcdf4_min.py — superblock v0/v2, contiguous + shuffled/deflated
    chunked storage, dimension scales + DIMENSION_LIST). CF unpacking
    (scale/offset, _FillValue → NaN) is shared. The coordinate axes are
    probed by name, and the variable is transposed to (time, lat, lon)."""
    nc = read_classic(content)
    var = nc.variables[var_name]
    lon_dim, lat_dim = probe_coord_dims(list(var.dims), list(nc.variables))
    time_dim = probe_time_dim(list(var.dims))
    for d in (lon_dim, lat_dim, time_dim):
        if d not in nc.variables:
            raise NotImplementedError(
                f"dimension {d!r} has no coordinate variable in this file; "
                "auxiliary-coordinate layouts are not supported"
            )
    order = [var.dims.index(d) for d in (time_dim, lat_dim, lon_dim)]
    tvar = nc.variables[time_dim]
    _gate_cf_calendar(tvar.attrs.get("calendar"))
    return _grid_long(
        np.transpose(var.data, order),
        _decode_time_units(tvar.data, tvar.attrs.get("units")),
        nc.variables[lat_dim].data,
        nc.variables[lon_dim].data,
        var_name,
        bounds,
    )


def ingest_netcdf_to_parquet(
    spark: SparkSession,
    nc_glob: str,
    out_path: str,
    var_name: str,
    bounds: dict | None = None,
) -> None:
    """Distributed NetCDF → Parquet relationalization (S1 ingest boundary).

    One task per file, one Spark job per call; output partitioned by year.
    ``bounds`` (lon_min / lon_max / lat_min / lat_max) clips each file to
    the region of interest before relationalizing, the reference's
    load_clipped_netcdf behavior."""
    raw = spark.read.format("binaryFile").load(nc_glob)
    _ingest_files(
        spark,
        raw,
        lambda row: decode_classic_long(bytes(row.content), var_name, bounds),
        out_path,
    )


_DATE_IN_NAME = re.compile(r"(\d{4})-?(\d{2})-?(\d{2})")


def _geotiff_date(path: str) -> dt.date:
    """The date a per-day raster carries in its file name
    (``pr_2001-01-01.tif`` / ``tmax_20010102.tif`` both match)."""
    m = _DATE_IN_NAME.search(str(path).rsplit("/", 1)[-1])
    if not m:
        raise ValueError(
            f"GeoTIFF file name {path!r} carries no YYYY-MM-DD / YYYYMMDD date"
        )
    return dt.date(*(int(g) for g in m.groups()))


def decode_geotiff_long(
    content: bytes, var_name: str, date, bounds: dict | None = None
) -> pd.DataFrame:
    """GeoTIFF bytes → canonical long grid frame (one date per file —
    rasters carry no time axis; the date rides in the filename, the
    standard per-day-raster layout)."""
    r = read_geotiff(content)
    return _grid_long(r.data[None], [date], r.lat, r.lon, var_name, bounds)


def ingest_geotiff_to_parquet(
    spark: SparkSession,
    tif_glob: str,
    out_path: str,
    var_name: str,
    bounds: dict | None = None,
) -> None:
    """Distributed GeoTIFF → Parquet relationalization: the per-day-raster
    twin of ``ingest_netcdf_to_parquet`` (S1 boundary, second raster
    format). One task per file; the output layout, year partitioning and
    clipping semantics are identical, so the whole downstream climate
    pipeline (grid-snap join → daily → annual/monthly) runs unchanged on
    GeoTIFF-sourced grids."""
    raw = spark.read.format("binaryFile").load(tif_glob)
    _ingest_files(
        spark,
        raw,
        lambda row: decode_geotiff_long(
            bytes(row.content), var_name, _geotiff_date(row.path), bounds
        ),
        out_path,
    )


def probe_zarr_climate(store_path: str, var_name: str):
    """Driver-side Zarr probe: variable metadata + decoded coordinate axes.

    Touches ONLY metadata objects and the 1-D coordinate arrays (a few KB
    even for a 100 TB store) — never a data chunk. Dimension names come
    from xarray's public ``_ARRAY_DIMENSIONS`` store convention, then go
    through the same name probing as the NetCDF path; the CF time axis
    (units/calendar) is decoded with the shared helpers, calendar gate
    included."""
    meta, attrs = open_group_array_meta(store_path, var_name)
    dims = attrs.get("_ARRAY_DIMENSIONS")
    if not dims or len(dims) != len(meta.shape):
        raise NotImplementedError(
            f"array {var_name!r} carries no usable _ARRAY_DIMENSIONS "
            "attribute; name-free Zarr layouts are not supported"
        )
    lon_dim, lat_dim = probe_coord_dims(dims)
    time_dim = probe_time_dim(dims)
    for d in (time_dim, lat_dim, lon_dim):
        if d not in dims or not os.path.isdir(os.path.join(store_path, d)):
            raise NotImplementedError(
                f"dimension {d!r} has no coordinate array in this store"
            )
    t_attrs = read_zattrs(os.path.join(store_path, time_dim))
    _gate_cf_calendar(t_attrs.get("calendar"))
    dates = _decode_time_units(
        read_zarr_array(os.path.join(store_path, time_dim)), t_attrs.get("units")
    )
    lat_vals = read_zarr_array(os.path.join(store_path, lat_dim)).astype(np.float64)
    lon_vals = read_zarr_array(os.path.join(store_path, lon_dim)).astype(np.float64)
    return meta, dims, (time_dim, lat_dim, lon_dim), dates, lat_vals, lon_vals


def decode_zarr_chunk_long(
    content: bytes,
    key: str,
    meta,
    dims,
    axis_names,
    dates,
    lat_vals,
    lon_vals,
    var_name: str,
    bounds: dict | None = None,
) -> pd.DataFrame:
    """ONE Zarr chunk object → its slab of the canonical long grid frame.

    This is the per-task unit of the distributed ingest: the chunk is
    decoded standalone (its key encodes its grid position), transposed to
    (time, lat, lon) and relationalized against its slices of the
    broadcast coordinate axes — no cross-chunk coordination of any kind."""
    slices = chunk_slices(meta, key)
    block = decode_chunk(content, meta)
    # trim the (always-full-size) stored chunk to the array extent
    block = block[tuple(slice(0, s.stop - s.start) for s in slices)]
    by_dim = dict(zip(dims, slices))
    t, la, lo = (by_dim[d] for d in axis_names)
    return _grid_long(
        np.transpose(block, [dims.index(d) for d in axis_names]),
        np.asarray(dates, dtype=object)[t],
        lat_vals[la],
        lon_vals[lo],
        var_name,
        bounds,
    )


def ingest_zarr_to_parquet(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    var_name: str,
    bounds: dict | None = None,
) -> None:
    """Distributed Zarr → Parquet relationalization (S1 boundary, third
    grid format — the cloud-native chunk store).

    The scale story differs from the NetCDF/GeoTIFF boundaries in the one
    way that matters at 100 TB: a Zarr variable is MILLIONS of independent
    chunk objects, so the binaryFile scan of the chunk keys gives
    chunk-level parallelism directly — no one-task-per-file bottleneck, no
    intra-file split problem. The driver probes only metadata + 1-D
    coordinate axes (KB-scale) and ships them by closure; every data chunk
    is fetched, decoded, clipped and relationalized in its own task.
    Missing chunk keys (fill-value-only regions, the spec's sparse-write
    rule) simply contribute no rows — the same end state the downstream
    pipeline gives NaN cells. Output layout (year partitioning) matches
    the other ingest boundaries, so the whole climate pipeline runs
    unchanged on Zarr-sourced grids."""
    meta, dims, axis_names, dates, lat_vals, lon_vals = probe_zarr_climate(
        store_path, var_name
    )
    # chunk objects only: v2 keys are digit-led ('0.1' files or '0/1'
    # nesting), v3 'default' keys are digit-led under the 'c' prefix dir
    # ('c/0/1') or flat 'c.0.1' files; metadata (.zarray/zarr.json/.zattrs)
    # never matches either pattern
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "{c.*,[0-9]*}")
        .option("recursiveFileLookup", "true")
        .load(os.path.join(os.path.abspath(store_path), var_name))
    )
    marker = var_name + "/"

    def decode(row) -> pd.DataFrame:
        key = str(row.path).rsplit(marker, 1)[-1].replace("/", meta.separator)
        return decode_zarr_chunk_long(
            bytes(row.content), key, meta, dims, axis_names,
            dates, lat_vals, lon_vals, var_name, bounds,
        )

    _ingest_files(spark, raw, decode, out_path)


def pivot_grid_wide(grid_long: DataFrame) -> DataFrame:
    """long (date, lat, lon, var, value) → wide (date, lat, lon, <var> …),
    the 7-way series assembly (J2, annual.py:324-333) as one aggregate
    with one column per ``GRID_VARIABLES`` entry.

    Each column is a conditional ``first`` over its variable's rows, not
    ``.pivot("var")``: without a value list the pivot runs an eager
    ``distinct(var)`` job while the plan is built, and with one
    ``ResolvePivot`` still plans two Aggregates (two exchanges per
    output). The fixed list makes this a static aggregate that Catalyst
    plans with no job and one exchange. A ``var`` outside the list fails
    the query when it runs, naming the value; a variable with no row for
    some (date, cell) is null there, as in a ragged grid."""
    var = F.col("var")
    checked = F.when(var.isin(*GRID_VARIABLES), var).otherwise(
        F.raise_error(F.format_string("unknown grid variable: %s", var))
    )
    return (
        grid_long.withColumn("var", checked)
        .groupBy("date", "lat", "lon")
        .agg(
            *(
                F.first(F.when(var == v, F.col("value")), ignorenulls=True).alias(v)
                for v in GRID_VARIABLES
            )
        )
    )


def _probe_state_column(columns) -> str | None:
    """The reference's state-column discovery (annual.py:137-145)."""
    return next(
        (c for c in ("SIGLA_UF", "SIGLA", "UF", "sigla_uf") if c in columns), None
    )


def municipalities_from_shapefile(
    spark: SparkSession, shp_path: str, states: tuple[str, ...] = NORTHERN_STATES
) -> DataFrame:
    """Shapefile → centroid dimension table (S2, annual.py:125-168).

    Geometry work happens driver-side — a ~5,570-row table does not need
    distribution. The dependency-free reader in ``shapefile_min.py``
    decodes .shp/.dbf and computes shoelace centroids, with the
    reference's state-column probing and IBGE-prefix fallback. A projected
    CRS (UTM zones, Brazil Polyconic) reprojects to geographic via
    ``crs_min`` before the centroids, the reference's unconditional
    to_crs(4326) (annual.py:159-161); any other projection fails loudly,
    naming it."""
    base, _ = os.path.splitext(shp_path)
    prj_path = base + ".prj"
    crs = None
    if os.path.exists(prj_path):
        with open(prj_path) as f:
            wkt = f.read()
        if not is_geographic_prj(wkt):
            crs = parse_projected_prj(wkt)
    with open(shp_path, "rb") as f:
        shapes = read_shp(f.read())
    if crs is not None:
        for s in shapes:
            if len(s.points):
                lon, lat = inverse_to_lonlat(s.points[:, 0], s.points[:, 1], crs)
                s.points = np.column_stack([lon, lat])
    with open(base + ".dbf", "rb") as f:
        attrs = read_dbf(f.read())
    if len(shapes) != len(attrs):
        raise ValueError(
            f"shapefile record mismatch: {len(shapes)} shapes vs "
            f"{len(attrs)} attribute rows"
        )
    # drop null shapes (type 0) together with their attribute rows — they
    # carry no geometry, so no centroid exists for them
    keep = [i for i, s in enumerate(shapes) if len(s.points) > 0]
    if len(keep) != len(shapes):
        shapes = [shapes[i] for i in keep]
        attrs = attrs.iloc[keep].reset_index(drop=True)
    state_col = _probe_state_column(attrs.columns)
    if state_col is None:
        attrs = attrs.assign(
            UF=attrs["CD_MUN"].astype(str).str[:2].map(IBGE_PREFIX_TO_UF)
        )
        state_col = "UF"
    cents = [polygon_centroid(s) for s in shapes]
    pdf = pd.DataFrame(
        {
            "CD_MUN": attrs["CD_MUN"].astype(str),
            "NM_MUN": attrs["NM_MUN"].astype(str),
            "UF": attrs[state_col].astype(str),
            "lon": [c[0] for c in cents],
            "lat": [c[1] for c in cents],
        }
    )
    pdf = pdf[pdf["UF"].isin(states)].reset_index(drop=True)
    return municipalities_from_pandas(spark, pdf)


def municipalities_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Centroid table (any provenance) → broadcast-ready Spark dimension."""
    return spark.createDataFrame(pdf, schema=MUNICIPALITIES_SCHEMA)
