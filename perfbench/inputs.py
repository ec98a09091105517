"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, scale): the same seed writes
byte-identical inputs. Only the repository's own writers produce the raw
formats (``netcdf4_min``, ``shapefile_min``), so the benchmark needs no
library the engine does not already ship.

Raw grid values are float32 multiples of 1/64. They are exact in float32,
in float64 and in the engine's ``decimal(24,8)`` aggregation, so the numpy
reference in ``run.py`` reproduces every daily input bit for bit and only
the VPD formula carries floating-point rounding.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from amazon_climate_data_etl_spark.sources.netcdf4_min import write_netcdf4
from amazon_climate_data_etl_spark.sources.netcdf_classic import NcFile, NcVar
from amazon_climate_data_etl_spark.sources.shapefile_min import (
    SHP_POLYGON,
    Shape,
    write_dbf,
    write_shp,
)

VARS = ("Tmax", "Tmin", "pr", "RH", "ETo", "u2", "Rs")
STEP = 0.25
# the seven states of the Legal Amazon North region and their IBGE prefixes
STATES = {"RO": 11, "AC": 12, "AM": 13, "RR": 14, "PA": 15, "AP": 16, "TO": 17}
EPOCH = dt.date(2001, 1, 1)

# (base, spatial amplitude, temporal amplitude, noise sd, floor)
_FIELDS = {
    "Tmax": (31.0, 2.5, 1.5, 0.6, None),
    "Tmin": (21.5, 1.5, 1.0, 0.5, None),
    "pr": (6.0, 4.0, 3.0, 2.0, 0.0),
    "RH": (78.0, 8.0, 4.0, 2.0, 5.0),
    "ETo": (3.8, 0.6, 0.4, 0.2, 0.0),
    "u2": (1.4, 0.4, 0.3, 0.15, 0.0),
    "Rs": (17.0, 2.0, 1.5, 0.8, 0.0),
}


@dataclass(frozen=True)
class GridSpec:
    """A regular 0.25° grid with a descending (north-up) latitude axis and
    a margin of cells around the clip box on every side."""

    nlat: int
    nlon: int
    ndays: int
    margin: int
    lat_top: float
    lon_left: float
    first_day: dt.date
    n_municipalities: int
    time_chunk: int

    @property
    def lats(self) -> np.ndarray:
        return self.lat_top - STEP * np.arange(self.nlat)

    @property
    def lons(self) -> np.ndarray:
        return self.lon_left + STEP * np.arange(self.nlon)

    @property
    def dates(self) -> list[dt.date]:
        return [self.first_day + dt.timedelta(days=i) for i in range(self.ndays)]

    @property
    def bounds(self) -> dict:
        lats, lons, m = self.lats, self.lons, self.margin
        return {
            "lat_min": float(lats[self.nlat - 1 - m]),
            "lat_max": float(lats[m]),
            "lon_min": float(lons[m]),
            "lon_max": float(lons[self.nlon - 1 - m]),
        }

    @property
    def cells_in_bounds(self) -> int:
        """Grid cell-days inside the clip box, over all seven variables."""
        m = self.margin
        return (self.nlat - 2 * m) * (self.nlon - 2 * m) * self.ndays * len(VARS)


# ~76 x 112 cells: the Legal-Amazon-North box (lat -12..4.75, lon -73..-47.25)
# plus a 4-cell margin. The days straddle a new year, so the annual and the
# monthly table both have two rows per municipality.
FULL_GRID = GridSpec(
    nlat=76, nlon=112, ndays=12, margin=4, lat_top=5.75, lon_left=-74.0,
    first_day=dt.date(2001, 12, 26), n_municipalities=450, time_chunk=4,
)
TINY_GRID = GridSpec(
    nlat=12, nlon=14, ndays=6, margin=2, lat_top=-2.0, lon_left=-60.0,
    first_day=dt.date(2001, 12, 29), n_municipalities=21, time_chunk=4,
)


def grid_cubes(spec: GridSpec, seed: int) -> dict[str, np.ndarray]:
    """var -> float32 cube (time, lat, lon): smooth seeded fields plus noise,
    quantized to multiples of 1/64."""
    rng = np.random.default_rng([seed, 1])
    t = np.arange(spec.ndays)[:, None, None]
    la = np.arange(spec.nlat)[None, :, None]
    lo = np.arange(spec.nlon)[None, None, :]
    cubes = {}
    for v in VARS:
        base, a_xy, a_t, sd, floor = _FIELDS[v]
        p = rng.uniform(0, 2 * np.pi, 4)
        k = rng.uniform(0.05, 0.2, 3)
        field = (
            base
            + a_xy * np.sin(k[0] * la + p[0]) * np.cos(k[1] * lo + p[1])
            + a_t * np.sin(k[2] * t + p[2])
            + rng.normal(0.0, sd, (spec.ndays, spec.nlat, spec.nlon))
        )
        if floor is not None:
            field = np.maximum(field, floor)
        cubes[v] = (np.round(field * 64.0) / 64.0).astype(np.float32)
    return cubes


def municipalities(spec: GridSpec, seed: int) -> pd.DataFrame:
    """Seeded municipality centres inside the clip box, spread over the
    seven states. Each centre sits within 0.1° of a cell centre, so the
    nearest-cell snap never meets a half-step tie."""
    rng = np.random.default_rng([seed, 2])
    n, m = spec.n_municipalities, spec.margin
    li = rng.integers(m + 1, spec.nlat - m - 1, n)
    lj = rng.integers(m + 1, spec.nlon - m - 1, n)
    lat = spec.lats[li] + rng.uniform(-0.1, 0.1, n)
    lon = spec.lons[lj] + rng.uniform(-0.1, 0.1, n)
    ufs = list(STATES)
    uf = [ufs[i % len(ufs)] for i in range(n)]
    return pd.DataFrame(
        {
            "CD_MUN": [f"{STATES[u]}{i:05d}" for i, u in enumerate(uf)],
            "NM_MUN": [f"Municipio {i}" for i in range(n)],
            "SIGLA_UF": uf,
            "lat": lat,
            "lon": lon,
            "radius": rng.uniform(0.02, 0.06, n),
        }
    )


def _polygon(cx: float, cy: float, r: float, sides: int = 6) -> np.ndarray:
    """Closed regular polygon, clockwise as in shapefiles; its area centroid
    is its centre."""
    ang = -2 * np.pi * np.arange(sides + 1) / sides
    return np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])


def write_raw_netcdf(root: str, spec: GridSpec, seed: int) -> dict:
    """Write the 7 NetCDF-4 variable files and the municipality shapefile.

    Returns the input description the run needs: file paths, the cubes and
    municipality table for the reference check, and input sizes."""
    os.makedirs(root, exist_ok=True)
    cubes = grid_cubes(spec, seed)
    time = np.array([(d - EPOCH).days for d in spec.dates], dtype=np.float64)
    files, nbytes = {}, 0
    for v in VARS:
        nc = NcFile(
            dims={"time": spec.ndays, "latitude": spec.nlat, "longitude": spec.nlon},
            variables={
                "time": NcVar("time", ("time",), time,
                              {"units": f"days since {EPOCH.isoformat()}"}),
                "latitude": NcVar("latitude", ("latitude",), spec.lats),
                "longitude": NcVar("longitude", ("longitude",), spec.lons),
                v: NcVar(v, ("time", "latitude", "longitude"), cubes[v]),
            },
        )
        blob = write_netcdf4(
            nc, layout="chunked", compress=True, shuffle=True,
            chunks={v: (spec.time_chunk, spec.nlat, spec.nlon)},
        )
        path = os.path.join(root, f"{v}.nc")
        with open(path, "wb") as f:
            f.write(blob)
        files[v] = path
        nbytes += len(blob)
    mun = municipalities(spec, seed)
    shapes = [
        Shape(SHP_POLYGON, _polygon(r.lon, r.lat, r.radius))
        for r in mun.itertuples()
    ]
    shp = os.path.join(root, "municipios.shp")
    with open(shp, "wb") as f:
        f.write(write_shp(shapes))
    with open(os.path.join(root, "municipios.dbf"), "wb") as f:
        f.write(write_dbf(mun[["CD_MUN", "NM_MUN", "SIGLA_UF"]]))
    return {
        "files": files,
        "shapefile": shp,
        "cubes": cubes,
        "municipalities": mun,
        "bytes": nbytes,
        "cells": spec.cells_in_bounds,
    }


# --- registry tables ---------------------------------------------------------

# "full" has the row counts of the engine's sf0.01 test tables (the scale its
# DuckDB parity checks use). At the sf0.1 row counts one pass of the mix took
# 41 s and a whole run 133 s on a 4-vCPU machine, twice what the benchmark's
# time budget allows per run.
REGISTRY_ROWS = {
    "full": {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
             "lineitem": 60000, "events": 10000, "documents": 500},
    "tiny": {"customer": 30, "supplier": 5, "part": 40, "orders": 200,
             "lineitem": 800, "events": 200, "documents": 80},
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "green", "cold", "big", "steel"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "pipe", "valve", "spring"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_WORDS = (
    "a the big small fast slow key agg row scan table value part hash join "
    "window merge spark order data column line customer query batch filter "
    "group sort index plan stage task shuffle cache file page node"
).split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start, end = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return start + rng.integers(0, (end - start).astype(np.int64), n).astype("timedelta64[D]")


def _documents(rng, n: int) -> pd.DataFrame:
    """Word-salad documents with injected duplicates: exact copies, case and
    whitespace variants, and copies with a few words replaced, so the dedup
    queries find non-trivial components."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i >= 10 and roll < 0.05:
            texts.append(texts[rng.integers(0, i)])
        elif i >= 10 and roll < 0.08:
            src = texts[rng.integers(0, i)].split(" ")
            texts.append("  ".join(w.upper() if rng.random() < 0.3 else w for w in src))
        elif i >= 10 and roll < 0.22:
            src = texts[rng.integers(0, i)].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                src[rng.integers(0, len(src))] = _WORDS[rng.integers(0, len(_WORDS))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def registry_tables(seed: int, scale: str) -> dict[str, pd.DataFrame]:
    """The star-schema, events and documents tables the query mix reads,
    in the layout and column types of the engine's ``catalog.TABLES``."""
    rng = np.random.default_rng([seed, 3])
    n = REGISTRY_ROWS[scale]
    i32, i64 = np.int32, np.int64
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    nc = n["customer"]
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype=i64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
            "p_type": [_PTYPES[j] for j in rng.integers(0, len(_PTYPES), npart)],
            "p_size": rng.integers(1, 51, npart).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=i64),
            "o_custkey": rng.integers(0, nc, no).astype(i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no).astype("datetime64[us]"),
            "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(i64),
            "l_partkey": rng.integers(0, npart, nl).astype(i64),
            "l_suppkey": rng.integers(0, ns, nl).astype(i64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl).astype("datetime64[us]"),
        }
    )
    ne = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    events = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=i64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, ne).astype(i64),
            "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": np.round(np.clip(rng.exponential(40.0, ne), 0.01, 490.0), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
        "documents": _documents(rng, n["documents"]),
    }


def write_registry_tables(root: str, seed: int, scale: str) -> dict:
    """Write ``<root>/<table>.parquet`` for every registry table."""
    os.makedirs(root, exist_ok=True)
    tables = registry_tables(seed, scale)
    nbytes = cells = 0
    shapes = {}
    for name, df in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        nbytes += os.path.getsize(path)
        cells += df.size
        shapes[name] = df.shape
    return {"dir": root, "bytes": nbytes, "cells": cells, "shapes": shapes}
