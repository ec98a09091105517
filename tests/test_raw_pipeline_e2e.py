"""The WHOLE reference pipeline from RAW inputs, dependency-free:

    7 NetCDF variable files (real bytes, descending latitude,
    longitude/latitude dim names, CF time units)
      → distributed ingest (binaryFile → decode → parquet)
      → long→wide pivot (J2)
      → real shapefile (.shp/.dbf) → shoelace-centroid dimension (S2)
      → grid-snap broadcast enrich + VPD (J-NN/F1)
      → annual aggregation (A1/F3)

checked against an independent pandas recomputation, in BOTH input
flavors the reference stack accepts:

- ``classic``: CDF-1 files + a geographic-CRS shapefile;
- ``netcdf4_utm``: NetCDF-4/HDF5 files (chunked, shuffled+deflated)
  + a PROJECTED (SIRGAS 2000 / UTM 20S) shapefile that the minimal CRS
  path inverse-projects — the ingest-boundary closures proven
  on the reference's actual end-to-end data path
  (process_climate_amazon_annual.py), zero optional libraries.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from amazon_climate_data_etl_spark.operators.climate import (
    annual_pipeline,
    daily_enriched,
)
from amazon_climate_data_etl_spark.plans import inspect as I
from amazon_climate_data_etl_spark.sources.ingest import (
    ingest_netcdf_to_parquet,
    municipalities_from_shapefile,
    pivot_grid_wide,
)
from amazon_climate_data_etl_spark.sources.crs_min import (
    forward_from_lonlat,
    parse_projected_prj,
)
from amazon_climate_data_etl_spark.sources.netcdf4_min import write_netcdf4
from amazon_climate_data_etl_spark.sources.netcdf_classic import (
    NcFile,
    NcVar,
    write_classic,
)

UTM20S_WKT = (
    'PROJCS["SIRGAS 2000 / UTM zone 20S",GEOGCS["SIRGAS 2000",DATUM["D",'
    'SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],'
    'PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-63],'
    'PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],'
    'PARAMETER["false_northing",10000000],UNIT["metre",1]]'
)
from amazon_climate_data_etl_spark.sources.shapefile_min import (
    SHP_POLYGON,
    Shape,
    write_dbf,
    write_shp,
)

VARS = ("Tmax", "Tmin", "pr", "RH", "ETo", "u2", "Rs")
_BASE = {"Tmax": 30.0, "Tmin": 20.0, "pr": 5.0, "RH": 60.0, "ETo": 3.0, "u2": 1.0, "Rs": 15.0}
LATS = np.array([5.0, 4.75, 4.5])        # descending (north-up file)
LONS = np.array([-65.0, -64.75])
NDAYS = 2


def _value(v, t, la, lo):
    return _BASE[v] + t * 1.0 + la * 0.5 + lo * 0.25


def _write_raw_inputs(tmp_path, flavor="classic"):
    raw = tmp_path / "raw"
    raw.mkdir()
    for v in VARS:
        cube = np.array(
            [
                [[_value(v, t, la, lo) for lo in range(len(LONS))]
                 for la in range(len(LATS))]
                for t in range(NDAYS)
            ],
            dtype=np.float64,
        )
        if flavor == "zarr":
            from amazon_climate_data_etl_spark.sources.zarr_min import (
                write_zarr_group,
            )

            # chunked so each variable spans multiple chunk OBJECTS (the
            # unit of ingest parallelism), incl. partial edge chunks
            write_zarr_group(
                str(raw / f"{v}.zarr"),
                {
                    "time": (
                        np.arange(NDAYS, dtype="<f8"),
                        {"units": "days since 2001-01-01",
                         "_ARRAY_DIMENSIONS": ["time"]},
                    ),
                    "latitude": (LATS, {"_ARRAY_DIMENSIONS": ["latitude"]}),
                    "longitude": (LONS, {"_ARRAY_DIMENSIONS": ["longitude"]}),
                    v: (cube, {"_ARRAY_DIMENSIONS":
                               ["time", "latitude", "longitude"]}, (1, 2, 2)),
                },
            )
            continue
        nc = NcFile(
            dims={"time": NDAYS, "latitude": len(LATS), "longitude": len(LONS)},
            variables={
                "time": NcVar("time", ("time",), np.arange(NDAYS, dtype=np.float64),
                              {"units": "days since 2001-01-01"}),
                "latitude": NcVar("latitude", ("latitude",), LATS),
                "longitude": NcVar("longitude", ("longitude",), LONS),
                v: NcVar(v, ("time", "latitude", "longitude"), cube),
            },
        )
        (raw / f"{v}.nc").write_bytes(
            write_classic(nc)
            if flavor == "classic"
            else write_netcdf4(nc, layout="chunked", compress=True, shuffle=True)
        )

    # two municipalities whose polygon centroids snap to grid cells
    def square(cx, cy, r=0.05):
        return np.array(
            [[cx - r, cy - r], [cx - r, cy + r], [cx + r, cy + r],
             [cx + r, cy - r], [cx - r, cy - r]]
        )

    # centroid (-64.97, 4.93) snaps to (-65.0, 5.0); (-64.72, 4.57) to (-64.75, 4.5)
    rings = [square(-64.97, 4.93), square(-64.72, 4.57)]
    if flavor != "classic":
        crs = parse_projected_prj(UTM20S_WKT)
        rings = [
            np.column_stack(forward_from_lonlat(r[:, 0], r[:, 1], crs))
            for r in rings
        ]
        (tmp_path / "mun.prj").write_text(UTM20S_WKT)
    shapes = [Shape(SHP_POLYGON, r) for r in rings]
    attrs = pd.DataFrame(
        {
            "CD_MUN": ["1100015", "1300029"],
            "NM_MUN": ["MunA", "MunB"],
            "SIGLA_UF": ["RO", "AM"],
        }
    )
    (tmp_path / "mun.shp").write_bytes(write_shp(shapes))
    (tmp_path / "mun.dbf").write_bytes(write_dbf(attrs))
    return str(raw), str(tmp_path / "mun.shp")


def _expected_annual(cd_mun, nm_mun, uf, la_idx, lo_idx):
    days = []
    for t in range(NDAYS):
        d = {v: _value(v, t, la_idx, lo_idx) for v in VARS}
        tm = (d["Tmax"] + d["Tmin"]) / 2.0
        d["VPD"] = 0.6108 * math.exp(17.27 * tm / (tm + 237.3)) * (1 - d["RH"] / 100.0)
        days.append(d)
    out = {"CD_MUN": cd_mun, "NM_MUN": nm_mun, "UF": uf, "year": 2001}
    for v in ("pr", "ETo", "Rs"):
        out[v] = round(sum(d[v] for d in days), 2)
    for v in ("Tmax", "Tmin", "RH", "VPD", "u2"):
        out[v] = round(sum(d[v] for d in days) / NDAYS, 2)
    return out


import pytest


def _raw_annual(spark, tmp_path, flavor):
    """Ingest the raw fixture and build (wide grid, annual output)."""
    raw_dir, shp_path = _write_raw_inputs(tmp_path, flavor)

    # S1: one distributed ingest job per variable (file- or chunk-parallel)
    for v in VARS:
        if flavor == "zarr":
            from amazon_climate_data_etl_spark.sources.ingest import (
                ingest_zarr_to_parquet,
            )

            ingest_zarr_to_parquet(
                spark, f"{raw_dir}/{v}.zarr", str(tmp_path / "grid" / v), v
            )
        else:
            ingest_netcdf_to_parquet(
                spark, f"{raw_dir}/{v}.nc", str(tmp_path / "grid" / v), v
            )
    long = None
    for v in VARS:
        part = spark.read.parquet(str(tmp_path / "grid" / v)).drop("year")
        long = part if long is None else long.unionByName(part)

    # J2: 7-way assembly as one pivot
    wide = pivot_grid_wide(long)

    # S2: real shapefile → centroid dimension
    dim = municipalities_from_shapefile(spark, shp_path)

    # J-NN + F1 + A1/F3
    return wide, annual_pipeline(daily_enriched(wide, dim, step=0.25))


@pytest.mark.parametrize("flavor", ["classic", "netcdf4_utm", "zarr"])
def test_reference_pipeline_from_raw_inputs(spark, tmp_path, flavor):
    wide, annual = _raw_annual(spark, tmp_path, flavor)
    assert set(wide.columns) == {"date", "lat", "lon", *VARS}
    out = annual.toPandas().set_index("CD_MUN")
    assert len(out) == 2

    exp_a = _expected_annual("1100015", "MunA", "RO", la_idx=0, lo_idx=0)
    exp_b = _expected_annual("1300029", "MunB", "AM", la_idx=2, lo_idx=1)
    for exp in (exp_a, exp_b):
        row = out.loc[exp["CD_MUN"]]
        assert row["NM_MUN"] == exp["NM_MUN"] and row["UF"] == exp["UF"]
        assert row["year"] == 2001
        for v in ("pr", "ETo", "Rs", "Tmax", "Tmin", "RH", "VPD", "u2"):
            assert abs(row[v] - exp[v]) < 1e-9, (exp["CD_MUN"], v, row[v], exp[v])


def _plan_ancestors(plan: str):
    """(node line, its ancestor lines nearest first) for every node of an
    explain("simple") tree: a node's parent is the closest line above it
    whose operator name starts further left."""
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    col = []
    for ln in lines:
        m = re.search(r"[+:]- ", ln)
        col.append(m.end() if m else len(ln) - len(ln.lstrip()))
    out = []
    for i, line in enumerate(lines):
        chain, c = [], col[i]
        for j in range(i - 1, -1, -1):
            if col[j] < c:
                chain.append(lines[j])
                c = col[j]
        out.append((line, chain))
    return out


def _plans_at_both_partition_settings(spark, df) -> list[str]:
    """explain("simple") of ``df`` at the suite's shuffle partitions (its
    core count) and at 8, so the plan shape is pinned at two widths.
    Each plan comes from a fresh Dataset, so it is planned under its own
    setting."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    plans = []
    try:
        for n in (old, "8"):
            spark.conf.set(key, n)
            plan = I.plan_string(df.select("*"), "simple")
            assert re.search(rf"Exchange hashpartitioning\(.*, {n}\)", plan), plan
            plans.append(plan)
    finally:
        spark.conf.set(key, old)
    return plans


def test_municipality_cell_cut_reaches_every_variable_scan(spark, tmp_path):
    """``daily_enriched``'s correlated EXISTS must land on each
    per-variable parquet scan as a broadcast LeftSemi join, below the
    pivot's first shuffle, so the pivot moves municipality cells only.
    An uncorrelated EXISTS (inner and outer column names colliding) or a
    left_semi join above the pivot both fail here. Checked at two shuffle
    partition widths (see _plans_at_both_partition_settings)."""
    _, annual = _raw_annual(spark, tmp_path, "classic")
    for plan in _plans_at_both_partition_settings(spark, annual):
        scans = [
            (node, chain)
            for node, chain in _plan_ancestors(plan)
            if "FileScan parquet" in node  # the dimension is a local table
        ]
        assert len(scans) == len(VARS), plan
        for node, chain in scans:
            semi = next(
                (k for k, a in enumerate(chain) if "BroadcastHashJoin" in a and "LeftSemi" in a),
                None,
            )
            shuffle = next(
                (k for k, a in enumerate(chain) if re.search(r"\bExchange hashpartitioning", a)),
                None,
            )
            assert semi is not None, node
            assert shuffle is not None and semi < shuffle, node


def test_pivot_is_one_aggregate_pair(spark, tmp_path):
    """Between the per-variable scans' Union and the dimension join the
    long→wide pivot is one hash Aggregate pair (partial + final) around
    one exchange, not PivotFirst's two Aggregates — at two shuffle
    partition widths."""
    _, annual = _raw_annual(spark, tmp_path, "classic")
    for plan in _plans_at_both_partition_settings(spark, annual):
        union = next(chain for node, chain in _plan_ancestors(plan) if "Union" in node)
        join = next(k for k, a in enumerate(union) if "BroadcastHashJoin" in a and "Inner" in a)
        between = union[:join]
        assert sum("HashAggregate" in a for a in between) == 2, plan
        assert sum(bool(re.search(r"\bExchange hashpartitioning", a)) for a in between) == 1, plan
