"""Golden parity for the climate pipeline against an independent pandas
re-execution (the reference's own computational model), on a synthetic
FIXTURES.md-shaped dataset.

Pins the semantic ordering traps (SURVEY.md §7):
- VPD computed on daily rows BEFORE aggregation
- round(2) AFTER aggregation
- sum for pr/ETo/Rs, mean for Tmax/Tmin/RH/VPD/u2
- nearest-cell snap with half-away-from-zero ties
- monthly output sorted by (CD_MUN, year, month)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from amazon_climate_data_etl_spark.operators.climate import (
    annual_monthly_rollup,
    annual_pipeline,
    daily_enriched,
    monthly_pipeline,
    spot_check,
    state_split_metrics,
)
from amazon_climate_data_etl_spark.sources.ingest import (
    MUNICIPALITIES_SCHEMA,
    municipalities_from_pandas,
)


def make_fixture(seed: int = 7):
    """grid_daily (2 years daily, 6×6 cells) + 14 municipalities, FIXTURES.md A1/A2."""
    rng = np.random.default_rng(seed)
    dates = pd.date_range("2001-01-01", "2002-12-31", freq="D")
    lats = np.arange(-10.0, -8.5, 0.25)
    lons = np.arange(-65.0, -63.5, 0.25)
    grid = pd.MultiIndex.from_product(
        [dates, lats, lons], names=["date", "lat", "lon"]
    ).to_frame(index=False)
    n = len(grid)
    grid["Tmax"] = np.round(28 + 8 * rng.random(n), 2)
    grid["Tmin"] = np.round(18 + 6 * rng.random(n), 2)
    grid["pr"] = np.round(np.where(rng.random(n) < 0.4, 0.0, 20 * rng.random(n)), 2)
    grid["RH"] = np.round(50 + 50 * rng.random(n), 2)
    grid["ETo"] = np.round(2 + 4 * rng.random(n), 2)
    grid["u2"] = np.round(3 * rng.random(n), 2)
    grid["Rs"] = np.round(10 + 15 * rng.random(n), 2)
    grid["date"] = grid["date"].dt.date

    muns = pd.DataFrame(
        {
            "CD_MUN": [f"110001{i}" for i in range(12)],
            "NM_MUN": [f"Alvarães {i}" for i in range(12)],  # non-ASCII on purpose
            "UF": ["AM", "PA", "RO"] * 4,
            # NOT grid aligned; index 5 sits exactly half-way between cells
            # (-9.875 → tie between -10.0 and -9.75) to pin tie-breaking
            "lon": [-65.0 + 0.25 * i + (0.125 if i == 5 else 0.06) for i in range(6)] * 2,
            "lat": [-10.0 + 0.25 * (i // 2) - 0.04 for i in range(12)],
        }
    )
    # join semantics under the grid's municipality-cell cut: a second
    # municipality on municipality 0's cell (-10.0, -65.0) must keep its
    # own rows (fan-out), and one off the grid must produce none
    extra = pd.DataFrame(
        {
            "CD_MUN": ["1100120", "1100121"],
            "NM_MUN": ["Shared Cell", "Off Grid"],
            "UF": ["PA", "RO"],
            "lon": [-64.97, -60.0],
            "lat": [-10.02, -12.0],
        }
    )
    return grid, pd.concat([muns, extra], ignore_index=True)


def pandas_reference(grid: pd.DataFrame, muns: pd.DataFrame, monthly: bool):
    """Independent re-execution of the reference semantics in pandas."""
    out_rows = []
    step = 0.25

    def snap(x):  # round-half-away-from-zero, like Spark/DuckDB round()
        v = x / step
        return (np.floor(np.abs(v) + 0.5) * np.sign(v)) * step

    g = grid.copy()
    for _, mrow in muns.iterrows():
        glat, glon = snap(mrow["lat"]), snap(mrow["lon"])
        cell = g[(np.isclose(g["lat"], glat)) & (np.isclose(g["lon"], glon))].copy()
        if cell.empty:
            continue
        tmean = (cell["Tmax"] + cell["Tmin"]) / 2
        es = 0.6108 * np.exp(17.27 * tmean / (tmean + 237.3))
        cell["VPD"] = es * (1 - cell["RH"] / 100)
        dt = pd.to_datetime(cell["date"])
        cell["year"] = dt.dt.year
        keys = ["year"]
        if monthly:
            cell["month"] = dt.dt.month
            keys = ["year", "month"]
        agg = cell.groupby(keys).agg(
            pr=("pr", "sum"), ETo=("ETo", "sum"), Rs=("Rs", "sum"),
            Tmax=("Tmax", "mean"), Tmin=("Tmin", "mean"), RH=("RH", "mean"),
            VPD=("VPD", "mean"), u2=("u2", "mean"),
        ).reset_index()
        # deliberately NOT rounded: the comparison checks that the engine's
        # rounded output is a valid rounding of the true value (pandas round
        # is half-to-even, the engine's is half-away-from-zero — both valid)
        agg["CD_MUN"] = mrow["CD_MUN"]
        agg["NM_MUN"] = mrow["NM_MUN"]
        agg["UF"] = mrow["UF"]
        out_rows.append(agg)
    out = pd.concat(out_rows, ignore_index=True)
    sort_keys = ["CD_MUN", "year"] + (["month"] if monthly else [])
    return out.sort_values(sort_keys).reset_index(drop=True)


@pytest.fixture(scope="module")
def fixture_frames(spark):
    grid, muns = make_fixture()
    grid_df = spark.createDataFrame(grid)
    muns_df = municipalities_from_pandas(spark, muns)
    daily = daily_enriched(grid_df, muns_df)
    return grid, muns, daily


MEASURE_COLS = ["pr", "ETo", "Rs", "Tmax", "Tmin", "RH", "VPD", "u2"]


def _assert_frame_match(got: pd.DataFrame, want: pd.DataFrame, keys):
    got = got.sort_values(keys).reset_index(drop=True)[want.columns.tolist()]
    key_cols = [c for c in want.columns if c not in MEASURE_COLS]
    pd.testing.assert_frame_equal(
        got[key_cols], want[key_cols], check_dtype=False
    )
    for m in MEASURE_COLS:
        if m not in want.columns:
            continue
        diff = (got[m] - want[m]).abs()
        bad = diff > 0.0050001  # rounded output must be a valid round of truth
        assert not bad.any(), f"{m}: max dev {diff.max()} at {diff.idxmax()}"


def test_annual_golden(fixture_frames):
    grid, muns, daily = fixture_frames
    got = annual_pipeline(daily).toPandas()
    want = pandas_reference(grid, muns, monthly=False)
    assert len(got) == len(want)
    _assert_frame_match(got, want, ["CD_MUN", "year"])


def test_monthly_golden(fixture_frames):
    grid, muns, daily = fixture_frames
    got = monthly_pipeline(daily).toPandas()
    want = pandas_reference(grid, muns, monthly=True)
    assert len(got) == len(want)
    # monthly output must arrive already sorted (O1 parity)
    assert got["CD_MUN"].is_monotonic_increasing or got.equals(
        got.sort_values(["CD_MUN", "year", "month"]).reset_index(drop=True)
    )
    _assert_frame_match(got, want, ["CD_MUN", "year", "month"])


def test_rollup_matches_both_pipelines(fixture_frames):
    _, _, daily = fixture_frames
    rolled = annual_monthly_rollup(daily).toPandas()
    annual = annual_pipeline(daily).toPandas()
    monthly = monthly_pipeline(daily).toPandas()
    assert len(rolled[rolled.gid == 1]) == len(annual)
    assert len(rolled[rolled.gid == 0]) == len(monthly)
    a = rolled[rolled.gid == 1].drop(columns=["gid", "month"])
    _assert_frame_match(
        a, annual.sort_values(["CD_MUN", "year"]).reset_index(drop=True), ["CD_MUN", "year"]
    )


def test_tie_break_snaps_away_from_zero(fixture_frames, spark):
    """Municipality 5 lon=-63.625 lies exactly between -63.75 and -63.5;
    round-half-away-from-zero picks -63.75 (larger magnitude)."""
    grid, muns, _ = fixture_frames
    muns_df = municipalities_from_pandas(spark, muns)
    from amazon_climate_data_etl_spark.functions.climate import grid_snap
    from pyspark.sql import functions as F

    snapped = (
        muns_df.filter(F.col("CD_MUN") == "1100015")
        .select(grid_snap(F.col("lon")).alias("glon"))
        .collect()[0]["glon"]
    )
    assert snapped == -63.75


def test_state_metrics_and_spot_check(fixture_frames):
    grid, muns, daily = fixture_frames
    annual = annual_pipeline(daily)
    metrics = state_split_metrics(annual).toPandas()
    assert set(metrics["UF"]) == {"AM", "PA", "RO"}
    assert (metrics["n_records"] == metrics["n_municipalities"] * 2).all()  # 2 years
    one = spot_check(annual, "1100010", 2001).toPandas()
    assert len(one) == 1


def test_schema_matches_reference_output(fixture_frames):
    _, _, daily = fixture_frames
    annual_cols = annual_pipeline(daily).columns
    assert annual_cols == [
        "CD_MUN", "NM_MUN", "UF", "year",
        "pr", "ETo", "Tmax", "Tmin", "RH", "VPD", "u2", "Rs",
    ]
    monthly_cols = monthly_pipeline(daily).columns
    assert monthly_cols[:5] == ["CD_MUN", "NM_MUN", "UF", "year", "month"]


def test_municipalities_schema():
    assert [f.name for f in MUNICIPALITIES_SCHEMA.fields] == [
        "CD_MUN", "NM_MUN", "UF", "lon", "lat",
    ]
