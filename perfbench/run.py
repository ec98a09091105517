#!/usr/bin/env python3
"""End-to-end benchmark of the climate engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload raw_netcdf --seed 1 --seconds 10 --trace 0

Workloads (one process, Spark at ``local[nproc]``, one closed-loop client):

- ``raw_netcdf``: the paper's own path. Seven NetCDF-4 variable grids and a
  municipality shapefile, generated from the seed, go through bbox-clipped
  ingest, the long-to-wide pivot, the shapefile dimension, grid-snap enrich
  with VPD, and the annual and monthly tables written split by state.
- ``registry_mix``: eleven registered queries from ``__spark_entry__``
  over seeded star-schema, events and documents tables, in a seeded order,
  each built and collected.

The measured window runs whole passes until ``--seconds`` have elapsed
(at least one). Every pass is checked: the raw tables against an
independent numpy recomputation from the generated cubes, each query
against its DuckDB oracle. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs with spans and Spark status-store probes and prints the
per-layer metrics, writing every span to ``perfbench/_work/``. The last
stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import hashlib
import json
import math
import os
import platform
import random
import re
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "amazon_climate_data_etl_spark"
WORKLOADS = ("raw_netcdf", "registry_mix")

MIX = (
    "climate_annual", "climate_monthly", "climate_precip_anomaly",
    "climate_heatwave_runs", "climate_e2e", "zonal_stats_polygons",
    "grid_snap_join", "q1_pricing_summary", "q5_supplier_volume",
    "q20_dominant_suppliers", "simhash_near_pairs",
)
# run once in set-up: a relational, a climate and a text query. The first
# queries in a fresh JVM pay for class loading and JIT compilation; without
# this the pass's CPU time depended on which query the seed put first.
WARMUP = ("q1_pricing_summary", "climate_annual", "simhash_near_pairs")

END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s"}
PER_LAYER_UNITS = {
    "run.wall_s": "s", "run.query_p50_s": "s", "run.query_cpu_p50_s": "s",
    "run.cells_per_s": "1/s",
    "run.peak_rss_mb": "MB", "run.steal_share": "share",
    "session.start_s": "s", "session.ship_s": "s", "session.worker_warm_s": "s",
    "ingest.s": "s", "ingest.tasks": "count", "ingest.task_run_s": "s",
    "ingest.core_busy_share": "share", "ingest.rows": "count",
    "ingest.bytes_in": "B", "ingest.bytes_out": "B",
    "dim.s": "s",
    "build.s": "s", "build.jobs": "count",
    "catalog.load_calls": "count", "catalog.load_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.exchanges": "count",
    "sink.s": "s", "sink.files": "count", "sink.bytes": "B", "sink.rows": "count",
    "trace.unattributed_share": "share",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is the smoke-test scale")
    return p.parse_args(argv)


def require_checkout() -> None:
    """The engine is built from the checkout the benchmark runs in; without
    it there is nothing to measure."""
    missing = [
        p for p in (os.path.join(PACKAGE, "__init__.py"), "__spark_entry__.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        sys.stderr.write(
            f"perfbench: run from the root of a checkout; missing {missing} in {ROOT}\n"
        )
        sys.exit(2)


def pin_environment(work: str, cpus: int) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python into the
    checkout, and pin the engine's core count to this machine's. Must run
    before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={work}",
        # keep every job, stage and execution of a run for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --- correctness -------------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (dt.date, int, str, bool)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(float(v)) if hasattr(v, "__float__") else str(v)


def result_digest(table) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive sha256 of the
    rows) of an Arrow table."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pydict()
    rows = sorted(
        "\x1f".join(_canon(data[c][i]) for c in cols) for i in range(table.num_rows)
    )
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return table.num_rows, [c.lower() for c in cols], h


def raw_reference(info: dict, spec) -> dict[str, dict]:
    """Annual and monthly tables recomputed with numpy from the generated
    cubes: nearest-cell snap of each municipality's polygon centroid, VPD
    per day, sums and means per (year[, month]), round to 2 decimals.

    The engine sums exact decimal(24,8) casts and rounds with
    floor(x*100 + 0.5)/100; the inputs are multiples of 1/64, so the same
    float64 operations reproduce it. VPD is quantized to 8 decimals the same
    way before summing."""
    import numpy as np

    from inputs import STEP

    mun, cubes = info["municipalities"], info["cubes"]
    dates = spec.dates
    years = np.array([d.year for d in dates])
    months = np.array([d.month for d in dates])
    li = np.rint((spec.lat_top - mun["lat"].to_numpy()) / STEP).astype(int)
    lj = np.rint((mun["lon"].to_numpy() - spec.lon_left) / STEP).astype(int)
    series = {v: c[:, li, lj].astype(np.float64) for v, c in cubes.items()}
    tm = (series["Tmax"] + series["Tmin"]) / 2.0
    vpd = 0.6108 * np.exp(17.27 * tm / (tm + 237.3)) * (1 - series["RH"] / 100.0)
    vpd_q = np.rint(vpd * 1e8).astype(np.int64)

    def r2(x):
        return np.floor(x * 100.0 + 0.5) / 100.0

    out: dict[str, dict] = {"annual": {}, "monthly": {}}
    groups = {
        "annual": {(y,): years == y for y in sorted(set(years))},
        "monthly": {
            (y, m): (years == y) & (months == m)
            for y, m in sorted(set(zip(years, months)))
        },
    }
    for table, keyed in groups.items():
        for key, mask in keyed.items():
            n = int(mask.sum())
            vals = {}
            for v in ("pr", "ETo", "Rs"):
                vals[v] = r2(series[v][mask].sum(axis=0))
            for v in ("Tmax", "Tmin", "RH", "u2"):
                vals[v] = r2(series[v][mask].sum(axis=0) / n)
            vals["VPD"] = r2((vpd_q[mask].sum(axis=0) / 1e8) / n)
            for i, row in enumerate(mun.itertuples()):
                out[table][(row.CD_MUN, *key)] = {
                    "NM_MUN": row.NM_MUN, "UF": row.SIGLA_UF,
                    **{v: float(vals[v][i]) for v in vals},
                }
    return out


def check_raw_tables(out_dir: str, expected: dict[str, dict]) -> list[str]:
    """Compare the written CSV tables with the reference; same tolerance as
    the engine's raw-pipeline end-to-end test."""
    import pandas as pd

    problems = []
    for table, exp in expected.items():
        parts = []
        for path in glob.glob(os.path.join(out_dir, table, "UF=*", "*.csv")):
            df = pd.read_csv(path, dtype={"CD_MUN": str, "NM_MUN": str})
            df["UF"] = os.path.basename(os.path.dirname(path))[3:]
            parts.append(df)
        got = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        if len(got) != len(exp):
            problems.append(f"{table}: {len(got)} rows, expected {len(exp)}")
            continue
        keys = ["CD_MUN", "year"] + (["month"] if table == "monthly" else [])
        records = got.to_dict("records")
        seen = {tuple(r[k] if k == "CD_MUN" else int(r[k]) for k in keys) for r in records}
        if seen != set(exp):
            problems.append(f"{table}: keys differ, e.g. {sorted(seen ^ set(exp))[:3]}")
            continue
        for rec in records:
            key = tuple(rec[k] if k == "CD_MUN" else int(rec[k]) for k in keys)
            want = exp[key]
            bad = [
                c for c, w in want.items()
                if (rec[c] != w if isinstance(w, str) else abs(rec[c] - w) >= 1e-9)
            ]
            if bad:
                problems.append(f"{table} {key}: {[(c, rec[c], want[c]) for c in bad]}")
                break
    return problems


# --- workloads ----------------------------------------------------------------


class RawNetcdf:
    def __init__(self, scale: str):
        from inputs import FULL_GRID, TINY_GRID

        self.spec = FULL_GRID if scale == "full" else TINY_GRID

    def generate(self, root: str, seed: int) -> dict:
        from inputs import write_raw_netcdf

        return write_raw_netcdf(root, self.spec, seed)

    def warm_up(self, spark, info: dict, work: str) -> None:
        """Nothing: the pipeline runs in a fixed order, so a pass pays the
        same first-call costs every run, as a batch job does."""

    def prepare_check(self, info: dict) -> None:
        self.expected = raw_reference(info, self.spec)

    def input_cells(self, info: dict) -> int:
        return info["cells"]

    def run_pass(self, spark, tracer, info: dict, work: str) -> dict:
        from amazon_climate_data_etl_spark.operators.climate import (
            annual_pipeline,
            daily_enriched,
            monthly_pipeline,
        )
        from amazon_climate_data_etl_spark.sources.ingest import (
            ingest_netcdf_to_parquet,
            municipalities_from_shapefile,
            pivot_grid_wide,
        )
        from amazon_climate_data_etl_spark.sources.sinks import write_partitioned
        from inputs import VARS
        from spans import program_cpu_seconds

        calls, frames = [], []
        grid, out = os.path.join(work, "grid"), os.path.join(work, "out")

        def timed(fn, *a, **kw):
            t, c = time.perf_counter(), program_cpu_seconds()
            r = fn(*a, **kw)
            calls.append(
                (fn.__name__, time.perf_counter() - t, program_cpu_seconds() - c)
            )
            return r

        def pivot():
            long = None
            for v in VARS:
                part = spark.read.parquet(os.path.join(grid, v)).drop("year")
                long = part if long is None else long.unionByName(part)
            return pivot_grid_wide(long)

        error = None
        try:
            for v in VARS:
                with tracer.span(f"ingest_netcdf_to_parquet:{v}", "ingest", True):
                    timed(ingest_netcdf_to_parquet, spark, info["files"][v],
                          os.path.join(grid, v), v, bounds=self.spec.bounds)
            with tracer.span("pivot_grid_wide", "build", True):
                wide = timed(pivot)
            with tracer.span("municipalities_from_shapefile", "dim", True):
                dim = timed(municipalities_from_shapefile, spark, info["shapefile"])
            with tracer.span("daily_enriched", "build", True):
                daily = timed(daily_enriched, wide, dim, step=0.25)
            frames += [wide, daily]
            for table, fn in (("annual", annual_pipeline), ("monthly", monthly_pipeline)):
                with tracer.span(fn.__name__, "build", True):
                    frame = timed(fn, daily)
                with tracer.span(f"write_partitioned:{table}", "sink", True):
                    timed(write_partitioned, frame, os.path.join(out, table), "UF")
                frames.append(frame)
        except Exception:  # a failed pass is counted, not fatal
            error = traceback.format_exc()
        return {"calls": calls, "frames": frames, "out": out, "error": error,
                "sink_dirs": [os.path.join(out, t) for t in ("annual", "monthly")]}

    def check(self, result: dict) -> tuple[int, int, list[str]]:
        if result["error"]:
            return 1, 1, [f"pass raised\n{result['error']}"]
        problems = check_raw_tables(result["out"], self.expected)
        return 1, int(bool(problems)), problems


class RegistryMix:
    def __init__(self, scale: str, seed: int):
        self.scale = scale
        self.rng = random.Random(seed)  # the query order of every pass
        self.entry = self._entry()
        self.queries = {n: self.entry.queries()[n] for n in MIX}

    def generate(self, root: str, seed: int) -> dict:
        from inputs import write_registry_tables

        return write_registry_tables(root, seed, self.scale)

    @staticmethod
    def _entry():
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def prepare_check(self, info: dict) -> None:
        """Run every query's DuckDB oracle once over the generated tables."""
        import duckdb

        oracle = self.entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in info["shapes"]:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(info['dir'], t)}.parquet')"
                )
            self.expected = {n: result_digest(con.execute(oracle[n]).arrow()) for n in MIX}
        finally:
            con.close()
        # input cells per query: the tables its oracle reads, whole
        self.cells = {
            n: sum(
                rows * ncols for t, (rows, ncols) in info["shapes"].items()
                if re.search(rf"\b{t}\b", oracle[n])
            )
            for n in MIX
        }

    def input_cells(self, info: dict) -> int:
        return sum(self.cells.values())

    def warm_up(self, spark, info: dict, work: str) -> None:
        from amazon_climate_data_etl_spark.operators import climate

        # climate_e2e writes and re-reads a sink; keep it inside the checkout
        climate.E2E_SINK_ROOT = os.path.join(work, "climate_e2e")
        for name in WARMUP:
            self.queries[name](spark, info["dir"]).toArrow()
            spark.catalog.clearCache()

    def run_pass(self, spark, tracer, info: dict, work: str) -> dict:
        from spans import program_cpu_seconds

        order = list(MIX)
        self.rng.shuffle(order)
        calls, frames, results, errors = [], [], {}, {}
        for name in order:
            with tracer.span(name, "query"):
                t, c = time.perf_counter(), program_cpu_seconds()
                try:
                    with tracer.span("build", "build", True):
                        df = self.queries[name](spark, info["dir"])
                    with tracer.span("run", "exec", True):
                        results[name] = df.toArrow()
                    frames.append(df)
                except Exception:  # one failed query must not end the pass
                    errors[name] = traceback.format_exc()
                calls.append(
                    (name, time.perf_counter() - t, program_cpu_seconds() - c)
                )
            with tracer.span("clearCache", "harness"):
                spark.catalog.clearCache()
        return {"calls": calls, "frames": frames, "results": results,
                "errors": errors, "sink_dirs": []}

    def check(self, result: dict) -> tuple[int, int, list[str]]:
        problems = [f"{n}: raised\n{tb}" for n, tb in result["errors"].items()]
        for name, table in result["results"].items():
            got, want = result_digest(table), self.expected[name]
            if got != want:
                problems.append(f"{name}: rows/columns/hash {got} vs oracle {want}")
        attempted = len(result["calls"])
        return attempted, len(problems), problems


# --- run ----------------------------------------------------------------------


def start_session(conf: dict, cpus: int) -> tuple[object, dict]:
    from amazon_climate_data_etl_spark.session import get_spark, ship_package_to_workers

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    ship_package_to_workers(spark)
    return spark, {"session.start_s": t1 - t0,
                   "session.ship_s": time.perf_counter() - t1}


def warm_workers(spark, cpus: int) -> float:
    """Start a Python worker on every core; returns the seconds it took."""
    from pyspark.sql import types as T

    t = time.perf_counter()
    schema = T.StructType([T.StructField("id", T.LongType())])
    spark.range(cpus, numPartitions=cpus).mapInPandas(lambda it: it, schema).count()
    return time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def catalyst_ms(frames) -> dict[str, float]:
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in frames:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] += kv._2().durationMs()
    return out


def dir_files(paths) -> tuple[int, int]:
    files = [
        p for d in paths for p in glob.glob(os.path.join(d, "**", "part-*"), recursive=True)
    ]
    return len(files), sum(os.path.getsize(p) for p in files)


def layer_metrics(tracer, probe, pass_span, frames, sink_dirs, cpus) -> dict:
    """Per-layer numbers of one pass, from its spans and the jobs each one
    caused."""
    spans = [s for s in tracer.spans if s.pass_no == pass_span.pass_no]
    by_layer: dict[str, list] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)

    def secs(layer):
        return sum(s.seconds for s in by_layer.get(layer, []))

    def stats(layers):
        jobs = [j for lay in layers for s in by_layer.get(lay, []) for j in s.jobs]
        return probe.job_stats(jobs)

    m: dict[str, float] = {}
    ing = stats(["ingest"])
    n_ingest = len(by_layer.get("ingest", []))
    m["ingest.s"] = secs("ingest")
    m["ingest.tasks"] = ing["input_tasks"] / n_ingest if n_ingest else 0
    m["ingest.task_run_s"] = ing["task_run_s"]
    m["ingest.core_busy_share"] = (
        ing["task_run_s"] / (m["ingest.s"] * cpus) if m["ingest.s"] else 0.0
    )
    m["ingest.rows"] = ing["output_rows"]
    m["ingest.bytes_in"] = ing["input_b"]
    m["ingest.bytes_out"] = ing["output_b"]
    m["dim.s"] = secs("dim")
    m["build.s"] = secs("build")
    m["build.jobs"] = stats(["build"])["jobs"]
    m["catalog.load_calls"] = len(by_layer.get("catalog", []))
    m["catalog.load_s"] = secs("catalog")
    for phase, ms in catalyst_ms(frames).items():
        m[f"catalyst.{phase}_ms"] = ms
    # Spark executes the plans inside the collect (queries) or the write
    # (raw tables); both count as execution
    ex = stats(["exec", "sink"])
    m["exec.s"] = secs("exec") + secs("sink")
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s"):
        m[f"exec.{k}"] = ex[k]
    m["exec.shuffle_read_mb"] = ex["shuffle_read_b"] / 2**20
    m["exec.shuffle_write_mb"] = ex["shuffle_write_b"] / 2**20
    m["exec.spill_mb"] = ex["spill_b"] / 2**20
    m["exec.exchanges"] = sum(
        probe.exchanges(*s.sql_executions)
        for lay in ("exec", "sink") for s in by_layer.get(lay, [])
    )
    m["sink.s"] = secs("sink")
    m["sink.files"], m["sink.bytes"] = dir_files(sink_dirs)
    m["sink.rows"] = stats(["sink"])["output_rows"]
    top = sum(s.seconds for s in spans if s.parent == pass_span.id)
    m["trace.unattributed_share"] = max(0.0, 1.0 - top / pass_span.seconds)
    return m


def trace_catalog(tracer) -> None:
    """Record a catalog span around every ``load_table`` call the engine
    makes, wherever the engine imported the function."""
    import amazon_climate_data_etl_spark.catalog as catalog

    original = catalog.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span(f"load_table:{name}", "catalog"):
            return original(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith(PACKAGE)
                and getattr(mod, "load_table", None) is original):
            mod.load_table = load_table


def tail_percentile(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, and its
    value (nearest rank); None when there are too few samples."""
    n = len(samples)
    if n <= 10:
        return None, None
    rank = n - 10  # 1-based rank of the value with exactly 10 above it
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def versions(spark) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def measure(args, work: str, conf: dict, cpus: int, sessions: list):
    """Set up, run the passes and check them. Returns (metrics, stamps,
    problems, attempted, failed); the Spark session is appended to
    ``sessions`` so the caller can stop it whatever happens."""
    load_start = os.getloadavg()

    from spans import (
        RssSampler, SparkProbe, Tracer, cpu_times, harness_cpu_seconds,
        program_cpu_seconds, reference_cpu_s, steal_share,
    )

    wl = (RawNetcdf(args.scale) if args.workload == "raw_netcdf"
          else RegistryMix(args.scale, args.seed))
    stamps = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "nproc": cpus, "SPARK_GRAFT_CPUS": cpus,
        "loadavg_start": load_start,
    }

    # one cold set-up: JVM launch and session start, package ship, input
    # generation, a Python-worker warm-up on every core and the workload's
    # own warm-up
    t0 = time.perf_counter()
    spark, sess = start_session(conf, cpus)
    sessions.append(spark)
    info = wl.generate(os.path.join(work, "inputs"), args.seed)
    warm_s = warm_workers(spark, cpus)
    t1 = time.perf_counter()
    wl.warm_up(spark, info, work)
    stamps["workload_warm_s"] = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0
    stamps.update(sess)
    stamps["session.worker_warm_s"] = warm_s
    stamps["input_cells"], stamps["input_bytes"] = info["cells"], info["bytes"]
    stamps["versions"] = versions(spark)

    t = time.perf_counter()
    wl.prepare_check(info)
    stamps["check_prepare_s"] = time.perf_counter() - t

    probe = SparkProbe(spark) if args.trace else None
    tracer = Tracer(probe)
    if args.trace:
        trace_catalog(tracer)
    walls, cpus_s, harness_s, calls, layer_rows = [], [], [], [], []
    ref_cpu = [reference_cpu_s()]
    attempted = failed = 0
    problems: list[str] = []
    with RssSampler() as rss:
        t_start, machine0 = time.perf_counter(), cpu_times()
        while not walls or time.perf_counter() - t_start < args.seconds:
            tracer.pass_no = len(walls)
            with tracer.span(f"pass{len(walls)}", "pass") as ps:
                t0, c0 = time.perf_counter(), program_cpu_seconds()
                h0 = harness_cpu_seconds()
                result = wl.run_pass(spark, tracer, info, work)
                walls.append(time.perf_counter() - t0)
                cpus_s.append(program_cpu_seconds() - c0)
                harness_s.append(harness_cpu_seconds() - h0)
            calls += result["calls"]
            if args.trace:
                layer_rows.append(layer_metrics(
                    tracer, probe, ps, result["frames"], result["sink_dirs"], cpus))
            a, f, p = wl.check(result)
            attempted, failed, problems = attempted + a, failed + f, problems + p
        measured_s = time.perf_counter() - t_start
        steal = steal_share(machine0, cpu_times())
    ref_cpu.append(reference_cpu_s())

    wall = median(walls)
    e2e = {
        "setup_s": setup_s,
        "cpu_s": median(cpus_s),
    }
    run = {
        "run.wall_s": wall,
        "run.query_p50_s": median([w for _, w, _ in calls]),
        "run.query_cpu_p50_s": median([c for _, _, c in calls]),
        "run.cells_per_s": wl.input_cells(info) / wall,
        "run.peak_rss_mb": rss.peak_bytes / 2**20,
        "run.steal_share": steal,
    }
    pct, tail = tail_percentile([w for _, w, _ in calls])
    stamps.update({
        "passes": len(walls), "pass_walls_s": walls, "pass_cpu_s": cpus_s,
        "pass_harness_cpu_s": harness_s,
        "measured_s": measured_s, "ref_cpu_s": ref_cpu, **run,
        "calls": calls, "query_tail_s": tail, "query_tail_percentile": pct,
        "loadavg_end": os.getloadavg(), "failed": failed, "attempted": attempted,
    })

    records = os.path.join(HERE, "_work", "records")
    os.makedirs(records, exist_ok=True)
    # the untraced baseline of the traced overhead: same workload and scale
    untraced = os.path.join(records, f"{args.workload}-{args.scale}-untraced.json")
    if args.trace:
        per_layer = {
            k: median([row[k] for row in layer_rows]) for k in layer_rows[0]
        }
        per_layer.update(run)
        for k in ("session.start_s", "session.ship_s", "session.worker_warm_s"):
            per_layer[k] = stamps[k]
        metrics = {k: (per_layer[k], u) for k, u in PER_LAYER_UNITS.items()}
        if os.path.exists(untraced):
            # the cost of tracing, against the last untraced run
            with open(untraced) as f:
                base = json.load(f)
            stamps["trace_overhead_baseline_seed"] = base["stamps"]["seed"]
            stamps["trace_overhead_cpu_share"] = e2e["cpu_s"] / base["end_to_end"]["cpu_s"] - 1
            stamps["trace_overhead_wall_share"] = wall / base["stamps"]["run.wall_s"] - 1
        tracer.write(
            os.path.join(records, f"{args.workload}-seed{args.seed}-trace.json"),
            {"stamps": stamps, "end_to_end": e2e, "per_layer": per_layer,
             "per_pass": layer_rows},
        )
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END_UNITS.items()}
        with open(untraced, "w") as f:
            json.dump({"stamps": stamps, "end_to_end": e2e}, f, indent=1)

    return metrics, stamps, problems, attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    require_checkout()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = pin_environment(work, cpus)
    sys.path.insert(0, HERE)
    sessions: list = []
    try:
        metrics, stamps, problems, attempted, failed = measure(
            args, work, conf, cpus, sessions)
    finally:
        stop_spark(sessions[-1] if sessions else None)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        sys.stderr.write(f"perfbench: check failed: {p}\n")
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({"stamps": stamps}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
