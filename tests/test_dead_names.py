"""Dead-name guard: every top-level package function or class must be
reached from code that runs outside the test suite.

The scan walks each package module with ``ast`` and collects its
top-level ``def``/``class`` names. A name counts as reached when some
non-test source mentions it as a whole word outside its own definition:
the package itself, ``bench.py``, ``perfbench/``, ``tools/``,
``__spark_entry__.py`` or ``scaling_probe.py``. The match is textual, so
a mention in another module's comment keeps a name alive; the guard
catches code that nothing but a test names.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "amazon_climate_data_etl_spark")

# name -> why it stays although only tests call it
ALLOWED = {
    "write_classic": "fixture writer: builds NetCDF-3 test grids",
    "write_zarr_group": "fixture writer: builds Zarr v2 test stores",
    "write_zarr_v3_group": "fixture writer: builds Zarr v3 test stores",
    "write_geotiff": "fixture writer: builds GeoTIFF test rasters",
    "forward_from_lonlat": "CRS forward projection the inverse is checked against",
    "ingest_geotiff_to_parquet": "SURVEY S1b: the GeoTIFF ingest boundary",
    "write_single_csv": "SURVEY S4: the reference's single UTF-8-BOM CSV",
}


def _sources() -> dict[str, str]:
    paths = [
        os.path.join(ROOT, f)
        for f in ("bench.py", "__spark_entry__.py", "scaling_probe.py")
    ]
    for base in (PACKAGE, os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "tools")):
        for dirpath, _, files in os.walk(base):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    out = {}
    for p in paths:
        if os.path.exists(p):
            with open(p, encoding="utf-8") as f:
                out[p] = f.read()
    return out


def _definitions(sources: dict[str, str]):
    """(path, node) for every top-level def/class of the package."""
    for path, text in sources.items():
        if path.startswith(PACKAGE + os.sep):
            for node in ast.parse(text).body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    yield path, node


def _unreached() -> dict[str, str]:
    """name -> defining module, for every definition nothing else names."""
    sources = _sources()
    out = {}
    for path, node in _definitions(sources):
        word = re.compile(rf"\b{re.escape(node.name)}\b")
        lines = sources[path].splitlines()
        start = min([node.lineno] + [d.lineno for d in node.decorator_list]) - 1
        rest = "\n".join(lines[:start] + lines[node.end_lineno :])
        if word.search(rest) or any(
            word.search(text) for p, text in sources.items() if p != path
        ):
            continue
        out[node.name] = os.path.relpath(path, ROOT)
    return out


def test_every_package_definition_is_reached():
    dead = {n: p for n, p in _unreached().items() if n not in ALLOWED}
    assert not dead, (
        "top-level definitions that only tests reach (delete them with "
        f"their tests, or allowlist them with a reason): {dead}"
    )


def test_allowlist_names_live_definitions():
    defined = {node.name for _, node in _definitions(_sources())}
    assert set(ALLOWED) <= defined, sorted(set(ALLOWED) - defined)
