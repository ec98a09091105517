"""Output sinks (SURVEY.md §2.1 S4/S5).

The reference writes single CSV files with a UTF-8 BOM (annual.py:506) and
a per-state split via a 7-iteration filter loop (split_by_state.py:39-75).
Spark-first: a header CSV writer, and ``partitionBy`` replacing the loop —
one call, one pass, any number of partitions, works at 100 TB (each state's
files written by the tasks that own its rows; no driver collect)."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_col: str = "UF") -> None:
    """S5: the by-state split. df.write.partitionBy — the idiomatic form of
    the reference's per-state filter loop."""
    df.write.partitionBy(partition_col).mode("overwrite").option(
        "header", True
    ).csv(path)


def write_single_csv(df: DataFrame, path: str, bom: bool = True) -> None:
    """S4: single-file CSV with optional UTF-8 BOM (utf-8-sig parity).

    ``coalesce(1)`` is correct ONLY for small aggregate outputs (the
    reference's outputs are ≤126k rows); large tables should use
    ``write_partitioned``. The BOM is prepended by renaming the part file —
    a writer detail, not query semantics."""
    tmp = path + "._spark_tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    with open(path, "wb") as out:
        if bom:
            out.write(b"\xef\xbb\xbf")
        with open(part, "rb") as src:
            shutil.copyfileobj(src, out)
    shutil.rmtree(tmp)


def write_snapshot(df: DataFrame, path: str, note: str = "") -> int:
    """Versioned dataset snapshot: each call writes an immutable
    ``v=<N>`` directory plus a tiny JSON manifest recording row count,
    schema, and note — dataset versioning for reproducible training runs
    without a lakehouse layer (a training job pins "corpus v7" and the
    files it read can never change underneath it; Delta/Iceberg time
    travel is the managed version of exactly this layout).

    Scale: the data write is one ordinary distributed parquet job into a
    fresh directory (no rewrite of earlier versions, ever); the manifest
    is driver-side metadata of O(1) size. Returns the new version number.
    Readers resolve versions from manifests alone — a concurrent reader
    of v≤N never observes a half-written v=N+1 because the manifest is
    written (atomic rename) only after the data job commits. Writers are
    single-writer-per-dataset by contract (the normal pipeline shape);
    two racing writers cannot corrupt data — ``mode("error")`` makes the
    loser of the v=N+1 directory race fail loudly instead of appending."""
    import json as _json

    os.makedirs(path, exist_ok=True)
    version = 1 + max(
        (
            int(os.path.basename(p)[2:])
            for p in glob.glob(os.path.join(path, "v=*"))
            if os.path.basename(p)[2:].isdigit()
        ),
        default=0,
    )
    data_dir = os.path.join(path, f"v={version}")
    df.write.mode("error").parquet(data_dir)
    n_rows = df.sparkSession.read.parquet(data_dir).count()
    manifest = {
        "version": version,
        "n_rows": n_rows,
        "schema": df.schema.jsonValue(),
        "note": note,
    }
    tmp = os.path.join(path, f"_manifest_v{version}.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, f"_manifest_v{version}.json"))
    return version


def read_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Read one snapshot version (default: latest MANIFESTED version —
    data directories without a committed manifest are invisible). The
    returned scan is pinned to that version's directory, so downstream
    jobs are reproducible regardless of later snapshot writes."""
    manifests = sorted(
        int(os.path.basename(p)[len("_manifest_v") : -len(".json")])
        for p in glob.glob(os.path.join(path, "_manifest_v*.json"))
        if not p.endswith(".tmp")
    )
    if not manifests:
        raise FileNotFoundError(f"no committed snapshot under {path!r}")
    v = version if version is not None else manifests[-1]
    if v not in manifests:
        raise FileNotFoundError(f"snapshot v={v} not committed under {path!r}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def snapshot_manifests(path: str) -> list[dict]:
    """All committed manifests, oldest first — the audit trail."""
    import json as _json

    out = []
    for p in sorted(
        glob.glob(os.path.join(path, "_manifest_v*.json")),
        key=lambda p: int(os.path.basename(p)[len("_manifest_v") : -len(".json")]),
    ):
        with open(p) as f:
            out.append(_json.load(f))
    return out
