from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_climate_data_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]")
    yield s


def job_ids_started(spark, fn) -> set[int]:
    """Ids of the Spark jobs ``fn()`` starts: the status tracker's job ids
    after the call less those before it. The listener bus is drained on
    both sides, because a job reaches the tracker asynchronously."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    fn()
    bus.waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None)) - before


def jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts."""
    return len(job_ids_started(spark, fn))


def tasks_per_year(raw, years_of) -> dict[str, int]:
    """``{"year=Y": n}``: how many tasks of the binaryFile scan ``raw`` hold
    a file with rows of year Y, where ``years_of(path)`` names the years a
    file decodes to — the number of Parquet files an ingest of ``raw``
    writes into ``year=Y``."""
    from pyspark.sql import functions as F

    tasks: dict[str, set] = {}
    for r in raw.select("path", F.spark_partition_id().alias("task")).collect():
        for y in years_of(r.path):
            tasks.setdefault(f"year={y}", set()).add(r.task)
    return {k: len(v) for k, v in tasks.items()}


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE
