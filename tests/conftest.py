from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _shim_protobuf() -> None:
    """Test-environment protobuf pin (round-5 review item #6): the
    container has no pip-installed google.protobuf (which gates the
    Spark-4 transformWithStateInPandas state protocol), but the machine's
    gcloud SDK bundles the full OSS protobuf runtime. Expose ONLY its
    ``google`` namespace through a symlink dir (never the whole appengine
    platform dir, which would shadow unrelated packages), on both
    sys.path and PYTHONPATH so Python workers inherit it. The runtime is
    one minor version behind pyspark's gencode (6.32 vs 6.33) — wire
    format is stable, and protobuf's own documented escape hatch
    acknowledges the check is advisory. The ENGINE keeps its import-gate:
    this shim is test-environment-only, which is exactly where the
    review asked for the pin."""
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    gae = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    if not os.path.isdir(os.path.join(gae, "google", "protobuf")):
        return
    shim = "/tmp/spark_graft_protobuf_shim"
    os.makedirs(shim, exist_ok=True)
    link = os.path.join(shim, "google")
    if not os.path.islink(link):
        os.symlink(os.path.join(gae, "google"), link)
    sys.path.append(shim)
    os.environ["PYTHONPATH"] = (
        os.environ.get("PYTHONPATH", "").rstrip(os.pathsep) + os.pathsep + shim
    ).lstrip(os.pathsep)
    os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")


_shim_protobuf()

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


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE
