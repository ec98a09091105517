"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes parallelism and chunking from probed CPU/RAM
(``/root/reference/scripts/process_climate_amazon_annual.py:36-66``); on Spark
that entire concern collapses into a handful of configs — AQE for runtime
re-planning (partition coalescing, skew-join splitting), Arrow for any
pandas-UDF boundary, and a shuffle-partition count sized to the local core
count. On a real cluster the same code runs unchanged with
``spark.sql.shuffle.partitions`` sized to total cores and dynamic allocation
taking the place of ``local[N]``.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Defaults chosen for the driver's harness: local[32], 32 shuffle partitions.
# At cluster scale these are overridden by spark-submit conf; nothing in the
# engine depends on their values.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "amazon-climate-data-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    Scale posture:
    - AQE on: runtime coalescing of small shuffle partitions, skew-join
      splitting, and dynamic broadcast-join demotion/promotion.
    - ``autoBroadcastJoinThreshold`` left at default (10 MB): dimension
      tables (nation/region/municipalities) broadcast automatically; the
      engine additionally hints ``broadcast()`` where cardinality is known.
    - ``maxPartitionBytes`` default 128 MB: at 100 TB that is ~800k input
      splits, which is the intended granularity for a 1000-executor fleet.
    - Arrow enabled for every pandas-UDF exchange.
    - Shuffle partitions = the session's core count: the ``N`` of a
      ``local[N]`` master, else ``SPARK_GRAFT_CPUS`` — one width for
      every session, so plans measured in one are the plans of all.
    """
    cpus = _DEFAULT_CPUS
    local_n = re.fullmatch(r"local\[(\d+)\]", master or "")
    width = local_n.group(1) if local_n else cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce INSIDE cached-plan materialization too: the
        # engine persists branch-point frames (shingle/signature/pair
        # inputs), and with this off (the default) a cache freezes its
        # pre-AQE partition count, so every downstream job pays one tiny
        # task per frozen partition — measured 630 vs 134 executed tasks
        # for dedup_components at sf0.1. Results are partitioning-
        # independent by the portable-arithmetic design (parity-proven),
        # and at 100 TB coalescing only ever merges genuinely small
        # outputs, so this is safe at every scale.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Per-Column-call origin capture (PySpark 4's DataFrame debugging)
        # runs a Python traceback inspection + a JVM set/clear round-trip
        # on EVERY DataFrame/Column API call — measured ~0.3 s of pure
        # driver latency while BUILDING a plan-heavy query
        # (ann_recall_eval constructs ~600 wrapped calls). Production
        # engines run with it off: error messages lose the user call-site
        # line, execution semantics are untouched.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.shuffle.partitions", width)
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet: vectorized reader + filter pushdown are on by default;
        # keep rebase modes deterministic for stable golden comparisons.
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        # Some producers (pandas/pyarrow default) write TIMESTAMP(NANOS);
        # Spark has no nanosecond timestamp type, so read them as raw int64
        # nanos — catalog.load_table normalizes to microsecond timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


_PYFILES_SHIPPED: set[int] = set()


def ship_package_to_workers(spark: SparkSession) -> None:
    """Make this package importable inside Python workers.

    Required before any mapInPandas/pandas-UDF operator whose function lives
    in this package: workers are separate processes that import UDFs by
    module reference, and the driver's sys.path does not propagate. Zips the
    package once per session and distributes via ``addPyFile`` (the runtime
    equivalent of ``spark-submit --py-files``)."""
    key = id(spark)
    if key in _PYFILES_SHIPPED:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="spark_graft_pyfiles_")
    zip_base = os.path.join(tmp, "amazon_climate_data_etl_spark")
    shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                        os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_base + ".zip")
    _PYFILES_SHIPPED.add(key)
