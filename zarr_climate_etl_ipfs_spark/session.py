"""SparkSession construction and tuning.

The reference hand-sizes a single-machine Dask cluster (4 threads / 32 GB,
memory fractions .65/.65/.92/.98 — gridded_etl_tools/dataset_manager.py:200-223,
utils/publish.py:208-236). On Spark all of that is the unified memory manager's
job; what we own is the *logical* tuning: AQE, shuffle partition count, session
timezone, and broadcast threshold.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: the directory holding this package; Python workers import the package
#: from it whatever the driver's working directory
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)

#: Defaults chosen for local[32] testing but scale-aware: AQE coalesces the
#: shuffle partitions at runtime, so the static number only caps parallelism.
TUNING: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # runtime-mutable; pins externally built sessions (the correctness
    # driver's) to cluster-width shuffles instead of the 200 default —
    # with AQE coalescing below, the static number only caps parallelism
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the few pandas-UDF paths (ingest, CI math).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver's events table stores TIMESTAMP(NANOS); Spark rejects it by
    # default. Read as long nanos and convert (sources: loader in plans/queries).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = "zarr-climate-etl-ipfs-spark", cpus: int | None = None) -> SparkSession:
    """Build a tuned local session. ``cpus`` defaults to $SPARK_GRAFT_CPUS or '*'.

    The package root joins the Python workers' ``PYTHONPATH``
    (``spark.executorEnv.PYTHONPATH``, which Spark merges with its own and
    the driver's), so the package's UDFs run from any working directory."""
    n = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in TUNING.items():
        b = b.config(k, v)
    return b.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable tuning to an externally provided session.

    The correctness driver owns the session; every query entry point calls this
    so results are timezone-stable and plans are AQE-optimized regardless of
    how the session was built.
    """
    for k, v in TUNING.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on this build — fine, defaults are sane
            pass
    return spark
