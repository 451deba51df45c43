"""Pin the platform assumptions the query catalog is built on.

Round 4 lesson: the sandbox moved from Spark 3 to Spark 4 mid-build and the
tz-less testdata parquet silently started reading as TIMESTAMP_NTZ, breaking
four catalog queries at once. This file is the single loud place a platform
shift shows up — if any assertion here fails, fix the assumption (and grep
for its uses) before chasing individual query failures.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

needs_testdata = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="driver testdata absent"
)


@needs_testdata
def test_events_ts_reads_as_timestamp_ntz(spark):
    """The events table's tz-less timestamp[us] parquet must read as
    TIMESTAMP_NTZ — the type every epoch-math site is hardened for
    (plans/queries._epoch_s, operators/updates._epoch_s). A change here
    means the runtime or the testdata writer changed underneath us."""
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz", (
        f"events.ts now reads as {dict(df.dtypes)['ts']!r}; the catalog's "
        "epoch-math helpers assume TIMESTAMP_NTZ-or-TIMESTAMP input — "
        "re-verify every _epoch_s call site and the streaming_hourly_stats "
        "readStream schema"
    )


@needs_testdata
def test_ntz_epoch_math_is_utc_exact(spark):
    """The NTZ→TIMESTAMP hop in _epoch_s is value-exact only while the
    session timezone is UTC; both halves of that contract are asserted."""
    from zarr_climate_etl_ipfs_spark.session import tune

    tune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    row = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select(
            F.min("ts").alias("ts"),
            F.min(F.col("ts").cast("timestamp").cast("double")).alias("epoch"),
        )
        .first()
    )
    import datetime as dt

    expect = row["ts"].replace(tzinfo=dt.timezone.utc).timestamp()
    assert row["epoch"] == expect


def test_direct_numeric_cast_on_ntz_still_rejected(spark):
    """Documents WHY _epoch_s exists: Spark 4 refuses CAST(NTZ AS DOUBLE).
    If this starts passing, the helper is droppable but not wrong."""
    from pyspark.errors.exceptions.captured import AnalysisException

    df = spark.sql("SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts")
    with pytest.raises(AnalysisException):
        df.select(F.col("ts").cast("double")).collect()


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from zarr_climate_etl_ipfs_spark.operators.similarity import ivf_index
from zarr_climate_etl_ipfs_spark.session import get_spark

spark = get_spark("foreign-cwd", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
rows = [(i, [float(i % 3), float(i // 3)]) for i in range(12)]
df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
assigned, centroids = ivf_index(df, n_cells=2, max_iter=1)
print("cells", assigned.count(), len(centroids))
spark.stop()
"""


def test_package_udfs_run_from_a_foreign_working_directory(tmp_path):
    """A driver that finds the package on its own ``sys.path``, running
    from a directory outside the checkout with no ``PYTHONPATH``: the
    package's pandas UDFs (``ivf_index``'s cell assignment) still import it
    in the Python workers, because ``get_spark`` puts the package root on
    their path."""
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT.format(repo=repo)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "cells 12 2" in run.stdout
