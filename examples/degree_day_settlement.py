"""Worked example: a parametric weather settlement pipeline, end to end.

The reference's ETL exists to feed parametric weather products: a
contract pays out when a degree-day index computed from published
climate data crosses a strike. This example runs that consumer loop on
this engine:

  step                                         → this engine
  ------------------------------------------------------------------
  ingested gridded temperature data            → GridStore (ACID table,
                                                 time-bucket manifest)
  publish for downstream distribution          → GridStore.export_grib2
                                                 (sharded GRIB2, the format
                                                 the reference's own ETLs
                                                 consume)
  consumer re-ingest of the published files    → read_binary_gridded +
                                                 grib2_decoder
  daily resample → monthly HDD/CDD index       → two cascaded partial
                                                 aggregations (the
                                                 degree_days catalog query)
  strike/tick settlement per contract          → broadcast join of a tiny
                                                 contract dim onto the
                                                 index table

Run:  python examples/degree_day_settlement.py
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor  # noqa: E402
from zarr_climate_etl_ipfs_spark.session import get_spark  # noqa: E402
from zarr_climate_etl_ipfs_spark.sources.grib2 import grib2_decoder  # noqa: E402
from zarr_climate_etl_ipfs_spark.sources.ingest import read_binary_gridded  # noqa: E402
from zarr_climate_etl_ipfs_spark.sources.store import GridStore  # noqa: E402


def main() -> None:
    spark = get_spark("degree_day_settlement")
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="ddsettle_"))

    # -- 1. a winter of daily temperatures on a small grid -------------------
    ny, nx, days = 4, 6, 90
    lats = 45.0 - np.arange(ny, dtype="float64")
    lons = -100.0 + np.arange(nx, dtype="float64")
    rng = np.random.RandomState(7)
    t0 = np.datetime64("2024-11-01", "ns")
    times = t0 + np.repeat(
        np.arange(days, dtype="int64"), ny * nx
    ).astype("timedelta64[D]").astype("timedelta64[ns]")
    seasonal = 45.0 - 20.0 * np.sin(
        np.pi * np.repeat(np.arange(days), ny * nx) / days
    )
    pdf = pd.DataFrame(
        {
            "time": times,
            "latitude": np.tile(np.repeat(lats, nx), days),
            "longitude": np.tile(np.tile(lons, ny), days),
            "tavg": np.round(seasonal + rng.normal(0, 6, days * ny * nx), 2),
        }
    )
    desc = DatasetDescriptor(dataset_name="tavg", data_var="tavg", time_bucket="month")
    gs = GridStore(work / "store", desc, spark)
    gs.write_initial(spark.createDataFrame(pdf))
    print(f"store: {days} days x {ny}x{nx} grid ingested")

    # -- 2. publish as sharded GRIB2 and re-ingest like a consumer -----------
    pub = work / "published"
    man = gs.export_grib2(pub, decimal_scale=2)
    print(f"published: {man['files']} grib2 files, {man['messages']} messages")
    back = read_binary_gridded(
        spark, str(pub / "*.grib2"), desc, decoder=grib2_decoder(desc)
    )

    # -- 3. monthly heating degree days per cell (base 65F) ------------------
    daily = back.filter(F.col("tavg").isNotNull()).groupBy(
        F.col("latitude"),
        F.col("longitude"),
        F.to_date("time").alias("day"),
    ).agg(F.avg("tavg").alias("tmean"))
    index = (
        daily.groupBy(
            "latitude",
            "longitude",
            F.date_format("day", "yyyy-MM").alias("month"),
        )
        .agg(
            F.round(F.sum(F.greatest(F.lit(65.0) - F.col("tmean"), F.lit(0.0))), 1)
            .alias("hdd")
        )
    )

    # -- 4. settle contracts: strike + tick, capped ---------------------------
    contracts = spark.createDataFrame(
        pd.DataFrame(
            {
                "contract_id": ["HDD-NOV", "HDD-DEC", "HDD-JAN"],
                "month": ["2024-11", "2024-12", "2025-01"],
                "strike_hdd": [450.0, 650.0, 700.0],
                "tick_usd": [25.0, 25.0, 40.0],
                "cap_usd": [5000.0, 5000.0, 8000.0],
            }
        )
    )
    payout = F.least(
        F.greatest(F.col("hdd") - F.col("strike_hdd"), F.lit(0.0))
        * F.col("tick_usd"),
        F.col("cap_usd"),
    )
    settlement = (
        index.join(F.broadcast(contracts), "month")
        .withColumn("payout_usd", F.round(payout, 2))
        .groupBy("contract_id", "month", "strike_hdd")
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.avg("hdd"), 1).alias("avg_hdd"),
            F.round(F.sum("payout_usd"), 2).alias("total_payout_usd"),
        )
        .orderBy("month")
    )
    settlement.show(truncate=False)
    rows = settlement.collect()
    assert len(rows) == 3 and all(r["n_cells"] == ny * nx for r in rows)
    print("settlement computed for", len(rows), "contracts — OK")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
