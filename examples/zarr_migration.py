"""Worked example: migrating OFF (and back ONTO) a published Zarr store.

The reference's entire output surface is a Zarr v2 store
(utils/publish.py ``write_initial_zarr``/``to_zarr``), so a migrating
user arrives with published zarr data and departing consumers still
expect it. This example runs the full loop on a synthetic stand-in for
a reference-published store:

  reference artifact / step                    → this engine
  ------------------------------------------------------------------
  the published Zarr v2 store itself           → sources/zarr2 (pure-spec
    (.zarray/.zattrs/.zmetadata + chunks)        reader/writer, stdlib+numpy)
  zarr_json_to_dataset / store.dataset()       → read_zarr_tall (distributed:
    (transform.py:560-600, store.py:154-170)     spark.range over chunk
                                                 ordinals + mapInPandas)
  date-range slicing on the store              → bounds= chunk-grid pruning
  ingest into the production table             → GridStore.ingest_zarr
  continued publishing for zarr consumers      → GridStore.export_zarr
  stores written by zarr-python 3 (v3 spec)    → the same reader, v3 dialect

Run:  python examples/zarr_migration.py
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import datetime as dt

import numpy as np
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
from zarr_climate_etl_ipfs_spark.session import get_spark
from zarr_climate_etl_ipfs_spark.sources import zarr2
from zarr_climate_etl_ipfs_spark.sources.store import GridStore


def main() -> None:
    spark = get_spark("zarr-migration-example")
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="zarr_migration_"))

    # -- 0. the store the user arrives with: a reference-style published
    #       Zarr v2 group (time/lat/lon coords + a precip variable, NaN
    #       fill, zlib chunks, consolidated metadata) ---------------------
    legacy = str(work / "published_zarr")
    days = np.arange("2023-06-01", "2023-06-21", dtype="M8[D]").astype("M8[ns]")
    lats = np.linspace(35.0, 38.0, 4)
    lons = np.linspace(-100.0, -97.0, 4)
    rng = np.random.RandomState(7)
    pr = rng.gamma(2.0, 3.0, (len(days), 4, 4)).astype("<f4")
    pr[5, 2, 2] = np.nan  # a genuinely missing observation
    zarr2.write_zarr_array_local(legacy, "time", days, attrs={zarr2.DIM_ATTR: ["time"]})
    zarr2.write_zarr_array_local(legacy, "latitude", lats, attrs={zarr2.DIM_ATTR: ["latitude"]})
    zarr2.write_zarr_array_local(legacy, "longitude", lons, attrs={zarr2.DIM_ATTR: ["longitude"]})
    zarr2.write_zarr_array_local(
        legacy, "precip", pr, chunks=(7, 4, 4),
        compressor={"id": "zlib", "level": 1},
        attrs={zarr2.DIM_ATTR: ["time", "latitude", "longitude"]},
        fill_value=np.nan,
    )
    zarr2.consolidate_metadata(legacy)
    print(f"legacy store: {sorted(zarr2.open_group(legacy))}")

    # -- 1. open it distributed; slice a week with chunk-grid pruning ----
    week = zarr2.read_zarr_tall(
        spark, legacy, var="precip",
        bounds={"time": (dt.datetime(2023, 6, 5), dt.datetime(2023, 6, 11))},
    )
    print(f"one pruned week: {week.count()} cells")

    # -- 2. migrate into the production table ----------------------------
    desc = DatasetDescriptor(
        dataset_name="precip_migrated",
        data_var="precip",
        time_resolution="daily",
        dataset_start_date=dt.datetime(2023, 6, 1),
        allow_overwrite=True,
        time_bucket="month",
    )
    store = GridStore(work / "table", desc, spark)
    store.ingest_zarr(legacy)
    ds = store.dataset()
    n_null = ds.filter(F.col("precip").isNull()).count()
    print(f"GridStore v1: {ds.count()} rows, {n_null} masked-missing")

    # -- 3. keep downstream zarr consumers fed ----------------------------
    republished = work / "republished_zarr"
    summary = store.export_zarr(republished)
    print(f"republished: {summary}")
    back = zarr2.read_zarr_tall(spark, str(republished), mask_fill=True)
    assert back.count() == ds.count()
    assert back.filter(F.col("precip").isNull()).count() == n_null

    # -- 4. stores written by zarr-python 3 open through the same reader --
    v3 = str(work / "v3_store")
    zarr2.write_zarr3_array_local(
        v3, "qc_flag", (pr[:, 0, 0] > 10).astype("|b1"),
        dimension_names=["time"],
        codecs=[{"name": "bytes"}, {"name": "gzip", "configuration": {"level": 1}},
                {"name": "crc32c"}],
    )
    flags = zarr2.read_zarr_tall(spark, v3, var="qc_flag")
    print(f"v3 sidecar: {flags.filter(F.col('qc_flag')).count()} flagged steps")

    shutil.rmtree(work)
    spark.stop()
    print("OK")


if __name__ == "__main__":
    main()
