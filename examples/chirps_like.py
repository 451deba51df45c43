"""Worked example: a CHIRPS-style daily-precipitation ETL, end to end.

This is the migration map for a user of the reference's manager subclasses
(examples/managers/chirps.py in Arbol-Project/zarr-climate-etl-ipfs): every
hook of the reference pipeline has a line here.

  reference manager hook                      → this engine
  ------------------------------------------------------------------
  class attributes (attributes.py)            → DatasetDescriptor
  extract() + FTP regex (chirps.py:154-200)   → extractors.FTPExtractor /
                                                distributed_fetch (stubbed
                                                here: this box is offline)
  prepare_input_files + kerchunk scan         → read_binary_gridded (or any
    (transform stage A)                         DataFrame source) + canonicalize
  transform stage B (lon remap, rename,       → canonicalize()
    sentinel mask, CF decode)
  parse() initial/insert/append               → GridStore.write_initial /
    (publish.py:240-397)                        .update
  pre/post-parse QC (publish.py:124-180,      → operators.qc checks
    698-743)
  publish_metadata (STAC, metadata.py)        → StacCatalog
  — (no reference analog)                     → RollupStore continuous agg,
                                                dataset(version=N) time travel

Run:  python examples/chirps_like.py   (uses a synthetic stand-in provider)
"""

from __future__ import annotations

import datetime as dt
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor, register
from zarr_climate_etl_ipfs_spark.operators.qc import (
    check_dtype,
    compare_datasets,
    sample_value_check,
)
from zarr_climate_etl_ipfs_spark.operators.rollup import RollupStore
from zarr_climate_etl_ipfs_spark.operators.updates import contiguous_ranges
from zarr_climate_etl_ipfs_spark.plans.catalog import StacCatalog
from zarr_climate_etl_ipfs_spark.session import get_spark
from zarr_climate_etl_ipfs_spark.sources.ingest import canonicalize
from zarr_climate_etl_ipfs_spark.sources.store import GridStore

# 1. the dataset descriptor — the reference's class-attribute block
CHIRPS_LIKE = register(
    DatasetDescriptor(
        dataset_name="chirps_like_example",
        data_var="precip",
        unit_of_measurement="",  # mm/day; no extreme-bounds entry
        time_resolution="daily",
        dataset_category="observation",
        missing_value=-9999.0,
        dataset_start_date=dt.datetime(2003, 1, 1),
        allow_overwrite=True,
        time_bucket="month",
    )
)


def fake_provider_frame(spark, start: str, days: int, seed: int) -> "pd.DataFrame":
    """Stand-in for extract+decode: provider-style rows with CF-numeric time
    (days since 1980-01-01), 0-360 longitudes, and -9999 sentinels."""
    rng = np.random.RandomState(seed)
    d0 = dt.datetime.fromisoformat(start)
    epoch = dt.datetime(1980, 1, 1)
    rows = []
    for d in range(days):
        day_num = (d0 - epoch).days + d
        for lat in (14.625, 14.875, 15.125):
            for lon360 in (268.625, 268.875, 269.125):
                v = -9999.0 if rng.rand() < 0.02 else round(float(rng.gamma(2, 3)), 3)
                rows.append((float(day_num), lat, lon360, v))
    pdf = pd.DataFrame(rows, columns=["time", "latitude", "longitude", "precipitation"])
    return spark.createDataFrame(pdf)


def main() -> None:
    work = Path(tempfile.mkdtemp(prefix="chirps_like_"))
    spark = get_spark("chirps-like-example")
    spark.sparkContext.setLogLevel("ERROR")
    desc = CHIRPS_LIKE
    store = GridStore(work / "store", desc, spark)
    catalog = StacCatalog(work / "stac")

    # 2. initial publish: Jan-Feb 2003
    raw = fake_provider_frame(spark, "2003-01-01", 59, seed=1)
    canon = canonicalize(raw, desc, source_var="precipitation", cf_epoch="1980-01-01 00:00:00")
    check_dtype(canon, desc)
    from dataclasses import replace

    sample_value_check(canon, replace(desc, has_nans=True), n=200)  # sentinels → NULLs are expected
    store.write_initial(canon)
    catalog.create_or_update_collection(desc, store.dataset())
    catalog.register_item(desc, store.dataset(), data_href=str(store.data_path))
    print(f"initial publish: {store.dataset().count()} cells, version {store.current_version()}")

    # 3. incremental update: correct the last week + append March
    upd_raw = fake_provider_frame(spark, "2003-02-22", 38, seed=2)
    upd = canonicalize(upd_raw, desc, source_var="precipitation", cf_epoch="1980-01-01 00:00:00")
    ranges = contiguous_ranges(upd.select("time"), desc.expected_delta)
    print("update ranges:", [(str(r['range_start'])[:10], r['n_steps']) for r in ranges.collect()])
    res = store.update(upd)
    catalog.create_or_update_collection(desc, store.dataset())
    catalog.register_item(desc, store.dataset(), data_href=str(store.data_path))
    print(f"update applied: {res}, now version {store.current_version()}")

    # 4. post-parse QC: published values must round-trip vs the update source
    mism = compare_datasets(upd.limit(200), store.dataset(), desc).count()
    print(f"round-trip mismatches (expect 0): {mism}")

    # 5. the reference's golden read: one point, exact float32
    pt = store.dataset().filter(
        (F.col("time") == dt.datetime(2003, 3, 15))
        & (F.col("latitude") == F.lit(14.625).cast("float"))
        & (F.col("longitude") == F.lit(-91.375).cast("float"))
    ).collect()
    print(f"point read 2003-03-15 @(14.625,-91.375): {pt[0]['precip'] if pt else 'MISSING'}")

    # 6. time travel + continuous aggregate (beyond the reference)
    v1_count = store.dataset(version=1).count()
    rollup = RollupStore(store, grain="month")
    rollup.refresh_full()
    monthly = rollup.dataset().filter(
        (F.col("latitude") == F.lit(14.625).cast("float"))
        & (F.col("longitude") == F.lit(-91.375).cast("float"))
    )
    print(f"version 1 still readable: {v1_count} cells")
    print("monthly rollup at golden point:")
    for r in monthly.orderBy("bucket").collect():
        print(f"  {r['bucket']}: n={r['n']} mean={r['mean']}")
    print("catalog history:", [it["id"] for it in catalog.item_history(desc.dataset_name)])

    spark.stop()
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
