"""Continuous aggregates (hypertable-style rollups).

A RollupStore maintains a precomputed time-bucketed aggregate of a GridStore
dataset and refreshes it *incrementally*: after an update touching time
steps T, only the aggregate buckets containing T are recomputed — the
TimescaleDB continuous-aggregate pattern on the manifest store.

At 100 TB this is the difference between "dashboard query scans the world"
and "dashboard query reads a table 10⁵× smaller"; the refresh cost is
bounded by the updated region, exactly like the region write itself
(SURVEY.md W1/S15 semantics reused on the aggregate side).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import BUCKET_FMT, strftime_fmt
from zarr_climate_etl_ipfs_spark.sources.store import GridStore, _bucket_of


class RollupStore:
    """Daily/monthly/yearly mean-min-max-count rollup of a grid dataset,
    stored as parquet partitioned by the rollup grain."""

    def __init__(self, store: GridStore, grain: str = "day"):
        if grain not in BUCKET_FMT:
            raise ValueError(f"grain must be one of {sorted(BUCKET_FMT)}")
        self.store = store
        self.grain = grain
        self.path = store.root / f"_rollup_{grain}"

    def _aggregate(self, df: DataFrame) -> DataFrame:
        desc = self.store.desc
        td, var = desc.time_dim, desc.data_var
        space = [d for d in desc.dims if d != td]
        return (
            df.withColumn("bucket", F.date_format(F.col(td), BUCKET_FMT[self.grain]))
            .groupBy("bucket", *space)
            .agg(
                F.count(var).alias("n"),
                F.round(F.avg(var), 6).alias("mean"),
                F.min(var).alias("min"),
                F.max(var).alias("max"),
            )
        )

    def refresh_full(self) -> None:
        out = self._aggregate(self.store.dataset())
        out.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(
            str(self.path)
        )

    def refresh_incremental(self, touched_times: list[dt.datetime]) -> int:
        """Recompute only the rollup buckets containing ``touched_times``
        (dynamic partition overwrite). Returns the number of buckets
        refreshed. Source rows are re-read only for those buckets: the scan
        lists just the manifest files whose store bucket overlaps a touched
        rollup bucket, and the exact bucket filter trims the rows."""
        if not self.path.exists():
            self.refresh_full()
            return -1
        fmt = BUCKET_FMT[self.grain]
        buckets = sorted({t.strftime(strftime_fmt(fmt)) for t in touched_times})
        store = self.store

        def overlaps(b: str) -> bool:
            # bucket labels are calendar prefixes ("2021", "2021-10",
            # "2021-10-15"): two buckets overlap iff one label prefixes the other
            return any(b.startswith(r) or r.startswith(b) for r in buckets)

        files = [f for f in store.manifest()["files"] if overlaps(_bucket_of(f))]
        td = store.desc.time_dim
        base = store._read(files).filter(F.date_format(F.col(td), fmt).isin(buckets))
        out = self._aggregate(base)
        out.repartition("bucket").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(str(self.path))
        self.store.spark.catalog.refreshByPath(str(self.path))
        return len(buckets)

    def dataset(self) -> DataFrame:
        return self.store.spark.read.parquet(str(self.path))
