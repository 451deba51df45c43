"""Ingest-throughput measurement: file-parallel binary decode at cluster width.

The reference's only end-to-end figure is "a few hours on a well powered
machine" for a full CHIRPS US 0.25° parse (~8.6B cells, README.md:55).
This harness generates synthetic NetCDF3 and GRIB2 files with this repo's
own writers, ingests them through the production path
(`read_binary_gridded`: binaryFile scan → Arrow mapInPandas decode → tall
rows), and reports cells/second at the session's width — the number that,
divided into a corpus's cell count, estimates the wall-clock of a full parse
at a given cluster width.

Usage: python tools/ingest_bench.py [n_files] [timesteps] [ny] [nx]
The session comes from get_spark(): width from $SPARK_GRAFT_CPUS (default all
cores), driver memory from $SPARK_DRIVER_MEMORY.
"""

from __future__ import annotations

import datetime as dt
import shutil
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WORK = Path("/tmp/ingest_bench")


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    nt = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    ny = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    nx = int(sys.argv[4]) if len(sys.argv) > 4 else 100

    from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
    from zarr_climate_etl_ipfs_spark.session import get_spark
    from zarr_climate_etl_ipfs_spark.sources.grib2 import (
        GRIB2Message,
        grib2_decoder,
        write_grib2,
    )
    from zarr_climate_etl_ipfs_spark.sources.ingest import read_binary_gridded
    from zarr_climate_etl_ipfs_spark.sources.netcdf3 import (
        netcdf3_decoder,
        write_netcdf3,
    )

    desc = DatasetDescriptor(
        dataset_name="ingest_bench", data_var="precip", time_resolution="daily"
    )
    lats = np.linspace(50.0, 10.0, ny)
    lons = np.linspace(-130.0, -60.0, nx)
    rng = np.random.RandomState(7)

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "nc").mkdir(parents=True)
    (WORK / "g2").mkdir(parents=True)
    t0 = time.perf_counter()
    for f in range(n_files):
        data = rng.uniform(0, 60, (nt, ny, nx)).astype("float32")
        nc = write_netcdf3(
            dims={"time": nt, "latitude": ny, "longitude": nx},
            variables={
                "time": (("time",), np.arange(nt, dtype="float64") + f * nt,
                         {"units": "days since 2020-01-01"}),
                "latitude": (("latitude",), lats.astype("float64"), {}),
                "longitude": (("longitude",), lons.astype("float64"), {}),
                "precip": (("time", "latitude", "longitude"), data, {}),
            },
        )
        (WORK / "nc" / f"part{f:03d}.nc").write_bytes(nc)
    # GRIB2 decode is bit-unpacking in numpy — smaller volume, same protocol
    g2_files = max(1, n_files // 4)
    g2_nt = max(1, nt // 5)
    for f in range(g2_files):
        data = rng.uniform(0, 60, (g2_nt, ny, nx))
        msgs = [
            GRIB2Message(
                discipline=0, parameter_category=1, parameter_number=8,
                level_type=1, level=0,
                ref_time=dt.datetime(2020, 1, 1) + dt.timedelta(days=f * g2_nt + i),
                lats=lats, lons=lons, values=data[i],
            )
            for i in range(g2_nt)
        ]
        (WORK / "g2" / f"part{f:03d}.grib2").write_bytes(
            write_grib2(msgs, bits_per_value=16, decimal_scale=2)
        )
    gen_s = time.perf_counter() - t0

    spark = get_spark("ingest-bench")
    spark.sparkContext.setLogLevel("ERROR")

    out = {}
    for fmt, sub, cells, dec in (
        ("netcdf3", "nc", n_files * nt * ny * nx, netcdf3_decoder(desc)),
        ("grib2", "g2", g2_files * g2_nt * ny * nx, grib2_decoder(desc)),
    ):
        t0 = time.perf_counter()
        n = read_binary_gridded(spark, str(WORK / sub), desc, decoder=dec).count()
        sec = time.perf_counter() - t0
        out[fmt] = (cells, sec, cells / sec)
        print(
            f"{fmt:8s} files={n_files if fmt == 'netcdf3' else g2_files:4d} "
            f"cells={cells:>12,} rows={n:>12,} {sec:7.2f}s "
            f"{cells / sec / 1e6:8.2f} Mcells/s"
        )
    print(f"(corpus generation: {gen_s:.1f}s, excluded from rates)")
    spark.stop()


if __name__ == "__main__":
    main()
