"""Zarr v2 source/sink scale curve: measure the distributed write
(sources/zarr2.write_zarr_tall), the full tall read, and a bounds-pruned
read at 1×/10×/100× grid cells, and verify the module's design claims:
write and full read ~linear in cells, pruned read FLAT (chunk-grid
pruning on the range ordinal means a 7-day window costs the same
against 375 chunks as against 4 — the zarr analog of GridStore's
manifest bucket pruning, sources/store.py:230-256).

Usage: python tools/zarr_bench.py [base_days] [ny] [nx]
Prints one JSON line per scale plus a markdown table, and rewrites the
zarr-curve section of SCALE.md.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WORK = Path("/tmp/zarr_bench")
MARK_BEGIN = "<!-- zarr-curve:begin (tools/zarr_bench.py owns this section) -->"
MARK_END = "<!-- zarr-curve:end -->"


def tall_df(spark, d0: dt.datetime, days: int, lats, lons, seed: int):
    import pandas as pd

    ny, nx = len(lats), len(lons)
    rng = np.random.RandomState(seed)
    # vectorized datetime64 column (NOT python-object datetimes) so the
    # Arrow createDataFrame fast path applies — at 19.2M rows the object
    # row-by-row conversion dominates the whole benchmark otherwise
    times = np.datetime64(d0, "ns") + np.repeat(
        np.arange(days, dtype="int64"), ny * nx
    ).astype("timedelta64[D]").astype("timedelta64[ns]")
    pdf = pd.DataFrame(
        {
            "time": times,
            "latitude": np.tile(np.repeat(lats, nx), days),
            "longitude": np.tile(np.tile(lons, ny), days),
            "data": rng.standard_normal(days * ny * nx),
        }
    )
    return spark.createDataFrame(pdf)


def main() -> None:
    base_days = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    ny = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    nx = int(sys.argv[3]) if len(sys.argv) > 3 else 40

    from zarr_climate_etl_ipfs_spark.session import get_spark
    from zarr_climate_etl_ipfs_spark.sources.zarr2 import (
        read_zarr_tall,
        write_zarr_tall,
    )

    spark = get_spark("zarr_bench")
    spark.sparkContext.setLogLevel("ERROR")

    lats = np.linspace(50.0, 10.0, ny)
    lons = np.linspace(-130.0, -60.0, nx)
    d0 = dt.datetime(2000, 1, 1)
    dims = ["time", "latitude", "longitude"]

    # warmup: full write+read once so the 1x row isn't charged for
    # JVM/codegen/Arrow cold-start
    warm = WORK / "warm"
    shutil.rmtree(warm, ignore_errors=True)
    write_zarr_tall(
        tall_df(spark, d0, 30, lats, lons, 0), str(warm), "data", dims, (32, ny, nx)
    )
    read_zarr_tall(spark, str(warm), "data").count()
    shutil.rmtree(warm, ignore_errors=True)

    results = []
    for mult in (1, 10, 100):
        days = base_days * mult
        cells = days * ny * nx
        store = WORK / f"{mult}x"
        shutil.rmtree(store, ignore_errors=True)
        # materialize the synthetic input once (localCheckpoint): the Arrow
        # local relation otherwise re-converts driver-side on EVERY action,
        # on size-dependent code paths — small scales read SLOWER than big
        # ones and the write column mixes in createDataFrame cost (the same
        # artifact measured in tools/grib2_bench.py)
        df = (
            tall_df(spark, d0, days, lats, lons, mult)
            .repartition(32)
            .localCheckpoint(eager=True)
        )

        t0 = time.perf_counter()
        summary = write_zarr_tall(
            df, str(store), "data", dims, (32, ny, nx), fill_value=np.nan
        )
        t_write = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_full = read_zarr_tall(spark, str(store), "data").count()
        t_full = time.perf_counter() - t0

        # pruned read: one week out of the middle — the chunk-ordinal
        # filter must keep this flat as the time axis grows
        mid = d0 + dt.timedelta(days=days // 2)
        t0 = time.perf_counter()
        n_slice = read_zarr_tall(
            spark,
            str(store),
            "data",
            bounds={"time": (mid, mid + dt.timedelta(days=6))},
        ).count()
        t_slice = time.perf_counter() - t0

        rec = {
            "scale": f"{mult}x",
            "cells": cells,
            "chunks": summary["n_chunks"],
            "rows_ok": n_full == cells and n_slice == 7 * ny * nx,
            "write_s": round(t_write, 2),
            "full_read_s": round(t_full, 2),
            "pruned_7d_read_s": round(t_slice, 2),
        }
        results.append(rec)
        print(json.dumps(rec))
        shutil.rmtree(store, ignore_errors=True)

    table = [
        "| scale | cells | chunks | distributed write | full tall read | pruned 7d read |",
        "|---|---|---|---|---|---|",
    ]
    for r in results:
        table.append(
            f"| {r['scale']} | {r['cells']:,} | {r['chunks']} | {r['write_s']} s "
            f"| {r['full_read_s']} s | {r['pruned_7d_read_s']} s |"
        )
    print("\n" + "\n".join(table))

    section = [
        MARK_BEGIN,
        "",
        "## Zarr v2 source/sink (1× → 10× → 100× grid cells)",
        "",
        "The reference's native format, measured end to end (40×40 grid,",
        "32-day time chunks, 120/1,200/12,000 days → 4/38/375 chunk files).",
        "Write = one shuffle on the chunk ordinal + executor-side encode;",
        "full read = spark.range over chunk ordinals + mapInPandas decode;",
        "pruned read = a fixed 7-day window, where the chunk-grid filter on",
        "the range ordinal must keep cost FLAT as the time axis grows (the",
        "zarr analog of GridStore's manifest bucket pruning). Warm session,",
        f"{spark.sparkContext.master}. Reproduce: `python tools/zarr_bench.py`.",
        "",
        *table,
        "",
        "Measured this run: write grows"
        f" {results[-1]['write_s'] / max(results[0]['write_s'], 0.01):.1f}× and the full"
        f" read {results[-1]['full_read_s'] / max(results[0]['full_read_s'], 0.01):.1f}×"
        f" for {results[-1]['cells'] // max(results[0]['cells'], 1)}× cells, while the"
        " pruned 7-day read moves"
        f" {results[-1]['pruned_7d_read_s'] / max(results[0]['pruned_7d_read_s'], 0.01):.1f}×"
        " across the same spread.",
        MARK_END,
    ]
    md = Path(__file__).resolve().parent.parent / "SCALE.md"
    if md.exists():
        text = md.read_text()
        if MARK_BEGIN in text:
            head, rest = text.split(MARK_BEGIN, 1)
            _, tail = rest.split(MARK_END, 1)
            text = head + "\n".join(section) + tail
        else:
            text = text.rstrip() + "\n\n" + "\n".join(section) + "\n"
        md.write_text(text)
        print(f"updated {md}")
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
