"""Isolate one or more catalog queries: warm session, noop-sink timing
(min of N), optional formatted explain dump.

Usage: python tools/isolate_query.py [--runs N] [--explain DIR] QUERY [QUERY...]

Timing methodology matches bench.py (same get_spark() session, so width comes
from $SPARK_GRAFT_CPUS and driver memory from $SPARK_DRIVER_MEMORY; warm
pricing_summary scan first) but runs ONLY the named queries, so
numbers are free of the 145-query bench's contention; the noop sink times the
computation, not the sink (guide section 1.4).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--explain", default=None, help="dir to dump formatted plans")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY
    from zarr_climate_etl_ipfs_spark.session import get_spark

    spark = get_spark("isolate")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["pricing_summary"].fn(spark, sf_dir).collect()  # warm

    for name in args.queries:
        spark.sparkContext.setJobDescription(f"isolate: {name}")
        times = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        print(
            f"{name:38s} min={min(times):7.3f} med={sorted(times)[len(times)//2]:7.3f}"
            f" all={[round(t, 3) for t in times]}",
            flush=True,
        )
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (Path(args.explain) / f"{name}.txt").write_text(plan)
    spark.stop()


if __name__ == "__main__":
    main()
