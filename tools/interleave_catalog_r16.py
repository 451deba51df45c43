"""Round-16 interleaved Spark/DuckDB catalog harness (verdict #8).

The r15 sessions disagreed on DuckDB totals by ±30% because the two engines
were measured in separate passes, so host drift lands on one engine's side
of the ratio. Here the engines ALTERNATE per query rep inside one process
(spark, duck, spark, duck, ...), so drift hits both engines equally and the
per-query min ratio is robust.

Usage: python tools/interleave_catalog_r16.py [--all] [--runs N] [--out F]
  --all   full catalog (default: the bench.py headline 34)
Writes the JSON artifact (default BENCH_interleave_r16_catalog.json).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import duckdb

    from bench import HEADLINE
    from tools.check import TABLES
    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY
    from zarr_climate_etl_ipfs_spark.session import get_spark

    spark = get_spark("interleave_catalog")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for tname in TABLES:
        p = f"{sf_dir}/{tname}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{p}')")

    REGISTRY["pricing_summary"].fn(spark, sf_dir).collect()  # warm spark
    con.execute(REGISTRY["pricing_summary"].oracle).fetchall()  # warm duck

    if args.all:
        selected = {k: q for k, q in REGISTRY.items() if q.oracle}
    else:
        selected = {k: REGISTRY[k] for k in HEADLINE if k in REGISTRY and REGISTRY[k].oracle}

    out: dict = {"sf_dir": sf_dir, "runs": args.runs, "interleaved": True, "queries": {}}
    for name, qd in selected.items():
        s_times: list[float] = []
        d_times: list[float] = []
        err = None
        for _ in range(args.runs):
            try:
                spark.sparkContext.setJobDescription(f"interleave: {name}")
                t0 = time.perf_counter()
                len(qd.fn(spark, sf_dir).collect())
                s_times.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                con.execute(qd.oracle).fetchall()
                d_times.append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 — record, keep going
                err = f"{type(exc).__name__}: {exc}"[:300]
                break
        row: dict = {}
        if s_times:
            row["spark"] = round(min(s_times), 4)
        if d_times:
            row["duckdb"] = round(min(d_times), 4)
            if s_times:
                row["ratio"] = round(min(s_times) / min(d_times), 3)
        if err:
            row["err"] = err
        out["queries"][name] = row
        print(f"{name:36s} {row}", flush=True)
    sp = sum(r["spark"] for r in out["queries"].values() if "spark" in r)
    du = sum(r["duckdb"] for r in out["queries"].values() if "duckdb" in r)
    out["spark_total"] = round(sp, 4)
    out["duckdb_total"] = round(du, 4)
    out["ratio_total"] = round(sp / du, 4) if du else None
    dest = args.out or "BENCH_interleave_r16_catalog.json"
    Path(dest).write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps({k: out[k] for k in ("spark_total", "duckdb_total", "ratio_total")}))


if __name__ == "__main__":
    main()
