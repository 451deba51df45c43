"""Repository benchmark: one seeded, closed-loop workload per invocation.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. A single client (this process's main
thread) issues one operation at a time on ``local[<nproc / 2>]``. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` the operations are
wrapped in spans (perfbench/spans.py) and the metrics are the per-layer ones.
Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from pathlib import Path

import spans
from common import Context, Result, median, tail

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
WORKLOADS = ("etl_daily", "catalog_headline")


def session(run_dir: Path):
    """Host-sized local session: task slots for half the cores (the rest
    are left to the driver, the JVM's compiler and GC threads and the Python
    workers), driver memory a quarter of RAM capped at 4 GiB, and all
    temporary files inside the run directory."""
    from pyspark.sql import SparkSession

    n = max(1, (os.cpu_count() or 1) // 2)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem_mb = max(1024, min(4096, ram // 4 // 2**20))
    local = run_dir / "spark"
    local.mkdir(parents=True, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local}")
        .config("spark.local.dir", str(local))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every job, stage and SQL execution for the traced read-back
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes), and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def host_info(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "ram_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def op_samples(res) -> dict[str, tuple[str, list[float]]]:
    """Per operation of the mix: its kind and its timed runs' seconds."""
    by: dict[str, tuple[str, list[float]]] = {}
    for o in res.ops:
        by.setdefault(o.name, (o.kind, []))[1].append(o.seconds)
    return by


def pass_sums(res, agg=min) -> dict[str, float]:
    """One pass of the mix with each operation at ``agg`` of its timed runs
    (by default its fastest: a shared host only ever adds time), summed over
    all, over the light and over the heavy operations."""
    per = [(kind, agg(xs)) for kind, xs in op_samples(res).values()]
    return {
        "all": sum(v for _, v in per),
        "light": sum(v for k, v in per if k == "light"),
        "heavy": sum(v for k, v in per if k == "heavy"),
    }


def end_to_end(res) -> dict:
    """The metrics of BENCHMARK.json's end_to_end list: the median set-up,
    and one pass of the mix and its light part at per-operation minima. The
    info line gets the heavy part (its run-to-run spread on a shared host
    is wider than a bound can be), the per-operation minima and medians, the
    tail and the failed share."""
    sums = pass_sums(res)
    res.info["heavy_pass_s"] = sums["heavy"]
    secs = [o.seconds for o in res.ops]
    tv, tp, tn = tail(secs)
    res.info["op_tail_s"] = {"value": tv, "percentile": round(tp, 1), "samples": tn}
    res.info["passes"] = len(res.passes())
    res.info["op_min_p50_n"] = {
        name: [round(min(xs), 4), round(median(xs), 4), len(xs)] for name, (_, xs) in op_samples(res).items()
    }
    res.info["median_pass_s"] = pass_sums(res, median)
    res.info["ops_s"] = [[o.name, round(o.seconds, 4)] for o in res.ops]
    return {
        "setup_s": (median(res.setup_s), "s"),
        "pass_s": (sums["all"], "s"),
        "light_pass_s": (sums["light"], "s"),
    }


def spark_layers(tracer, res) -> dict:
    """Engine counters per timed operation, and what tracing costs: the
    traced run's pass (compare pass_s of untraced runs) and the tracer's own
    time per operation."""
    roots = tracer.named("op")
    n = max(1, len(res.ops))
    out = {}
    for key, unit in (
        ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"), ("gc_s", "s"),
        ("shuffle_write_bytes", "B"), ("shuffle_fetch_wait_s", "s"),
        ("python_init_s", "s"), ("python_compute_s", "s"),
    ):
        out[f"spark.{key}"] = (tracer.counter(roots, key) / n, unit)
    out["trace.pass_s"] = (pass_sums(res)["all"], "s")
    out["trace.bookkeeping_ms"] = (1e3 * tracer.overhead_s / n, "ms")
    return out


def per_layer_units() -> dict[str, str]:
    """BENCHMARK.json's per-layer metrics, in order, with their units."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Python workers import the package from this checkout, whatever the
    # working directory of the Spark worker processes.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    import zarr_climate_etl_ipfs_spark  # noqa: F401 — no package, no benchmark

    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    run_dir = WORK / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")

    t0 = time.perf_counter()
    spark = session(run_dir)
    session_start_s = time.perf_counter() - t0
    tracer = spans.Tracer(spark, run_id, enabled=bool(args.trace))
    ctx = Context(spark, args.seed, args.seconds, bool(args.trace), run_dir, tracer)
    res = Result()
    try:
        if args.workload == "etl_daily":
            import etl as wl
        else:
            import catalog as wl
        t1 = time.perf_counter()
        wl.run(ctx, res)
        res.info["workload_wall_s"] = time.perf_counter() - t1
        res.info["host"] = host_info(spark)
        if args.trace:
            tracer.attach_counters()
            res.layers.update(spark_layers(tracer, res))
            res.layers["session.start_s"] = (session_start_s, "s")
            wl.layers(ctx, res)
            res.info["self_s"] = tracer.self_time()
            tracer.write(WORK / "traces" / f"{run_id}.jsonl")
    finally:
        stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    res.info["setup_reps_s"] = res.setup_s
    res.info["session_start_s"] = session_start_s
    res.info["wall_s"] = time.perf_counter() - t0

    attempted = len(res.ops) + res.extra_attempts
    correct = res.failed == 0 and attempted > 0
    res.info["failed_share"] = res.failed / max(1, attempted)
    if args.trace:
        metrics = {
            name: {"value": float(res.layers.get(name, (0.0, unit))[0]), "unit": unit}
            for name, unit in per_layer_units().items()
        }
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in end_to_end(res).items()}
    print(json.dumps({"info": res.info}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
