"""Benchmark harness: run the query catalog at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on ``session.get_spark()`` (width from $SPARK_GRAFT_CPUS,
driver memory from $SPARK_DRIVER_MEMORY) and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


# Headline subset by default (one per workload family, weighted toward
# the heavy ones); BENCH_ALL=1 runs the whole catalog.
HEADLINE = [
    "pricing_summary",
    "dim_broadcast_join",
    "local_supplier_volume",
    "update_key_split",
    "asof_join",
    "gaps_islands",
    "sessionize",
    "topk_revenue",
    "rolling_revenue",
    "climatology_anomaly",
    "token_stats",
    "language_id",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_neardups",
    "ngram_jaccard_pairs",
    "knn_brute_force",
    "embedding_neardup_pairs",
    # round-3 additions (the r2 operators a user actually runs; n_queries
    # records the population change — 18-query and 21-query totals are
    # not comparable)
    "simhash_neardups",
    "ivf_knn",
    "curation_pipeline",
    # round-4 addition (unlabeled hyperplane-LSH embedding dedup)
    "embedding_lsh_neardups",
    # round-5 addition (concatenate-and-slice token packing)
    "sequence_packing",
    # round-6 additions (wide-band hyperplane LSH — the scale-mode knob;
    # TF-IDF keyword extraction; Lee-et-al-style span dedup)
    "embedding_lsh_neardups_wide",
    "tfidf_top_terms",
    "paragraph_dedup",
    "sq_ann_topk",
    # round-7 additions: the portable oracle-checkable sketch family,
    # the bigram LM scorer, container-metadata probing, and the two
    # analytics-breadth joins
    "hll_user_distinct",
    "bloom_decontamination",
    "countmin_heavy_hitters",
    "bigram_logprob_quality",
    "media_probe_stats",
    "nation_pair_volume",
    "rollup_revenue",
]


def plan_fingerprint(df) -> str:
    """Stable fingerprint of the EXECUTED physical plan (round-13 verdict
    #3): separates "the plan changed" from "the host moved" when a bench
    number drifts round-over-round. Normalizes away everything that varies
    run-to-run without a plan change — expression ids, AQE plan ids,
    temp/scale-factor paths, row-count/size statistics — then sha256s the
    shape. Call AFTER an action so AQE has settled on the final plan.

    Contract for riser triage — BOTH directions are evidence, not proof:
    equal sha ⇒ the plan SHAPE is unchanged up to the normalization (note
    the 4+-digit literal scrub means a change expressed ONLY in such a
    literal — a limit 10000→50000, a repartition 1000→8000 — fingerprints
    identically; if the suspect edit touched a numeric knob, diff the
    plans); different sha ⇒ diff the plans before concluding anything —
    a small class of plans renders two equivalent forms (Spark's
    RewriteDistinctAggregates enumerates multi-distinct Expand groups in
    nondeterministic order, permuting gid assignment)."""
    import hashlib

    s = df._jdf.queryExecution().executedPlan().toString()
    s = re.sub(r"#\d+[A-Z]*", "#", s)               # exprIds
    s = re.sub(r"\b([a-z]+)_\d+#", r"\1_#", s)      # HOF lambda var counter (x_4#, y_12#)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)       # AQE/exchange plan ids
    s = re.sub(r"\[id=#?\]?|\[id=#\d+\]", "", s)
    s = re.sub(r"/[^\s,\)\]]*(?:/tmp/|sf[0-9.]+|spark-warehouse)[^\s,\)\]]*", "/PATH", s)
    s = re.sub(r"\d+(\.\d+)?\s*(B|KiB|MiB|GiB|TiB)\b", "SZ", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    s = re.sub(r"rowCount=\d+", "rowCount=", s)
    s = re.sub(r"\b\d{4,}\b", "N", s)               # partition counts, sizes
    return hashlib.sha256(s.encode()).hexdigest()[:12]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from tools.check import TABLES
    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY
    from zarr_climate_etl_ipfs_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/scan path once so per-query numbers measure the queries,
    # not session startup
    try:
        REGISTRY["pricing_summary"].fn(spark, sf_dir).collect()
    except Exception:  # noqa: BLE001 — warmup only; the timed run records it
        pass

    run_all = bool(os.environ.get("BENCH_ALL"))
    selected = (
        REGISTRY if run_all else {k: REGISTRY[k] for k in HEADLINE if k in REGISTRY}
    )
    # min-of-N per query: the host shows multi-second contention spikes that
    # would otherwise dominate single-shot numbers (observed ±20% on totals
    # with N=2 — N=3 stabilizes the min at ~1.5x the wall cost)
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    # sub-second queries are the most contention-sensitive (a single 300 ms
    # scheduler hiccup is a 1.5x swing — the r6 asof_join/update_key_split/
    # gaps_islands drift); give them extra iterations so the min settles
    runs_fast = int(os.environ.get("BENCH_RUNS_FAST", "5"))
    timings: dict[str, float] = {}
    plan_shas: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name, qd in selected.items():
        # fault isolation: one broken query must never zero the whole round's
        # perf record — record the error string and keep timing the rest
        best = float("inf")
        try:
            done = 0
            df = None
            while done < runs or (best < 1.0 and done < runs_fast):
                t0 = time.perf_counter()
                df = qd.fn(spark, sf_dir)
                len(df.collect())
                best = min(best, time.perf_counter() - t0)
                done += 1
            timings[name] = round(best, 4)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        # post-action so AQE has settled; riser triage consults this before
        # blaming the host (round-13 verdict #3). Own try: a fingerprint
        # hiccup must not re-record a successfully TIMED query as an error.
        try:
            if df is not None:
                plan_shas[name] = plan_fingerprint(df)
        except Exception as exc:  # noqa: BLE001
            plan_shas[name] = f"unavailable: {type(exc).__name__}"
    total = round(sum(timings.values()), 4)

    # DuckDB on the same parquet + oracle SQL: the round-over-round baseline,
    # recorded next to Spark so regressions are visible without a judge
    # re-run. BENCH_DUCKDB=0 skips it.
    duck: dict[str, float] = {}
    if os.environ.get("BENCH_DUCKDB", "1") != "0":
        import duckdb

        con = duckdb.connect()
        for tname in TABLES:
            p = f"{sf_dir}/{tname}.parquet"
            if Path(p).exists():
                con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{p}')")
        for name, qd in selected.items():
            if not qd.oracle:
                continue
            try:
                t0 = time.perf_counter()
                con.execute(qd.oracle).fetchall()
                duck[name] = round(time.perf_counter() - t0, 4)
            except Exception:  # noqa: BLE001 — a baseline gap, not a bench failure
                pass

    out = {
        # metric name carries the population: headline-subset totals and
        # full-catalog totals are not comparable numbers
        "metric": (
            "query_catalog_total_runtime" if run_all else "query_catalog_headline_runtime"
        ),
        "value": total,
        "unit": "sec",
        "subset": "all" if run_all else "headline",
        "n_queries": len(selected),
        "queries": timings,
        "plan_sha": plan_shas,
        "sf": sf,
        "runs_per_query": runs,
    }
    if errors:
        out["errors"] = errors
        out["n_failed"] = len(errors)
    if duck:
        out["duckdb_queries"] = duck
        out["duckdb_total"] = round(sum(duck.values()), 4)

    # r16 (verdict #6): cold-build visibility for the IVF index memo — the
    # memoized ivf_knn row above measures search-only after iteration 1
    # (the legitimate index-once/search-many contract), which left the
    # build path with zero optimization pressure. Time ONE build+search
    # from a cleared index here. Reported OUTSIDE `queries` so the
    # headline total stays population-comparable round-over-round
    # (additions only, per the bench contract).
    if "ivf_knn" in selected:
        try:
            from zarr_climate_etl_ipfs_spark.plans import queries as _qmod

            for _assigned, _ in list(_qmod._IVF_INDEX.values()):
                try:
                    _assigned.unpersist()
                except Exception:  # noqa: BLE001 — best-effort release
                    pass
            _qmod._IVF_INDEX.clear()
            t0 = time.perf_counter()
            len(REGISTRY["ivf_knn"].fn(spark, sf_dir).collect())
            out["ivf_knn_cold_sec"] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001 — visibility row, never fatal
            out["ivf_knn_cold_err"] = f"{type(exc).__name__}: {exc}"[:200]

    print(json.dumps(out))
    # r16 (verdict #2): the driver's BENCH artifact keeps only a 2000-char
    # tail of stdout, which lost the r14 per-query times and broke the
    # round-over-round table. Mirror the EXACT headline JSON to a file so
    # the numbers survive independent of stdout capture. Additive only —
    # the one-line stdout contract above is unchanged.
    try:
        mirror = Path(__file__).resolve().parent / (
            "bench_last_all.json" if run_all else "bench_last.json"
        )
        mirror.write_text(json.dumps(out, indent=1) + "\n")
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
