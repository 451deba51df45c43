"""catalog_headline: a fixed cross-section of bench.py's headline catalog.

The corpus is the catalog's own sf0.01 tables (the scale its correctness
checks use), kept under ``perfbench/data/sf0.01`` so a run reads nothing
outside its checkout. The inputs are the same for every seed: the tables
are fixed and the queries run in the order of ``QUERIES``.

Set-up (repeated, median = setup_s): scan each table once with Spark and
evaluate each query's DuckDB oracle on the same files (outside the timed
region).

Then whole passes over ``QUERIES`` through ``REGISTRY``, one query at a
time: build the DataFrame with the query's function and collect it. An
untimed warm-up pass comes first (a query's first run in a session compiles
its plan's code and takes up to five times a warm run); then a run times two
passes, and the faster run of each query counts. Every result is compared with its oracle using tools/check.py's
canonicalisation. Queries whose executed plan has a Python stage are
"heavy"; JVM-only queries are "light". The split was fixed once from the
plans, is recorded in ``PYTHON_QUERIES`` and is checked on every run.

The cross-section is 8 of bench.py's 34 ``HEADLINE`` queries, at least one
per family, two of them with a Python stage. On four cores the 34 take
about 30 s per warm pass and 55 s cold at sf0.01, more than one run may
spend.
"""

from __future__ import annotations

import ast
import hashlib
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY

from common import SETUP_REPS

CORPUS = Path(__file__).resolve().parent / "data" / "sf0.01"
#: query -> family
QUERIES = {
    "pricing_summary": "tpch",
    "topk_revenue": "tpch",
    "sessionize": "timeseries",
    "dedup_exact": "dedup",
    "embedding_neardup_pairs": "similarity",
    "countmin_heavy_hitters": "sketches",
    "tfidf_top_terms": "text",
    "media_probe_stats": "multimodal",
}
#: queries whose executed plan has an ArrowEvalPython, MapInPandas or
#: FlatMapGroupsInPandas node (Spark 4.1, this corpus)
PYTHON_QUERIES = ("embedding_neardup_pairs", "media_probe_stats")
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def check_module():
    from tools import check

    return check


def bench_module():
    """bench.py at the checkout root, for its plan fingerprint."""
    import bench

    return bench


def headline() -> list[str]:
    """bench.py's ``HEADLINE`` list, read from its source (it is local to
    bench.main)."""
    tree = ast.parse(Path(bench_module().__file__).read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(getattr(t, "id", None) == "HEADLINE" for t in node.targets):
            return ast.literal_eval(node.value)
    raise LookupError("bench.py has no HEADLINE list")


def fingerprint(path: Path) -> dict:
    """sha256 over every table's name and bytes, plus file, row and byte
    counts: two runs with the same figures used the same inputs."""
    h = hashlib.sha256()
    n_bytes = rows = 0
    files = sorted(path.glob("*.parquet"))
    for p in files:
        b = p.read_bytes()
        h.update(p.name.encode())
        h.update(b)
        n_bytes += len(b)
        rows += pq.ParquetFile(p).metadata.num_rows
    return {"sha256": h.hexdigest(), "files": len(files), "rows": rows, "bytes": n_bytes}


def canon(cols, rows):
    return check_module().canon_rows(cols, [list(r) for r in rows])


def oracle_answers(path: Path) -> dict:
    con = duckdb.connect()
    try:
        for t in check_module().TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')")
        out = {}
        for name in QUERIES:
            r = con.execute(REGISTRY[name].oracle)
            out[name] = canon([d[0] for d in r.description], r.fetchall())
        return out
    finally:
        con.close()


def run(ctx, res) -> None:
    spark, tr = ctx.spark, ctx.tracer
    missing = sorted(set(QUERIES) - set(headline()))
    if missing:
        raise LookupError(f"not in bench.py's HEADLINE: {missing}")
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        for t in check_module().TABLES:
            spark.read.parquet(str(CORPUS / f"{t}.parquet")).count()
        oracle = oracle_answers(CORPUS)
        res.setup_s.append(time.perf_counter() - t0)
    res.info["corpus"] = fingerprint(CORPUS)
    sf_dir = str(CORPUS)

    def query(name):
        def go():
            with tr.span("queries.build"):
                df = REGISTRY[name].fn(spark, sf_dir)
            with tr.span("queries.collect"):
                rows = df.collect()
            return df, rows

        return go

    def probe(name):
        """Split a warm run into compute (noop sink) and the full collect;
        the difference is delivery to the driver. It reads below zero when
        delivery costs less than the noop sink's own write command, as it
        does for the small results of this corpus."""

        def go():
            df = REGISTRY[name].fn(spark, sf_dir)
            with tr.span("queries.compute"):
                df.write.format("noop").mode("overwrite").save()
            with tr.span("queries.collect_warm"):
                df.collect()

        return go

    def correct(name):
        return lambda out: canon(out[0].columns, out[1]) == oracle[name]

    one_pass = [
        ("heavy" if name in PYTHON_QUERIES else "light", name, query(name), correct(name), probe(name))
        for name in QUERIES
    ]
    ctx.loop(iter(lambda: one_pass, None), res, warmup=1, min_passes=2)

    # after the loop: each query's plan fingerprint and its Python/JVM class
    plan_sha = {}
    for name in QUERIES:
        df = res.outputs[name][0]
        plan = df._jdf.queryExecution().executedPlan().toString()
        has_python = any(node in plan for node in PYTHON_NODES)
        res.check(has_python == (name in PYTHON_QUERIES), f"Python/JVM split of {name}")
        plan_sha[name] = bench_module().plan_fingerprint(df)
    res.info["plan_sha"] = plan_sha
    # self-test: the oracle comparison must reject a result with one wrong row
    df, rows = res.outputs["pricing_summary"]
    res.check(not correct("pricing_summary")((df, rows[1:] + rows[:1] * 2)), "check rejects a corrupted result")


def layers(ctx, res) -> None:
    """Per-pass figures: span means times the number of queries in a pass."""
    tr, L, n = ctx.tracer, res.layers, len(QUERIES)

    def mean_s(name):
        spans = tr.timed(name) or tr.named(name)
        return sum(s.duration for s in spans) / len(spans) if spans else 0.0

    L["queries.build_s"] = (mean_s("queries.build") * n, "s")
    L["queries.compute_s"] = (mean_s("queries.compute") * n, "s")
    L["queries.collect_s"] = ((mean_s("queries.collect_warm") - mean_s("queries.compute")) * n, "s")
    per_query = {q: min(o.seconds for o in res.ops if o.name == q) for q in QUERIES}
    for fam in sorted(set(QUERIES.values())):
        L[f"queries.{fam}_s"] = (sum(v for q, v in per_query.items() if QUERIES[q] == fam), "s")
