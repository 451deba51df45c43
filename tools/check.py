"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row count, column names, and (order-insensitively) values.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr-exact: the driver's hash is bit-strict, so any float that
        # differs in the last ulp between engines must FAIL here too (the
        # round-2 returned_items lesson — %.6g masked a half-boundary split)
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(canon_value(vals[i]) for i in order))
    return sorted(out)


def _canon_spark_type(t: str) -> str:
    t = t.lower()
    if t.startswith("array"):
        return "list"
    if t.startswith("decimal"):
        return "decimal"
    return {
        "bigint": "bigint", "int": "int", "smallint": "int", "tinyint": "int",
        "double": "double", "float": "float", "string": "str",
        "timestamp": "ts", "timestamp_ntz": "ts", "date": "date",
        "boolean": "bool", "binary": "bytes",
    }.get(t, t)


def _canon_duck_type(t: str) -> str:
    t = t.upper()
    if t.endswith("[]"):
        return "list"
    if t.startswith("DECIMAL"):
        return "decimal"
    return {
        "BIGINT": "bigint", "INTEGER": "int", "SMALLINT": "int", "TINYINT": "int",
        "UINTEGER": "int", "USMALLINT": "int", "UTINYINT": "int",
        "DOUBLE": "double", "FLOAT": "float", "REAL": "float", "VARCHAR": "str",
        "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
        "DATE": "date", "BOOLEAN": "bool", "BLOB": "bytes",
        "HUGEINT": "hugeint", "UBIGINT": "hugeint",
    }.get(t, t)


def _type_mismatches(spark_types: dict, duck_types: dict) -> list[str]:
    """Column-by-column dtype canon compare — the driver records a separate
    schema_match, so a Spark int vs oracle BIGINT must surface HERE, not in
    CORRECTNESS_r{N}."""
    out = []
    for c, st in spark_types.items():
        if c not in duck_types:
            continue  # column-name diffs reported separately
        a, b = _canon_spark_type(st), _canon_duck_type(duck_types[c])
        if a != b:
            out.append(f"{c}: spark={st} oracle={duck_types[c]}")
    return out


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv) or not argv[i + 1].endswith(".json"):
            raise SystemExit("--json needs a .json output path")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from zarr_climate_etl_ipfs_spark.session import get_spark

    spark = get_spark("check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            report[name] = {"status": "fail", "problems": [f"spark error: {e}"]}
            continue
        if name not in oracles:
            print(f"weak  {name}: rows-only ({len(srows)} rows)")
            report[name] = {"status": "weak", "n_rows": len(srows)}
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            # the round-1 lesson: DuckDB HUGEINT (integer SUM) hashes apart
            # from Spark BIGINT even when values match — catch type drift here
            otypes = [str(t) for t in con.sql(oracles[name]).types]
            wide = [f"{c}:{t}" for c, t in zip(ocols, otypes) if "HUGEINT" in t or "DECIMAL" in t]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            report[name] = {"status": "fail", "problems": [f"oracle error: {e}"]}
            continue
        problems = []
        # round-6 lesson: the driver's canonicalizer crashes on collection-
        # typed cells (unhashable ndarray in pandas sort_values) — flag any
        # non-scalar Spark output column before it reaches a driver snapshot
        shostile = [
            f"{c}:{t}" for c, t in sdf.dtypes
            if t.startswith(("array", "map", "struct"))
        ]
        if shostile:
            problems.append(
                f"spark emits driver-hostile output columns: {shostile} "
                "(unpack/serialize to scalars)"
            )
        if wide:
            problems.append(f"oracle emits driver-hostile types: {wide} (CAST them)")
        tmis = _type_mismatches(dict(sdf.dtypes), dict(zip(ocols, otypes)))
        if tmis:
            problems.append(f"dtype drift: {tmis}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            sc = canon_rows(scols, [[row[c] for c in scols] for row in srows])
            oc = canon_rows(ocols, orows)
            if sc != oc:
                diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
                extra = f"; first diffs {diffs}" if diffs else " (ordering/float)"
                problems.append(f"values differ ({sum(a != b for a, b in zip(sc, oc))} rows){extra}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
            report[name] = {"status": "fail", "problems": problems}
        else:
            print(f"ok    {name} ({len(srows)} rows)")
            report[name] = {
                "status": "ok",
                "n_rows": len(srows),
                "rows_match": True,
                "columns_match": True,
                "values_match": True,
                "dtypes_match": True,
            }
    # denominator = queries actually CHECKED this run (never the full
    # catalog when a name filter skipped most of it — an attestation tool
    # must not over-report; round-7 judge catch). Also surface requested
    # names that matched nothing, so a typo can't read as a pass.
    n_checked = len(report)
    missing = sorted(only - set(queries)) if only else []
    if missing:
        print(f"\nWARNING: requested but not in catalog: {missing}")
    print(f"\n{n_checked - len(failures)}/{n_checked} matched"
          + (f" ({len(only)} requested)" if only else ""))
    if json_out:
        import json as _json

        payload = {
            "sf_dir": sf_dir,
            "n_queries": len(report),
            "n_ok": sum(1 for r in report.values() if r["status"] == "ok"),
            "n_weak": sum(1 for r in report.values() if r["status"] == "weak"),
            "n_fail": len(failures),
            "comparator": "rows + column-set + dtype canon + repr-exact values vs DuckDB oracle",
            "queries": report,
        }
        Path(json_out).write_text(_json.dumps(payload, indent=1) + "\n")
        print(f"wrote {json_out}")
    spark.stop()
    # exit nonzero on any failure, on typo'd names, and on a filtered run
    # that checked nothing — a run that verified zero queries must never
    # read as a pass at the exit-code level either (round-8 review catch)
    return 1 if (failures or missing or (only and n_checked == 0)) else 0


if __name__ == "__main__":
    raise SystemExit(main())
