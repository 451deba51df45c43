"""Scale-curve evidence for the dedup family (VERDICT r3 ask #6).

Builds dup-heavy corpora at 1x/10x/100x of sf0.1's documents table
(5k -> 50k -> 500k rows; copies carry a deterministic mutation on half the
docs so the corpus mixes exact dups, near dups and unique text), runs the
shipped catalog queries unchanged (REGISTRY entries), and records runtime,
shuffle-write bytes (from the JVM status store) and output rows per point.

Usage: python tools/scale_curve.py [out_md]
Writes SCALE.md at the repo root by default. The session comes from
get_spark(): width from $SPARK_GRAFT_CPUS, driver memory from
$SPARK_DRIVER_MEMORY.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

BASE = Path("/root/testdata/sf0.1/documents.parquet")
EMB_BASE = Path("/root/testdata/sf0.1/embeddings.parquet")
WORK = Path("/tmp/scale_curve")

QUERIES = [
    "dedup_exact",
    "minhash_lsh_neardups",
    "ngram_jaccard_pairs",
    "simhash_neardups",
    "dedup_components",
    "sequence_packing",
    # round-6 additions: span-granular dedup + fingerprinting + corpus stats
    "paragraph_dedup",
    "winnowing_fingerprints",
    "tfidf_top_terms",
    "unigram_logprob_quality",
    # round-11/12 text additions (curves first committed as marker blocks;
    # listed here so one `python tools/scale_curve.py` reproduces them)
    "document_chunking",
    "quota_sample",
    "repetition_stats",
    "split_leakage",
    "shot_boundaries",
    "image_phash_dedup",
    "ngram_decontamination",
    "encoding_quality",
    "source_span_overlap",
    # round-13: SymSpell delete-neighborhood lexical ER — |keys| grows with
    # the VOCABULARY (mutated copies add variant words), not the corpus
    "typo_candidate_pairs",
]

#: events-table queries measured on straight-replicated events (see
#: build_events_corpora: id offsets keep the px/py lattice and per-type
#: day keys constant while points per key grow with n)
EVENTS_QUERIES = [
    "ols_trend_detrend",
    "idw_regrid",
    "tx90p_exceedance",
    # round-13 robust-statistics family: day-key space is constant under
    # replication, so the quadratic stage (Theil-Sen pair join) and the
    # window state (CUSUM) stay FIXED while the input grows — the curves
    # should be dominated by the linear daily aggregate / percentile scans
    "theil_sen_trend",
    "robust_zscore_outliers",
    "cusum_changepoint",
]

#: similarity family measured on replicated embeddings (see build_emb_corpora).
#: embedding_lsh_neardups is deliberately absent: its catalog entry pins
#: 4-bit bands for oracle portability, which admits ~6% of RANDOM pairs as
#: candidates — inherently quadratic on cross-copy noise. The scale knob for
#: hyperplane LSH is band WIDTH (16-bit bands admit 0.006%); the measured
#: scale path for embeddings is IVF below.
EMB_QUERIES = [
    "knn_brute_force",
    "embedding_neardup_pairs",
    "ivf_knn",
    "embedding_lsh_neardups_wide",
    # round-6: compressed-domain ANN (4-bit scalar quantization) — linear
    # scan over reconstructed codes, no pair space
    "sq_ann_topk",
]


def _srp_production(spark, sf_dir: str):
    """Production wide-band hyperplane LSH (128 planes / 8×16-bit bands)
    — the srp_neardup_pairs default, not a pinned catalog entry."""
    from zarr_climate_etl_ipfs_spark.operators.similarity import srp_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return srp_neardup_pairs(emb, "vec_id", "embedding", threshold=0.35)


def _pack_production(spark, sf_dir: str):
    """pack_sequences with the production default n_shards=defaultParallelism
    (the catalog entry pins 8 for oracle parity)."""
    from pyspark.sql import functions as F

    from zarr_climate_etl_ipfs_spark.operators.textanalysis import pack_sequences, token_count

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    return (
        pack_sequences(d)
        .groupBy("lang")
        .agg(F.count("*").alias("n_seqs"), F.sum("seq_tokens").alias("tokens"))
    )


#: production scale modes measured alongside the catalog entries: plain
#: callables (spark, sf_dir) -> DataFrame, run on the same corpora.
TEXT_EXTRAS = {"sequence_packing[shards=defaultParallelism]": _pack_production}
EMB_EXTRAS = {"srp_neardup_pairs[128p/8x16bit]": _srp_production}


def _mutate(text: str, copy: int) -> str:
    """Copy-specific mutation that keeps WITHIN-copy dup structure intact
    while breaking CROSS-copy similarity: tagging every 5th word means every
    5-word shingle contains a tagged word, so shingle sets across copies are
    disjoint. Dup density is therefore constant as n grows (each copy
    carries the base corpus's own near-dup structure) — the corpus scales
    the problem, not the answer. Naive replication instead creates
    copy-sized dup GROUPS whose pair listing is inherently quadratic in the
    copy count (first attempt: x100 minhash pair output alone exceeded a
    30-min budget purely on true-positive enumeration)."""
    if copy == 0:
        return text
    ws = text.split(" ")
    return " ".join(
        f"{w}~c{copy}" if i % 5 == 0 else w for i, w in enumerate(ws)
    )


def build_corpora() -> dict[str, Path]:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    WORK.mkdir(parents=True, exist_ok=True)
    base = pd.read_parquet(BASE)
    dirs = {}
    for label, copies in (("x1", 1), ("x10", 10), ("x100", 100)):
        d = WORK / label
        d.mkdir(exist_ok=True)
        out = d / "documents.parquet"
        if not out.exists():
            if copies == 1:
                shutil.copy(BASE, out)
            else:
                writer = None
                for copy in range(copies):
                    part = base.copy()
                    part["doc_id"] = part["doc_id"] + copy * 10_000_000
                    if copy:
                        part["text"] = [_mutate(t, copy) for t in part["text"]]
                        part["n_chars"] = part["text"].str.len()
                    tbl = pa.Table.from_pandas(part, preserve_index=False)
                    if writer is None:
                        writer = pq.ParquetWriter(out, tbl.schema)
                    writer.write_table(tbl)
                writer.close()
        dirs[label] = d
    return dirs


def build_events_corpora(dirs: dict[str, Path]) -> None:
    """Replicated events next to each documents corpus: event_id/user_id
    offset per copy (multiples of 16/8 preserve the px/py lattice), ts
    unchanged — the daily/node aggregate keys stay constant while points
    per key grow with n, so output shape is scale-invariant."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = Path("/root/testdata/sf0.1/events.parquet")
    base = pd.read_parquet(src)
    for label, copies in (("x1", 1), ("x10", 10), ("x100", 100)):
        out = dirs[label] / "events.parquet"
        if out.exists():
            continue
        if copies == 1:
            shutil.copy(src, out)
            continue
        writer = None
        for c in range(copies):
            part = base.copy()
            part["event_id"] = part["event_id"] + c * 10_000_000
            part["user_id"] = part["user_id"] + c * 10_000_000
            tbl = pa.Table.from_pandas(part, preserve_index=False)
            if writer is None:
                writer = pq.ParquetWriter(out, tbl.schema)
            writer.write_table(tbl)
        writer.close()


def build_emb_corpora(dirs: dict[str, Path]) -> None:
    """Replicated embeddings next to each documents corpus: copy c rotates
    every vector's components by c (np.roll), which preserves every
    WITHIN-copy cosine exactly while cross-copy cosines become
    pseudo-random (|cos| ~ N(0, 1/sqrt(dim))), and shifts labels into
    copy-private ranges so the labeled near-dup blocking key keeps
    constant bucket sizes — near-dup DENSITY stays constant as n grows,
    same principle as the text corpora."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.read_parquet(EMB_BASE)
    dim = len(base["embedding"].iloc[0])
    for label, copies in (("x1", 1), ("x10", 10), ("x100", 100)):
        out = dirs[label] / "embeddings.parquet"
        if out.exists():
            continue
        if copies == 1:
            shutil.copy(EMB_BASE, out)
            continue
        writer = None
        mat = np.stack(base["embedding"].to_numpy())
        for copy in range(copies):
            part = base.copy()
            part["vec_id"] = part["vec_id"] + copy * 10_000_000
            part["label"] = part["label"] + copy * 1000
            if copy:
                rolled = np.roll(mat, copy % dim, axis=1)
                part["embedding"] = [row for row in rolled]
            tbl = pa.Table.from_pandas(part, preserve_index=False)
            if writer is None:
                writer = pq.ParquetWriter(out, tbl.schema)
            writer.write_table(tbl)
        writer.close()


def shuffle_write_bytes(spark, group: str) -> int:
    """Shuffle bytes written by the stages of every job in ``group``, read
    from the JVM status store (no UI server needed)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    total = 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                total += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Exception:  # noqa: BLE001 — stage skipped or evicted
                continue
    return total


def main() -> None:
    out_md = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).parent.parent / "SCALE.md"
    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY
    from zarr_climate_etl_ipfs_spark.session import get_spark

    dirs = build_corpora()
    build_emb_corpora(dirs)
    build_events_corpora(dirs)
    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    # warm
    REGISTRY["dedup_exact"].fn(spark, str(dirs["x1"])).collect()

    all_names = (
        QUERIES + EVENTS_QUERIES + EMB_QUERIES + list(TEXT_EXTRAS) + list(EMB_EXTRAS)
    )
    runners = {q: REGISTRY[q].fn for q in QUERIES + EVENTS_QUERIES + EMB_QUERIES}
    runners.update(TEXT_EXTRAS)
    runners.update(EMB_EXTRAS)
    results: dict[str, dict[str, dict]] = {q: {} for q in all_names}
    # min-of-N inside one invocation (SCALE_RUNS, default 2): the host's
    # multi-second contention spikes otherwise land in whichever single
    # pass a round happens to record — this bakes the reproduce-protocol
    # ("run twice, take per-cell min") into the tool itself. Shuffle bytes
    # are run-invariant, so they come from the first pass.
    n_runs = max(1, int(os.environ.get("SCALE_RUNS", "2")))
    for label in ("x1", "x10", "x100"):
        sf_dir = str(dirs[label])
        for qname in all_names:
            best = float("inf")
            n = sw = 0
            group = f"scale_curve:{label}:{qname}"
            spark.sparkContext.setJobGroup(group, group)
            for rep in range(n_runs):
                t0 = time.perf_counter()
                n = len(runners[qname](spark, sf_dir).collect())
                t = time.perf_counter() - t0
                if rep == 0:
                    sw = shuffle_write_bytes(spark, group)
                best = min(best, t)
            results[qname][label] = {"sec": round(best, 2), "shuffle_mb": round(sw / 1e6, 1), "rows": n}
            print(f"{label:5s} {qname:38s} {best:8.2f}s  shuffle={sw/1e6:9.1f} MB  rows={n}", flush=True)
    spark.stop()
    print(json.dumps(results))
    write_md(out_md, results)


def _cell(results: dict, qname: str, key: str, scale: str = "x100"):
    # loud on a missing/renamed query: silently writing 0 into SCALE.md
    # prose would falsify published evidence (round-8 review catch)
    return results[qname][scale][key]


def _ratio(results: dict, qname: str) -> float:
    return round(results[qname]["x100"]["sec"] / results[qname]["x1"]["sec"], 1)


def _table(results: dict, names: list[str]) -> list[str]:
    lines = [
        "| query | x1 sec | x10 sec | x100 sec | x1→x100 time ratio | x1 shuffle MB | x10 MB | x100 MB | rows@x1 | rows@x10 | rows@x100 |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for qname in names:
        by = results.get(qname, {})
        r1, r10, r100 = by.get("x1", {}), by.get("x10", {}), by.get("x100", {})
        ratio = (
            round(r100["sec"] / r1["sec"], 1) if r1.get("sec") and r100.get("sec") else "—"
        )
        lines.append(
            f"| {qname} | {r1.get('sec','—')} | {r10.get('sec','—')} | {r100.get('sec','—')} "
            f"| {ratio}x | {r1.get('shuffle_mb','—')} | {r10.get('shuffle_mb','—')} "
            f"| {r100.get('shuffle_mb','—')} | {r1.get('rows','—')} | {r10.get('rows','—')} "
            f"| {r100.get('rows','—')} |"
        )
    return lines


def write_md(out_md: Path, results: dict) -> None:
    lines = [
        "# SCALE — dedup + similarity scale curves (round 7)",
        "",
        "Measured evidence that the dedup/near-dup/ANN operators scale",
        "sub-quadratically. Text corpora: the sf0.1 `documents` table (5,000",
        "rows) replicated 10x (50,000) and 100x (500,000); every copy tags every",
        "5th word with the copy id, so each copy keeps the base corpus's internal",
        "near-dup structure while cross-copy shingle sets are disjoint — dup",
        "DENSITY stays constant as n grows (the corpus scales the problem, not",
        "the answer; naive replication creates copy-sized dup groups whose pair",
        "listing is inherently quadratic in the copy count and measures output",
        "size, not the algorithm). Embedding corpora (2,000 → 20,000 → 200,000",
        "vectors): copy c rotates components by c — within-copy cosines are",
        "preserved exactly, cross-copy cosines are pseudo-random, labels shift",
        "into copy-private ranges so blocking buckets stay constant-size.",
        "Queries are the SHIPPED catalog entries (REGISTRY), unmodified, plus",
        "two bracketed production scale modes (operator defaults the pinned",
        "catalog entries can't use because their oracles need fixed",
        "parameters).",
        "Runtime = min over full runs, local[$SPARK_GRAFT_CPUS] (the host shows multi-second",
        "contention spikes; shuffle bytes are run-invariant and come from the",
        "JVM status store — sum of shuffleWriteBytes over the stages of the",
        "query's jobs). Reproduce: `python tools/scale_curve.py` (run twice, take",
        "per-cell min).",
        "",
        "## Text dedup family (5k → 50k → 500k docs)",
        "",
        *_table(results, QUERIES + list(TEXT_EXTRAS)),
        "",
        "`sequence_packing` appears twice: the catalog entry pins n_shards=8",
        "for oracle parity (window partitions grow as corpus/8 per language —",
        "the hazard the operator default avoids), while",
        "`sequence_packing[shards=defaultParallelism]` is the production mode",
        "of operators/textanalysis.pack_sequences: window partitions bounded",
        "at corpus/(langs·defaultParallelism), scaling with the cluster.",
        "",
        "Round-6 rows: `paragraph_dedup` (12-word span dedup, count-over-hash",
        "window), `winnowing_fingerprints` (MOSS fingerprint selection +",
        "DF-capped inverted-index pair join), `tfidf_top_terms` and",
        "`unigram_logprob_quality` (corpus-statistics windows over the (doc,",
        "term) aggregate). Two measured lessons are baked into the shipped",
        "winnowing query: (a) gram width is 5, not the family's 3 — window-min",
        "selection surfaces RARE grams, which stay under the DF cap even when",
        "shared across loosely-related docs, and at width 3 the x10 corpus went",
        "quadratic across copies (403 s); (b) each expensive array derivation",
        "lives in its OWN projection — inlined, the fingerprint expression",
        "re-evaluates the gram-hash subtree per reference (Catalyst does not",
        "CSE across higher-order-function lambdas) and the same x10 point ran",
        "476 s vs 2.6 s after the split.",
        "",
        "## Events family (100k → 1M → 10M events; replicated lattice)",
        "",
        *_table(results, EVENTS_QUERIES),
        "",
        "## Embedding similarity family (2k → 20k → 200k vectors)",
        "",
        *_table(results, EMB_QUERIES + list(EMB_EXTRAS)),
        "",
        "`embedding_lsh_neardups` (the PINNED catalog entry, 16 planes / 4-bit",
        "bands chosen so the DuckDB oracle recomputes the identical signature)",
        "is deliberately absent: 4-bit bands admit ~6% of RANDOM pairs as",
        "candidates — inherently quadratic on cross-copy noise. The scale knob",
        "is band WIDTH, and the curve now MEASURES it at two settings:",
        "`embedding_lsh_neardups_wide` (the 48-plane / 4×12-bit catalog entry,",
        "~0.1% random admission) and `srp_neardup_pairs[128p/8x16bit]` (the",
        "production default of operators/similarity.srp_neardup_pairs, ~0.012%",
        "random admission, per-band packing so the plane count is not capped",
        "at 64). The complementary embeddings scale path is IVF (`ivf_knn`",
        "above: index build + assignment linear in n, probe cost ∝",
        "n_probe/n_cells).",
        "",
        "Reading the wide-band rows: their OUTPUT explodes by construction —",
        "cross-copy cosines are ~N(0, 1/8), so at the catalog threshold of",
        "0.35 (≈2.8σ) a constant ~3e-6 fraction of all n²/2 pairs are true",
        "positives the operator must emit"
        f" (x100: {_cell(results, 'embedding_lsh_neardups_wide', 'rows'):,} /"
        f" {_cell(results, 'srp_neardup_pairs[128p/8x16bit]', 'rows'):,} rows).",
        "Runtime tracks that output (rows grow ~10,000× while runtime grows"
        f" {_ratio(results, 'embedding_lsh_neardups_wide')}×/"
        f"{_ratio(results, 'srp_neardup_pairs[128p/8x16bit]')}×,",
        "i.e. per-row cost FALLS with scale), which is the sub-quadratic",
        "candidate claim in measurable form; at a near-dup threshold (0.95+)",
        "the noise mass vanishes and only the linear signature/banding cost",
        "remains.",
        "",
    ]
    lines += [
        "",
        "A 100x input with ~quadratic behavior would show a ~10,000x time ratio;",
        "blocked/bucketed pair generation keeps the observed ratios orders of",
        "magnitude below that, and shuffle bytes grow near-linearly with input",
        "(the join keys are LSH bands / pigeonhole blocks / fingerprints, never",
        "all-pairs).",
        "",
        "Notes on cap behavior (visible in the row counts):",
        "",
        "- `ngram_jaccard_pairs` caps posting lists at document frequency 64",
        "  (`plans/queries.py`): in the replicated corpora every gram of a",
        "  replicated document has DF >= copies, so ultra-hot grams drop out of",
        "  the inverted index — the documented recall/cost trade that bounds the",
        "  in-bucket quadratic term. Runtime stays near-linear because the",
        "  bounded join never materializes a hot posting's pair square.",
        "- `simhash_neardups` runs the oracle-parity exact path",
        "  (`bucket_cap=None`); identical texts share a signature, so bucket",
        "  sizes track dup-group sizes and pair output grows with the true dup",
        "  structure, not with n^2.",
        "- `dedup_components` is alternating large-star/small-star: rounds are",
        "  O(log n), each a fixed number of shuffles; the 100x point pays more",
        "  rounds only if the dup-graph diameter grows.",
    ]
    # preserve EVERY marker-delimited evidence block other tools and round
    # sessions own (store_bench's write-path section, the interleave A/B
    # notes, the multimodal kernel breakdown, per-round addition curves…):
    # this tool regenerates only its own prose, so a re-run must not
    # destroy committed evidence it did not produce (the store-only
    # preservation here previously dropped all the rest)
    import re as _re

    if out_md.exists():
        prev = out_md.read_text()
        for m in _re.finditer(
            r"<!-- ([\w-]+):begin[^>]*-->.*?<!-- \1:end -->", prev, _re.S
        ):
            lines += ["", m.group(0)]
    out_md.write_text("\n".join(lines) + "\n")
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()
