"""Similarity search over embedding columns (array<float>).

One implementation per operator:

  brute-force   exact cosine top-k (:func:`brute_force_topk`) — the
                correctness baseline: broadcast query set, one scan of the
                candidates, per-query ranking window.
  SRP signature sign-random-projection bits against the md5
                :func:`rademacher_planes` the DuckDB oracle recomputes —
                :func:`srp_signature_expr` (one packed long, JVM-only) and
                :func:`srp_band_values` (per-band longs, one Arrow matmul,
                any plane count).
  near-dup      :func:`srp_neardup_pairs`: band buckets filter candidate
                pairs, exact cosine verifies them (:func:`gram_bucket_pairs`
                is the per-bucket BLAS verify the catalog entries use).
  IVF ANN       :func:`ivf_index` trains a k-means coarse quantizer
                (DataFrame Lloyd rounds) and assigns each vector to a cell;
                :func:`ivf_topk` probes the ``n_probe`` nearest cells per
                query — search cost ∝ n_probe/n_cells of the corpus. Every
                nearest-centroid decision (training, assignment, appends,
                probe choice) goes through :func:`_nearest_cells`. The
                persisted form (:func:`write_ivf_index`,
                :func:`append_ivf_index`, :func:`compact_ivf_index`) is a
                cell-partitioned parquet file list committed through
                GridStore's put-if-absent manifest log (sources/store.py);
                :func:`search_ivf_index` reads the latest manifest's files
                and prunes unprobed cell partitions at planning time.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from zarr_climate_etl_ipfs_spark.functions.vectors import cosine_similarity, dot, l2_norm
from zarr_climate_etl_ipfs_spark.sources.sink import claim_dir
from zarr_climate_etl_ipfs_spark.sources.store import (
    StoreError,
    commit_manifest,
    read_manifest,
    stage_partitioned,
)


def brute_force_topk(
    candidates: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Plan: broadcast the query set, one pass over candidates computing cosine
    in codegen, per-query ranking window. With a single query row the window
    degenerates to TakeOrderedAndProject (no shuffle of candidates)."""
    q = F.broadcast(
        query.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    )
    scored = candidates.crossJoin(q).select(
        query_id_col,
        id_col,
        cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def rademacher_planes(n_planes: int, dim: int, seed: int = 42) -> "np.ndarray":
    """Engine-portable ±1 hyperplanes: component (i, j) is +1 when the
    md5-derived 56-bit integer of ``"hp:{seed}:{i}:{j}"`` is even. The same
    matrix is reproducible in ANY engine with md5 (DuckDB:
    ``CAST(CONCAT('0x', SUBSTR(MD5('hp:seed:' || i || ':' || j), 1, 14)) AS
    BIGINT) % 2``), which makes SRP signatures comparable across engines —
    the portability trick the catalog's minhash/simhash queries use, applied
    to hyperplane LSH. Rademacher projections preserve cosine structure
    like Gaussian planes (sign agreement probability = 1 − θ/π)."""
    import hashlib

    out = np.empty((n_planes, dim), dtype=np.float64)
    for i in range(n_planes):
        for j in range(dim):
            h = int(hashlib.md5(f"hp:{seed}:{i}:{j}".encode()).hexdigest()[:14], 16)
            out[i, j] = 1.0 if h % 2 == 0 else -1.0
    return out


def srp_signature_expr(vec_col: str, planes: "np.ndarray") -> Column:
    """Sign-random-projection signature as one JVM expression: bit i =
    (v · planeᵢ) > 0, packed into a long, with the ±1 plane matrix embedded
    as array literals and each bit a zip_with/aggregate fold. Equal to
    :func:`srp_band_values` with ``bands=1`` (guarded by tests against
    numpy). Each float32×(±1.0) product is exact in float64, but float64
    *addition* is not associative, so numpy's pairwise-summed matmul and
    this sequential fold can in principle disagree in sign when |dot| sits
    below accumulated rounding error (~1e-13 for these dims); the
    equivalence is guarded empirically, not guaranteed mathematically. No
    Python worker in the plan — for modest plane counts this wins on both
    latency and stage-launch overhead; prefer :func:`srp_band_values` when
    n_planes × dim makes the expression tree unwieldy (≳ thousands of
    literals).

    The plane count is capped at 64: a bigint ``shiftleft`` wraps at 64,
    so plane 64 would silently land on bit 0. Bit 63 is the sign bit.

    Construction note: building the tree from Column objects would pay
    n_planes × dim ``F.lit`` py4j round trips — 2.4 s of DRIVER time per
    fresh embedding_lsh_neardups build at 16×64 — so the tree is built
    from ONE parsed SQL string (~10 ms)."""
    n_planes = planes.shape[0]
    if not 1 <= n_planes <= 64:
        raise ValueError(f"n_planes must be in [1, 64] for a long signature, got {n_planes}")

    def dlit(x: float) -> str:
        return f"cast({x!r} as double)"

    terms = []
    for i in range(n_planes):
        arr = ",".join(dlit(float(x)) for x in planes[i])
        d = (
            f"aggregate(zip_with(`{vec_col}`, array({arr}), "
            "(a, b) -> cast(a as double) * b), cast(0.0 as double), "
            "(acc, x) -> acc + x)"
        )
        terms.append(
            f"(case when {d} > 0 then shiftleft(cast(1 as bigint), {i}) "
            "else cast(0 as bigint) end)"
        )
    return F.expr("cast(0 as bigint) + " + " + ".join(terms))


def srp_band_values(vec_col: Column | str, planes: "np.ndarray", bands: int) -> Column:
    """Per-band packed SRP values as ``array<long>`` — the band-width-
    generalized form of :func:`srp_signature_expr`. One Arrow-batched BLAS matmul
    computes all ``n_planes`` sign bits per batch, then band ``b`` packs bits
    ``[b·w, (b+1)·w)`` (w = n_planes // bands) into its own long, so the
    plane count is NOT capped at 64 by the signature dtype: 128 planes / 8
    bands of 16 bits is a single array column. This is the scale path —
    band width is THE quadratic-noise knob for hyperplane LSH (a w-bit band
    admits a random pair with probability 2^-w: 4-bit bands ≈ 6%,
    16-bit bands ≈ 0.0015% per band)."""
    pm = planes.astype(np.float64)
    n_planes = pm.shape[0]
    if n_planes % bands:
        raise ValueError(f"n_planes={n_planes} not divisible by bands={bands}")
    bpb = n_planes // bands
    weights = 1 << np.arange(bpb, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _bv(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        bits = (mat @ pm.T) > 0
        vals = np.stack(
            [(bits[:, b * bpb : (b + 1) * bpb] @ weights).astype(np.int64) for b in range(bands)],
            axis=1,
        )
        return pd.Series(list(vals))

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _bv(c)


def srp_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 128,
    bands: int = 8,
    seed: int = 42,
    dim: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Production-scale hyperplane-LSH near-dup pairs (id_a < id_b, cosine ≥
    threshold) with parameterized band WIDTH — the scale-mode answer to the
    pinned catalog entry's 4-bit bands (plans/queries.embedding_lsh_neardups
    keeps 16 planes / 4-bit bands for DuckDB-oracle portability; 4-bit bands
    admit ~6% of random pairs, quadratic on cross-corpus noise).

    Defaults (128 planes, 8 bands of 16 bits): a random pair collides in
    ≥1 band with probability ≈ 8·2⁻¹⁶ ≈ 0.012%, while a true near-dup at
    cos ≥ 0.95 (per-bit agreement p = 1 − θ/π ≈ 0.90) collides with
    probability 1 − (1 − p¹⁶)⁸ ≈ 0.80, rising steeply toward 1 for the
    near-identical vectors dedup actually targets (cos 0.99 → 0.99+).

    Plan shape (same as the catalog entry, with the Arrow matmul signature
    instead of the literal-expression fold): one pandas_udf projection per
    row → posexplode to (band, bv) rows of (id, band-values) → ONE bucket
    aggregate (collect_list per key) → in-bucket pair listing with array
    transforms, where MIN-BAND dedup makes pairs globally unique at birth
    (a pair is emitted only in the first band whose values agree, decided
    from the two carried band arrays) → cosine verify joining the vectors
    back. There is no pair-level dropDuplicates exchange, and the
    AQE-proof round-robin spread runs on the bucket rows, not the far
    larger exploded pairs — shuffle stays linear in n·bands with no
    pair-width shuffle (−30% on the pinned catalog twin at sf0.1). In-bucket work is quadratic only
    within a band bucket, which wide bands keep near-singleton on noise.
    ``max_bucket`` (optional) drops degenerate buckets larger than the
    cap — a documented recall trade for adversarial corpora where one
    value floods a band (same device as the DF≤64 posting cap in
    ngram_jaccard_pairs). Under the cap the pair dedup reverts to the
    dropDuplicates shuffle: min-band suppression is unsound when a pair's
    minimal agreeing band may have been dropped as hot."""
    planes = rademacher_planes(n_planes, dim, seed)
    s = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        l2_norm(vec_col).alias("_n"),  # bit-identical fold, shared helper
        srp_band_values(vec_col, planes, bands).alias("_bvs"),
        F.monotonically_increasing_id().alias("_mid"),
    ).filter(
        # always-true pushdown barrier (dedup_exact note in dedup.py): the
        # verify threshold's constraint chain otherwise plants the whole
        # isnotnull(sqrt(aggregate(...))) norm in the scan's DataFilters
        F.col("_mid") >= 0
    ).drop("_mid")
    item = F.struct(F.col("vec_id").alias("id"), F.col("_bvs").alias("bvs"))
    banded = s.select(item.alias("it"), F.posexplode("_bvs").alias("band", "bv"))
    sc = df.sparkSession.sparkContext
    # Round-robin spread on the BUCKET rows (band, bv, id+bvs list — tiny),
    # not the exploded pairs: the pair explode and cosine verify then run
    # cluster-wide with zero pair-width shuffle before the verify joins.
    # REPARTITION_BY_NUM is the one exchange AQE must leave alone (a keyed
    # repartition would coalesce with the groupBy exchange, serializing the
    # explode).
    buckets = (
        banded.groupBy("band", "bv")
        .agg(F.sort_array(F.collect_list("it")).alias("its"))
        .filter(F.size("its") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("its") <= max_bucket)
    buckets = buckets.repartition(sc.defaultParallelism)

    def _earlier_agree(x, y):
        # true iff the two band-value arrays already agreed on a band
        # BEFORE this bucket's band — the pair was emitted there, suppress
        # it here (min-band dedup: exactly one emission per pair, no dedup
        # shuffle). Written as a flat OR-chain of element_at comparisons,
        # NOT slice+zip_with+exists: this predicate runs once per
        # CANDIDATE pair, and the array-allocating HOF form measured
        # slower than the dropDuplicates shuffle it replaces at the 200k-
        # vector point (x100 wide-band, 5 alternating reps: getItem chain
        # 17.0 s vs zip_with 27.6 s vs the old pair-dedup shuffle 21.9 s).
        if bands == 1:
            return F.lit(False)  # single band: nothing earlier to agree on
        conds = None
        for bp in range(bands - 1):
            c = (F.col("band") > bp) & (x["bvs"][bp] == y["bvs"][bp])
            conds = c if conds is None else (conds | c)
        return conds

    # Min-band dedup is only SAFE without a bucket cap: under max_bucket, a
    # pair's minimal agreeing band may sit in a dropped hot bucket, and the
    # suppression in its later (surviving) buckets would erase the pair
    # entirely — a silent recall loss beyond the documented drop-the-hot-
    # bucket trade (hamming_blocked_pairs documents the identical rule). The capped path therefore keeps the shuffle
    # dedup; the exact path deduplicates map-side.
    if max_bucket is None:
        pairs = buckets.select(
            F.explode_outer(
                F.flatten(
                    F.transform(
                        "its",
                        lambda x, i: F.filter(
                            F.transform(
                                F.slice("its", i + 2, F.size("its")),
                                lambda y: F.struct(
                                    x["id"].alias("id_a"),
                                    y["id"].alias("id_b"),
                                    _earlier_agree(x, y).alias("dup"),
                                ),
                            ),
                            lambda p: ~p["dup"],
                        ),
                    )
                )
            ).alias("p")
        )
        # id_a != id_b: the sorted in-bucket listing guarantees id_a <= id_b,
        # so duplicate vec_ids in a dirty corpus would otherwise emit a
        # cosine-1.0 SELF-pair, violating the id_a < id_b contract
        cand = (
            pairs.filter(F.col("p").isNotNull())
            .select("p.id_a", "p.id_b")
            .filter(F.col("id_a") != F.col("id_b"))
        )
    else:
        pairs = buckets.select(
            F.explode_outer(
                F.flatten(
                    F.transform(
                        "its",
                        lambda x, i: F.transform(
                            F.slice("its", i + 2, F.size("its")),
                            lambda y: F.struct(
                                x["id"].alias("id_a"), y["id"].alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.id_a", "p.id_b")
        cand = (
            pairs.filter(F.col("id_a") != F.col("id_b"))  # same self-pair guard
            .dropDuplicates(["id_a", "id_b"])
            .repartition(sc.defaultParallelism)
        )
    va = s.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"), F.col("_n").alias("_na")
    )
    vb = s.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"), F.col("_n").alias("_nb")
    )
    # try_divide: zero-norm vectors share the all-zero signature, pair up,
    # and must yield NULL cosine (threshold-dropped on both engines; the
    # DuckDB oracle's LIST_COSINE_SIMILARITY yields -1.0 there) instead of
    # an ANSI-mode DIVIDE_BY_ZERO error
    # dot() is the identical fold (same casts, same left-to-right
    # accumulation — bit-identical); norms were hoisted per row above
    cos_expr = F.try_divide(dot("_va", "_vb"), F.col("_na") * F.col("_nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos_expr)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def gram_bucket_pairs(
    banded: DataFrame,
    group_cols: list[str],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    sig_col: str | None = None,
    band_col: str = "band",
    band_bits: int = 0,
    block_rows: int = 4096,
) -> DataFrame:
    """Per-bucket exact-cosine pair enumeration as one BLAS gram matrix per
    group — the FIFTH verify shape for the banded/blocked near-dup family,
    and the first to beat the interpreted-HOF fold (which four prior
    measured attempts had certified as the sf0.1 floor; see the
    embedding_lsh_neardups docstring's negative-result record for attempts
    one through four).

    What changed: the sf1 measurement (tools/make_sf1.py corpus, 10× rows).
    The floor rationale explicitly claimed "the gap closes only with data
    scale" — and sf1 falsified it: with 4-bit bands the per-band bucket
    count saturates at 16, candidate pairs grow QUADRATICALLY (≈46M at
    20k vectors vs 464k at 2k), and the per-pair interpreted fold took
    314 s while DuckDB verified the identical candidate set natively in
    5.7 s. The structural insight the first four attempts missed: every
    candidate pair lives INSIDE one band bucket, so the verify does not
    need per-pair vector transfer (attempt #1's cost) or per-pair lambda
    evaluation (the fold's cost) at all — one ``V @ V.T`` per bucket
    computes ALL in-bucket cosines at BLAS speed, and the pair LISTING
    (previously a struct-allocating HOF explode) falls out of the same
    ``np.nonzero`` as the threshold mask. Arrow transfer is one vector per
    ROW per band (n·bands rows total), not two per PAIR — linear, the same
    reason the simhash vote kernel's transfer is cheap.

    Contract (shared by both catalog consumers): rows are grouped by
    ``group_cols``; within a group every ``id_a < id_b`` pair with raw
    float64 ``cosine >= threshold`` is emitted, cosine UNROUNDED (callers
    apply F.round so engine-side rounding semantics stay exactly what they
    were). Rows whose vector is NULL or deviates from the bucket's modal
    width are excluded — their cosine is NULL under the fold (zip_with
    length mismatch) and threshold-dropped. Zero-norm vectors divide to
    NaN, which fails ``>= threshold`` exactly like the fold's try_divide
    NULL (the same output, bit-for-bit). Duplicate ids emit no self-pair (``id_a != id_b``
    guard, same as the HOF path).

    With ``sig_col``/``band_bits`` set, min-band dedup runs
    vectorized INSIDE the kernel: a pair is kept only in the first band
    whose ``band_bits``-wide signature slice agrees — bit-identical to the
    ``earlier_agree`` OR-chain it replaces, exactly one emission per pair,
    still no dedup shuffle. ``block_rows`` bounds the gram slab: a bucket
    of m rows is processed in (block_rows × m) strips, so kernel transient
    memory is O(block_rows · m) regardless of bucket size.

    Summation-order note: BLAS pairwise summation and the sequential
    zip_with fold can differ in the last ulp, so a cosine within ~1e-13 of
    ``threshold`` could flip admission vs the old plan. This is the same
    exposure class the fold already has vs the DuckDB oracle's native
    kernel (different order again), green across all six gates; the gates
    re-verify this path the same way."""
    out_schema = "id_a long, id_b long, cosine double"
    mask_w = (1 << band_bits) - 1

    def _kern(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        vecs = pdf[vec_col].to_numpy()
        lens = np.fromiter(
            (-1 if v is None else len(v) for v in vecs), dtype=np.int64, count=len(vecs)
        )
        good = lens >= 0
        if not good.any():
            return empty
        # modal width = the bucket's vector dimensionality; deviants drop
        dims, counts = np.unique(lens[good], return_counts=True)
        dim = int(dims[np.argmax(counts)])
        keep = lens == dim
        m = int(keep.sum())
        if m < 2:
            return empty
        pdf = pdf[keep].reset_index(drop=True)
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.sqrt((V * V).sum(axis=1))
        ids = pdf[id_col].to_numpy()
        if sig_col is not None:
            sig = pdf[sig_col].to_numpy().astype(np.int64)
            band = int(pdf[band_col].iat[0])
        cols_a: list[np.ndarray] = []
        cols_b: list[np.ndarray] = []
        cols_c: list[np.ndarray] = []
        col_idx = np.arange(m)
        for i0 in range(0, m - 1, block_rows):
            i1 = min(i0 + block_rows, m)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = (V[i0:i1] @ V.T) / np.outer(nrm[i0:i1], nrm)
                sel = (C >= threshold) & (col_idx[None, :] > np.arange(i0, i1)[:, None])
            ri, cj = np.nonzero(sel)
            if not len(ri):
                continue
            gi = ri + i0
            if sig_col is not None and band > 0:
                sa, sb = sig[gi], sig[cj]
                earlier = np.zeros(len(gi), dtype=bool)
                for bp in range(band):
                    earlier |= ((sa >> (band_bits * bp)) & mask_w) == (
                        (sb >> (band_bits * bp)) & mask_w
                    )
                ok = ~earlier
                gi, cj, ri = gi[ok], cj[ok], ri[ok]
            neq = ids[gi] != ids[cj]
            gi, cj, ri = gi[neq], cj[neq], ri[neq]
            if not len(gi):
                continue
            cols_a.append(ids[gi])
            cols_b.append(ids[cj])
            cols_c.append(C[ri, cj])
        if not cols_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(cols_a).astype(np.int64),
                "id_b": np.concatenate(cols_b).astype(np.int64),
                "cosine": np.concatenate(cols_c),
            }
        )

    return banded.groupBy(*group_cols).applyInPandas(_kern, schema=out_schema)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probed bucket search
# ---------------------------------------------------------------------------


def ivf_index(
    candidates: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_fraction: float = 1.0,
    max_iter: int = 20,
):
    """Train the IVF coarse quantizer (k-means over a sample) and assign
    every vector to its nearest centroid cell.

    Returns (assigned_df with a ``cell`` column, centroids: list[list[float]]).
    Training runs on a sample (``train_fraction``) — at 100 TB you train on
    ~1M vectors and assign the rest in one pass; assignment is
    :func:`assign_ivf_cell` against the broadcast centroids, no shuffle.

    The trainer is Lloyd's algorithm as plain DataFrame ops: deterministic
    hash-ordered seed rows, then ``max_iter`` rounds of (assign → per-cell
    vector mean). Two jobs per round and ~one for seeding — an order of
    magnitude fewer than pyspark.ml's driver-synchronized job per
    iteration on small data, same cell quality for a coarse quantizer.

    IVF recall degrades gracefully with centroid quality — and with full
    probing (n_probe = n_cells) results are exact regardless — so a cheap
    trainer (1 round) is usually enough for a partitioner.
    """
    train = (
        candidates
        if train_fraction >= 1.0
        else candidates.sample(train_fraction, seed)
    )
    # deterministic, spread-out seeds: order by a keyed hash (adjacent
    # ids are often similar vectors; hash order decorrelates), take the
    # first n_cells — a TakeOrdered, not a full sort
    seeds = (
        train.orderBy(F.md5(F.concat(F.lit(f"ivf:{seed}:"), F.col(id_col).cast("string"))))
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in seeds]
    if not centroids:
        # empty input: nothing to train — return the (empty) frame with
        # the assigned-schema cell column so downstream probe joins are
        # empty rather than a driver-side numpy crash on a (0,) matrix
        # (an empty corpus)
        return candidates.withColumn("cell", F.lit(None).cast("int")), []

    for _ in range(max_iter):
        assigned = assign_ivf_cell(train, centroids, vec_col)
        # per-cell mean as a codegen'd posexplode + avg instead of a
        # groupBy.applyInPandas numpy kernel — one fewer python stage per
        # Lloyd round (OPTIMIZATION_r16.md §5) and a (n_cells × dim) tiny
        # collect either way. Float summation order differs from the
        # numpy mean in the last ulp, which cannot change any
        # consumer's output: every catalog/search consumer
        # full-probes (results exact for ANY centroids), and empty
        # cells keep their previous centroid exactly as before. The
        # positional average is also strictly more robust than
        # np.stack on ragged/NULL-cell groups (which would crash).
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        per_cell: dict[int, dict[int, float]] = {}
        for r in means:
            if r["cell"] is not None:
                per_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = r["m"]
        by_cell = {
            c: [d[p] for p in sorted(d)] for c, d in per_cell.items()
        }
        # empty cells keep their previous centroid
        centroids = [by_cell.get(i, c) for i, c in enumerate(centroids)]
    return assign_ivf_cell(candidates, centroids, vec_col), centroids


def _nearest_cells(vecs, centroids, n: int = 1) -> np.ndarray:
    """The one nearest-centroid rule of the IVF family (training,
    assignment, appends and probe choice all call it): for each vector the
    ids of its ``n`` nearest centroids by squared L2, nearest first, as a
    ``(len(vecs), n)`` int64 array. Ties go to the lowest cell id. A NULL
    or wrong-width vector gets no cell: -1 in every column, as are the
    columns past the centroid count.

    ‖v−c‖² = ‖v‖² − 2·v·c + ‖c‖² and ‖v‖² is constant per row, so the
    order is that of descending v·c − ‖c‖²/2: one BLAS matmul per batch
    instead of a rows × cells × dim difference tensor. The stable sort
    keeps equal scores in cell-id order."""
    out = np.full((len(vecs), n), -1, dtype=np.int64)
    if not len(centroids):
        return out
    cmat = np.asarray(centroids, dtype=np.float64)  # (cells, dim)
    ok = np.fromiter(
        (v is not None and len(v) == cmat.shape[1] for v in vecs),
        dtype=bool,
        count=len(vecs),
    )
    if ok.any():
        mat = np.stack([v for v, keep in zip(vecs, ok) if keep]).astype(np.float64)
        scores = mat @ cmat.T - (cmat * cmat).sum(axis=1) / 2.0
        order = np.argsort(-scores, axis=1, kind="stable")[:, :n]
        out[ok, : order.shape[1]] = order
    return out


def assign_ivf_cell(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a ``cell`` column: the nearest centroid's index by
    :func:`_nearest_cells`, one Arrow-batched BLAS matmul per batch —
    ~10× an inlined literal-array argmin on wide embeddings, the trade the
    guide's "vectorized Pandas UDF for embedding math" case describes.
    NULL / wrong-width embeddings get a NULL ``cell`` instead of failing
    the whole batch's ``np.stack``."""

    @F.pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        cells = _nearest_cells(v.to_numpy(), centroids)[:, 0]
        return pd.Series(cells, dtype="Int32").mask(cells < 0)

    return df.withColumn("cell", _cell(F.col(vec_col)))


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search: probe each query's ``n_probe`` nearest cells, exact
    cosine only against the candidates inside them.

    Probe choice runs on the driver through :func:`_nearest_cells`, the
    rule that assigned the cells: the query batch is collected (query
    batches are driver-sized — the FAISS search contract; probe math is
    queries × n_cells × dim flops) and the probed cells become a literal
    ``cell IN (…)`` filter on ``assigned``. On a cell-partitioned source
    (:func:`search_ivf_index`) that filter prunes unprobed partitions at
    planning time, so scan cost ∝ probed/total cells. The tiny
    (query, cell) probe relation is broadcast-joined to the surviving
    candidates — the shape FAISS IVF gives on a single node.

    A query whose vector is NULL or of the wrong width probes no cell and
    returns no rows; an index without centroids (empty corpus) returns an
    empty result with the output schema.
    """
    from pyspark.sql import types as _T

    qrows = query.select(query_id_col, vec_col).collect()
    cells = _nearest_cells([r[vec_col] for r in qrows], centroids, n_probe)
    probe_rows = [
        (r[query_id_col], r[vec_col], int(c))
        for r, row_cells in zip(qrows, cells)
        for c in row_cells
        if c >= 0
    ]
    schema = _T.StructType(
        [
            _T.StructField(query_id_col, query.schema[query_id_col].dataType),
            _T.StructField("_qvec", query.schema[vec_col].dataType),
            _T.StructField("cell", _T.IntegerType()),
        ]
    )
    probed = query.sparkSession.createDataFrame(probe_rows, schema=schema)
    used = sorted({c for _q, _v, c in probe_rows})
    pruned = (
        assigned.filter(F.col("cell").isin(*used))
        if used
        else assigned.filter(F.lit(False))  # nothing probed: empty result
    )
    # Norm hoisting: ‖v‖ once per candidate row and ‖q‖ once per probe row
    # BEFORE the join — cosine on the O(candidates × probes) side is then a
    # single dot-product pass instead of three array folds. Same fold over
    # the same array ⇒ bit-identical to cosine_similarity's value.
    probed = probed.withColumn("_qn", l2_norm("_qvec"))
    scored = (
        pruned.withColumn("_cn", l2_norm(vec_col))
        .join(F.broadcast(probed), "cell")
        .select(
            query_id_col,
            id_col,
            # try_divide: a zero-norm candidate gets NULL cosine and ranks
            # last (desc nulls-last), matching the oracle's -1.0 ranking —
            # a plain `/` errors under ANSI mode
            F.try_divide(
                dot(F.col(vec_col), F.col("_qvec")),
                F.col("_cn") * F.col("_qn"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def scalar_quantize_bounds(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    query_pred: Column | None = None,
) -> DataFrame:
    """Per-dimension (min, max) over the corpus as ONE aggregate row of two
    arrays — the training-free codebook of scalar quantization. 2·dim
    partial-aggregated min/max expressions: one scan, one 1-row result,
    broadcastable anywhere. (Contrast with k-means PQ codebooks: SQ needs
    no iterative training, which is what makes it exactly reproducible in
    a SQL oracle.)

    With ``query_pred`` set, the SAME aggregate pass also extracts the
    query vector (``qvec``, cast to double) and its presence flag
    (``has_q``) for the row matching the predicate: a separate filter +
    second broadcast build would cost a fixed
    ~0.5 s of scheduling latency per fresh plan against a sub-millisecond
    aggregate (the whole query is latency-bound at any tested SF; at
    scale it stays one pass instead of two).

    Construction note: building these 2·dim aggregate expressions
    column-object-by-column-object costs ~0.8 s of *driver*
    time per fresh plan — each ``F.min(F.element_at(...).cast(...))`` is
    several py4j round trips, ~600 in total. One ``F.expr`` string parses
    the identical expression tree JVM-side in ~10 ms; plan and results
    are byte-identical. (``try_element_at``, not ``element_at``: under
    ANSI the latter RAISES on a ragged vector shorter than ``dim``, where
    the DuckDB oracle's list index reads NULL — try_element_at makes the
    engine agree with the oracle on ragged corpora, and MIN/MAX skip the
    NULL identically on both engines.)"""
    col = f"`{vec_col}`"
    mins = F.expr(
        "array("
        + ",".join(
            f"min(cast(try_element_at({col}, {i + 1}) as double))" for i in range(dim)
        )
        + ")"
    )
    maxs = F.expr(
        "array("
        + ",".join(
            f"max(cast(try_element_at({col}, {i + 1}) as double))" for i in range(dim)
        )
        + ")"
    )
    aggs = [mins.alias("mins"), maxs.alias("maxs")]
    if query_pred is not None:
        aggs.append(
            F.first(
                F.when(query_pred, F.col(vec_col).cast("array<double>")),
                ignorenulls=True,
            ).alias("qvec")
        )
        aggs.append(
            (F.max(F.when(query_pred, F.lit(1)).otherwise(F.lit(0))) == 1).alias(
                "has_q"
            )
        )
    return emb.agg(*aggs)


def scalar_quantize_recon(
    vec: Column | str, mins: Column | str, maxs: Column | str, levels: int = 16
) -> Column:
    """Reconstructed (de-quantized) vector: each component snaps to one of
    ``levels`` uniform steps between the corpus min/max of its dimension —
    the 4-bit-code memory model (16× smaller than float64, 8× smaller than
    float32) evaluated here in its decoded form. Pure zip_with expression;
    a constant dimension collapses to its single value (no 0/0)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    lo_hi = F.zip_with(
        F.col(mins) if isinstance(mins, str) else mins,
        F.col(maxs) if isinstance(maxs, str) else maxs,
        lambda lo, hi: F.struct(lo.alias("lo"), hi.alias("hi")),
    )
    n = float(levels - 1)
    return F.zip_with(
        v,
        lo_hi,
        lambda x, r: F.when(r["hi"] == r["lo"], r["lo"]).otherwise(
            r["lo"]
            + F.round((x.cast("double") - r["lo"]) / (r["hi"] - r["lo"]) * n)
            * ((r["hi"] - r["lo"]) / n)
        ),
    )


def sq_asym_cosine_scan(
    joined: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mins_col: str = "mins",
    maxs_col: str = "maxs",
    query_col: str = "qvec",
    has_query_col: str = "has_q",
    levels: int = 16,
) -> DataFrame:
    """Asymmetric SQ cosine scan as one Arrow/NumPy pass — the vectorized
    twin of ``scalar_quantize_recon(...)`` + ``cosine_similarity(...)``.

    Why: the expression form pays ~5 interpreted HOF passes PER ROW (the
    codebook ``zip_with(mins, maxs)`` struct build, the recon ``zip_with``,
    and three ``aggregate`` folds for dot and both norms), two of which
    re-derive per-row constants (the codebook struct, the query norm).
    Measured in isolation (noop sink, warm, min-of-5): the sq_ann_topk
    query spent 1.78 s in that Project against a 0.33 s whole-corpus
    brute-force cosine — the recon folds, not the scan, were the query.
    This kernel snaps a whole Arrow batch against the codebook and takes
    one BLAS matvec for all dots — the gram_bucket_pairs shape for the
    one-query case.

    Contract: ``joined`` carries (id, vector, mins, maxs, qvec, has_q) per
    row, where the last four are constant — ONE broadcast crossJoin of a
    single 1-row aggregate (codebook min/max arrays + the query vector +
    its presence flag computed in the same pass) keeps the whole query at
    two jobs and one broadcast build, no driver collect. Emits
    (id, cosine) with cosine the RAW float64 (callers apply F.round,
    engine-side rounding semantics unchanged). Semantics mirrored from the
    expression path it replaced: ``has_q`` false (no query row existed) →
    NO output rows (the old query-side filter produced an empty frame and
    the crossJoin annihilated); query row present but its vector NULL or
    width-deviant → every cosine NULL (zip_with null-padding made the
    fold NULL there); corpus vector NULL or longer than the codebook →
    NULL cosine; a SHORT corpus vector NaN-pads, so it still scores when
    its missing dimensions are all constant (recon reads ``lo`` before
    looking at x there — the fold's exact behavior) and is NULL
    otherwise; zero-norm vector or query → NULL (try_divide); hi == lo
    dimension reconstructs to lo exactly; round is HALF_UP via
    floor(t + 0.5) on the non-negative quantization ratio, matching
    F.round. Summation order: BLAS pairwise
    vs the fold's sequential — same last-ulp exposure class the fold
    already has vs the DuckDB oracle's native LIST_COSINE_SIMILARITY,
    green across all gates, and re-verified the same way (the
    gram_bucket_pairs precedent). One conflation the Arrow boundary
    forces (pinned empirically on this Spark: ``pa.Array.from_pandas``
    maps float NaN → NULL): a NaN produced from NaN *data* inside a
    vector returns as NULL here where the fold yields NaN — no gate
    corpus contains such a row (NULL vectors, ragged vectors, and zero
    vectors all behave identically on both paths)."""
    out_schema = f"{id_col} long, cosine double"
    n = float(levels - 1)

    def _kern(batches):
        codebook = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if codebook is None:
                if not bool(pdf[has_query_col].iloc[0]):
                    return  # no query row existed: the old plan emitted nothing
                lo = np.asarray(pdf[mins_col].iloc[0], dtype=np.float64)
                hi = np.asarray(pdf[maxs_col].iloc[0], dtype=np.float64)
                qraw = pdf[query_col].iloc[0]
                rng = hi - lo
                step = rng / n
                dim = len(lo)
                q = None if qraw is None else np.asarray(qraw, dtype=np.float64)
                if q is not None and len(q) != dim:
                    q = None  # width-deviant query: fold gave NULL everywhere
                qn = 0.0 if q is None else float(np.sqrt(q @ q))
                codebook = True
            vecs = pdf[vec_col].to_numpy()
            # NaN rows (wrong width, zero norm, NULL query) all cross the
            # Arrow boundary as NULL — from_pandas maps NaN → null
            cos = np.full(len(vecs), np.nan, dtype=np.float64)
            if q is not None:
                lens = np.fromiter(
                    (-1 if v is None else len(v) for v in vecs),
                    dtype=np.int64,
                    count=len(vecs),
                )
                # exact-width rows compute; SHORT rows pad with NaN — the
                # fold's zip_with null-pads them, and recon still reads
                # `lo` for a constant (hi == lo) dimension BEFORE looking
                # at x, so a short row whose missing dims are all constant
                # scores a real cosine there; NaN propagates to NULL for
                # any non-constant missing dim, mirroring the fold's NULL.
                # Longer-than-codebook rows are NULL on both paths.
                keep = (lens >= 0) & (lens <= dim)
                if keep.any():
                    kept = vecs[keep]
                    if (lens[keep] == dim).all():  # clean-corpus fast path
                        V = np.stack(kept).astype(np.float64)
                    else:
                        V = np.full((len(kept), dim), np.nan, dtype=np.float64)
                        for ri, v in enumerate(kept):
                            V[ri, : len(v)] = v
                    with np.errstate(divide="ignore", invalid="ignore"):
                        t = (V - lo) / rng * n
                        R = np.where(rng == 0.0, lo, lo + np.floor(t + 0.5) * step)
                        nrm = np.sqrt((R * R).sum(axis=1))
                        denom = nrm * qn
                        c = (R @ q) / denom
                    c[denom == 0.0] = np.nan
                    cos[keep] = c
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "cosine": cos})

    return joined.mapInPandas(_kern, schema=out_schema)


# ---------------------------------------------------------------------------
# persisted IVF index: build once, search many (the FAISS-on-disk analog)
# ---------------------------------------------------------------------------
#
# Layout at ``path``: ``index.json`` (build metadata, schema, centroids —
# written once, before v1), the inverted lists as ``cells/cell=N/*.parquet``,
# and ``manifests/v{N}.json``, GridStore's manifest log (sources/store.py):
# every write, append and compaction stages its parquet and commits, put-if-
# absent, a manifest listing the live files; readers read exactly the latest
# manifest's files, so no reader ever sees a partial batch.

#: commit-conflict retries of an append (GridStore.append's default)
_APPEND_RETRIES = 3


def _ivf_open(path: str) -> tuple[dict, dict]:
    """(index.json metadata, latest manifest) of the index at ``path``."""
    marker = Path(path) / "index.json"
    if not marker.exists():
        raise FileNotFoundError(f"{path} has no index.json — not an IVF index")
    return json.loads(marker.read_text()), read_manifest(Path(path) / "manifests")


def _ivf_cells(spark, path: str, meta: dict, files: list[str]) -> DataFrame:
    """Exactly ``files`` (relative to ``cells/``) as a frame whose ``cell``
    stays a partition column (``basePath``), so a cell filter prunes files
    at planning time. No files → an empty frame of the stored schema."""
    schema = StructType.fromJson(json.loads(meta["schema"]))
    if not files:
        return spark.createDataFrame([], schema)
    cells = Path(path) / "cells"
    return (
        spark.read.schema(schema)
        .option("basePath", str(cells))
        .parquet(*(str(cells / f) for f in files))
    )


def _ivf_commit(
    path: str, action: str, base: dict, rows: DataFrame, drop=(), retries: int = 0
) -> dict:
    """Stage ``rows`` under ``cells/cell=N/`` (one writer per cell) and
    commit ``base``'s files minus ``drop`` plus the staged ones as version
    ``base + 1``. A lost race with retries left re-reads the latest
    manifest and recommits the already-staged files; on any failure the
    staged files are removed (no manifest references them)."""
    root = Path(path)
    added = stage_partitioned(rows.repartition(F.col("cell")), root, root / "cells", "cell")
    try:
        for attempt in range(retries + 1):
            m = {
                "version": base["version"] + 1,
                "action": action,
                "committed_utc": dt.datetime.now(dt.timezone.utc).isoformat(),
                "files": sorted(set(base["files"]).difference(drop).union(added)),
                "appends": base["appends"] + (action == "append"),
                "compactions": base["compactions"] + (action == "compact"),
            }
            try:
                commit_manifest(root / "manifests", m)
                return m
            except StoreError:
                if attempt == retries:
                    raise
                base = read_manifest(root / "manifests")
    except BaseException:
        for f in added:
            (root / "cells" / f).unlink(missing_ok=True)
        raise


def write_ivf_index(
    assigned: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    overwrite: bool = False,
) -> dict:
    """Persist a trained IVF index at ``path``: the assigned vectors as
    parquet PARTITIONED BY cell (so a probed search is a partition-pruned
    scan — files for unprobed cells are never opened, the on-disk twin of
    FAISS's inverted lists), ``index.json`` with the centroids, schema and
    column names, and manifest v1 listing the cell files. An existing
    ``path`` raises StoreError unless ``overwrite`` (then it is replaced);
    the target is claimed put-if-absent (sources/sink.claim_dir)."""
    cells = assigned.select(id_col, vec_col, "cell")
    claim_dir(path, overwrite, StoreError)
    meta = {
        "format": "ivf-index/2",
        "id_col": id_col,
        "vec_col": vec_col,
        "n_cells": len(centroids),
        "dim": len(centroids[0]) if centroids else 0,
        # the reader always applies this schema: an EMPTY index commits no
        # parquet files, so schema inference has nothing to read
        "schema": cells.schema.json(),
        "centroids": centroids,
    }
    (Path(path) / "index.json").write_text(json.dumps(meta))
    _ivf_commit(path, "write", {"version": 0, "files": [], "appends": 0, "compactions": 0}, cells)
    return {"n_cells": meta["n_cells"], "dim": meta["dim"]}


def read_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]], dict]:
    """Open a persisted IVF index at its latest manifest: (assigned frame
    with the partition column ``cell``, centroids, meta — index.json plus
    the manifest's ``appends``/``compactions`` counts). Raises
    FileNotFoundError without ``index.json`` and StoreError without a
    committed manifest."""
    meta, m = _ivf_open(path)
    return (
        _ivf_cells(spark, path, meta, m["files"]),
        meta["centroids"],
        {**meta, "appends": m["appends"], "compactions": m["compactions"]},
    )


def search_ivf_index(
    spark,
    path: str,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
) -> DataFrame:
    """Search a persisted index at its latest manifest:
    :func:`read_ivf_index` + :func:`ivf_topk`. The probed cells reach the
    parquet source as a literal IN filter on its ``cell`` partition column,
    so the manifest's files of unprobed inverted lists are pruned at
    planning time — at 100 TB they cost zero I/O, not just zero compute."""
    assigned, centroids, meta = read_ivf_index(spark, path)
    return ivf_topk(
        assigned, centroids, query, k=k, n_probe=n_probe,
        id_col=meta["id_col"], vec_col=meta["vec_col"],
        query_id_col=query_id_col,
    )


def semdedup_census(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.35,
    assign_method: str = "expr",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    deduplicate ONLY within clusters — the pair space shrinks from n² to
    Σ n_c², the whole trick that makes semantic dedup tractable at corpus
    scale. Clustering = one deterministic assignment to the k lowest-id
    seed vectors (argmax cosine, ties → lowest seed id; swapping in the
    ivf_index k-means fit changes the clustering, not this shape).
    Returns the per-cluster census (members, dropped, survivors) — exact
    integers, hash-stable across engines.

    ``assign_method="expr"`` is the oracle-parity path (crossJoin against
    the broadcast k-row seed frame + one row_number window): bit-exact
    with a SQL engine's fold but O(n·k) ROWS through the window — right
    for the small fixed k the catalog entry pins. ``"pandas"`` is the
    scale path: one Arrow-batched BLAS matmul per batch computes each
    row's argmax WITHOUT materializing the n·k cross join (the
    assign_ivf_cell trade), so k can grow with n (SemDeDup wants
    n_c ≈ constant, i.e. k ∝ n) while assignment stays one scan.
    Zero-norm vectors: cosine pinned to -1.0 on both paths (DuckDB's
    convention) — they cluster to the lowest seed id and always survive.
    Scale shape: seeds are a bounded driver collect (k rows, the
    ivf_fit centroid pattern); the within-cluster pair join repartitions
    both sides on the cluster key; norms are hoisted to one pass per ROW
    before the pair join so the O(pairs) side folds once."""
    emb = emb.withColumn("_n", l2_norm(vec_col))
    out_schema = "cluster bigint, n_vectors bigint, n_dropped bigint, n_survivors bigint"
    seed_rows = (
        emb.orderBy(id_col).limit(k).select(id_col, vec_col, "_n").collect()
    )
    if not seed_rows:
        return emb.sparkSession.createDataFrame([], out_schema)
    if assign_method == "pandas":
        seed_ids = np.array([int(r[id_col]) for r in seed_rows], dtype=np.int64)
        smat = np.stack(
            [np.asarray(r[vec_col], dtype=np.float64) for r in seed_rows]
        )
        snorm = np.linalg.norm(smat, axis=1)
        # out= zeroes the zero-norm rows deterministically; without it the
        # where= skip leaves uninitialized memory that would flow through
        # the BLAS matmul before the cos overwrites mask it
        sunit = np.divide(
            smat, snorm[:, None], out=np.zeros_like(smat), where=snorm[:, None] > 0
        )
        szero = snorm == 0

        @F.pandas_udf("bigint")
        def _cluster(v: pd.Series) -> pd.Series:
            mat = np.stack(v.to_numpy()).astype(np.float64)
            vnorm = np.linalg.norm(mat, axis=1)
            vunit = np.divide(
                mat, vnorm[:, None], out=np.zeros_like(mat), where=vnorm[:, None] > 0
            )
            cos = vunit @ sunit.T
            cos[:, szero] = -1.0
            cos[vnorm == 0, :] = -1.0
            # argmax takes the FIRST max; seeds are ordered by ascending id,
            # so the tie-break matches the expr path's (cos desc, seed_id)
            return pd.Series(seed_ids[np.argmax(cos, axis=1)])

        assign = emb.withColumn("cluster", _cluster(F.col(vec_col)))
    else:
        seeds = emb.sparkSession.createDataFrame(
            [
                (int(r[id_col]), [float(x) for x in r[vec_col]], float(r["_n"]))
                for r in seed_rows
            ],
            "seed_id bigint, sv array<double>, sn double",
        )
        cos_seed = F.coalesce(
            F.try_divide(dot(F.col(vec_col), F.col("sv")), F.col("_n") * F.col("sn")),
            F.lit(-1.0),
        )
        # argmax as ONE hash aggregate instead of a
        # row_number window — min(struct(-cos, seed_id)) selects exactly
        # the window's (cos DESC, seed_id ASC) first row (cos is never
        # NULL here — try_divide is coalesced to -1.0 — and Spark orders
        # -0.0 == 0.0, so negation is an exact order reversal). cos CAN
        # be NaN when a seed vector carries NaN data, and Spark ranks NaN
        # greatest — the window's cos DESC picks a NaN-cosine seed FIRST
        # while min(struct(-cos, ...)) would pick
        # it last (negation does not reorder NaN). Mapping NaN to -inf in
        # the negated key restores the window's ordering exactly (ties
        # among NaN seeds break by seed_id ASC in both forms).
        # The aggregate partial-combines map-side: the n·k crossJoin rows
        # collapse to n BEFORE the exchange, where the window paid a full
        # sort + two WindowGroupLimit passes over all n·k rows. Measured
        # 1.15 → ~0.6 s on the assignment subtree at sf0.1.
        neg_cos = F.when(
            F.isnan(F.col("cos")), F.lit(float("-inf"))
        ).otherwise(-F.col("cos"))
        assign = (
            emb.crossJoin(F.broadcast(seeds))
            .withColumn("cos", cos_seed)
            .groupBy(id_col)
            .agg(
                F.min(F.struct(neg_cos.alias("nc"), "seed_id")).alias("_m"),
                F.first(vec_col).alias(vec_col),
                F.first("_n").alias("_n"),
            )
            .select(id_col, F.col("_m.seed_id").alias("cluster"), vec_col, "_n")
        )
    assign = assign.select(id_col, "cluster", vec_col, "_n").repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "cluster"
    )
    # within-cluster verify via the per-bucket BLAS gram kernel — every
    # candidate pair lives inside ONE cluster, which is exactly the
    # gram_bucket_pairs contract; an x⋈y self-join would evaluate an
    # interpreted 64-element fold per pair (Σ n_c² pairs) and execute the
    # assignment subtree twice more (the join's inferred
    # isnotnull(cluster) filters break exchange reuse between its sides).
    # The kernel group key is (cluster, vector width), not
    # cluster alone — the kernel compares only a group's MODAL width, but
    # the fold computed a real cosine for ANY two equal-width vectors,
    # including pairs deviating from the cluster's common width. Width
    # subgrouping makes the admission semantics match the fold exactly:
    # equal-width pairs compare (each width group is uniform), mixed-width
    # pairs drop (zip_with length mismatch → NULL → threshold-dropped),
    # NULL vectors land in the NULL-width group and emit nothing. Zero-norm
    # → NaN fails ≥ threshold like the fold's try_divide NULL; id_a < id_b
    # exactly once. BLAS-vs-fold last-ulp exposure at the threshold
    # boundary is the documented gram_bucket_pairs class.
    pairs = gram_bucket_pairs(
        assign.select(
            id_col, vec_col, "cluster", F.size(vec_col).alias("_gw")
        ),
        ["cluster", "_gw"],
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
    )
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return (
        assign.join(dropped, id_col, "left")
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.coalesce(F.sum("_dropped"), F.lit(0)).cast("bigint").alias("n_dropped"),
            (F.count("*") - F.coalesce(F.sum("_dropped"), F.lit(0)))
            .cast("bigint")
            .alias("n_survivors"),
        )
        .orderBy("cluster")
    )


def append_ivf_index(spark, path: str, df: DataFrame) -> dict:
    """Incremental IVF maintenance: assign NEW vectors to the EXISTING
    centroids and append their inverted-list rows — the operational form
    at corpus scale, where a nightly batch must not trigger an index
    rebuild (FAISS add_with_ids on an already-trained quantizer). The
    coarse quantizer is intentionally NOT retrained: recall degrades only
    as the data distribution drifts from the trained centroids, which is
    a re-train policy decision, not an append mechanic.

    Commit: the batch is staged under ``cells/`` and becomes visible only
    when a manifest listing it (and bumping ``appends``) commits — a
    reader sees the whole batch or none of it. Racing appends both land:
    the loser of a version race re-reads the latest manifest and
    recommits its already-staged files (GridStore.append's rule)."""
    meta, m = _ivf_open(path)
    if not meta["centroids"]:
        raise ValueError(
            "append_ivf_index: the index has no centroids (built on an "
            "empty corpus) — rebuild with write_ivf_index instead"
        )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    rows = assign_ivf_cell(df.select(id_col, vec_col), meta["centroids"], vec_col)
    m = _ivf_commit(
        path, "append", m, rows.select(id_col, vec_col, "cell"), retries=_APPEND_RETRIES
    )
    return {"n_cells": meta["n_cells"], "appends": m["appends"]}


def compact_ivf_index(spark, path: str, max_files_per_cell: int = 1) -> dict:
    """Rewrite fragmented inverted lists (the GridStore.compact analog for
    the IVF index): every :func:`append_ivf_index` batch adds at least one
    parquet file per touched cell, and a long-lived index accumulates the
    same small-file read tax as any incremental table — per-file open
    cost, tiny row groups. Cells whose live file count exceeds the target
    are rewritten into one consolidated file each; untouched cells keep
    their files byte-identical. Returns {"cell=N": n_files_rewritten}.

    Commit: the consolidated files are staged and a manifest listing them
    in place of the superseded ones commits (a racing commit raises the
    commit-conflict StoreError; re-run the compaction). The superseded
    files are deleted after the commit: a reader that resolved the
    previous manifest but has not yet opened those files then fails with
    a missing file — the same exposure as deleting a superseded cell
    directory after a swap."""
    meta, m = _ivf_open(path)
    by_cell: dict[str, list[str]] = {}
    for f in m["files"]:
        by_cell.setdefault(f.split("/", 1)[0], []).append(f)
    crowded = {c: fs for c, fs in sorted(by_cell.items()) if len(fs) > max_files_per_cell}
    if not crowded:
        return {}
    drop = [f for fs in crowded.values() for f in fs]
    _ivf_commit(path, "compact", m, _ivf_cells(spark, path, meta, drop), drop=drop)
    for f in drop:
        (Path(path) / "cells" / f).unlink(missing_ok=True)
    return {c: len(fs) for c, fs in crowded.items()}
