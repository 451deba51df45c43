"""Deduplication operators for LLM training-data pipelines.

Five dedup families (BASELINE.json north star), all shuffle-conscious:

  exact          hash-groupBy on a normalized fingerprint — one shuffle of
                 (hash, id), never of document bodies
  minhash + LSH  shingle → minhash signature → band buckets → candidate
                 pairs only within buckets (the 100 TB-safe near-dup join:
                 no O(n²) cross join ever materializes)
  simhash        64-bit sign-aggregated fingerprint; near-dups differ in
                 few bits, bucketed by rotated prefixes
  n-gram Jaccard exact set overlap on candidate pairs (verification stage
                 after LSH, or standalone at small scale)
  embedding      cosine > threshold within LSH-ish buckets (see
                 operators/similarity.py for the bucketing)

Portable hashing: `md5int` (56 bits of md5) is reproducible across engines
(used by the oracle-checked queries); xxhash64 is the fast JVM-side default
for production paths where cross-engine determinism isn't required.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.operators.textanalysis import fingerprint, words


def md5int(c: Column) -> Column:
    """First 56 bits of md5 as a non-negative bigint — engine-portable
    (DuckDB: CAST('0x' || substr(md5(x),1,14) AS BIGINT))."""
    return F.conv(F.substring(F.md5(c), 1, 14), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


#: grouping key for NULL-text documents: fingerprint() propagates NULL
#: (md5(NULL) is NULL), and a NULL key silently fails every equi-join —
#: without the sentinel, dedup_exact dropped EVERY NULL-text doc instead of
#: keeping one representative (round-14 review catch, verified live). A
#: sentinel (not '') keeps NULL-text docs distinct from empty-text docs.
_NULL_FP = "__null_text__"


def _fp_key(text_col: str):
    return F.coalesce(fingerprint(text_col), F.lit(_NULL_FP))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    (fingerprint, n_dups, keep_id, dup_ids). NULL-text docs form their own
    group under the ``__null_text__`` sentinel key."""
    fp = df.select(F.col(id_col).alias("id"), _fp_key(text_col).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("id").alias("keep_id"),
            F.sort_array(F.collect_list("id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id representative of each fingerprint group.

    Window-free formulation: min(id) per fingerprint then semi-join — two
    metadata-size shuffles, bodies move zero times. The `_mid >= 0` filter
    is a pushdown barrier: the semi-join key infers
    `isnotnull(fingerprint)`, which Catalyst otherwise pushes through any
    upstream repartition and evaluates (md5 + regexp of every document)
    inside the file-scan stage, whose parallelism is the file count, not
    the cluster width (the t_wide note in plans/queries.py). A bare unused
    nondeterministic Project column is NOT enough — column pruning deletes
    it before predicate pushdown runs, dissolving the barrier — but a
    filter REFERENCING the nondeterministic column survives pruning, is
    vacuously true, and deterministic predicates cannot push below it."""
    keyed = (
        df.select(
            "*",
            # sentinel for NULL text: a NULL join key matches nothing, so
            # every NULL-text doc used to vanish instead of one surviving
            _fp_key(text_col).alias("_fp"),
            F.monotonically_increasing_id().alias("_mid"),
        )
        .filter(F.col("_mid") >= 0)  # pushdown barrier, always true
        .drop("_mid")
    )
    keep = keyed.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, ["_fp", id_col], "left_semi").drop("_fp")


# ---------------------------------------------------------------------------
# shingles + minhash + LSH
# ---------------------------------------------------------------------------


def shingles(text: Column | str, k: int = 3, distinct: bool = True) -> Column:
    """Word k-gram shingle set from raw text — distinct by default (the
    set-semantics the minhash/Jaccard family needs); ``distinct=False``
    keeps every occurrence (what repetition metrics need: the distinct
    variant makes distinct/total identically 1). When the word array is
    (or can be) a materialized column, use :func:`shingles_from_words`:
    embedding the split inside the per-index lambda re-runs the regex split
    for every shingle position (O(words²) per row)."""
    return shingles_from_words(words(text), k, distinct)


def shingles_from_words(ws: Column | str, k: int = 3, distinct: bool = True) -> Column:
    ws = F.col(ws) if isinstance(ws, str) else ws
    n = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, k), " "))
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def minhash_signature(text: Column | str, n_hashes: int = 16) -> Column:
    """MinHash signature from raw text in one expression. When the
    shingles are reused, materialize :func:`shingle_bases` as a column and
    call :func:`minhash_from_bases` instead — embedding ``shingles(text)``
    once per hash duplicates the split/slice subtree n_hashes times
    (Catalyst does not CSE across aggregate lambdas)."""
    return minhash_from_bases(shingle_bases(shingles(text)), n_hashes)


#: affine MinHash family h_i(x) = (a_i·base(x) + b_i) mod p over a 28-bit
#: base hash: one md5 per shingle (not per shingle×hash), the rest is integer
#: arithmetic any engine reproduces exactly. p prime < 2^28 keeps a·base+b
#: within 2^56 — no int64 overflow on either engine.
MINHASH_BASE_MOD = 268435456  # 2^28
MINHASH_PRIME = 268435399


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    return [
        ((i * 2654435761 + 1) % MINHASH_PRIME or 1, (i * 40503 + 7) % MINHASH_PRIME)
        for i in range(n_hashes)
    ]


def shingle_bases(sh: Column) -> Column:
    """28-bit base hash per shingle (:func:`md5int`, engine-portable) —
    materialize this as a column before :func:`minhash_from_bases` so the
    md5 runs once per shingle, not once per shingle×hash (Catalyst does not
    CSE across aggregate lambdas)."""
    return F.transform(sh, lambda s: md5int(s) % MINHASH_BASE_MOD)


def minhash_from_bases(bases: Column, n_hashes: int = 16) -> Column:
    """MinHash signature: min over shingle bases of (a_i·b + b_i) mod p per
    hash i. Pure integer arithmetic over an already-hashed array — no
    explode, the array stays inside the row until the signature leaves it."""

    def hasher(a: int, b: int):
        return lambda base: (F.lit(a) * base + F.lit(b)) % MINHASH_PRIME

    mins = [
        F.array_min(F.transform(bases, hasher(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    return F.array(*mins)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int = 64,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, with band agreement count).

    Plan shape: signature (map-side) → explode to (band, band_hash, id) —
    n·bands small rows — → groupBy bucket → pairs within bucket. The only
    quadratic term is within-bucket, which LSH keeps tiny for real corpora.

    Degenerate corpora (thousands of identical docs land in ONE bucket) are
    the straggler hazard: all-pairs inside a b-row bucket is b²/2 rows from
    a single task. Buckets larger than ``bucket_cap`` therefore switch from
    all-pairs to *star linking* — every member pairs with the bucket's min
    id only. For dedup that preserves the connected component (each dup
    still reaches the representative, exactly what :func:`dedup_minhash`
    consumes) while the work stays linear in bucket size; what it gives up
    is only the exhaustive pair *listing* inside oversized buckets, which at
    those sizes is O(b²) noise nobody should materialize.
    """
    rows_per_band = n_hashes // bands
    sig = df.select(
        F.col(id_col).alias("id"), minhash_signature(text_col, n_hashes).alias("sig")
    )
    band_rows = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select("id", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash"))
    # One exchange total: a single collect_list aggregate per bucket serves
    # BOTH branches — all-pairs below the cap and star links above it —
    # branched with array expressions on the aggregated row. (Round 2 used a
    # Window.partitionBy(band, band_hash) sizing pass before the groupBy;
    # that cost an extra sort over every band row and was the measured 25%
    # minhash_lsh_neardups regression. The array holds bucket-size longs —
    # linear, one task per bucket, same placement the window needed anyway —
    # only the b²/2 pair LISTING is capped.)
    buckets = (
        band_rows.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    small_pairs = (
        buckets.filter(F.size("ids") <= bucket_cap)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda a, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    star_pairs = (
        buckets.filter(F.size("ids") > bucket_cap)
        .select(
            F.col("ids")[0].alias("id_a"),
            F.explode(F.slice("ids", 2, F.size("ids"))).alias("id_b"),
        )
    )
    pairs = small_pairs.unionByName(star_pairs)
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_bands_agree"))


def jaccard_pairs(
    df: DataFrame, candidates: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: join shingle sets back on
    and compute |A∩B| / |A∪B| with array ops — verification stage after LSH."""
    sh = df.select(F.col(id_col).alias("id"), shingles(text_col, k).alias("sh"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard", F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(0.0)
        )
        .select("id_a", "id_b", "inter", "uni", "jaccard")
    )


def dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dedup: LSH candidates → exact Jaccard ≥ threshold → drop the
    higher id of each surviving pair (greedy, deterministic).

    RECALL BOUND under a bucket cap (r14 review catch): an over-cap LSH
    bucket is star-linked through its min-id representative, and this
    function then filters PAIRS by exact Jaccard — it does not take
    connected components — so two near-identical members of a capped
    bucket whose shared representative is DISSIMILAR to both are never
    compared and both survive. This is a documented extension of the
    drop-the-hot-bucket recall trade, not component-preserving dedup; when
    capped buckets can mix similarity families, either raise
    ``bucket_cap``/``bands`` so true dups collide in an uncapped band, or
    run :func:`connected_components` over the star edges and apply a
    per-component policy instead of the pairwise threshold."""
    cands = lsh_candidate_pairs(df, id_col, text_col, n_hashes, bands)
    dups = (
        jaccard_pairs(df, cands, id_col, text_col)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dups, id_col, "left_anti")


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash(text: Column | str, bits: int = 64) -> Column:
    """SimHash: per word-feature hash, sum ±1 per bit position weighted by
    presence, sign → bit. Implemented as bit-position aggregation over the
    word array — JVM-side, no explode."""
    ws = F.array_distinct(words(text))
    hashes = F.transform(ws, lambda w: F.xxhash64(w))

    def bit(i: int) -> Column:
        return F.shiftleft(F.lit(1).cast("long"), i)

    def bit_sum(i: int) -> Column:
        # +1 when bit i set else -1, summed over features
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(bit(i)) != 0, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(bit_sum(i) > 0, bit(i)).otherwise(F.lit(0).cast("long"))
    return out


def simhash_vote_kernel(hash_array: Column | str, bits: int = 56) -> Column:
    """SimHash bit-majority vote over a per-document feature-hash array,
    as a single Arrow-batched numpy kernel (the fast path for wide
    signatures, where the pure-JVM alternatives hit a wall — round-7
    measurements at sf0.1, min-of-3, full simhash_neardups query:

    - 56 conditional-SUM accumulators over an exploded feature table
      (explode + map-side-combinable groupBy): 4.10 s
    - per-row ``F.aggregate`` fold (no shuffle): interpreted HOF overhead,
      9.4 s without a reuse barrier
    - this kernel + a repartition barrier: 2.16 s

    The kernel takes the ``array<long>`` of feature hashes (computed
    JVM-side — e.g. ``F.transform(words, md5int)`` — so hashing stays in
    codegen) and computes all ``bits`` majority votes in one vectorized
    pass per Arrow batch: unpack the bit matrix with a broadcast shift,
    group-sum with ``np.add.reduceat``, pack the sign bits back into one
    long. Per 10k-row batch the transient bit matrix is ~75 MB — bounded
    by ``spark.sql.execution.arrow.maxRecordsPerBatch``, independent of
    corpus size.

    IMPORTANT for reuse: a python-UDF projection is NOT covered by
    Spark's exchange reuse, so a self-joined signature frame re-executes
    the kernel per join side — follow with ``.repartition(key)`` (or any
    exchange) to pin a reuse boundary, as simhash_neardups does."""

    @F.pandas_udf("long")
    def _vote(hvs: pd.Series) -> pd.Series:
        n = len(hvs)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        # null arrays behave as empty (signature 0) — callers that must
        # mirror an UNNEST-style oracle drop empties BEFORE the kernel
        lens = np.fromiter(
            (0 if a is None else len(a) for a in hvs), dtype=np.int64, count=n
        )
        if int(lens.sum()) == 0:
            return pd.Series(np.zeros(n, dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hvs if a is not None and len(a)]
        )
        shifts = np.arange(bits, dtype=np.int64)
        bitmat = (flat[:, None] >> shifts) & 1
        # reduceat only over the NON-EMPTY groups' start offsets (every
        # one a valid index into flat), then scatter back — clamping
        # empty-group starts into range instead would truncate the
        # PRECEDING group's range when trailing rows are empty (the
        # round-7 review catch: [[3,3],[]] voted [0,0] instead of [3,0])
        nz = np.flatnonzero(lens)
        starts_nz = np.zeros(len(nz), dtype=np.int64)
        np.cumsum(lens[nz][:-1], out=starts_nz[1:])
        sums_nz = np.add.reduceat(bitmat, starts_nz, axis=0)
        maj = sums_nz * 2 > lens[nz][:, None]
        sig = np.zeros(n, dtype=np.int64)
        sig[nz] = (maj.astype(np.int64) << shifts).sum(axis=1)
        return pd.Series(sig)

    return _vote(hash_array)


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def hamming_blocked_pairs(
    sig_df: DataFrame,
    id_col: str = "id",
    sig_col: str = "sh",
    max_hamming: int = 3,
    bits: int = 64,
    bucket_cap: int | None = 4096,
    engine: str = "join",
) -> DataFrame:
    """Pairs within ``max_hamming`` of a ``bits``-wide signature, by
    pigeonhole blocking: split the signature into ``max_hamming + 1``
    blocks — a pair inside the budget must agree *exactly* on at least one
    block, so bucketing per block has perfect recall. Join key is
    (block_idx, block_bits): linear shuffle, quadratic only within a
    bucket, exact hamming verified in-bucket.

    ``bucket_cap`` is the hot-bucket guard for template-heavy corpora where
    one block value collects thousands of documents: oversized buckets
    switch from all-pairs to star linking against the bucket's min id
    (connected components survive; the exhaustive in-bucket listing — b²/2
    rows from one task — does not). Star edges are emitted UNFILTERED with
    ``is_star = true`` — a hot-bucket member whose distance to the
    representative exceeds ``max_hamming`` keeps its structural link, so
    downstream connected-component dedup retains the bucket's linkage even
    when the rep is not within budget of every member (the over-merge is
    the documented cap tradeoff; filter ``~is_star`` for verified-only
    pairs). ``None`` disables the cap for exact pair enumeration.

    Returns columns ``(id_a, id_b, hamming, is_star)``.

    ``engine="mih"`` (exact path only — requires ``bucket_cap=None``) is
    the scale-mode pair enumerator: a TWO-LEVEL pigeonhole (multi-index
    hamming join). The single-level join on (block, block_bits) serializes
    a HOT bucket's b²/2 candidates into one sort-merge task — measured at
    sf1 (tools/make_sf1.py, 50k docs), a 7,470-doc bucket alone carried
    28M of simhash_neardups' 110M candidates and the query took 152 s vs
    DuckDB's 29 s on the identical candidate set. MIH joins on 9
    (level-1 block, level-2 rotated block) combo keys instead: perfect
    recall by double pigeonhole, candidates collapse to near output size,
    hot buckets split across level-2 values, min-combo canon keeps
    exactly-once emission, all in codegen. Measured at sf1:
    152 s -> ~16 s engine-side. Two r15 negative results on the same
    riser, for the record: (a) per-bucket applyInPandas XOR+SWAR-popcount
    kernel — 24.5 s at sf0.1 (~1 ms × ~30k near-empty groups), and its
    hybrid hot/cold routings all forced multi-consumer signature
    re-execution (python-UDF subtrees get no exchange reuse; measured
    135 s at sf1 un-checkpointed) or extra driver-synchronized jobs;
    (b) a salted self-join (probe side × 32) — 25.9 s at sf1, 3.9 s at
    sf0.1. MIH beat both at sf1; the single-level join remains faster on
    SMALL corpora (1.8 vs ~4 s at sf0.1: 9× explode + wider keys cost
    more than the skew they prevent when no bucket is hot), so callers
    choose by corpus size (simhash_neardups uses input file bytes) and
    the join engine stays the default.
    """
    n_blocks = max_hamming + 1
    bits_per_block = bits // n_blocks
    sh = sig_df.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sh"))
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("block"),
                F.shiftrightunsigned("sh", b * bits_per_block)
                .bitwiseAND(F.shiftleft(F.lit(1).cast("long"), bits_per_block) - 1)
                .alias("block_bits"),
            )
            for b in range(n_blocks)
        ]
    )
    bucketed = sh.select("id", "sh", F.explode(blocks).alias("bb")).select(
        "id", "sh", F.col("bb.block").alias("block"), F.col("bb.block_bits").alias("block_bits")
    )
    if bucket_cap is not None:
        w = Window.partitionBy("block", "block_bits")
        sized = bucketed.withColumn("_n", F.count("*").over(w)).withColumn(
            "_rep", F.min("id").over(w)
        )
        bucketed = sized.filter(F.col("_n") <= bucket_cap).drop("_n", "_rep")
        star = (
            sized.filter((F.col("_n") > bucket_cap) & (F.col("id") != F.col("_rep")))
            .join(
                sh.select(F.col("id").alias("_rep"), F.col("sh").alias("sh_a")), "_rep"
            )
            .select(
                F.col("_rep").alias("id_a"),
                F.col("id").alias("id_b"),
                "sh_a",
                F.col("sh").alias("sh_b"),
            )
        )
    def _exact_join(bk: DataFrame) -> DataFrame:
        # Exact path: dedupe map-side by emitting each pair only from its
        # FIRST agreeing block — for every earlier block the two signatures
        # must differ. Replaces a dropDuplicates shuffle over the (large)
        # candidate set with a pure filter. (Unsafe under a cap: an earlier
        # agreeing block may have been dropped as hot, which would orphan
        # the pair — the capped path keeps the shuffle dedup.)
        ea = bk.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "block", "block_bits")
        eb = bk.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "block", "block_bits")
        ej = ea.join(eb, ["block", "block_bits"]).filter(F.col("id_a") < F.col("id_b"))
        mask = F.shiftleft(F.lit(1).cast("long"), bits_per_block) - 1

        def bv(c: Column, j: int) -> Column:
            return F.shiftrightunsigned(c, j * bits_per_block).bitwiseAND(mask)

        canon = F.lit(True)
        for j in range(n_blocks):
            canon = canon & (
                (F.col("block") <= F.lit(j))
                | (bv(F.col("sh_a"), j) != bv(F.col("sh_b"), j))
            )
        return (
            ej.filter(canon)
            .withColumn("hamming", hamming_distance(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming", F.lit(False).alias("is_star"))
        )

    if engine == "mih":
        if bucket_cap is not None:
            raise ValueError("engine='mih' supports only bucket_cap=None")
        # Two-level pigeonhole (multi-index hamming join, the HmSearch/MIH
        # device): a pair within the budget agrees on >= 1 of the three
        # level-1 blocks AND >= 1 of three blocks of the 9-bit-ROTATED
        # signature (an independent alignment of the same bits), so
        # joining on the 9 (combo, v1, v2) keys has perfect recall while
        # requiring ~2·bits/3 bits of agreement per bucket — candidates
        # collapse from all-pairs-within-18-bit-buckets to near the output
        # size, and a hot level-1 bucket splits across its level-2 values.
        # Exactness does not depend on the blocking (the final hamming
        # filter is exact); min-COMBO canon emits each pair exactly once.
        # Pure codegen — no python workers, no multi-consumer signature
        # re-execution hazard. Uncovered remainder bits (bits % n_blocks)
        # only make blocking more permissive, never lossy.
        rot = max(1, bits_per_block // 2)
        full_mask = F.shiftleft(F.lit(1).cast("long"), bits) - 1
        rot_sig = (
            F.shiftrightunsigned("sh", rot).bitwiseOR(F.shiftleft("sh", bits - rot))
        ).bitwiseAND(full_mask)
        mask = F.shiftleft(F.lit(1).cast("long"), bits_per_block) - 1

        def bv(c: Column, j: int) -> Column:
            return F.shiftrightunsigned(c, j * bits_per_block).bitwiseAND(mask)

        combos = F.array(
            *[
                F.struct(
                    F.lit(i * n_blocks + j).alias("combo"),
                    bv(F.col("sh"), i).alias("v1"),
                    bv(F.col("rs"), j).alias("v2"),
                )
                for i in range(n_blocks)
                for j in range(n_blocks)
            ]
        )
        mb = (
            sh.withColumn("rs", rot_sig)
            .select("id", "sh", "rs", F.explode(combos).alias("bb"))
            .select(
                "id", "sh", "rs",
                F.col("bb.combo").alias("combo"),
                F.col("bb.v1").alias("v1"),
                F.col("bb.v2").alias("v2"),
            )
        )
        ma = mb.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
            F.col("rs").alias("rs_a"), "combo", "v1", "v2",
        )
        mbb = mb.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
            F.col("rs").alias("rs_b"), "combo", "v1", "v2",
        )
        mj = ma.join(mbb, ["combo", "v1", "v2"]).filter(F.col("id_a") < F.col("id_b"))
        canon = F.lit(True)
        for c in range(n_blocks * n_blocks):
            i, j = c // n_blocks, c % n_blocks
            agree = (bv(F.col("sh_a"), i) == bv(F.col("sh_b"), i)) & (
                bv(F.col("rs_a"), j) == bv(F.col("rs_b"), j)
            )
            canon = canon & ((F.col("combo") <= F.lit(c)) | ~agree)
        return (
            mj.filter(canon)
            .withColumn("hamming", hamming_distance(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming", F.lit(False).alias("is_star"))
        )
    if bucket_cap is None:
        return _exact_join(bucketed)
    a = bucketed.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "block", "block_bits")
    b = bucketed.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "block", "block_bits")
    joined = a.join(b, ["block", "block_bits"]).filter(F.col("id_a") < F.col("id_b"))
    pairs = (
        joined.select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming_distance(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .withColumn("is_star", F.lit(False))
    )
    # Star edges bypass the hamming filter: they are structural links that
    # keep the hot bucket's component connected even when a member is not
    # within budget of the representative. A verified (non-star) pair for
    # the same ids wins the preference dedup below.
    star_pairs = (
        star.withColumn("hamming", hamming_distance(F.col("sh_a"), F.col("sh_b")))
        .withColumn("is_star", F.lit(True))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "sh_a", "sh_b", "hamming", "is_star")
    )
    return (
        pairs.unionByName(star_pairs)
        .withColumn(
            "_pref",
            F.row_number().over(
                Window.partitionBy("id_a", "id_b").orderBy(F.col("is_star").cast("int"))
            ),
        )
        .filter(F.col("_pref") == 1)
        .select("id_a", "id_b", "hamming", "is_star")
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components of an undirected pair graph — the step that
    turns near-dup PAIRS into dedup GROUPS (keep one doc per component).

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", 2014): every round is two
    groupBy+join passes over the edge list, and the edge set contracts
    toward per-component stars rooted at the minimum id in O(log n) rounds
    — unlike naive label propagation, whose round count is the graph
    DIAMETER (a 1M-long chain of near-dups would need 1M rounds; this
    needs ~20). Each round localCheckpoints the edge list: iterative plans
    otherwise stack lineage until Catalyst analysis dominates runtime.

    Returns (id, component) for every node appearing in ``edges``, where
    ``component`` is the smallest id in the node's component.
    """
    e = (
        edges.select(
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # round 1's large_star references `e` in several branches (the
    # undirected union reads it twice, then the neighborhood join again) —
    # without materialization the CALLER's pair-generation plan (often an
    # expensive LSH/Jaccard subtree) re-executes once per branch. Measured
    # on dedup_components at sf0.1: ~7.2 → ~5.0 s. The block is released
    # by the loop's round-tracking after round 1 checkpoints.

    def large_star(e: DataFrame) -> DataFrame:
        # undirected neighborhoods; for every neighbor v > u, connect v to
        # min(N(u) ∪ {u})
        und = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = und.groupBy("u").agg(F.min(F.least("v", "u")).alias("m"))
        return (
            und.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # direct each edge big→small; connect every smaller neighbor (and
        # u itself) to the minimum of the neighborhood
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        nbr = (
            d.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edges = mins.select("u", F.col("m").alias("v"))
        return (
            nbr.unionByName(self_edges)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # localCheckpoint persists at the RDD level, which DataFrame.unpersist()
    # does NOT release (it only talks to the SQL cache manager) — verified
    # empirically: blocks stay in getPersistentRDDs() after df.unpersist().
    # Track the RDD ids each round creates and unpersist the previous
    # round's AFTER the new checkpoint materializes, so executor storage
    # holds at most two rounds of edges instead of all ~log(n) rounds.
    def _persistent_ids() -> set:
        try:
            sc = edges.sparkSession.sparkContext
            return set(sc._jsc.getPersistentRDDs().keys())
        except Exception:  # Spark Connect etc.: no JVM handle; skip cleanup
            return set()

    def _unpersist(ids: set) -> None:
        try:
            sc = edges.sparkSession.sparkContext
            m = sc._jsc.getPersistentRDDs()
            for k in m.keys():
                if k in ids:
                    m[k].unpersist()
        except Exception:
            pass

    # The convergence signature (edge count + xor-fold of edge hashes —
    # overflow-free under ANSI, and the edge list is distinct so the fold
    # identifies the SET) rides each eager checkpoint as an Observation:
    # ONE driver action per round instead of checkpoint + separate
    # agg().first() (the _checkpoint_ranked device — these rounds are
    # driver-latency-bound at any scale, so each folded action is a direct
    # wall win). Seeding prev_sig from the INITIAL edge list's observation
    # keeps the same convergence criterion (a round that leaves the edge
    # set unchanged ends the loop) while letting already-canonical graphs
    # exit after round 1 rather than round 2.
    from pyspark.sql import Observation as _Observation

    def _observed_checkpoint(df: DataFrame) -> tuple[DataFrame, tuple]:
        obs = _Observation()
        ck = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).localCheckpoint(eager=True)
        m = obs.get
        return ck, (m["n"], m["h"])

    _pre = _persistent_ids()
    e, prev_sig = _observed_checkpoint(e)
    prev_round_ids: set = _persistent_ids() - _pre
    for _ in range(max_iterations):
        before = _persistent_ids()
        e, sig = _observed_checkpoint(small_star(large_star(e)))
        _unpersist(prev_round_ids)
        prev_round_ids = _persistent_ids() - before
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} rounds")
    # converged: every edge points node → component root; roots map to themselves
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .unionByName(e.select(F.col("v").alias("id"), F.col("v").alias("component")))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Near-dup candidate pairs by 64-bit simhash (xxhash64 word features)
    — :func:`hamming_blocked_pairs` does the pigeonhole block join.

    Returns ``(id_a, id_b, hamming, is_star)``. With a ``bucket_cap``,
    rows where ``is_star`` is true are STRUCTURAL links from a hot bucket's
    representative and may exceed ``max_hamming`` — they exist so that
    connected-component grouping keeps the bucket linked. Filter
    ``~F.col("is_star")`` when only verified within-budget pairs are
    wanted; with ``bucket_cap=None`` every row is verified
    (``is_star`` is always false).

    Signature path (r14 review catch): feature hashes are computed
    JVM-side (``transform(array_distinct(words), xxhash64)``) and voted by
    :func:`simhash_vote_kernel` — the measured ~4× fast path — instead of
    :func:`simhash`'s 64 interpreted per-row aggregate folds. The two are
    bit-identical by construction (same ``2·ones > n`` majority rule, same
    empty→0 signature; equivalence pinned by test), and the trailing
    ``repartition`` pins the kernel-reuse barrier the kernel's docstring
    mandates for self-joined frames."""
    feats = F.transform(F.array_distinct(words(F.col(text_col))), lambda w: F.xxhash64(w))
    sh = df.select(
        F.col(id_col).alias("id"), simhash_vote_kernel(feats, bits=64).alias("sh")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    return hamming_blocked_pairs(
        sh, max_hamming=max_hamming, bits=64, bucket_cap=bucket_cap
    )
