"""Mergeable sketch operators — the approximate layer for 100 TB profiling.

Exact distinct counts and exact percentiles need a global shuffle of every
value; sketches give bounded-error answers with map-side-combinable state a
few KB per group. Spark ships the hard parts (Apache DataSketches HLL,
an approximate-percentile digest); these wrappers pin the engine's usage
pattern: build per-partition/per-bucket sketches once, persist them next to
the data, and answer later queries by *merging sketches* instead of
rescanning rows — the same incremental-refresh shape as
operators/rollup.py, generalized to approximate aggregates.

The DataSketches wrappers have no catalog entries: their binary state is
implementation-specific, so approximate results cannot hash-match a DuckDB
oracle; the tests assert error bounds and the merge identity
(sketch(A ∪ B) == merge(sketch(A), sketch(B))) instead. The PORTABLE
sketch family below (md5-derived HLL / Bloom / count-min) is different:
its state is defined by engine-neutral integer arithmetic, so it IS
oracle-checkable — see the hll_user_distinct / bloom_decontamination /
countmin_heavy_hitters catalog entries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HLL sketches of ``value_col`` cardinality: (keys, hll)
    rows. The binary sketch column is the *state*, not the answer — store
    it; relative error ≈ 1.04/√2^lg_k (~1.6% at the default)."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("hll")
    )


def distinct_estimate(sketches: DataFrame, key_cols: list[str]) -> DataFrame:
    """Union the per-group sketches down to any coarser grouping and read
    the estimate — rescan-free rollup of a distinct count (which is NOT
    otherwise summable across groups)."""
    return (
        sketches.groupBy(*key_cols)
        .agg(F.hll_union_agg("hll").alias("hll"))
        .withColumn("n_distinct_est", F.hll_sketch_estimate("hll"))
        .drop("hll")
    )


def quantile_profile(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    probabilities: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group approximate quantiles in one pass (no global sort; state is
    a bounded digest). ``accuracy`` is the 1/eps knob: rank error ≤ 1/accuracy."""
    q = F.percentile_approx(
        F.col(value_col), F.array(*[F.lit(p) for p in probabilities]), F.lit(accuracy)
    )
    out = df.groupBy(*key_cols).agg(q.alias("_q"))
    for i, p in enumerate(probabilities):
        out = out.withColumn(f"p{int(p * 100)}", F.col("_q")[i])
    return out.drop("_q")


def value_histogram(
    df: DataFrame,
    value_col: str,
    key_cols: list[str] = (),
    n_bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Fixed-width histogram as a groupBy (two passes only when bounds are
    not given; at scale pass known bounds and it is one map-side-combinable
    aggregation). Returns (keys, bin, bin_lo, n)."""
    if lo is None or hi is None:
        b = df.agg(F.min(value_col).alias("lo"), F.max(value_col).alias("hi")).first()
        lo = float(b["lo"]) if lo is None else lo
        hi = float(b["hi"]) if hi is None else hi
    width = (hi - lo) / n_bins or 1.0
    bin_col: Column = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    return (
        df.withColumn("bin", bin_col)
        .groupBy(*key_cols, "bin")
        .agg(F.count("*").alias("n"))
        .withColumn("bin_lo", F.lit(lo) + F.col("bin") * F.lit(width))
        .orderBy(*key_cols, "bin")
    )


# ---------------------------------------------------------------------------
# engine-portable sketches (oracle-checkable)
# ---------------------------------------------------------------------------
# Unlike the DataSketches wrappers above, these sketches are DEFINED by
# portable integer arithmetic (56-bit md5 hashes, shifts, bin-length) so
# any engine computes byte-identical state — which makes them the one
# sketch family the DuckDB oracle can verify hash-exact, and the one you
# can build on engine A and merge/probe on engine B. All three are
# map-side-combinable (MAX / SUM / bit-set union), the property that makes
# them 100 TB primitives: state is KBs per group regardless of input size.


def _md5int56(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 14), 16, 10).cast("bigint")


def portable_hll_registers(
    df: DataFrame, key_cols: list[str], value_col: str, p: int = 9
) -> DataFrame:
    """Per-group HLL registers over a 56-bit md5 hash: bucket = top ``p``
    hash bits, rho = leading-zero count of the remaining ``56-p`` bits + 1
    (computed as ``rem_bits - length(bin(rem)) + 1`` — integer-exact on
    any engine; no float log2 whose ulp could differ). Returns
    (keys, bucket, rho) with rho = MAX per bucket — the mergeable state."""
    rem_bits = 56 - p
    h = _md5int56(F.col(value_col).cast("string"))
    rem = h.bitwiseAND(F.lit((1 << rem_bits) - 1).cast("bigint"))
    rho = (
        F.when(rem == 0, F.lit(rem_bits + 1))
        .otherwise(F.lit(rem_bits) - F.length(F.bin(rem)) + 1)
        .cast("int")
    )
    vals = df.select(
        *key_cols, F.shiftright(h, rem_bits).alias("bucket"), rho.alias("rho")
    )
    return vals.groupBy(*key_cols, "bucket").agg(F.max("rho").alias("rho"))


def portable_hll_estimate(
    registers: DataFrame, key_cols: list[str], p: int = 9
) -> DataFrame:
    """Raw HLL estimate from portable registers. The harmonic denominator
    is computed in EXACT integer arithmetic (Σ 2^(scale-rho), scale =
    57-p ≥ max rho) so the sum is order-independent — float summation
    order would differ between engines/partitionings. The float ops
    are one division + ROUND(…,4) (IEEE-identical everywhere; the
    constant alpha·m²·2^scale is inlined as a single Python-evaluated
    literal so no engine re-derives it with different operation order)
    plus the standard small-range linear-counting branch
    (raw ≤ 2.5m with empty buckets → m·ln(m/empty)): ln() is the one
    primitive whose last ulp is engine-specific, which ROUND(…,4)
    absorbs — and without which the raw estimator is badly biased when
    n ≪ m (mostly-empty registers)."""
    m = 1 << p
    scale = 57 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << scale)
    # the DataFrame-API shiftleft only takes a literal shift count; the SQL
    # form accepts a column expression
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale} - rho)")
    agg = registers.groupBy(*key_cols).agg(
        F.sum(term).alias("_s"), F.count("*").alias("n_buckets")
    )
    denom = F.col("_s") + (F.lit(m) - F.col("n_buckets")) * F.lit(1 << scale)
    raw = F.lit(numer) / denom
    empty = F.lit(m) - F.col("n_buckets")
    est = F.when(
        (raw <= 2.5 * m) & (empty > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / empty), 4),
    ).otherwise(F.round(raw, 4))
    return agg.select(
        *key_cols,
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        est.alias("distinct_est"),
    )


def bloom_bit_positions(
    df: DataFrame, value_col: str, m_bits: int = 8192, k: int = 3,
    dedup: bool = True,
) -> DataFrame:
    """Build side of a portable Bloom filter: the DISTINCT set bit
    positions from ``k`` salted 56-bit md5 hashes mod ``m_bits``. The
    positions frame IS the filter (a few KB) — broadcast it and probing
    becomes a join-free membership test, the decontamination pattern that
    avoids shuffling a 100 TB corpus against a benchmark set.

    ``dedup=False`` skips the DISTINCT exchange for consumers that fold
    the positions with an idempotent aggregate (`bloom_bitmask`'s bit_or
    — duplicate positions OR to the same word): one fewer shuffle on the
    build side, same filter."""
    pos = F.explode(
        F.array(
            *[
                (_md5int56(F.concat(F.lit(f"{j}:"), F.col(value_col).cast("string"))) % m_bits)
                for j in range(k)
            ]
        )
    )
    out = df.select(pos.alias("pos"))
    return out.distinct() if dedup else out


def bloom_probe(
    df: DataFrame,
    value_col: str,
    positions: DataFrame,
    m_bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Probe side: a value is flagged iff ALL ``k`` of its bit positions
    are set (no false negatives; false-positive share ≈ (1-e^{-kn/m})^k).
    Implemented as explode → semi-ish join on position → count == k, with
    the (small) positions frame broadcast."""
    probe = df.select(
        "*",
        F.explode(
            F.array(
                *[
                    (
                        _md5int56(
                            F.concat(F.lit(f"{j}:"), F.col(value_col).cast("string"))
                        )
                        % m_bits
                    )
                    for j in range(k)
                ]
            )
        ).alias("pos"),
    )
    # membership = EVERY exploded position row hit, tested as min(hit)==1:
    # robust to duplicate probe rows (a sum(hit)==k test under groupBy
    # merges duplicates into 2k hits and fabricates a false negative)
    # and to two salts colliding on one bit
    hits = (
        probe.join(F.broadcast(positions.withColumn("_hit", F.lit(1))), "pos", "left")
        .groupBy(*[c for c in df.columns])
        .agg((F.min(F.coalesce(F.col("_hit"), F.lit(0))) == 1).alias("bloom_hit"))
    )
    return hits


# powers of two as a 64-long literal lookup (index = bit + 1): bit tests
# against a COLUMN shift amount without shiftleft-by-column (PySpark's
# shiftleft wants a literal); bit 63 is the sign bit, so its mask is the
# wrapped negative long — `word & mask != 0` is still exactly that bit
_POW2 = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def bloom_bitmask(
    positions: DataFrame, m_bits: int = 8192, pos_col: str = "pos"
) -> DataFrame:
    """Fold the set-positions frame into ONE row holding the filter as an
    ``array<bigint>`` of ``m_bits/64`` words — the broadcastable bitmask
    form that makes probing a JOIN-FREE expression (`bloom_hit_mask`).

    Why a bitmask: `bloom_probe`'s explode → join → group-back
    pays a shuffle of 3× the probe rows keyed on the probe's natural key —
    measured at sf0.1 (bloom_decontamination, 116k probe pairs) the whole
    query ran 1.50 s, and BOTH relational rewrites measured WORSE (probe
    the distinct vocabulary + unhinted join back: 3.2 s — the w-join
    sort-merge-shuffled every pair into 31 hot keys; + broadcast hint:
    2.0 s — the vocabulary subtree re-ran the corpus explode as an extra
    serial job). The bitmask keeps the filter as ~m_bits/8 BYTES of state
    (the textbook Bloom representation), crossJoins the 1-row frame
    broadcast, and tests k bits per probe row in pure codegen: no explode,
    no join, no group-back shuffle. State construction is two tiny
    aggregations over the positions frame (≤ m_bits rows)."""
    n_words = (m_bits + 63) // 64
    words_df = positions.groupBy(
        (F.col(pos_col) / 64).cast("int").alias("_wi")
    ).agg(F.expr(f"bit_or(shiftleft(1L, cast(`{pos_col}` % 64 as int)))").alias("_w"))
    return words_df.agg(
        F.map_from_entries(F.collect_list(F.struct("_wi", "_w"))).alias("_m")
    ).select(
        F.expr(
            f"transform(sequence(0, {n_words - 1}), i -> coalesce(try_element_at(_m, i), 0L))"
        ).alias("bits")
    )


def bloom_hit_mask(
    value_col: str, bits_col: str = "bits", m_bits: int = 8192, k: int = 3
) -> Column:
    """Membership test against a `bloom_bitmask` row as a pure column
    expression: a value is flagged iff ALL ``k`` salted positions' bits
    are set — identical semantics to `bloom_probe` (no false negatives,
    same salted 56-bit md5 positions, and a NULL probed value reads
    ``false``, matching bloom_probe's coalesce(_hit,0) path rather than
    propagating md5(NULL) through the bit tests),
    O(1) array lookups per salt, fully codegen'd."""
    pow2 = F.array(*[F.lit(p) for p in _POW2])
    hit = F.lit(True)
    for j in range(k):
        p = (
            _md5int56(F.concat(F.lit(f"{j}:"), F.col(value_col).cast("string")))
            % m_bits
        )
        word = F.element_at(F.col(bits_col), (p / 64).cast("int") + 1)
        mask = F.element_at(pow2, (p % 64).cast("int") + 1)
        hit = hit & (word.bitwiseAND(mask) != 0)
    return F.coalesce(hit, F.lit(False))


def countmin_sketch(
    df: DataFrame,
    term_col: str,
    count_col: str | None = None,
    depth: int = 3,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch: ``depth`` salted-hash rows × ``width`` counters,
    counts summed per cell — a (depth·width)-cell table that answers
    point frequency queries with one-sided error (estimate ≥ truth).
    Mergeable by cell-wise SUM; byte-identical on any engine."""
    w = F.lit(1).cast("bigint") if count_col is None else F.col(count_col)
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (
                            _md5int56(
                                F.concat(F.lit(f"{j}:"), F.col(term_col).cast("string"))
                            )
                            % width
                        ).alias("col"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("c"),
        w.alias("_w"),
    )
    return (
        cells.select(F.col("c.row").alias("row"), F.col("c.col").alias("col"), "_w")
        .groupBy("row", "col")
        .agg(F.sum("_w").alias("n"))
    )


def countmin_estimate(
    sketch: DataFrame, terms: DataFrame, term_col: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Point estimates: min over the ``depth`` row counters each term
    hashes to. The sketch side is broadcast — probing N terms costs no
    shuffle of the sketch."""
    probe = terms.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (
                            _md5int56(
                                F.concat(F.lit(f"{j}:"), F.col(term_col).cast("string"))
                            )
                            % width
                        ).alias("col"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("c"),
    )
    # private counter name so a probe frame with its own "n" column can't
    # make the min() reference ambiguous; LEFT join + coalesce(0) so a
    # term whose cells were never incremented reports cm_est=0 instead of
    # vanishing from the output (an inner join would silently drop
    # never-seen probe terms on sparse sketches)
    sk = sketch.withColumnRenamed("n", "_cm_n")
    return (
        probe.select(*terms.columns, F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .join(F.broadcast(sk), ["row", "col"], "left")
        .groupBy(*terms.columns)
        .agg(F.min(F.coalesce(F.col("_cm_n"), F.lit(0))).alias("cm_est"))
    )
