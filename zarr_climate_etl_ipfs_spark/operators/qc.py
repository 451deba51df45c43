"""Quality-check operator pack — the reference's distinctive "query" workload
(SURVEY.md §2.11, Q1-Q6) as reusable DataFrame assertions.

  Q1 time contiguity        → operators.updates.check_cadence
  Q2 sampled value scan     → :func:`sample_value_check`
  Q3 dtype check            → :func:`check_dtype`
  Q4/A5 NaN binomial test   → :func:`nan_binomial_check`
  Q6 round-trip comparison  → :func:`compare_datasets`

Reference locations: utils/publish.py:513-602 (pre-parse), 698-894 (post-parse),
977-1028 (binomial), utils/errors.py:1-14 (NanFrequencyMismatchError).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
from zarr_climate_etl_ipfs_spark.functions.scalars import is_extreme, is_infinityish
from zarr_climate_etl_ipfs_spark.sources.ingest import _evaluated_once


class NanFrequencyMismatchError(ValueError):
    """Port of utils/errors.py:1-14."""


class QualityCheckError(AssertionError):
    """Raised when a pre/post-parse QC gate fails (utils/publish.py:124-180)."""


def check_dtype(df: DataFrame, desc: DatasetDescriptor) -> None:
    """Q3: stored dtype must equal the declared float32 (publish.py:526-532)."""
    actual = dict(df.dtypes).get(desc.data_var)
    if actual != "float":
        raise QualityCheckError(
            f"data var {desc.data_var!r} must be float (float32), got {actual!r}"
        )


def sample_value_check(
    df: DataFrame,
    desc: DatasetDescriptor,
    n: int = 100,
    fraction: float = 1.0,
    seed: int = 42,
) -> None:
    """Q2: spot-check random cells for unexpected NaN/NULL and extreme values.

    The reference walks a lazily-shuffled coordinate product
    (publish.py:541-575, 1031-1065); distributed equivalent: a seeded
    ``sample(fraction).limit(n)`` — at cluster scale pass a fraction sized so
    ``rows*fraction ≈ 20n`` to avoid scanning everything. Raises on violation.
    """
    var = F.col(desc.data_var)
    sample = df.select(var.alias("v")).sample(False, fraction, seed).limit(n)
    v = F.col("v")
    missing = v.isNull() | F.isnan(v)
    viol = is_infinityish(v)
    bounds = desc.extreme_bounds()
    if bounds is not None:
        viol = viol | is_extreme(v, bounds)
    if desc.has_nans:
        # NaN is ALLOWED here — and it must not trip the value checks
        # either: Spark orders NaN greater than every numeric, so
        # abs(NaN) > 1e100 and NaN > hi are both TRUE — a permitted NaN
        # would read as an infinity violation
        pred = ~missing & viol
    else:
        pred = missing | viol
    bad = sample.filter(pred)
    n_bad = bad.count()
    if n_bad:
        examples = [r["v"] for r in bad.limit(5).collect()]
        raise QualityCheckError(
            f"{n_bad} sampled values failed NaN/∞/extreme checks, e.g. {examples}"
        )


def binom_test_pvalue(k: int, n: int, p: float) -> float:
    """Two-sided exact binomial test p-value (minlike method) — the test that
    statsmodels' ``proportion_confint(method="binom_test")`` inverts
    (publish.py:586-599). Pure math (log-pmf sums), no scipy dependency.
    """
    if n == 0:
        return 1.0
    p = min(max(p, 0.0), 1.0)
    if p in (0.0, 1.0):
        expect_k = 0 if p == 0.0 else n
        return 1.0 if k == expect_k else 0.0

    def logpmf(i: int) -> float:
        return (
            math.lgamma(n + 1)
            - math.lgamma(i + 1)
            - math.lgamma(n - i + 1)
            + i * math.log(p)
            + (n - i) * math.log1p(-p)
        )

    lk = logpmf(k)
    thresh = lk + 1e-7
    total = 0.0
    for i in range(n + 1):
        li = logpmf(i)
        if li <= thresh:
            total += math.exp(li)
    return min(total, 1.0)


def nan_binomial_check(
    df: DataFrame,
    desc: DatasetDescriptor,
    alpha: float = 1e-5,
    sample_per_step: int = 5000,
    seed: int = 42,
) -> DataFrame:
    """Q4/A5: per-time-step NaN share must be statistically consistent with
    ``desc.expected_nan_frequency`` (publish.py:977-1028: 5000 cells/step,
    alpha 1e-5).

    Distributed plan: deterministic per-step subsample (hash-mod filter — no
    shuffle beyond the groupBy), per-step (n, nan_count) aggregation, then the
    exact binomial test as an Arrow-batched pandas UDF over the *aggregated*
    rows (one row per time step — metadata scale, never cell scale).

    Returns the offending steps ``(time, n, nan_count, share, p_value)``;
    raises NanFrequencyMismatchError if any exist.
    """
    time_dim, var = desc.time_dim, desc.data_var
    cell_rank = F.pmod(
        F.xxhash64(*[F.col(d) for d in desc.dims[1:]], F.lit(seed)), F.lit(1_000_000)
    )
    # keep ~sample_per_step cells per step: estimate cells/step from a few
    # probed steps (bounded LIMIT scan for candidate timestamps, then ONE
    # pushdown-pruned count, MAX over the probes) — a groupBy(time).count()
    # pre-pass would scan and SHUFFLE the whole cell table before the
    # sampled aggregation even started, doubling the job's I/O at archive
    # scale. MAX over ≥3 probes rather than a single first() so one
    # partial/atypical step can't skew the effective sample size;
    # sampling-rate only — the
    # binomial test itself uses the true per-step n either way.
    probe = [
        r["_t"]
        for r in df.select(F.col(time_dim).alias("_t"))
        .limit(50_000)
        .distinct()
        .limit(3)
        .collect()
    ]
    if not probe:
        per_step = 1
    else:
        row = (
            df.filter(F.col(time_dim).isin(probe))
            .groupBy(time_dim)
            .count()
            .agg(F.max("count").alias("_m"))
            .first()
        )
        per_step = (row["_m"] if row is not None else None) or 1
    keep = min(1_000_000, max(1, int(1_000_000 * sample_per_step / per_step)))
    is_nan = (F.col(var).isNull() | F.isnan(var)).cast("long")
    counts = (
        df.filter(cell_rank < keep)
        .groupBy(time_dim)
        .agg(F.count("*").alias("n"), F.sum(is_nan).alias("nan_count"))
    )

    expected = float(desc.expected_nan_frequency)

    @F.pandas_udf(T.DoubleType())
    def pvalue(k: pd.Series, n: pd.Series) -> pd.Series:
        return pd.Series(
            [binom_test_pvalue(int(ki), int(ni), expected) for ki, ni in zip(k, n)]
        )

    offenders = (
        counts.withColumn("share", F.col("nan_count") / F.col("n"))
        .withColumn("p_value", pvalue("nan_count", "n"))
        .filter(F.col("p_value") < F.lit(alpha))
        .orderBy(time_dim)
    )
    bad = offenders.limit(10).collect()
    if bad:
        raise NanFrequencyMismatchError(
            f"NaN frequency drifted from expected {expected} (alpha={alpha}) at "
            f"{len(bad)}+ time steps, first: "
            + ", ".join(f"{r[time_dim]}→{r['share']:.4f} (p={r['p_value']:.2e})" for r in bad[:3])
        )
    return offenders


def compare_datasets(
    source: DataFrame,
    written: DataFrame,
    desc: DatasetDescriptor,
    tolerance: float = 1e-4,
) -> DataFrame:
    """Q6/J3: round-trip value comparison between a source sample and the
    published table — equi-join on the dim key, NaN/∞ matching rules and the
    1e-4 tolerance from utils/publish.py:857-894, 24 (10e-5).

    Returns mismatching rows (empty == pass): value mismatches plus sampled
    keys absent from the published table (reported with a NULL ``_out``).

    Join shape: ``broadcast(s)`` on the preserved LEFT of a left-outer
    join is an inapplicable hint Spark silently drops (BroadcastHashJoin
    supports LeftOuter only with BuildRight), which would shuffle the big
    published table for a 100-row sample. So it is an INNER join with the
    small sample as the broadcast build side, plus a broadcast anti-join
    against the (tiny) matched-key set for the missing-key leg — every
    stage's build side is sample-sized.
    """
    dims = desc.dims
    var = desc.data_var
    s = source.select(*dims, F.col(var).alias("_src"))
    w = written.select(*dims, F.col(var).alias("_out"))
    j = w.join(F.broadcast(s), dims)
    src, out = F.col("_src"), F.col("_out")
    both_nan = (src.isNull() | F.isnan(src)) & (out.isNull() | F.isnan(out))
    # sign must match: +inf vs -inf (or 1e200 vs -3e150) is a REAL
    # mismatch — a magnitude-only rule would pass a sign-corrupted publish
    both_inf = (
        is_infinityish(src) & is_infinityish(out) & (F.signum(src) == F.signum(out))
    )
    close = F.abs(src - out) <= F.lit(tolerance)
    ok = both_nan | both_inf | close
    bad_vals = j.filter(~F.coalesce(ok, F.lit(False))).select(*dims, "_src", "_out")
    matched = j.select(*dims)
    # NULL _out carries the published var's OWN dtype, not a hardcoded
    # float: a hardcoded cast relied on union type-widening (silent for
    # double, a confusing analysis error for a future integer/decimal var)
    out_type = w.schema["_out"].dataType
    missing = (
        s.join(F.broadcast(matched), dims, "left_anti")
        .select(*dims, "_src", F.lit(None).cast(out_type).alias("_out"))
    )
    return bad_vals.unionByName(missing)


def post_parse_quality_check(
    source: DataFrame,
    written: DataFrame,
    desc: DatasetDescriptor,
    n_samples: int = 100,
    time_cap_s: float = 1200.0,
    tolerance: float = 1e-4,
    seed: int = 42,
) -> None:
    """Q6 orchestration (publish.py:698-743): sample up to ``n_samples``
    random source cells, compare each against the published table under the
    NaN/∞/tolerance rules, give up cleanly at the wall-clock cap (the
    reference's 20-minute budget, publish.py:24).

    Evaluate-once contract: the source count, the sample and both of the
    sample's uses in :func:`compare_datasets` (the broadcast join and the
    missing-key anti-join) read one evaluation of ``source``, held for the
    call (:func:`~zarr_climate_etl_ipfs_spark.sources.ingest._evaluated_once`)
    — a lazily decoded batch runs its decoder once here, not once per Spark
    action. The cap only matters when the published table's scan itself is
    slow.
    """
    import time as _time

    with _evaluated_once(source):
        t0 = _time.monotonic()
        total = source.count()
        if _time.monotonic() - t0 > time_cap_s:
            # the source scan alone ate the budget: give up before launching
            # the comparison at all (the reference's budget bounds further
            # checking, it never converts an un-run check into a failure)
            return
        fraction = min(1.0, (n_samples * 4) / max(total, 1))
        sample = source.sample(False, fraction, seed).limit(n_samples)
        mismatches = compare_datasets(sample, written, desc, tolerance)
        bad = mismatches.limit(5).collect()
    # A detected discrepancy always fails — the reference's budget only
    # abandons *further sampling*, never an already-found mismatch
    # (publish.py:735-737).
    if bad:
        raise QualityCheckError(
            f"post-parse check failed: {len(bad)}+ sampled cells mismatch, "
            f"first: {[tuple(r) for r in bad[:2]]}"
        )
