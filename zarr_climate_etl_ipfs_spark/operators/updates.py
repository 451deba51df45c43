"""Incremental-update semantics — the heart of the reference engine.

Re-expresses (SURVEY.md §2.3 J1, §2.5 W1-W4, §2.11 Q5):
  - utils/publish.py:303-330  ``prepare_update_times``  → :func:`split_update_times`
  - utils/publish.py:432-495  ``calculate_update_time_ranges`` → :func:`contiguous_ranges`
  - utils/publish.py:604-652  ``update_quality_check``  → :func:`validate_update`
  - utils/publish.py:654-696  ``are_times_in_expected_order`` → :func:`check_cadence`

Everything is a DataFrame-in / DataFrame-out transformation on *key* frames
(one column, the time dim) — at 100 TB the distinct time keys are tiny compared
to the data (a century of hourly steps < 1M rows), so these run as cheap
shuffles or even broadcasts while the heavy cell data never moves.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.functions.scalars import _epoch_s


def split_update_times(
    existing_times: DataFrame, update_times: DataFrame, time_dim: str = "time"
) -> tuple[DataFrame, DataFrame]:
    """Partition update keys into (inserts, appends).

    inserts = update ∩ existing (overwrite already-published steps),
    appends = update − existing (new steps), both sorted ascending —
    exactly utils/publish.py:303-330 but as a left-semi / left-anti join pair,
    which Spark executes as one broadcast of the (small) existing key set.
    """
    u = update_times.select(time_dim).distinct()
    e = F.broadcast(existing_times.select(time_dim).distinct())
    inserts = u.join(e, time_dim, "left_semi").orderBy(time_dim)
    appends = u.join(e, time_dim, "left_anti").orderBy(time_dim)
    return inserts, appends


def contiguous_ranges(
    times: DataFrame, expected_delta: dt.timedelta, time_dim: str = "time"
) -> DataFrame:
    """Group sorted time keys into contiguous runs — gaps-and-islands.

    Port of the shift/compare scheme in utils/publish.py:432-495: a step is a
    range start when ``t - lag(t) != delta``; a running sum of start flags is
    the island id; min/max per island are the (start, end) pairs the region
    writer needs. Returns ``(range_id, range_start, range_end, n_steps)``.

    The single-partition window over *distinct keys only* is fine at scale
    (see module docstring); the cell data is never pulled through it.
    """
    w = Window.orderBy(time_dim)
    secs = int(expected_delta.total_seconds())
    flagged = (
        times.select(time_dim)
        .distinct()
        .withColumn(
            "_is_start",
            # half-microsecond tolerance: the NTZ→double epoch cast rounds at
            # ~2^-22 s near 2^30-s epochs, so exact == would spuriously split
            # an on-cadence step that carries sub-second fractions
            F.when(
                F.abs(
                    _epoch_s(time_dim)
                    - _epoch_s(F.lag(F.col(time_dim)).over(w))
                    - F.lit(float(secs))
                )
                < F.lit(5e-7),
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        .withColumn("range_id", F.sum("_is_start").over(w))
    )
    return (
        flagged.groupBy("range_id")
        .agg(
            F.min(time_dim).alias("range_start"),
            F.max(time_dim).alias("range_end"),
            F.count("*").alias("n_steps"),
        )
        .orderBy("range_id")
    )


def check_cadence(
    times: DataFrame,
    expected_delta: dt.timedelta,
    time_dim: str = "time",
    cadence_bounds: tuple[dt.timedelta, dt.timedelta] | None = None,
) -> DataFrame:
    """Return the rows violating the expected time cadence (empty == ok).

    Port of utils/publish.py:654-696: consecutive deltas must equal
    ``expected_delta``, or fall within ``cadence_bounds`` for irregular feeds
    (utils/attributes.py:250-257).
    """
    w = Window.orderBy(time_dim)
    delta = _epoch_s(time_dim) - _epoch_s(F.lag(F.col(time_dim)).over(w))
    df = times.select(time_dim).distinct().withColumn("_delta_s", delta)
    if cadence_bounds is not None:
        lo, hi = (b.total_seconds() for b in cadence_bounds)
        bad = ~F.col("_delta_s").between(lo, hi)
    else:
        bad = F.col("_delta_s") != expected_delta.total_seconds()
    return df.filter(F.col("_delta_s").isNotNull() & bad)


@dataclass
class UpdateValidation:
    ok: bool
    errors: list[str]
    # Split sizes, computed in the same single aggregation pass — callers
    # (store.update) use these instead of re-counting the semi/anti joins,
    # which would cost two extra Spark actions per update.
    n_inserts: int = 0
    n_appends: int = 0
    # Max time of the APPEND leg (None when pure-insert) — store.update's
    # mixed path anchors update_previous_end_date on it so the property
    # matches what the old insert-commit-then-append-commit sequence left
    # behind (the append commit wrote last). Same aggregation pass.
    last_append: dt.datetime | None = None
    # Distinct storage buckets of the INSERT leg (only when the caller
    # passed ``insert_bucket_fmt``) — store.update's touched-bucket set
    # for its insert legs, folded into the same single aggregation instead
    # of a second collect over the insert key frame (one fewer
    # driver-synchronized action per update with an insert leg).
    insert_buckets: frozenset[str] | None = None
    # Distinct time keys of the INSERT leg (only when the caller asked) —
    # store.update routes its legs by literal predicates on these instead
    # of broadcast semi/anti-joins against the key FRAMES, whose subtrees
    # (store scan + distinct + join) would re-execute inside the staging
    # write job. Bounded by the same argument as insert_buckets:
    # an update batch's distinct time steps are bounded by construction.
    insert_times: tuple | None = None


def validate_update(
    existing_times: DataFrame,
    update_times: DataFrame,
    expected_delta: dt.timedelta,
    time_dim: str = "time",
    dataset_start: dt.datetime | None = None,
    cadence_bounds: tuple[dt.timedelta, dt.timedelta] | None = None,
    insert_bucket_fmt: str | None = None,
    collect_insert_times: bool = False,
) -> UpdateValidation:
    """Pre-write guards, port of utils/publish.py:604-652 (Q5):

      1. update is non-empty;
      2. no update step precedes ``dataset_start`` (publish.py:626-639);
      3. the first *append* lands exactly one delta after the current end
         (the "append bridge", publish.py:643-648 / W4), unless
         ``cadence_bounds`` declares the feed irregular;
      4. the append set itself is gap-free at the expected cadence — the
         reference refuses a hole-bearing append during the aligned region
         write (tests/system/test_chirps.py:293-313). The count identity
         (span/delta + 1 == n) alone is necessary but not sufficient:
         off-grid timestamps can balance a hole (delta=1d, appends at d1,
         d1.5, d3 give n=3 == span_steps=3), so we additionally verify every
         append lands on the cadence grid anchored at the first append and
         that the distinct grid positions cover the span.

    All the scalars come from ONE Spark action: the update keys are tagged
    insert/append by a broadcast left join against the existing keys, the
    grid positions derive from an unpartitioned window-min over that (tiny,
    distinct-keys-only) frame, and everything aggregates in a single pass —
    an update batch's distinct time steps are bounded by construction (the
    reference publishes bounded time windows), so the single-partition
    window never sees cell data. Driver-action count is the real cost on a
    busy cluster: the previous four-action version spent ~3 s of pure job
    overhead per store update.
    """
    errors: list[str] = []
    delta_s = expected_delta.total_seconds()
    u = update_times.select(time_dim).distinct()
    e = existing_times.select(time_dim).distinct()
    is_app = F.col("_e").isNull()
    app_epoch = F.when(is_app, _epoch_s(time_dim))
    s0 = F.min(app_epoch).over(Window.partitionBy())
    aggs = [
        F.count("*").alias("n"),
        F.min(time_dim).alias("lo"),
        F.sum(is_app.cast("int")).alias("n_app"),
        F.min(F.when(is_app, F.col(time_dim))).alias("first_append"),
        F.max(F.when(is_app, F.col(time_dim))).alias("last_append"),
        # nulls (insert rows) drop out of both grid aggregates
        F.sum((F.abs(F.col("_k") - F.round("_k")) > 1e-9).cast("int")).alias(
            "offgrid"
        ),
        F.countDistinct(F.round("_k").cast("long")).alias("n_grid"),
    ]
    if insert_bucket_fmt is not None:
        # storage buckets of the insert leg — bounded by calendar arithmetic
        # (an update window spans few buckets), safe in a collect_set
        aggs.append(
            F.collect_set(
                F.when(~is_app, F.date_format(F.col(time_dim), insert_bucket_fmt))
            ).alias("ins_buckets")
        )
    if collect_insert_times:
        aggs.append(
            F.collect_set(F.when(~is_app, F.col(time_dim))).alias("ins_times")
        )
    stats_u = (
        u.join(F.broadcast(e.withColumn("_e", F.lit(1))), time_dim, "left")
        .withColumn("_k", (app_epoch - s0) / F.lit(delta_s))
        .agg(*aggs)
    )
    stats = stats_u.crossJoin(e.agg(F.max(time_dim).alias("e_end"))).first()
    if stats["n"] == 0:
        return UpdateValidation(False, ["empty update"])
    n_app = int(stats["n_app"] or 0)
    n_ins = int(stats["n"]) - n_app
    if dataset_start is not None and stats["lo"] < dataset_start:
        errors.append(
            f"update contains steps before dataset start {dataset_start}: {stats['lo']}"
        )
    if stats["first_append"] is not None and cadence_bounds is None:
        if stats["e_end"] is not None:
            expected_next = stats["e_end"] + expected_delta
            if stats["first_append"] != expected_next:
                errors.append(
                    "append bridge broken: existing ends at "
                    f"{stats['e_end']}, first append is {stats['first_append']}, "
                    f"expected {expected_next}"
                )
        span_steps = (
            round((stats["last_append"] - stats["first_append"]) / expected_delta) + 1
        )
        if span_steps != n_app:
            errors.append(
                f"append set has internal gaps: {n_app} steps cover "
                f"[{stats['first_append']}, {stats['last_append']}] which needs "
                f"{span_steps} at delta {expected_delta}"
            )
        elif stats["offgrid"]:
            # Count identity held — rule out the balancing-hole case: every
            # append must sit on the grid first_append + k*delta ...
            errors.append(
                f"append set has {stats['offgrid']} step(s) off the "
                f"expected cadence grid (delta {expected_delta})"
            )
        elif stats["n_grid"] != n_app:
            # ... and the distinct grid positions must number exactly n (no
            # two-appends-one-slot collapses hiding a hole elsewhere).
            errors.append(
                f"append set has internal gaps: {n_app} steps but "
                f"only {stats['n_grid']} distinct cadence-grid positions"
            )
    return UpdateValidation(
        not errors,
        errors,
        n_inserts=n_ins,
        n_appends=n_app,
        last_append=stats["last_append"],
        insert_buckets=(
            frozenset(stats["ins_buckets"]) if insert_bucket_fmt is not None else None
        ),
        insert_times=(
            tuple(sorted(stats["ins_times"])) if collect_insert_times else None
        ),
    )
