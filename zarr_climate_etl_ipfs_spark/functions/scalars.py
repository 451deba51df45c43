"""Scalar column functions — ports of the reference's value-level transforms
(SURVEY.md §2.8) as Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_longitude(lon: Column | str) -> Column:
    """Remap longitudes from [0, 360) to [-180, 180).

    Reference: utils/convenience.py:516-534 ``standardize_longitudes``
    (``lon' = ((lon + 180) % 360) - 180``). The double-mod makes the result
    independent of the engine's sign convention for ``%`` on negatives.
    """
    c = F.col(lon) if isinstance(lon, str) else lon
    return ((c + F.lit(180.0)) % 360.0 + 360.0) % 360.0 - 180.0


def mask_sentinel(value: Column | str, sentinel: float) -> Column:
    """Missing-value sentinel (e.g. -9999) → NULL.

    Reference: examples/managers/chirps.py:118-122 and the kerchunk fill_value
    rewrite at utils/transform.py:341-369.
    """
    c = F.col(value) if isinstance(value, str) else value
    return F.when(c == F.lit(sentinel), F.lit(None)).otherwise(c)


def cf_decode_time(raw: Column | str, epoch: str, unit_seconds: int = 86400) -> Column:
    """CF-convention numeric time → timestamp.

    ``units: "days since <epoch>"`` (utils/metadata.py:677-709): a float/int
    count of ``unit_seconds`` since ``epoch``.
    """
    c = F.col(raw) if isinstance(raw, str) else raw
    return F.timestamp_add(
        "SECOND", (c * F.lit(unit_seconds)).cast("long"), F.lit(epoch).cast("timestamp")
    )


def _epoch_s(c: Column | str) -> Column:
    """Seconds-since-epoch as DOUBLE, valid for TIMESTAMP and TIMESTAMP_NTZ.

    Spark 4 forbids a direct numeric cast on TIMESTAMP_NTZ (the type
    tz-less parquet now infers), so route through TIMESTAMP first; the
    session timezone is pinned UTC (session.tune), making the hop
    value-exact. The DOUBLE target keeps sub-second precision, matching
    DuckDB's EPOCH().
    """
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("timestamp").cast("double")


def _as_epoch_seconds(c: Column) -> Column:
    # NTZ timestamps can't cast straight to long; route through the session-tz
    # timestamp (sessions are pinned to UTC, so wall-clock is preserved)
    return c.cast("timestamp").cast("long")


def cf_encode_time(ts: Column | str, epoch: str, unit_seconds: int = 86400) -> Column:
    """Timestamp → CF numeric time (inverse of :func:`cf_decode_time`)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return (
        _as_epoch_seconds(c) - F.lit(epoch).cast("timestamp").cast("long")
    ) / F.lit(unit_seconds)


def is_infinityish(value: Column | str) -> Column:
    """True for ±inf or |x| > 1e100 (reference: utils/publish.py:1068-1074)."""
    c = F.col(value) if isinstance(value, str) else value
    return c.isin(float("inf"), float("-inf")) | (F.abs(c) > F.lit(1e100))


def is_extreme(value: Column | str, bounds: tuple[float, float]) -> Column:
    """True when the value violates the unit's plausibility bounds.

    Reference: utils/attributes.py:323-326 limits applied at
    utils/publish.py:566-575.
    """
    c = F.col(value) if isinstance(value, str) else value
    lo, hi = bounds
    return ~c.between(F.lit(lo), F.lit(hi))


def snap_to_grid(coord: Column | str, origin: float, spacing: float) -> Column:
    """Snap a coordinate onto a regular lattice: round((x-x0)/dx)*dx + x0.

    This is the deterministic replacement for xarray's
    ``sel(method="nearest", tolerance=...)`` (utils/publish.py:864): reference
    grids are regular lattices (chirps.py:25), so nearest-neighbor lookup is a
    closed-form expression, not a kNN search — it stays inside codegen and
    costs nothing at 100 TB.
    """
    c = F.col(coord) if isinstance(coord, str) else coord
    return F.round((c - F.lit(origin)) / F.lit(spacing), 0) * F.lit(spacing) + F.lit(origin)
