"""Climate-analysis operators — the xarray workloads a reference user runs
on published datasets.

The reference library publishes Zarr stores; its users then analyze them
with xarray built-ins. "A user could switch" therefore needs the standard
reductions re-expressed on the tall table:

  xr.Dataset.groupby('time.dayofyear').mean()  → :func:`climatology`
  ds - climatology (anomalies)                 → :func:`anomaly`
  ds.rolling(time=7).mean()                    → :func:`rolling_time_agg`
  ds.coarsen(latitude=2, longitude=2).mean()   → :func:`coarsen`
  ds.resample(time='1M').mean()                → :func:`resample_time`

All are single-shuffle window/groupBy plans: the partition keys are the
spatial cell (and period), so at 100 TB each executor owns whole cell
histories and nothing quadratic ever forms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import BUCKET_FMT

_PERIODS = {
    "dayofyear": lambda c: F.dayofyear(c),
    "month": lambda c: F.month(c),
    "hour": lambda c: F.hour(c),
}


def _period(time_col: str, freq: str) -> Column:
    try:
        return _PERIODS[freq](F.col(time_col))
    except KeyError:
        raise ValueError(f"freq must be one of {sorted(_PERIODS)}") from None


def climatology(
    df: DataFrame,
    value_col: str,
    time_col: str = "time",
    freq: str = "dayofyear",
    space_cols: tuple[str, ...] = ("latitude", "longitude"),
) -> DataFrame:
    """Per-cell, per-period long-term statistics
    (``groupby('time.dayofyear').mean()``)."""
    return (
        df.withColumn("period", _period(time_col, freq))
        .groupBy(*space_cols, "period")
        .agg(
            F.count(value_col).alias("n"),
            F.avg(value_col).alias("clim_mean"),
            F.stddev_pop(value_col).alias("clim_std"),
            F.min(value_col).alias("clim_min"),
            F.max(value_col).alias("clim_max"),
        )
    )


def anomaly(
    df: DataFrame,
    value_col: str,
    time_col: str = "time",
    freq: str = "dayofyear",
    space_cols: tuple[str, ...] = ("latitude", "longitude"),
) -> DataFrame:
    """value − per-(cell, period) climatological mean, as one window pass
    (no join back): partition by (cell, period), subtract the partition
    mean. Adds ``anomaly`` and ``standardized_anomaly`` columns."""
    w = Window.partitionBy(*space_cols, _period(time_col, freq))
    mean = F.avg(value_col).over(w)
    std = F.stddev_pop(value_col).over(w)
    return df.withColumn("anomaly", F.col(value_col) - mean).withColumn(
        "standardized_anomaly",
        F.when(std > 0, (F.col(value_col) - mean) / std),
    )


def rolling_time_agg(
    df: DataFrame,
    value_col: str,
    days: int = 7,
    time_col: str = "time",
    space_cols: tuple[str, ...] = ("latitude", "longitude"),
) -> DataFrame:
    """Trailing ``days``-day rolling mean/sum per cell
    (``ds.rolling(time=7).mean()``): a rangeBetween window on epoch seconds,
    partitioned by cell — each cell's history sorts once."""
    w = (
        Window.partitionBy(*space_cols)
        .orderBy(F.col(time_col).cast("timestamp").cast("long"))
        .rangeBetween(-(days - 1) * 86400, 0)
    )
    return df.withColumn(f"rolling_mean_{days}d", F.avg(value_col).over(w)).withColumn(
        f"rolling_sum_{days}d", F.sum(value_col).over(w)
    )


def coarsen(
    df: DataFrame,
    value_col: str,
    lat_step: float,
    lon_step: float,
    time_col: str = "time",
) -> DataFrame:
    """Spatial downsampling (``ds.coarsen(lat=k, lon=k).mean()``): snap each
    coordinate to its block origin, aggregate per (time, block). A pure
    groupBy — map-side combinable, shuffle ∝ output grid size."""
    lat_b = (F.floor(F.col("latitude") / lat_step) * lat_step).cast("float").alias("latitude")
    lon_b = (F.floor(F.col("longitude") / lon_step) * lon_step).cast("float").alias("longitude")
    # sum+count alongside the mean: sums compose across incremental refreshes
    # (and across engines — a mean of few low-precision values rounds
    # non-portably; the sum doesn't)
    return df.groupBy(F.col(time_col), lat_b, lon_b).agg(
        F.avg(value_col).alias(value_col),
        F.sum(value_col).alias(f"{value_col}_sum"),
        F.count("*").alias("n_cells"),
    )


def resample_time(
    df: DataFrame,
    value_col: str,
    grain: str = "month",  # day|month|year
    time_col: str = "time",
    space_cols: tuple[str, ...] = ("latitude", "longitude"),
) -> DataFrame:
    """Temporal downsampling (``ds.resample(time='1M').mean()``)."""
    fmt = BUCKET_FMT[grain]
    return df.groupBy(
        F.date_format(F.col(time_col), fmt).alias("period"), *space_cols
    ).agg(
        F.avg(value_col).alias(f"{value_col}_mean"),
        F.sum(value_col).alias(f"{value_col}_sum"),
        F.min(value_col).alias(f"{value_col}_min"),
        F.max(value_col).alias(f"{value_col}_max"),
        F.count(value_col).alias("n"),
    )


def fill_time_gaps(
    df: DataFrame,
    value_col: str,
    expected_delta_s: int = 86400,
    time_col: str = "time",
    space_cols: tuple[str, ...] = ("latitude", "longitude"),
    method: str = "linear",  # linear|ffill
) -> DataFrame:
    """Gap filling (xarray ``resample().interpolate()`` / ``interpolate_na``):
    materialize the missing time steps per cell and impute their values.

    Plan: per cell, generate the full expected time sequence from that
    cell's min..max (sequence+explode over the per-cell span row), left
    join observations back (per-cell keys), then impute via last/next
    non-null window values: ffill carries the previous observation, linear
    interpolates between the bracketing observations by elapsed-time
    fraction. One shuffle on the cell key; the windows run per cell.

    Returns the dense frame with ``was_gap`` marking imputed rows.
    """
    spans = df.groupBy(*space_cols).agg(
        F.min(time_col).alias("_lo"), F.max(time_col).alias("_hi")
    )
    dense = spans.select(
        *space_cols,
        F.explode(
            F.sequence(
                F.col("_lo"),
                F.col("_hi"),
                F.expr(f"INTERVAL {expected_delta_s} SECONDS"),
            )
        ).alias(time_col),
    )
    obs = df.select(*space_cols, time_col, F.col(value_col).alias("_obs"))
    joined = dense.join(obs, [*space_cols, time_col], "left")

    w = Window.partitionBy(*space_cols).orderBy(time_col)
    prev_val = F.last("_obs", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_val = F.first("_obs", ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    prev_t = F.last(F.when(F.col("_obs").isNotNull(), F.col(time_col)), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_t = F.first(F.when(F.col("_obs").isNotNull(), F.col(time_col)), ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    if method == "ffill":
        filled = F.coalesce(F.col("_obs"), prev_val)
    elif method == "linear":
        span = next_t.cast("timestamp").cast("long") - prev_t.cast("timestamp").cast("long")
        frac = F.when(
            span > 0,
            (F.col(time_col).cast("timestamp").cast("long") - prev_t.cast("timestamp").cast("long"))
            / span,
        ).otherwise(F.lit(0.0))
        filled = F.coalesce(
            F.col("_obs"),
            (prev_val + (next_val - prev_val) * frac).cast("float"),
            prev_val,
            next_val,
        )
    else:
        raise ValueError("method must be linear|ffill")
    return (
        joined.withColumn("was_gap", F.col("_obs").isNull())
        .withColumn(value_col, filled)
        .drop("_obs")
    )


def bilinear_regrid(
    grid: DataFrame,
    value_col: str,
    targets: DataFrame,
    lat_step: float,
    lon_step: float,
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    target_lat_col: str = "lat_t",
    target_lon_col: str = "lon_t",
) -> DataFrame:
    """Bilinear interpolation of a regular (lat, lon) grid onto arbitrary
    target points — the native regridding the reference delegates to
    external tools (SURVEY §2 S18 `cdo remapbil` analog).

    `targets` carries (`target_lat_col`, `target_lon_col`) — defaults
    ``lat_t``/``lon_t`` — mirrored onto the output, the symmetric
    counterpart of the grid side's `lat_col`/`lon_col`.  Each target
    explodes into its four
    surrounding corners, one equi-join on INTEGER grid indices
    (round(coord/step)) fetches the values — never on reconstructed float
    coordinates, where (floor(t/step)+1)*step can miss the stored grid
    value by one ulp for steps like 0.1 and silently drop the target — a
    pivot collapses them back to one row, and the weighted sum is a
    fixed-order arithmetic expression, deterministic across engines and
    partitionings.  Targets missing any corner (outside the grid hull)
    are dropped, the conservative edge rule.

    Scale shape: the corner join is a plain equi-join on grid keys — at
    100 TB of targets it hash-partitions on (lat0, lon0) with the grid
    side broadcast when dimension-sized (a global 0.25° grid is ~1M rows,
    comfortably broadcastable), and nothing is iterative.
    """
    # normalize the target frame's coordinate columns to internal names so
    # the grid-side lat_col/lon_col parameterization has a symmetric
    # counterpart (output is renamed back to the caller's names at the end)
    targets = targets.select(
        F.col(target_lat_col).alias("lat_t"), F.col(target_lon_col).alias("lon_t")
    )
    corners = F.explode(
        F.array(*[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di in (0, 1)
            for dj in (0, 1)
        ])
    )
    ex = targets.select("lat_t", "lon_t", corners.alias("c")).select(
        "lat_t",
        "lon_t",
        (F.floor(F.col("lat_t") / lat_step) + F.col("c.di")).cast("long").alias("lat_i"),
        (F.floor(F.col("lon_t") / lon_step) + F.col("c.dj")).cast("long").alias("lon_i"),
        F.col("c.di").alias("di"),
        F.col("c.dj").alias("dj"),
    )
    j = ex.join(
        grid.select(
            F.round(F.col(lat_col) / lat_step).cast("long").alias("lat_i"),
            F.round(F.col(lon_col) / lon_step).cast("long").alias("lon_i"),
            F.col(value_col).alias("v"),
        ),
        ["lat_i", "lon_i"],
    )
    piv = j.groupBy("lat_t", "lon_t").agg(
        F.max(F.when((F.col("di") == 0) & (F.col("dj") == 0), F.col("v"))).alias("v00"),
        F.max(F.when((F.col("di") == 0) & (F.col("dj") == 1), F.col("v"))).alias("v01"),
        F.max(F.when((F.col("di") == 1) & (F.col("dj") == 0), F.col("v"))).alias("v10"),
        F.max(F.when((F.col("di") == 1) & (F.col("dj") == 1), F.col("v"))).alias("v11"),
        F.count("*").alias("n_corners"),
    )
    fy = (F.col("lat_t") - F.floor(F.col("lat_t") / lat_step) * lat_step) / lat_step
    fx = (F.col("lon_t") - F.floor(F.col("lon_t") / lon_step) * lon_step) / lon_step
    interp = (
        F.col("v00") * (1 - fy) * (1 - fx)
        + F.col("v01") * (1 - fy) * fx
        + F.col("v10") * fy * (1 - fx)
        + F.col("v11") * fy * fx
    )
    return piv.filter(F.col("n_corners") == 4).select(
        F.col("lat_t").alias(target_lat_col),
        F.col("lon_t").alias(target_lon_col),
        interp.alias("v_interp"),
    )
