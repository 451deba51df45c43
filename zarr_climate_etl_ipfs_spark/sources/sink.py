"""Export sinks shared by every grid format.

:func:`claim_dir` is the put-if-absent target creation used by
``GridStore.export_netcdf4``/``export_grib2``, ``zarr2.write_zarr_tall`` and
``similarity.write_ivf_index``.
:func:`write_bucket_grids` is the one bucket-grid sink behind the NetCDF4 and
GRIB2 exports: a format supplies only its encoder.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

import numpy as np

#: a format's encoder: (sorted time values, NaN-filled (time, *spatial) grid)
#: → (file bytes or None for no file, messages, skipped slices)
Encoder = Callable[[np.ndarray, np.ndarray], "tuple[bytes | None, int, int]"]


def claim_dir(path: str, overwrite: bool, error: type[Exception]) -> None:
    """Create an export target directory put-if-absent: an existing target
    raises ``error`` unless ``overwrite`` (then it is replaced), and of two
    racing exporters that both passed the exists-check exactly one mkdir
    wins (the GridStore manifest-commit rule, at directory grain)."""
    if os.path.exists(path):
        if not overwrite:
            raise error(f"export target {path!r} exists; pass overwrite=True")
        shutil.rmtree(path)
    try:
        os.makedirs(path)
    except FileExistsError:
        raise error(f"{path!r} was created concurrently by another writer") from None


def write_bucket_grids(
    df,
    path: str,
    var: str,
    time_dim: str,
    spatial: list[str],
    bucket_fmt: str,
    ext: str,
    encoder_for: Callable[[dict[str, np.ndarray]], Encoder],
) -> dict[str, int]:
    """Write a tall (time, *spatial, var) frame as ONE ``<bucket>.<ext>``
    file per ``bucket_fmt`` time bucket into the existing directory ``path``.

    Scale shape: the spatial axes resolve once driver-side (one
    ``collect_set`` job, axis-sized) and ``encoder_for(axes)`` builds the
    format's encoder, which rides the kernel closure (a format validates
    its axes there). The data takes ONE shuffle keyed on the bucket; each
    group materializes only its own (time, *spatial) slab as a NaN-filled
    grid placed by ``searchsorted`` (float values keep their dtype, others
    widen to float64), encodes it, and writes the file executor-side with
    tmp + ``os.replace``. No single-writer bottleneck: the parallel unit is
    the file. Returns the aggregated files/bytes/rows/messages/
    skipped_slices counts."""
    import pandas as pd
    from pyspark.sql import functions as F

    row = df.agg(*[F.collect_set(d).alias(d) for d in spatial]).collect()[0]
    axes = {d: np.sort(np.asarray(row[d] or [], dtype="float64")) for d in spatial}
    encode = encoder_for(axes)

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = str(pdf["__bucket"].iloc[0])
        tvals = np.sort(pd.DatetimeIndex(pdf[time_dim].unique()).values)
        vals = pdf[var].to_numpy()
        dtype = vals.dtype if vals.dtype.kind == "f" else np.dtype("float64")
        grid = np.full((len(tvals), *(len(axes[d]) for d in spatial)), np.nan, dtype=dtype)
        ti = np.searchsorted(tvals, pd.DatetimeIndex(pdf[time_dim]).values)
        sidx = [np.searchsorted(axes[d], pdf[d].to_numpy()) for d in spatial]
        grid[(ti, *sidx)] = vals.astype(dtype, copy=False)
        blob, messages, skipped = encode(tvals, grid)
        if blob is not None:
            fn = os.path.join(path, f"{bucket}.{ext}")
            tmp = f"{fn}.tmp.{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(blob)
            os.replace(tmp, fn)
        return pd.DataFrame(
            {"bucket": [bucket], "nbytes": [len(blob or b"")], "rows": [len(pdf)],
             "messages": [messages], "skipped": [skipped]}
        )

    stats = (
        df.withColumn("__bucket", F.date_format(F.col(time_dim), bucket_fmt))
        .groupBy("__bucket")
        .applyInPandas(
            emit,
            schema="bucket string, nbytes long, rows long, messages long, skipped long",
        )
        .agg(
            F.coalesce(F.sum((F.col("nbytes") > 0).cast("long")), F.lit(0)).alias("files"),
            F.coalesce(F.sum("nbytes"), F.lit(0)).alias("bytes"),
            F.coalesce(F.sum("rows"), F.lit(0)).alias("rows"),
            F.coalesce(F.sum("messages"), F.lit(0)).alias("messages"),
            F.coalesce(F.sum("skipped"), F.lit(0)).alias("skipped_slices"),
        )
        .collect()[0]
    )
    return {k: int(stats[k]) for k in stats.asDict()}
