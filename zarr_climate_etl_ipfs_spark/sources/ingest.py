"""Ingest canonicalization — raw rows → the canonical tall table.

Replaces the reference's transform stage (SURVEY.md §3.2): rename the data
variable (metadata.py:621-644), standardize longitudes (convenience.py:516-534),
mask the missing-value sentinel (chirps.py:118-122), decode CF time
(transform.py:570-596), enforce the declared schema/dtype
(publish.py:526-532), and order columns to the standard dim order
(transform.py:656 transpose ≈ select order in the tall model).

The file-format readers (NetCDF/GRIB via kerchunk, S7-S10) are replaced by
:func:`read_binary_gridded`: Spark's ``binaryFile`` source + an
``mapInPandas`` decode hook. Classic NetCDF3 decodes for real via the pure
numpy reader in :mod:`~zarr_climate_etl_ipfs_spark.sources.netcdf3`
(``netcdf3_decoder(desc)``); NetCDF4/HDF5 and GRIB decoders need
xarray/cfgrib (absent in this container) and stay injectable.
"""

from __future__ import annotations

import contextlib
import functools
from collections.abc import Callable, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
from zarr_climate_etl_ipfs_spark.functions.scalars import (
    cf_decode_time,
    mask_sentinel,
    normalize_longitude,
)


def canonicalize(
    df: DataFrame,
    desc: DatasetDescriptor,
    source_var: str | None = None,
    cf_epoch: str | None = None,
    cf_unit_seconds: int = 86400,
    standardize_lon: bool = True,
) -> DataFrame:
    """Normalize an arbitrary-but-compatible DataFrame to the canonical schema.

    Steps (each a no-op when already canonical):
      1. P7 rename: ``source_var`` → ``desc.data_var`` (tolerates existing name,
         metadata.py:633-641);
      2. F2 CF time decode when ``cf_epoch`` given and the time column is numeric;
      3. F1 longitude remap to [-180, 180);
      4. F6 sentinel → NULL;
      5. Q3 dtype enforcement: value cast to float32, dims to declared types;
      6. P5/P6 projection to exactly the declared columns in dim order.
    """
    var = desc.data_var
    if source_var and source_var != var and source_var in df.columns:
        df = df.withColumnRenamed(source_var, var)
    if var not in df.columns:
        raise ValueError(f"data var {var!r} not found in {df.columns}")

    td = desc.time_dim
    if cf_epoch is not None and dict(df.dtypes).get(td) not in ("timestamp", "timestamp_ntz"):
        df = df.withColumn(td, cf_decode_time(F.col(td), cf_epoch, cf_unit_seconds))
    if standardize_lon and "longitude" in df.columns:
        df = df.withColumn("longitude", normalize_longitude("longitude"))
    if desc.missing_value is not None:
        df = df.withColumn(var, mask_sentinel(F.col(var), desc.missing_value))

    schema = desc.schema()
    cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    return df.select(*cols)


#: decoder contract: (path, content) -> iterable of dict rows, or a whole
#: pandas DataFrame (the vectorized fast path — no per-cell Python loop)
Decoder = Callable[[str, bytes], "Iterator[dict[str, Any]] | pd.DataFrame"]


def tall_frame(desc: DatasetDescriptor, times, lats, lons, values, **const) -> pd.DataFrame:
    """The decoders' (time, lat, lon) grid → tall rows: repeat/tile the
    coordinate axes in C order so no per-cell Python loop runs in the hot
    ingest path. ``const`` adds constant dim columns (GRIB2's ``step`` /
    ``ensemble``) after the time column, keeping each value's dtype."""
    nt, ny, nx = len(times), len(lats), len(lons)
    cols = {desc.time_dim: np.repeat(times, ny * nx)}
    for name, v in const.items():
        cols[name] = np.full(nt * ny * nx, v)
    cols["latitude"] = np.tile(np.repeat(lats, nx), nt)
    cols["longitude"] = np.tile(lons, nt * ny)
    cols[desc.data_var] = values.reshape(-1)
    return pd.DataFrame(cols)


def default_decoder(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    """Classic NetCDF3 (sources/netcdf3.py), NetCDF4/HDF5 (sources/hdf5.py),
    GRIB1 (sources/grib1.py) and GRIB2 simple packing (sources/grib2.py)
    decode natively — pure numpy, no xarray/h5py/cfgrib; each decoder needs
    the descriptor, so build them via ``netcdf3_decoder(desc)`` /
    ``netcdf4_decoder(desc)`` / ``grib1_decoder(desc)`` /
    ``grib2_decoder(desc)``. GRIB2 complex/JPEG packing still needs an
    injected cfgrib decoder."""
    from zarr_climate_etl_ipfs_spark.sources.netcdf3 import NetCDF3Error

    if content[:3] == b"CDF":
        raise NetCDF3Error(
            "NetCDF3 bytes: build the decoder with netcdf3_decoder(desc) — it "
            "needs the descriptor to name the data variable"
        )
    if content[:8] == b"\x89HDF\r\n\x1a\n":
        raise NotImplementedError(
            "NetCDF4/HDF5 bytes: build the decoder with netcdf4_decoder(desc)"
        )
    if content[:4] == b"GRIB":
        edition = content[7] if len(content) > 7 else 0
        raise NotImplementedError(
            f"GRIB edition {edition} bytes: build the decoder with "
            "grib1_decoder(desc) or grib2_decoder(desc)"
        )
    raise NotImplementedError(
        "binary gridded decode needs a format decoder; pass decoder="
    )


def read_binary_gridded(
    spark: SparkSession,
    path_glob: str,
    desc: DatasetDescriptor,
    decoder: Decoder = default_decoder,
    file_filters: "Sequence[str] | None" = None,
    extensions: "Sequence[str] | None" = None,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """S7/S8 replacement: distributed ingest of binary gridded files.

    ``binaryFile`` rows (one per file) are decoded executor-side by an
    Arrow-batched ``mapInPandas`` — each file's cells become tall rows. File
    parallelism is the partitioning unit, matching the reference's
    file-at-a-time kerchunk scan (transform.py:113-178) but distributed.

    ``file_filters`` / ``extensions`` are P8's file-subset predicates
    (reference utils/transform.py:74-86) applied to the *path column before
    content is decoded* — with ``pathGlobFilter``-style pruning this keeps
    unwanted files from ever being read into executor memory. Substring
    membership and extension whitelist semantics match
    ``sources/listing.py`` (the driver-side listing analog).

    ``checkpoint_dir`` is S22's restartability analog (the reference caches
    per-file kerchunk refs locally, utils/transform.py:275-315, so a failed
    giant ingest resumes instead of rescanning): decoded canonical rows are
    written to parquet partitioned by a per-source-file key, and a manifest
    records which input files are complete. A re-run decodes ONLY files
    missing from the manifest — partially-written partitions from a killed
    run are safely rewritten via dynamic partition overwrite (a partition
    is either untouched or fully replaced, never appended) — and returns
    the checkpointed rows for the full input set. Without it the decode is
    purely lazy/in-flight as before. (Columns and types match
    ``desc.schema()`` exactly; nullability is relaxed by the parquet round
    trip, which ``canonicalize`` re-normalizes downstream.)

    Without a checkpoint the returned frame is lazy: every Spark action over
    it (or over a frame derived from it) runs the decoder again, unless a
    consumer materializes the frame. Three consumers do, each for the length
    of one call (:func:`_evaluated_once`): ``GridStore.update``,
    ``GridStore.insert`` and ``qc.post_parse_quality_check``.
    """
    schema = desc.schema()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = schema.fieldNames()
        for pdf in batches:
            for _, row in pdf.iterrows():
                out = decoder(row["path"], row["content"])
                if isinstance(out, pd.DataFrame):
                    if len(out):
                        yield out[cols]
                else:
                    rows = list(out)
                    if rows:
                        yield pd.DataFrame(rows, columns=cols)

    binary = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    if extensions:
        exts = [e if e.startswith(".") else f".{e}" for e in extensions]
        binary = binary.filter(
            functools.reduce(
                lambda a, b: a | b, [F.col("path").endswith(e) for e in exts]
            )
        )
    if file_filters:
        binary = binary.filter(
            functools.reduce(
                lambda a, b: a | b,
                [F.col("path").contains(s) for s in file_filters],
            )
        )
    if checkpoint_dir is None:
        return binary.mapInPandas(decode, schema=schema)
    return _checkpointed_decode(spark, binary, decode, schema, checkpoint_dir)


@contextlib.contextmanager
def _evaluated_once(df: DataFrame) -> Iterator[None]:
    """Persist a caller's frame for the length of one library call, so the
    several Spark actions the call runs over ``df`` (and frames derived
    from it) read one evaluation instead of re-running its source — for
    :func:`read_binary_gridded`, the Python decoder — once per action. The
    actions therefore also see the same rows, even from a source that
    changes between them. A frame the caller already cached is left as it
    is; otherwise the cache is released when the call returns or raises.
    A cache block lost mid-call (executor loss) is recomputed by Spark.
    """
    if df.is_cached:
        yield
        return
    df.persist()
    try:
        yield
    finally:
        df.unpersist()


def _checkpointed_decode(
    spark: SparkSession, binary: DataFrame, decode, schema, checkpoint_dir: str
) -> DataFrame:
    """Decode-with-resume: see ``read_binary_gridded(checkpoint_dir=...)``.

    Layout: ``<dir>/rows/_src=<md5(path)>/*.parquet`` + ``<dir>/_completed.json``
    (the manifest, written only after the decode job commits and replaced
    atomically — a kill between job and manifest write just re-decodes
    those files into the same partitions, which dynamic overwrite replaces
    wholesale)."""
    import json
    import os
    from pathlib import Path

    ckpt = Path(checkpoint_dir)
    ckpt.mkdir(parents=True, exist_ok=True)
    rows_dir = ckpt / "rows"
    manifest = ckpt / "_completed.json"
    done: set[str] = set(json.loads(manifest.read_text())) if manifest.exists() else set()

    # file listing only — the reference's restart loop walks the same list
    all_paths = sorted(r["path"] for r in binary.select("path").collect())
    todo = [p for p in all_paths if p not in done]
    if todo:
        todo_df = binary.filter(F.col("path").isin(todo))
        # keep the source path (as its md5 key) through the decode so rows
        # route to their per-file partition
        decoded = todo_df.mapInPandas(
            lambda it: _with_src(it, decode), schema=_schema_with_src(schema)
        )
        # dynamic overwrite per write: the session conf stays untouched, so
        # no other writer on the session runs in dynamic mode meanwhile
        decoded.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_src").parquet(str(rows_dir))
        done.update(todo)
        # tmp + rename: a kill mid-write leaves the previous manifest whole
        tmp = ckpt / f"._completed.{os.getpid()}.json.tmp"
        tmp.write_text(json.dumps(sorted(done)))
        os.replace(tmp, manifest)
    cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    return spark.read.parquet(str(rows_dir)).select(*cols)


def _schema_with_src(schema):
    from pyspark.sql import types as T

    return T.StructType(list(schema.fields) + [T.StructField("_src", T.StringType(), False)])


def _with_src(batches: Iterator[pd.DataFrame], decode) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        for i in range(len(pdf)):
            one = pdf.iloc[[i]]
            src = hashlib.md5(one["path"].iloc[0].encode()).hexdigest()
            for out in decode(iter([one])):
                out = out.copy()
                out["_src"] = src
                yield out
