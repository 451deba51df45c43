"""Seeded provider corpus for the etl_daily workload.

A CHIRPS-like daily precipitation feed: a history of classic NetCDF3 files
(one per calendar month, CF ``days since`` time, 0-360 longitudes, a -9999
sentinel on ~1% of cells) followed by a sequence of daily GRIB2 batches. Each
batch carries the next day; every ``mixed_every``-th batch (the second, the
fourth, ... for ``mixed_every=2``) also re-issues the previous 2-3 days with
revised values (prelim -> final), which makes ``GridStore.update`` take its
mixed insert+append path.

The generator also keeps the values it wrote (``GridCorpus.expected``), so
the benchmark can check the program's output without the program's own
decoders.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
from zarr_climate_etl_ipfs_spark.sources.grib2 import GRIB2Message, write_grib2
from zarr_climate_etl_ipfs_spark.sources.netcdf3 import write_netcdf3

SENTINEL = -9999.0
CF_EPOCH = dt.datetime(1980, 1, 1)
START = dt.datetime(2020, 1, 1)
#: GRIB2 simple packing at decimal scale 2: values are hundredths and the
#: 16-bit range covers them, so a decoded cell is within half a hundredth
#: (plus float32 rounding) of the generator's value.
DECIMAL_SCALE = 2
GRIB_TOLERANCE = 0.5 * 10.0**-DECIMAL_SCALE + 1e-4


def descriptor(name: str) -> DatasetDescriptor:
    return DatasetDescriptor(
        dataset_name=name,
        data_var="precip",
        time_resolution="daily",
        dataset_category="observation",
        missing_value=SENTINEL,
        dataset_start_date=START,
        allow_overwrite=True,
        time_bucket="month",
    )


@dataclass
class Batch:
    path: Path
    days: list[int]  # day indices carried by this batch, ascending
    mixed: bool  # re-issues already-published days
    values: np.ndarray  # (len(days), ny, nx) float64


@dataclass
class GridCorpus:
    ny: int
    nx: int
    lats: np.ndarray  # float32, north -> south
    lons360: np.ndarray  # float32, provider 0-360 longitudes
    history_files: list[Path]
    history: np.ndarray  # (history_days, ny, nx) float64, NaN = missing
    batches: list[Batch]
    files: list[Path] = field(default_factory=list)

    @property
    def history_days(self) -> int:
        return self.history.shape[0]

    def expected(self, n_batches: int) -> np.ndarray:
        """The grid a store holds after publishing the history and applying
        the first ``n_batches`` batches: (days, ny, nx), NaN = missing."""
        out = np.full((self.history_days + n_batches, self.ny, self.nx), np.nan)
        out[: self.history_days] = self.history
        for b in self.batches[:n_batches]:
            out[b.days] = b.values
        return out

    @property
    def lons(self) -> np.ndarray:
        """Canonical longitudes in [-180, 180)."""
        return np.where(self.lons360 >= 180, self.lons360 - 360, self.lons360).astype(np.float32)

    def history_cells(self) -> int:
        return self.history.size

    def fingerprint(self) -> dict:
        """sha256 over every file's name and bytes, plus sizes: two runs with
        the same figures used the same inputs."""
        h = hashlib.sha256()
        n_bytes = 0
        for p in sorted(self.files):
            b = p.read_bytes()
            h.update(p.name.encode())
            h.update(b)
            n_bytes += len(b)
        return {
            "sha256": h.hexdigest(),
            "files": len(self.files),
            "cells": int(self.history.size + sum(b.values.size for b in self.batches)),
            "bytes": n_bytes,
        }


def _precip(rng: np.random.Generator, shape) -> np.ndarray:
    """Skewed, rain-like hundredths of a millimetre."""
    return np.round(rng.gamma(2.0, 3.0, size=shape), DECIMAL_SCALE)


def make_grid_corpus(
    out: Path,
    seed: int,
    ny: int,
    nx: int,
    history_days: int,
    n_batches: int,
    mixed_every: int,
) -> GridCorpus:
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    lats = (10.125 + 0.25 * np.arange(ny)[::-1]).astype(np.float32)
    lons360 = (260.125 + 0.25 * np.arange(nx)).astype(np.float32)
    files: list[Path] = []

    # history: one NetCDF3 file per calendar month
    hist = _precip(rng, (history_days, ny, nx))
    stored = hist.astype(np.float32)
    stored[rng.random(stored.shape) < 0.01] = SENTINEL
    history = np.where(stored == SENTINEL, np.nan, stored.astype(np.float64))
    history_files = []
    months: dict[tuple[int, int], list[int]] = {}
    for d in range(history_days):
        t = START + dt.timedelta(days=d)
        months.setdefault((t.year, t.month), []).append(d)
    for (y, m), ds in months.items():
        t_cf = np.array([(START - CF_EPOCH).days + d for d in ds], dtype=np.float64)
        content = write_netcdf3(
            {"time": len(ds), "latitude": ny, "longitude": nx},
            {
                "time": (("time",), t_cf, {"units": "days since 1980-01-01 00:00:00"}),
                "latitude": (("latitude",), lats, {"units": "degrees_north"}),
                "longitude": (("longitude",), lons360, {"units": "degrees_east"}),
                "precipitation": (
                    ("time", "latitude", "longitude"),
                    stored[ds[0] : ds[-1] + 1],
                    {"units": "mm/day", "missing_value": np.float32(SENTINEL)},
                ),
            },
            {"source": "perfbench provider stand-in"},
        )
        p = out / "history" / f"precip_{y:04d}{m:02d}.nc"
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(content)
        history_files.append(p)
    files += history_files

    # daily batches: the next day, plus re-issued provisional days every k-th
    batches = []
    for b in range(n_batches):
        new_day = history_days + b
        days = [new_day]
        mixed = b % mixed_every == mixed_every - 1
        if mixed:
            back = int(rng.integers(2, 4))
            days = list(range(max(0, new_day - back), new_day + 1))
        values = _precip(rng, (len(days), ny, nx))
        msgs = []
        for d, vals in zip(days, values):
            msgs.append(
                GRIB2Message(
                    discipline=0,
                    parameter_category=1,
                    parameter_number=8,
                    level_type=1,
                    level=0,
                    ref_time=START + dt.timedelta(days=d),
                    lats=lats.astype(np.float64),
                    lons=lons360.astype(np.float64),
                    values=vals,
                )
            )
        p = out / "daily" / f"precip_{b:03d}.grib2"
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(write_grib2(msgs, bits_per_value=16, decimal_scale=DECIMAL_SCALE))
        batches.append(Batch(p, days, mixed, values))
        files.append(p)

    return GridCorpus(
        ny=ny,
        nx=nx,
        lats=lats,
        lons360=lons360,
        history_files=history_files,
        history=history,
        batches=batches,
        files=files,
    )


def grid_matches(pdf, corpus: GridCorpus, expected: np.ndarray, tol: float, origin=(0, 0, 0)) -> bool:
    """Does a store read-back (time, latitude, longitude, precip rows) hold
    exactly the cells of ``expected``, each within ``tol``? ``origin`` is the
    (day, lat, lon) index of ``expected[0, 0, 0]`` in the corpus grid."""
    if len(pdf) != expected.size:
        return False
    d = ((pdf["time"].to_numpy("datetime64[us]") - np.datetime64(START, "us")) // np.timedelta64(1, "D")).astype(np.int64)
    j = np.rint((float(corpus.lats[0]) - pdf["latitude"].to_numpy(np.float64)) / 0.25).astype(np.int64)
    i = np.rint((pdf["longitude"].to_numpy(np.float64) - float(corpus.lons[0])) / 0.25).astype(np.int64)
    d, j, i = d - origin[0], j - origin[1], i - origin[2]
    shape = expected.shape
    if (d.min() < 0 or d.max() >= shape[0] or j.min() < 0 or j.max() >= shape[1]
            or i.min() < 0 or i.max() >= shape[2]):
        return False
    flat = (d * shape[1] + j) * shape[2] + i
    if np.unique(flat).size != flat.size:
        return False
    got = np.full(expected.size, np.nan)
    got[flat] = pdf["precip"].to_numpy(np.float64, na_value=np.nan)
    return close(got, expected.reshape(-1), tol)


def close(got: np.ndarray, want: np.ndarray, tol: float) -> bool:
    """Elementwise within ``tol``, with NaN (missing) equal only to NaN."""
    got, want = np.asarray(got, np.float64), np.asarray(want, np.float64)
    if got.shape != want.shape:
        return False
    both_nan = np.isnan(got) & np.isnan(want)
    return bool(np.all(both_nan | (np.abs(got - want) <= tol)))
