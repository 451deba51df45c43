"""The user reads of etl_daily: a fixed query mix on the store just updated.

After each pass of daily updates, a user reads the published store, which is
uncompacted, so its buckets hold more than one file:

* selective reads: a point time series, a bbox x week ``time_sliced`` read, a
  ``dataset(version=1)`` point read and the change feed of the latest
  append-only update (``diff`` between its version and the one before it);
* scans: ``climatology``, ``anomaly``, ``rolling_time_agg(7)``, ``coarsen``
  and ``resample_time("month")`` over the whole store.

Every result is checked against pandas over the generator's grid as of the
batches applied so far. No Python workers run in these queries, so manifest
and row-group pruning, shuffles and windows set their time, and a change to
ingest or the update path should not move them.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.operators import climate

import grid
from common import median, span_median

TOL = grid.GRIB_TOLERANCE


def long_frame(corpus, e: np.ndarray) -> pd.DataFrame:
    """Every cell of the grid ``e`` as one row, with the keys the queries
    group by."""
    nd = e.shape[0]
    day, j, i = np.meshgrid(np.arange(nd), np.arange(corpus.ny), np.arange(corpus.nx), indexing="ij")
    month = np.array([(grid.START + dt.timedelta(days=int(d))).month for d in range(nd)])
    return pd.DataFrame(
        {
            "day": day.ravel(),
            "j": j.ravel(),
            "i": i.ravel(),
            "month": month[day.ravel()],
            "blat": np.floor(corpus.lats[j.ravel()]).astype(np.float64),
            "blon": np.floor(corpus.lons[i.ravel()]).astype(np.float64),
            "v": e.ravel(),
        }
    )


def frames_close(got: pd.DataFrame, want: pd.DataFrame, keys, cols, tol) -> bool:
    """Same keys, and each value column within a relative-or-absolute
    ``tol`` (NaN equal only to NaN)."""
    if len(got) != len(want):
        return False
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    if not all(np.array_equal(g[k].to_numpy(np.float64), w[k].to_numpy(np.float64)) for k in keys):
        return False
    for c in cols:
        a = g[c].to_numpy(np.float64, na_value=np.nan)
        b = w[c].to_numpy(np.float64, na_value=np.nan)
        if not grid.close(a, b, tol * np.maximum(1.0, np.abs(np.nan_to_num(b)))):
            return False
    return True


class Queries:
    """The fixed query mix, and the pandas answers its results must match.

    ``applied`` is the list of batches the store holds, in order; the
    expected grid follows it."""

    MIX = (
        "point_series",
        "climatology",
        "bbox_week",
        "anomaly",
        "version1_point",
        "rolling",
        "diff_latest",
        "coarsen",
        "resample",
    )

    def __init__(self, ctx, corpus, store, applied: list, seed: int):
        self.ctx, self.corpus, self.store, self.applied = ctx, corpus, store, applied
        rng = np.random.default_rng(seed)
        self.j0, self.i0 = int(rng.integers(0, corpus.ny)), int(rng.integers(0, corpus.nx))
        self.lat0, self.lon0 = float(corpus.lats[self.j0]), float(corpus.lons[self.i0])
        self.day0 = int(rng.integers(0, corpus.history_days - 7))
        self.box = (int(rng.integers(0, corpus.ny - 8)), int(rng.integers(0, corpus.nx - 8)))
        self._n = -1

    def ops(self) -> list:
        return [("light", name, getattr(self, name), getattr(self, f"check_{name}"), None) for name in self.MIX]

    # -- the expected grid, as of the batches applied ----------------------

    def _refresh(self) -> None:
        n = len(self.applied)
        if n != self._n:
            self._n = n
            self._E = self.corpus.expected(n)
            self._L = long_frame(self.corpus, self._E)
            self._want: dict = {}

    @property
    def E(self) -> np.ndarray:
        self._refresh()
        return self._E

    @property
    def L(self) -> pd.DataFrame:
        self._refresh()
        return self._L

    def want(self, name: str, fn):
        self._refresh()
        if name not in self._want:
            self._want[name] = fn()
        return self._want[name]

    # -- helpers ---------------------------------------------------------

    def dataset(self, version=None):
        with self.ctx.tracer.span("store.open"):
            return self.store.dataset(version=version)

    def cell_ij(self, pdf) -> pd.DataFrame:
        c = self.corpus
        pdf = pdf.copy()
        pdf["j"] = np.rint((float(c.lats[0]) - pdf["latitude"].astype(float)) / 0.25).astype(int)
        pdf["i"] = np.rint((pdf["longitude"].astype(float) - float(c.lons[0])) / 0.25).astype(int)
        return pdf

    def read(self, df) -> pd.DataFrame:
        """Deliver a selective read to the driver, recording its row count."""
        with self.ctx.tracer.span("store.read") as sp:
            pdf = df.toPandas()
        if sp is not None:
            sp.counters["rows_out"] = len(pdf)
        return pdf

    def at_point(self, df):
        return df.filter(
            (F.col("latitude") == F.lit(self.lat0).cast("float"))
            & (F.col("longitude") == F.lit(self.lon0).cast("float"))
        )

    # -- selective reads --------------------------------------------------

    def point_series(self):
        ds = self.dataset()
        return self.read(self.at_point(ds).select("time", "latitude", "longitude", "precip"))

    def check_point_series(self, pdf) -> bool:
        e = self.E[:, self.j0 : self.j0 + 1, self.i0 : self.i0 + 1]
        return grid.grid_matches(pdf, self.corpus, e, TOL, origin=(0, self.j0, self.i0))

    def bbox_week(self):
        c, (bj, bi) = self.corpus, self.box
        t0 = grid.START + dt.timedelta(days=self.day0)
        lat_hi, lat_lo = float(c.lats[bj]), float(c.lats[bj + 7])
        lon_lo, lon_hi = float(c.lons[bi]), float(c.lons[bi + 7])
        with self.ctx.tracer.span("store.open"):
            df = self.store.time_sliced(t0, t0 + dt.timedelta(days=6))
        return self.read(
            df.filter(F.col("latitude").between(lat_lo, lat_hi) & F.col("longitude").between(lon_lo, lon_hi))
        )

    def check_bbox_week(self, pdf) -> bool:
        (bj, bi), d0 = self.box, self.day0
        e = self.E[d0 : d0 + 7, bj : bj + 8, bi : bi + 8]
        return grid.grid_matches(pdf, self.corpus, e, TOL, origin=(d0, bj, bi))

    def version1_point(self):
        ds = self.dataset(version=1)
        t = grid.START + dt.timedelta(days=self.day0)
        return self.read(self.at_point(ds).filter(F.col("time") == F.lit(t)))

    def check_version1_point(self, pdf) -> bool:
        e = self.corpus.history[self.day0 : self.day0 + 1, self.j0 : self.j0 + 1, self.i0 : self.i0 + 1]
        return grid.grid_matches(pdf, self.corpus, e, TOL, origin=(self.day0, self.j0, self.i0))

    def last_append(self) -> int:
        """Index of the latest append-only batch applied; batch ``a`` made
        version ``a + 2`` (version 1 is the publish)."""
        return max(a for a, b in enumerate(self.applied) if not b.mixed)

    def diff_latest(self):
        """The change feed of the latest append-only update: one new day."""
        a = self.last_append()
        with self.ctx.tracer.span("store.open"):
            df = self.store.diff(a + 1, a + 2)
        return self.read(df)

    def check_diff_latest(self, pdf) -> bool:
        b = self.applied[self.last_append()]
        if not (pdf["change"] == "added").all():
            return False
        got = pdf.rename(columns={"new_value": "precip"})
        return grid.grid_matches(got, self.corpus, b.values, TOL, origin=(b.days[0], 0, 0))

    # -- scans ------------------------------------------------------------

    def climatology(self):
        ds = self.dataset()
        with self.ctx.tracer.span("climate.climatology"):
            return climate.climatology(ds, "precip", freq="month").toPandas()

    def check_climatology(self, pdf) -> bool:
        def want():
            w = self.L.groupby(["j", "i", "month"]).v.agg(["count", "mean"]).reset_index()
            return w.rename(columns={"count": "n"})

        got = self.cell_ij(pdf).rename(columns={"period": "month", "clim_mean": "mean"})
        return frames_close(got, self.want("climatology", want), ["j", "i", "month"], ["n", "mean"], TOL)

    def anomaly(self):
        ds = self.dataset()
        with self.ctx.tracer.span("climate.anomaly"):
            row = (
                climate.anomaly(ds, "precip", freq="month")
                .agg(F.sum(F.col("anomaly") ** 2).alias("ss"), F.count("anomaly").alias("n"))
                .first()
            )
        return row["ss"], row["n"]

    def check_anomaly(self, out) -> bool:
        def want():
            a = self.L.v - self.L.groupby(["j", "i", "month"]).v.transform("mean")
            return float((a**2).sum()), int(a.count())

        (ss, n), (want_ss, want_n) = out, self.want("anomaly", want)
        return n == want_n and abs(ss - want_ss) <= 1e-3 * max(1.0, abs(want_ss))

    def rolling(self):
        ds = self.dataset()
        with self.ctx.tracer.span("climate.rolling"):
            row = (
                climate.rolling_time_agg(ds, "precip", days=7)
                .agg(F.sum("rolling_mean_7d").alias("s"), F.count("rolling_mean_7d").alias("n"))
                .first()
            )
        return row["s"], row["n"]

    def check_rolling(self, out) -> bool:
        def want():
            r = self.L.sort_values(["j", "i", "day"]).groupby(["j", "i"]).v.rolling(7, min_periods=1).mean()
            return float(r.sum()), int(r.count())

        (s, n), (want_s, want_n) = out, self.want("rolling", want)
        return n == want_n and abs(s - want_s) <= 1e-3 * max(1.0, abs(want_s))

    def coarsen(self):
        ds = self.dataset()
        with self.ctx.tracer.span("climate.coarsen"):
            return climate.coarsen(ds, "precip", 1.0, 1.0).toPandas()

    def check_coarsen(self, pdf) -> bool:
        def want():
            g = self.L.groupby(["day", "blat", "blon"]).v
            return pd.DataFrame({"s": g.sum(min_count=1), "n_cells": g.size()}).reset_index()

        got = pdf.copy()
        got["day"] = (got["time"] - pd.Timestamp(grid.START)) // pd.Timedelta(days=1)
        got = got.rename(columns={"latitude": "blat", "longitude": "blon", "precip_sum": "s"})
        return frames_close(got, self.want("coarsen", want), ["day", "blat", "blon"], ["s", "n_cells"], TOL * 16)

    def resample(self):
        ds = self.dataset()
        with self.ctx.tracer.span("climate.resample"):
            return climate.resample_time(ds, "precip", "month").toPandas()

    def check_resample(self, pdf) -> bool:
        def want():
            w = self.L.groupby(["month", "j", "i"]).v.agg(["mean", "max", "count"]).reset_index()
            return w.rename(columns={"count": "n"})

        got = self.cell_ij(pdf)
        got["month"] = got["period"].str.slice(5, 7).astype(int)
        got = got.rename(columns={"precip_mean": "mean", "precip_max": "max"})
        return frames_close(got, self.want("resample", want), ["month", "j", "i"], ["mean", "max", "n"], TOL)


def layers(tr, live: int, L: dict) -> None:
    """Read-side per-layer metrics of a traced run; ``live`` is the number
    of live files in the store the queries read."""
    L["store.open_s"] = (span_median(tr, "store.open"), "s")
    ratios, scanned, per_row = [], [], []
    for op in tr.named("op"):
        reads = [s for s in tr.subtree(op) if s.name == "store.read"]
        if not reads:
            continue
        ratios.append(tr.counter(reads, "files_read") / live)
        scanned.append(tr.counter(reads, "bytes_read"))
        rows_out = max(1.0, tr.counter(reads, "rows_out"))
        per_row.append(tr.counter(reads, "rows_scanned") / rows_out)
    L["store.files_read_ratio"] = (median(ratios), "ratio")
    L["store.bytes_scanned"] = (median(scanned), "B")
    L["store.rows_scanned_per_row_returned"] = (median(per_row), "ratio")
    for name in ("climatology", "anomaly", "rolling", "coarsen", "resample"):
        L[f"climate.{name}_s"] = (span_median(tr, f"climate.{name}"), "s")
