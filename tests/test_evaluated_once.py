"""One evaluation per call: ``GridStore.update``/``insert`` and
``post_parse_quality_check`` read a lazily decoded batch
(``read_binary_gridded``) once, however many Spark actions they run over
it, and release it when they return or raise. A frame the caller cached
is left cached."""

from __future__ import annotations

import collections
import datetime as dt
import struct

import pandas as pd
import pytest
from pyspark import StorageLevel

from tests.conftest import LATS, LONS
from zarr_climate_etl_ipfs_spark.operators.qc import QualityCheckError, post_parse_quality_check
from zarr_climate_etl_ipfs_spark.sources.ingest import canonicalize, read_binary_gridded
from zarr_climate_etl_ipfs_spark.sources.store import GridStore, StoreError

#: one day past the last day of the ``initial_df`` fixture
NEXT_DAY = dt.datetime(2022, 2, 1)


def _cell_maker(lats: list[float], lons: list[float]):
    """The rows the test decoder yields for a day: one per grid cell, the
    value a function of the day and the cell. Built in a factory so the
    function pickles by value into the Python workers."""

    def cells(day: dt.datetime) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        lat, lon = np.meshgrid(np.float32(lats), np.float32(lons), indexing="ij")
        lat, lon = lat.ravel(), lon.ravel()
        return pd.DataFrame(
            {
                "time": pd.to_datetime([day] * lat.size),
                "latitude": lat,
                "longitude": lon,
                "data": (day.toordinal() % 1000 + lat / 100 + lon / 1000).astype("float32"),
            }
        )

    return cells


_cells = _cell_maker(LATS, LONS)


def _counting_decoder(log: str, step: bool = False):
    """A decoder that appends one line (the file's name) to ``log`` per
    call. A file holds a day offset from :data:`NEXT_DAY`; with ``step``
    every call also adds the number of earlier calls, so each evaluation of
    the same file yields a later day."""
    cells = _cells

    def decode(path: str, content: bytes) -> pd.DataFrame:
        import datetime as dt
        import os
        import struct

        with open(log, "a+") as f:
            f.seek(0)
            earlier = len(f.read().splitlines())
            f.write(os.path.basename(path) + "\n")
        offset = struct.unpack("<i", content[:4])[0] + (earlier if step else 0)
        return cells(NEXT_DAY + dt.timedelta(days=offset))

    return decode


class Batch:
    """Daily files decoded by :func:`_counting_decoder`, read lazily."""

    def __init__(self, spark, desc, root, offsets, step=False):
        src = root / "batch"
        src.mkdir()
        for k in offsets:
            (src / f"day{k:+d}.bin").write_bytes(struct.pack("<i", k))
        self.log = root / "decoded.log"
        self.log.touch()
        decoder = _counting_decoder(str(self.log), step)
        self.frame = canonicalize(
            read_binary_gridded(spark, str(src / "*.bin"), desc, decoder=decoder), desc
        )

    def decodes(self) -> collections.Counter:
        """Decoder calls per file since the last call, which resets them."""
        seen = collections.Counter(self.log.read_text().split())
        self.log.write_text("")
        return seen


def _uncached(df) -> bool:
    return not df.is_cached and df.storageLevel == StorageLevel.NONE


@pytest.fixture
def store(tmp_path, desc, spark, initial_df):
    s = GridStore(tmp_path / "store", desc, spark)
    s.write_initial(initial_df)
    yield s
    s.destroy()


def test_update_and_post_parse_qc_decode_each_file_once(store, spark, desc, tmp_path):
    batch = Batch(spark, desc, tmp_path, offsets=(0, 1))
    assert store.update(batch.frame) == {"inserts": 0, "appends": 2}
    assert batch.decodes() == {"day+0.bin": 1, "day+1.bin": 1}
    post_parse_quality_check(batch.frame, store.dataset(), desc)
    assert batch.decodes() == {"day+0.bin": 1, "day+1.bin": 1}
    assert _uncached(batch.frame)


def test_update_commits_the_times_it_validated(store, spark, desc, tmp_path):
    """A source that yields a later day on every evaluation: the commit
    holds the day the guards accepted, not the next one (a gap)."""
    batch = Batch(spark, desc, tmp_path, offsets=(0,), step=True)
    assert store.update(batch.frame) == {"inserts": 0, "appends": 1}
    times = {r[0] for r in store.dataset().select("time").distinct().collect()}
    assert max(times) == NEXT_DAY
    assert len(times) == 138 + 1
    assert batch.decodes() == {"day+0.bin": 1}
    store.verify_integrity()


def _always_conflict(monkeypatch):
    real_commit = GridStore._commit

    def conflict(self, *a, **kw):
        kw["base_version"] = 0  # v1 exists: the put-if-absent link loses
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(GridStore, "_commit", conflict)


#: scenario -> (day offsets of the batch, the call, the error it raises)
_CALLS = {
    "update": ((0,), lambda s, df, desc: s.update(df), None),
    "update_rejected": ((5,), lambda s, df, desc: s.update(df), "gap|expected|first append"),
    "update_conflict": ((0,), lambda s, df, desc: s.update(df), "commit conflict"),
    "insert": ((-10,), lambda s, df, desc: s.insert(df), None),
    "qc_pass": (
        (0,),
        lambda s, df, desc: post_parse_quality_check(
            df, df.sparkSession.createDataFrame(_cells(NEXT_DAY), desc.schema()), desc
        ),
        None,
    ),
    "qc_fail": (
        (0,),
        lambda s, df, desc: post_parse_quality_check(df, s.dataset(), desc),
        "post-parse",
    ),
    "qc_time_cap": (
        (0,),
        lambda s, df, desc: post_parse_quality_check(df, s.dataset(), desc, time_cap_s=0),
        None,
    ),
}


@pytest.mark.parametrize("scenario", list(_CALLS))
def test_call_decodes_once_and_releases_the_frame(
    scenario, store, spark, desc, tmp_path, monkeypatch
):
    """Whether the call returns, raises in validation, loses its commit
    race, passes or fails its check or stops at the time cap, it decoded
    the batch once and leaves the caller's frame uncached."""
    offsets, call, error = _CALLS[scenario]
    batch = Batch(spark, desc, tmp_path, offsets)
    if scenario == "update_conflict":
        _always_conflict(monkeypatch)
    if error is None:
        call(store, batch.frame, desc)
    else:
        with pytest.raises((StoreError, QualityCheckError), match=error):
            call(store, batch.frame, desc)
    assert sum(batch.decodes().values()) == 1
    assert _uncached(batch.frame)
    assert store.properties()["update_in_progress"] is False


def test_frame_cached_by_the_caller_stays_cached(store, spark, desc, tmp_path):
    batch = Batch(spark, desc, tmp_path, offsets=(0,))
    batch.frame.cache()
    try:
        store.update(batch.frame)
        post_parse_quality_check(batch.frame, store.dataset(), desc)
        assert batch.frame.is_cached
        assert batch.frame.storageLevel != StorageLevel.NONE
        assert batch.decodes() == {"day+0.bin": 1}
    finally:
        batch.frame.unpersist()
