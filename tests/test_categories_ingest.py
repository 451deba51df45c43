"""Dataset-category coverage (forecast 4-D / hindcast 6-D — FIXTURES.md §4-5)
and the binaryFile ingest path."""

from __future__ import annotations

import datetime as dt
import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
from zarr_climate_etl_ipfs_spark.sources.ingest import read_binary_gridded
from zarr_climate_etl_ipfs_spark.sources.store import GridStore


@pytest.fixture(scope="module")
def forecast_desc():
    return DatasetDescriptor(
        dataset_name="fake_forecast",
        data_var="temp",
        dataset_category="forecast",
        time_resolution="daily",
        allow_overwrite=True,
    )


def _forecast_pdf(start: str, days: int, seed: int = 0) -> pd.DataFrame:
    """FIXTURES.md §4: reference times × steps {2,4,6,8}h × 2×2 grid."""
    rng = np.random.RandomState(seed)
    d0 = dt.datetime.fromisoformat(start)
    rows = []
    for i in range(days):
        for step_h in (2, 4, 6, 8):
            for lat in (10.0, 20.0):
                for lon in (100.0, 110.0):
                    rows.append((d0 + dt.timedelta(days=i), step_h * 3600, lat, lon))
    df = pd.DataFrame(rows, columns=["forecast_reference_time", "step", "latitude", "longitude"])
    df["latitude"] = df["latitude"].astype("float32")
    df["longitude"] = df["longitude"].astype("float32")
    df["temp"] = rng.standard_normal(len(df)).astype("float32")
    return df


def test_forecast_schema_dims(forecast_desc):
    assert forecast_desc.dims == ["forecast_reference_time", "step", "latitude", "longitude"]
    assert forecast_desc.time_dim == "forecast_reference_time"
    names = forecast_desc.schema().fieldNames()
    assert names == ["forecast_reference_time", "step", "latitude", "longitude", "temp"]


def test_forecast_store_roundtrip_and_update(tmp_path, spark, forecast_desc):
    """4-D write/append/insert along forecast_reference_time."""
    init = spark.createDataFrame(_forecast_pdf("2022-01-01", 5, 1), schema=forecast_desc.schema())
    store = GridStore(tmp_path, forecast_desc, spark)
    store.write_initial(init)
    assert store.dataset().count() == 5 * 4 * 4

    upd = spark.createDataFrame(_forecast_pdf("2022-01-05", 3, 2), schema=forecast_desc.schema())
    res = store.update(upd)  # day 5 = insert, days 6-7 = append
    assert res == {"inserts": 1, "appends": 2}
    ds = store.dataset()
    assert ds.count() == 7 * 4 * 4
    # the inserted reference time carries the update's values
    t5 = dt.datetime(2022, 1, 5)
    got = ds.filter(
        (F.col("forecast_reference_time") == t5)
        & (F.col("step") == 2 * 3600)
        & (F.col("latitude") == 10.0)
        & (F.col("longitude") == 100.0)
    ).first()["temp"]
    src = _forecast_pdf("2022-01-05", 3, 2)
    expect = src[
        (src.forecast_reference_time == t5)
        & (src.step == 7200)
        & (src.latitude == 10.0)
        & (src.longitude == 100.0)
    ]["temp"].iloc[0]
    assert got == expect
    store.destroy()


def test_hindcast_six_dim_schema():
    d = DatasetDescriptor(
        dataset_name="fake_hindcast", data_var="v", dataset_category="hindcast"
    )
    assert d.dims == [
        "hindcast_reference_time",
        "step",
        "ensemble",
        "forecast_reference_offset",
        "latitude",
        "longitude",
    ]
    assert d.time_dim == "hindcast_reference_time"


# -- binary ingest (S7/S8 plumbing with a fake decoder) ----------------------


def _fake_nc_bytes(day: int, values: list[float]) -> bytes:
    """A toy 'gridded file': header day + float32 payload for a 2x2 grid."""
    return struct.pack("<i", day) + struct.pack("<4f", *values)


def test_read_binary_gridded(tmp_path, spark):
    # decoder defined in-test: closures serialize by value to executors
    # (a module-level function in tests/ is not importable worker-side)
    def fake_decoder(path: str, content: bytes):
        import datetime as dt
        import struct

        import numpy as np

        day = struct.unpack("<i", content[:4])[0]
        vals = struct.unpack("<4f", content[4:20])
        base = dt.datetime(2003, 1, 1) + dt.timedelta(days=day)
        i = 0
        for lat in (10.0, 20.0):
            for lon in (100.0, 110.0):
                yield {
                    "time": base,
                    "latitude": np.float32(lat),
                    "longitude": np.float32(lon),
                    "precip": np.float32(vals[i]),
                }
                i += 1

    desc = DatasetDescriptor(dataset_name="bin_obs", data_var="precip")
    for day in range(3):
        (tmp_path / f"file_{day}.bin").write_bytes(
            _fake_nc_bytes(day, [day + 0.1, day + 0.2, day + 0.3, day + 0.4])
        )
    df = read_binary_gridded(spark, str(tmp_path / "*.bin"), desc, decoder=fake_decoder)
    assert df.count() == 12
    assert df.schema == desc.schema()
    row = df.filter(
        (F.col("time") == dt.datetime(2003, 1, 2))
        & (F.col("latitude") == 10.0)
        & (F.col("longitude") == 110.0)
    ).first()
    assert row["precip"] == np.float32(1.2)


def test_read_binary_gridded_checkpoint_resume(tmp_path, spark):
    """S22 restartability analog (reference utils/transform.py:275-315):
    with a checkpoint_dir, already-decoded input files are never re-decoded
    on a re-run — only new (or manifest-missing, i.e. killed-mid-run) files
    pay the decode — and the returned rows always cover the full input."""
    import json

    marker_dir = tmp_path / "decoded_markers"
    marker_dir.mkdir()
    mstr = str(marker_dir)

    def marking_decoder(path: str, content: bytes):
        # side-effect marker proves which files were decoded (local[n]
        # executors share the filesystem with the driver)
        import hashlib
        import pathlib
        import struct

        import numpy as np
        import datetime as dt

        tag = hashlib.md5(path.encode()).hexdigest()
        pathlib.Path(mstr, f"{pathlib.Path(path).name}.{tag}.touch").touch()
        day = struct.unpack("<i", content[:4])[0]
        vals = struct.unpack("<4f", content[4:20])
        base = dt.datetime(2003, 1, 1) + dt.timedelta(days=day)
        i = 0
        for lat in (10.0, 20.0):
            for lon in (100.0, 110.0):
                yield {
                    "time": base,
                    "latitude": np.float32(lat),
                    "longitude": np.float32(lon),
                    "precip": np.float32(vals[i]),
                }
                i += 1

    def decoded_files() -> set:
        return {p.name.split(".")[0] for p in marker_dir.glob("*.touch")}

    desc = DatasetDescriptor(dataset_name="ckpt_obs", data_var="precip")
    src = tmp_path / "in"
    src.mkdir()
    for day in range(2):
        (src / f"file_{day}.bin").write_bytes(
            _fake_nc_bytes(day, [day + 0.1, day + 0.2, day + 0.3, day + 0.4])
        )
    ckpt = tmp_path / "ckpt"

    df = read_binary_gridded(
        spark, str(src / "*.bin"), desc, decoder=marking_decoder,
        checkpoint_dir=str(ckpt),
    )
    assert df.count() == 8
    assert decoded_files() == {"file_0", "file_1"}

    # resume after adding one file: only the new file is decoded
    for p in marker_dir.glob("*.touch"):
        p.unlink()
    (src / "file_2.bin").write_bytes(_fake_nc_bytes(2, [2.1, 2.2, 2.3, 2.4]))
    df2 = read_binary_gridded(
        spark, str(src / "*.bin"), desc, decoder=marking_decoder,
        checkpoint_dir=str(ckpt),
    )
    assert df2.count() == 12
    assert decoded_files() == {"file_2"}
    # columns/types match the declared schema (nullability is relaxed by
    # the parquet round trip; canonicalize re-normalizes downstream)
    assert [(f.name, f.dataType) for f in df2.schema.fields] == [
        (f.name, f.dataType) for f in desc.schema().fields
    ]
    row = df2.filter(
        (F.col("time") == dt.datetime(2003, 1, 3)) & (F.col("latitude") == 10.0)
        & (F.col("longitude") == 110.0)
    ).first()
    assert row["precip"] == np.float32(2.2)

    # kill-mid-run simulation: drop one file from the manifest (its rows
    # partition may be partial) -> re-run re-decodes exactly that file and
    # row counts stay exact (partition replaced, not appended)
    for p in marker_dir.glob("*.touch"):
        p.unlink()
    manifest = ckpt / "_completed.json"
    done = json.loads(manifest.read_text())
    manifest.write_text(json.dumps([p for p in done if "file_1" not in p]))
    df3 = read_binary_gridded(
        spark, str(src / "*.bin"), desc, decoder=marking_decoder,
        checkpoint_dir=str(ckpt),
    )
    assert df3.count() == 12
    assert decoded_files() == {"file_1"}


def test_checkpoint_manifest_survives_interrupted_write(tmp_path, spark, monkeypatch):
    """A kill while ``_completed.json`` is being rewritten leaves the
    previous manifest whole and parseable, so the resume path still starts
    and decodes only what that manifest does not list."""
    import json
    import pathlib

    def decoder(path: str, content: bytes):
        import datetime as dt
        import struct

        import numpy as np

        day = struct.unpack("<i", content[:4])[0]
        vals = struct.unpack("<4f", content[4:20])
        base = dt.datetime(2003, 1, 1) + dt.timedelta(days=day)
        for i, (lat, lon) in enumerate(
            [(10.0, 100.0), (10.0, 110.0), (20.0, 100.0), (20.0, 110.0)]
        ):
            yield {
                "time": base,
                "latitude": np.float32(lat),
                "longitude": np.float32(lon),
                "precip": np.float32(vals[i]),
            }

    desc = DatasetDescriptor(dataset_name="ckpt_kill", data_var="precip")
    src = tmp_path / "in"
    src.mkdir()
    (src / "file_0.bin").write_bytes(_fake_nc_bytes(0, [0.1, 0.2, 0.3, 0.4]))
    ckpt = tmp_path / "ckpt"

    def run():
        return read_binary_gridded(
            spark, str(src / "*.bin"), desc, decoder=decoder, checkpoint_dir=str(ckpt)
        ).count()

    assert run() == 4
    manifest = ckpt / "_completed.json"
    previous = json.loads(manifest.read_text())
    (src / "file_1.bin").write_bytes(_fake_nc_bytes(1, [1.1, 1.2, 1.3, 1.4]))

    real_write_text = pathlib.Path.write_text

    def killed_mid_write(self, data, *args, **kwargs):
        if "_completed" in self.name:
            real_write_text(self, data[: len(data) // 2], *args, **kwargs)
            raise RuntimeError("killed mid-write")
        return real_write_text(self, data, *args, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(pathlib.Path, "write_text", killed_mid_write)
        with pytest.raises(RuntimeError, match="killed"):
            run()
    assert json.loads(manifest.read_text()) == previous
    assert run() == 8  # resumes: file_1 re-decodes into its own partition
    assert len(json.loads(manifest.read_text())) == 2


def test_read_binary_gridded_default_decoder_raises(tmp_path, spark):
    desc = DatasetDescriptor(dataset_name="bin_obs2", data_var="v")
    (tmp_path / "x.bin").write_bytes(b"1234")
    df = read_binary_gridded(spark, str(tmp_path / "*.bin"), desc)
    with pytest.raises(Exception, match="xarray|decoder"):
        df.collect()


def test_ensemble_category_store_roundtrip(tmp_path, spark):
    """5-D ensemble data: members are just one more dim column."""
    desc = DatasetDescriptor(
        dataset_name="fake_ens", data_var="t2m", dataset_category="ensemble"
    )
    assert desc.dims == ["forecast_reference_time", "step", "ensemble", "latitude", "longitude"]
    rows = []
    for d in range(3):
        for member in (0, 1, 2):
            rows.append(
                (
                    dt.datetime(2022, 1, 1) + dt.timedelta(days=d),
                    3600,
                    member,
                    np.float32(10.0),
                    np.float32(100.0),
                    np.float32(d * 10 + member),
                )
            )
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["forecast_reference_time", "step", "ensemble", "latitude", "longitude", "t2m"],
        ),
        schema=desc.schema(),
    )
    store = GridStore(tmp_path, desc, spark)
    store.write_initial(df)
    ds = store.dataset()
    assert ds.count() == 9
    # ensemble-mean reduction (the standard ENS workload)
    m = (
        ds.groupBy("forecast_reference_time")
        .agg(F.avg("t2m").alias("ens_mean"))
        .orderBy("forecast_reference_time")
        .collect()
    )
    assert [r["ens_mean"] for r in m] == [1.0, 11.0, 21.0]
    store.destroy()
