"""Tests for scale utilities (salting, bucketed joins, Z-order) and the
continuous-aggregate rollup store."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import _tall, daily
from zarr_climate_etl_ipfs_spark.operators import scale
from zarr_climate_etl_ipfs_spark.operators.rollup import RollupStore
from zarr_climate_etl_ipfs_spark.sources.store import GridStore


# -- salting -----------------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    left = spark.range(0, 2000).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame([(k, f"name{k}") for k in range(5)], "k long, name string")
    plain = left.join(right, "k").groupBy("name").count()
    salted = scale.salted_join(left, right, "k").groupBy("name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (9, "orphan")], "k long, v string")
    right = spark.createDataFrame([(1, "n1"), (2, "n2")], "k long, name string")
    out = scale.salted_join(left, right, "k", how="left").collect()
    assert len(out) == 3  # orphan survives exactly once, not salt× times
    assert sum(1 for r in out if r["name"] is None) == 1


def test_salted_join_rejects_outer_joins(spark):
    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(1, "n1")], "k long, name string")
    for how in ("right", "full", "outer", "left_semi"):
        with pytest.raises(ValueError, match="inner/left"):
            scale.salted_join(left, right, "k", how=how)


def test_two_phase_count_matches(spark):
    df = spark.range(0, 5000).select((F.col("id") % 3).alias("k"))
    got = {r["k"]: r["n"] for r in scale.two_phase_count(df, "k").collect()}
    exp = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == exp


# -- bucketed join -----------------------------------------------------------


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
        b = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
        scale.write_bucketed(a, "bt_a", "k", n_buckets=4, path=str(tmp_path / "bt_a"))
        scale.write_bucketed(b, "bt_b", "k", n_buckets=4, path=str(tmp_path / "bt_b"))
        joined = scale.bucketed_join(spark, "bt_a", "bt_b", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: no shuffle on either side
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


# -- z-order -----------------------------------------------------------------


def test_zorder_locality():
    """Nearby points share high z-bits; distant points don't."""
    import pandas as pd

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    pts = [(10.0, 20.0), (10.1, 20.1), (-60.0, 150.0)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["lat", "lon"]))
    z = [
        r["z"]
        for r in df.select(scale.zorder_index("lat", "lon", bits=16).alias("z")).collect()
    ]
    near = abs(z[0] - z[1])
    far = abs(z[0] - z[2])
    assert near < far
    # deterministic + within 2*bits range
    assert all(0 <= v < (1 << 32) for v in z)


def test_zorder_prunes_nonleading_dimension(spark, tmp_path):
    """The Z-order payoff: a predicate on the *non-leading* dimension.
    Lat-sorted strips each span all longitudes, so a lon-only filter prunes
    zero files; z-ordered tiles bound both coordinates, so most files'
    (min,max) lon ranges miss the band."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(0)
    pdf = pd.DataFrame(
        {"lat": rng.uniform(-90, 90, 40000), "lon": rng.uniform(-180, 180, 40000)}
    )
    df = spark.createDataFrame(pdf)
    zdf = df.withColumn("z", scale.zorder_index("lat", "lon")).repartitionByRange(64, "z")
    ldf = df.repartitionByRange(64, "lat")

    def files_touched_by_lon_band(frame, lo=-10.0, hi=10.0):
        boxes = (
            frame.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(F.min("lon").alias("lon_min"), F.max("lon").alias("lon_max"))
            .collect()
        )
        return sum(1 for b in boxes if b["lon_max"] >= lo and b["lon_min"] <= hi), len(boxes)

    z_hit, z_total = files_touched_by_lon_band(zdf)
    l_hit, l_total = files_touched_by_lon_band(ldf)
    assert l_hit == l_total  # strips: zero pruning on lon
    assert z_hit < z_total / 2  # tiles: most files pruned


# -- continuous aggregate rollup ---------------------------------------------


@pytest.fixture
def rollup_store(tmp_path, desc, spark, initial_df):
    s = GridStore(tmp_path, desc, spark)
    s.write_initial(initial_df)
    r = RollupStore(s, grain="month")
    r.refresh_full()
    yield s, r
    s.destroy()


def test_rollup_full_matches_direct_aggregation(rollup_store, spark):
    store, rollup = rollup_store
    agg = rollup.dataset()
    # 2021-09..2022-01 = 5 months × 16 cells
    assert agg.count() == 5 * 16
    direct = (
        store.dataset()
        .filter(F.date_format("time", "yyyy-MM") == "2021-10")
        .filter((F.col("latitude") == 10.0) & (F.col("longitude") == 100.0))
        .agg(F.round(F.avg("data"), 6).alias("m"), F.count("*").alias("n"))
        .first()
    )
    row = agg.filter(
        (F.col("bucket") == "2021-10")
        & (F.col("latitude") == 10.0)
        & (F.col("longitude") == 100.0)
    ).first()
    assert row["n"] == direct["n"] == 31
    assert row["mean"] == direct["m"]


def test_rollup_incremental_refresh(rollup_store, spark, desc):
    store, rollup = rollup_store
    before = {
        (r["bucket"], r["latitude"], r["longitude"]): r["mean"]
        for r in rollup.dataset().collect()
    }
    # overwrite one October day with constant 100s
    t = dt.datetime(2021, 10, 15)
    pdf = _tall([t], seed=50)
    pdf["data"] = 100.0
    pdf["data"] = pdf["data"].astype("float32")
    store.update(spark.createDataFrame(pdf, schema=desc.schema()))
    n = rollup.refresh_incremental([t])
    assert n == 1  # only 2021-10 recomputed
    after = {
        (r["bucket"], r["latitude"], r["longitude"]): r["mean"]
        for r in rollup.dataset().collect()
    }
    key_oct = ("2021-10", 10.0, 100.0)
    key_nov = ("2021-11", 10.0, 100.0)
    assert after[key_oct] != before[key_oct]  # October mean moved
    assert after[key_nov] == before[key_nov]  # November untouched
    # refreshed mean equals direct recomputation
    direct = (
        store.dataset()
        .filter(F.date_format("time", "yyyy-MM") == "2021-10")
        .filter((F.col("latitude") == 10.0) & (F.col("longitude") == 100.0))
        .agg(F.round(F.avg("data"), 6).alias("m"))
        .first()["m"]
    )
    assert after[key_oct] == direct


@pytest.mark.parametrize("grain", ["day", "month", "year"])
def test_rollup_incremental_reads_only_touched_buckets(tmp_path, spark, desc, initial_df, monkeypatch, grain):
    """An incremental refresh reads only the store files whose bucket
    overlaps a touched rollup bucket, at a finer, equal and coarser rollup
    grain than the store's month buckets, and ends equal to a full
    refresh."""
    store = GridStore(tmp_path, desc, spark)
    store.write_initial(initial_df)
    rollup = RollupStore(store, grain=grain)
    rollup.refresh_full()
    t = dt.datetime(2021, 10, 15)
    pdf = _tall([t], seed=51)
    store.update(spark.createDataFrame(pdf, schema=desc.schema()))
    read: list[list[str]] = []
    real_read = GridStore._read

    def spy(self, files):
        read.append(list(files))
        return real_read(self, files)

    monkeypatch.setattr(GridStore, "_read", spy)
    assert rollup.refresh_incremental([t]) == 1
    monkeypatch.undo()
    want = {"day": {"2021-10"}, "month": {"2021-10"}, "year": {"2021-09", "2021-10", "2021-11", "2021-12"}}
    assert len(read) == 1
    assert {f.split("/", 1)[0].split("=", 1)[1] for f in read[0]} == want[grain]
    incremental = sorted(map(tuple, rollup.dataset().collect()))
    rollup.refresh_full()
    assert incremental == sorted(map(tuple, rollup.dataset().collect()))
    store.destroy()
