"""Dataset descriptors — the declarative schema system.

Port of the reference's class-attribute schema surface
(gridded_etl_tools/utils/attributes.py:101-326) to a frozen dataclass: the
reference enforces required attributes with a custom ``abstract_class_property``
descriptor raising TypeError (attributes.py:13-29); here the dataclass
constructor plays that role and ``validate()`` adds the semantic checks.

Dimensionality is category-driven exactly as in the reference
(utils/transform.py:707-744, ``set_key_dims``):

  observation : time, latitude, longitude
  forecast    : forecast_reference_time, step, latitude, longitude
  ensemble    : forecast_reference_time, step, ensemble, latitude, longitude
  hindcast    : hindcast_reference_time, step, ensemble,
                forecast_reference_offset, latitude, longitude
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import types as T

CATEGORY_DIMS: dict[str, list[str]] = {
    "observation": ["time", "latitude", "longitude"],
    "forecast": ["forecast_reference_time", "step", "latitude", "longitude"],
    "ensemble": ["forecast_reference_time", "step", "ensemble", "latitude", "longitude"],
    "hindcast": [
        "hindcast_reference_time",
        "step",
        "ensemble",
        "forecast_reference_offset",
        "latitude",
        "longitude",
    ],
}

#: seconds per unit of time_resolution (reference: utils/convenience.py expected
#: deltas are derived from the data; we declare them, which is stricter).
TIME_RESOLUTIONS: dict[str, dt.timedelta] = {
    "hourly": dt.timedelta(hours=1),
    "daily": dt.timedelta(days=1),
    "weekly": dt.timedelta(weeks=1),
    "monthly": dt.timedelta(days=30),  # irregular — use update_cadence_bounds
    "yearly": dt.timedelta(days=365),
}

#: unit-keyed physical plausibility bounds (reference: utils/attributes.py:323-326)
EXTREME_BOUNDS: dict[str, tuple[float, float]] = {
    "deg_C": (-90.0, 60.0),
    "K": (183.15, 333.15),
    "deg_F": (-129.0, 140.0),
}

#: time grain → Spark date pattern of its bucket label: the store's
#: ``time_bucket`` partitions, the rollup buckets and ``resample_time``
#: periods. Labels are calendar prefixes of one another.
BUCKET_FMT: dict[str, str] = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "year": "yyyy"}


def strftime_fmt(spark_fmt: str) -> str:
    """The Python ``strftime`` form of a :data:`BUCKET_FMT` pattern."""
    return spark_fmt.replace("yyyy", "%Y").replace("MM", "%m").replace("dd", "%d")


_DIM_TYPES: dict[str, T.DataType] = {
    "time": T.TimestampType(),
    "forecast_reference_time": T.TimestampType(),
    "hindcast_reference_time": T.TimestampType(),
    "step": T.LongType(),  # seconds (xr timedelta64 'step' — FIXTURES.md)
    "ensemble": T.IntegerType(),
    "forecast_reference_offset": T.LongType(),
    "latitude": T.FloatType(),
    "longitude": T.FloatType(),
}


@dataclass(frozen=True)
class DatasetDescriptor:
    """Everything the reference declares per dataset, as one config object.

    Required fields mirror attributes.py's abstract class properties:
    dataset_name (:111), data_var (managers, e.g. chirps.py:100),
    time_resolution (:187), dataset_category (:223). The rest carry the
    reference's defaults.
    """

    dataset_name: str
    data_var: str
    time_resolution: str = "daily"
    dataset_category: str = "observation"
    unit_of_measurement: str = ""
    missing_value: float | None = None  # sentinel masked to NULL (chirps.py:118-122)
    dataset_start_date: dt.datetime | None = None
    has_nans: bool = False
    expected_nan_frequency: float = 0.0  # attributes.py:297
    update_cadence_bounds: tuple[dt.timedelta, dt.timedelta] | None = None  # :250
    final_lag_in_days: int = 0  # :279
    bbox_rounding_value: int = 5  # :274-277
    allow_overwrite: bool = False  # dataset_manager.py:175-177
    #: storage layout: partition grain for the time axis ("day"|"month"|"year").
    #: Replaces the Zarr chunk spec (chirps.py:26-28); see sources/store.py.
    time_bucket: str = "month"
    collection_name: str = ""
    tags: tuple[str, ...] = field(default=())

    def __post_init__(self) -> None:
        if self.dataset_category not in CATEGORY_DIMS:
            raise TypeError(
                f"dataset_category must be one of {sorted(CATEGORY_DIMS)}, "
                f"got {self.dataset_category!r}"
            )
        if self.time_resolution not in TIME_RESOLUTIONS:
            raise TypeError(
                f"time_resolution must be one of {sorted(TIME_RESOLUTIONS)}, "
                f"got {self.time_resolution!r}"
            )
        if not self.dataset_name or not self.data_var:
            raise TypeError("dataset_name and data_var are required")
        if self.time_bucket not in BUCKET_FMT:
            raise TypeError(f"time_bucket must be day|month|year, got {self.time_bucket!r}")

    # -- derived schema ------------------------------------------------------

    @property
    def dims(self) -> list[str]:
        return list(CATEGORY_DIMS[self.dataset_category])

    @property
    def time_dim(self) -> str:
        """First dim is always the temporal axis (transform.py:720-738)."""
        return self.dims[0]

    @property
    def expected_delta(self) -> dt.timedelta:
        return TIME_RESOLUTIONS[self.time_resolution]

    def schema(self) -> T.StructType:
        """StructType for the canonical tall table: dims + one float32 value.

        float32 end-to-end mirrors data_var_dtype "<f4" (attributes.py:172-175,
        enforced at publish.py:528-532) — golden tests assert exact float32
        round-trips, so no double promotion.
        """
        fields = [T.StructField(d, _DIM_TYPES[d], False) for d in self.dims]
        fields.append(T.StructField(self.data_var, T.FloatType(), True))
        return T.StructType(fields)

    def extreme_bounds(self) -> tuple[float, float] | None:
        return EXTREME_BOUNDS.get(self.unit_of_measurement)


#: registry replacing the reference's __subclasses__ walk
#: (dataset_manager.py:391-420) — a plain dict keyed by (name, time_resolution).
_REGISTRY: dict[tuple[str, str], DatasetDescriptor] = {}


def register(desc: DatasetDescriptor) -> DatasetDescriptor:
    _REGISTRY[(desc.dataset_name, desc.time_resolution)] = desc
    return desc


def get_descriptor(name: str, time_resolution: str = "daily") -> DatasetDescriptor:
    try:
        return _REGISTRY[(name, time_resolution)]
    except KeyError:
        raise KeyError(
            f"no descriptor registered for ({name!r}, {time_resolution!r}); "
            f"known: {sorted(_REGISTRY)}"
        ) from None
