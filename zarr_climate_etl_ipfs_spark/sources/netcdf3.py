"""Pure-numpy NetCDF3 reader/writer — real bytes for the S7 ingest path.

The reference decodes NetCDF with kerchunk/xarray (utils/transform.py:204-273);
those libraries aren't in this container, but the *classic* NetCDF3 format is
a simple big-endian container fully described by the public CDF specification
(NetCDF Classic Format Specification, Unidata). This module implements it
from that spec with stdlib + numpy only. (The reference's own system-test
fixtures, tests/system/data/*.nc, are NetCDF4/HDF5 — that container format
needs h5py/netCDF4 and stays behind the injectable-decoder gate; classic
files, still the common interchange grade for climate archives, decode here
for real.) Provided:

  - :func:`parse_netcdf3` — header + data reader for classic (``CDF\\x01``)
    and 64-bit-offset (``CDF\\x02``) files, including record (unlimited-dim)
    variables;
  - :func:`write_netcdf3` — a minimal classic writer (enough for round-trip
    tests and fixture generation);
  - :func:`netcdf3_decoder` — adapts the reader to the ``Decoder`` contract
    of :func:`~zarr_climate_etl_ipfs_spark.sources.ingest.read_binary_gridded`,
    emitting tall (time, lat, lon, value) rows with CF time decoding.

File layout (spec §"The File Format"):

  header  := magic numrecs dim_list gatt_list var_list
  magic   := 'C' 'D' 'F' version          (version 1 = classic, 2 = 64-bit)
  lists   := tag(int32) count(int32) element*   (ABSENT = 0 0)
  name    := len(int32) bytes, zero-padded to a 4-byte boundary
  dim     := name size(int32; 0 marks the record dimension)
  attr    := name nc_type(int32) count(int32) values (padded to 4 bytes)
  var     := name ndims(int32) dimid* vatt_list nc_type vsize begin
  begin   := int32 (v1) / int64 (v2) absolute file offset

Fixed-size variables are contiguous at ``begin``; record variables store one
slab per record, interleaved in header order with the record stride being the
sum of 4-byte-padded slab sizes (unpadded when there is exactly one record
variable — the spec's special case).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Any

import numpy as np

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
_DTYPES = {
    NC_BYTE: np.dtype(">i1"),
    NC_CHAR: np.dtype("S1"),
    NC_SHORT: np.dtype(">i2"),
    NC_INT: np.dtype(">i4"),
    NC_FLOAT: np.dtype(">f4"),
    NC_DOUBLE: np.dtype(">f8"),
}
_NC_TYPE_OF = {
    "int8": NC_BYTE,
    "int16": NC_SHORT,
    "int32": NC_INT,
    "float32": NC_FLOAT,
    "float64": NC_DOUBLE,
}
_TAG_DIM, _TAG_VAR, _TAG_ATT = 0x0A, 0x0B, 0x0C


class NetCDF3Error(ValueError):
    """Malformed or unsupported NetCDF bytes."""


@dataclass
class NCVar:
    name: str
    dims: tuple[str, ...]
    nc_type: int
    attrs: dict[str, Any]
    begin: int
    vsize: int

    @property
    def dtype(self) -> np.dtype:
        try:
            return _DTYPES[self.nc_type]
        except KeyError:
            raise NetCDF3Error(f"unsupported nc_type {self.nc_type}") from None


@dataclass
class NetCDF3File:
    """Parsed header + a reference to the raw bytes; arrays read lazily."""

    dimensions: dict[str, int]  # record dim reported with its actual length
    record_dim: str | None
    attrs: dict[str, Any]
    variables: dict[str, NCVar]
    numrecs: int
    _content: bytes = field(repr=False, default=b"")
    _recsize: int = 0

    def shape(self, name: str) -> tuple[int, ...]:
        v = self.variables[name]
        return tuple(
            self.numrecs if d == self.record_dim else self.dimensions[d] for d in v.dims
        )

    def read(self, name: str) -> np.ndarray:
        """Materialize a variable as a native-endian numpy array.

        Foreign-bytes contract (the grib2/blosc hardening bar): forged
        header fields must raise :class:`NetCDF3Error`, never leak a raw
        numpy/struct error or size an implausible allocation — ``n`` is
        computed in exact Python ints (``np.prod`` would wrap int64 on a
        forged 2^31 x 2^31 shape) and capped before any buffer math."""
        import math as _math

        v = self.variables[name]
        shape = self.shape(name)
        n = _math.prod(shape) if shape else 1
        if not (0 <= n * v.dtype.itemsize <= max(len(self._content) * 2, 1 << 20)):
            raise NetCDF3Error(f"{name}: implausible variable size {shape}")
        try:
            if self.record_dim is not None and v.dims and v.dims[0] == self.record_dim:
                per_rec = n // max(self.numrecs, 1)
                if per_rec <= 0:  # forged 0-size dims: don't spin numrecs times
                    return np.empty(shape, v.dtype)
                slabs = [
                    np.frombuffer(
                        self._content,
                        dtype=v.dtype,
                        count=per_rec,
                        offset=v.begin + r * self._recsize,
                    )
                    for r in range(self.numrecs)
                ]
                arr = np.concatenate(slabs) if slabs else np.empty(0, v.dtype)
            else:
                arr = np.frombuffer(self._content, dtype=v.dtype, count=n, offset=v.begin)
            out = arr.reshape(shape)
        except NetCDF3Error:
            raise
        except (ValueError, IndexError, OverflowError, TypeError) as exc:
            raise NetCDF3Error(f"{name}: malformed variable data: {exc}") from exc
        return out.astype(out.dtype.newbyteorder("=")) if out.dtype.byteorder == ">" else out


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


class _Reader:
    def __init__(self, content: bytes):
        self.b = content
        self.pos = 0

    def i4(self) -> int:
        (v,) = struct.unpack_from(">i", self.b, self.pos)
        self.pos += 4
        return v

    def i8(self) -> int:
        (v,) = struct.unpack_from(">q", self.b, self.pos)
        self.pos += 8
        return v

    def name(self) -> str:
        n = self.i4()
        s = self.b[self.pos : self.pos + n].decode("utf-8")
        self.pos += (n + 3) & ~3  # names are padded to 4-byte boundaries
        return s

    def attr_values(self, nc_type: int, count: int) -> Any:
        dt = _DTYPES[nc_type]
        nbytes = dt.itemsize * count
        raw = self.b[self.pos : self.pos + nbytes]
        self.pos += (nbytes + 3) & ~3
        if nc_type == NC_CHAR:
            return raw.decode("utf-8", errors="replace")
        arr = np.frombuffer(raw, dtype=dt)
        return arr.tolist() if count > 1 else arr[0].item()

    def att_list(self) -> dict[str, Any]:
        tag = self.i4()
        count = self.i4()
        if tag == 0 and count == 0:
            return {}
        if tag != _TAG_ATT:
            raise NetCDF3Error(f"expected NC_ATTRIBUTE tag, got 0x{tag:x}")
        out = {}
        for _ in range(count):
            nm = self.name()
            nc_type = self.i4()
            n = self.i4()
            out[nm] = self.attr_values(nc_type, n)
        return out


def parse_netcdf3(content: bytes) -> NetCDF3File:
    """Parse a classic/64-bit-offset NetCDF3 header (arrays read lazily).

    Foreign-bytes contract: any malformed input raises
    :class:`NetCDF3Error` — forged tags/counts/offsets must never leak a
    raw struct/numpy/unicode error (mutation-fuzzed in
    tests/test_netcdf3.py, the grib2/blosc hardening bar)."""
    try:
        return _parse_netcdf3(content)
    except NetCDF3Error:
        raise
    except (
        ValueError,
        IndexError,
        KeyError,
        OverflowError,
        TypeError,
        UnicodeDecodeError,
        struct.error,
    ) as exc:
        raise NetCDF3Error(f"malformed NetCDF3 bytes: {exc}") from exc


def _parse_netcdf3(content: bytes) -> NetCDF3File:
    if len(content) < 4 or content[:3] != b"CDF" or content[3] not in (1, 2):
        raise NetCDF3Error("not a NetCDF3 classic/64-bit-offset file")
    version = content[3]
    r = _Reader(content)
    r.pos = 4
    numrecs = r.i4()  # -1 (STREAMING) handled below via record stride math
    tag, count = r.i4(), r.i4()
    dims: list[tuple[str, int]] = []
    if tag == _TAG_DIM:
        dims = [(r.name(), r.i4()) for _ in range(count)]
    elif not (tag == 0 and count == 0):
        raise NetCDF3Error(f"expected NC_DIMENSION tag, got 0x{tag:x}")
    record_dim = next((n for n, sz in dims if sz == 0), None)
    gatts = r.att_list()

    tag, count = r.i4(), r.i4()
    variables: dict[str, NCVar] = {}
    if tag == _TAG_VAR:
        for _ in range(count):
            nm = r.name()
            ndims = r.i4()
            dimids = [r.i4() for _ in range(ndims)]
            vatts = r.att_list()
            nc_type = r.i4()
            vsize = r.i4()
            begin = r.i8() if version == 2 else r.i4()
            variables[nm] = NCVar(
                nm, tuple(dims[i][0] for i in dimids), nc_type, vatts, begin, vsize
            )
    elif not (tag == 0 and count == 0):
        raise NetCDF3Error(f"expected NC_VARIABLE tag, got 0x{tag:x}")

    dim_sizes = dict(dims)
    rec_vars = [
        v
        for v in variables.values()
        if record_dim is not None and v.dims and v.dims[0] == record_dim
    ]
    recsize = 0
    for v in rec_vars:
        slab = v.dtype.itemsize * int(
            np.prod([dim_sizes[d] for d in v.dims[1:]]) if len(v.dims) > 1 else 1
        )
        recsize += slab if len(rec_vars) == 1 else (slab + 3) & ~3
    if numrecs < 0 and rec_vars:  # STREAMING: infer from file length
        first = min(v.begin for v in rec_vars)
        numrecs = (len(content) - first) // max(recsize, 1)
    if record_dim is not None:
        dim_sizes[record_dim] = max(numrecs, 0)

    return NetCDF3File(
        dimensions=dim_sizes,
        record_dim=record_dim,
        attrs=gatts,
        variables=variables,
        numrecs=max(numrecs, 0),
        _content=content,
        _recsize=recsize,
    )


# ---------------------------------------------------------------------------
# writer (classic, version 1)
# ---------------------------------------------------------------------------


def _pack_name(s: str) -> bytes:
    raw = s.encode("utf-8")
    pad = (-len(raw)) % 4
    return struct.pack(">i", len(raw)) + raw + b"\x00" * pad


def _pack_attrs(attrs: dict[str, Any]) -> bytes:
    if not attrs:
        return struct.pack(">ii", 0, 0)
    out = struct.pack(">ii", _TAG_ATT, len(attrs))
    for k, v in attrs.items():
        out += _pack_name(k)
        if isinstance(v, str):
            raw = v.encode("utf-8")
            out += struct.pack(">ii", NC_CHAR, len(raw)) + raw + b"\x00" * ((-len(raw)) % 4)
        else:
            arr = np.atleast_1d(np.asarray(v))
            nc_type = _NC_TYPE_OF[str(arr.dtype)]
            be = arr.astype(_DTYPES[nc_type])
            raw = be.tobytes()
            out += struct.pack(">ii", nc_type, arr.size) + raw + b"\x00" * ((-len(raw)) % 4)
    return out


def write_netcdf3(
    dims: dict[str, int],
    variables: dict[str, tuple[tuple[str, ...], np.ndarray, dict[str, Any]]],
    global_attrs: dict[str, Any] | None = None,
    record_dim: str | None = None,
) -> bytes:
    """Serialize arrays to classic NetCDF3 bytes.

    ``variables`` maps name → (dims, array, attrs). When ``record_dim`` is
    given, that dimension is written as unlimited and every variable whose
    leading dim is it becomes a record variable.
    """
    order = list(variables)
    dim_names = list(dims)
    numrecs = 0
    if record_dim is not None:
        numrecs = dims[record_dim]

    metas = []  # (name, dims, nc_type, arr, attrs, is_rec, slab_bytes)
    for nm in order:
        vdims, arr, vattrs = variables[nm]
        arr = np.asarray(arr)
        nc_type = _NC_TYPE_OF[str(arr.dtype)]
        is_rec = record_dim is not None and len(vdims) > 0 and vdims[0] == record_dim
        per_rec_shape = [dims[d] for d in (vdims[1:] if is_rec else vdims)]
        slab = _DTYPES[nc_type].itemsize * int(np.prod(per_rec_shape)) if per_rec_shape else _DTYPES[nc_type].itemsize
        metas.append([nm, vdims, nc_type, arr, vattrs, is_rec, slab])

    rec_metas = [m for m in metas if m[5]]
    pad_slabs = len(rec_metas) != 1  # single-record-var special case: unpadded
    recsize = sum((m[6] + 3) & ~3 if pad_slabs else m[6] for m in rec_metas)

    # First pass with dummy begins to size the header.
    def build_header(begins: dict[str, int]) -> bytes:
        h = b"CDF\x01" + struct.pack(">i", numrecs)
        if dims:
            h += struct.pack(">ii", _TAG_DIM, len(dims))
            for d in dim_names:
                h += _pack_name(d) + struct.pack(">i", 0 if d == record_dim else dims[d])
        else:
            h += struct.pack(">ii", 0, 0)
        h += _pack_attrs(global_attrs or {})
        h += struct.pack(">ii", _TAG_VAR, len(metas))
        for nm, vdims, nc_type, _arr, vattrs, is_rec, slab in metas:
            h += _pack_name(nm)
            h += struct.pack(">i", len(vdims))
            for d in vdims:
                h += struct.pack(">i", dim_names.index(d))
            h += _pack_attrs(vattrs)
            vsize = (slab * (1 if is_rec else 1) + 3) & ~3 if pad_slabs or not is_rec else slab
            h += struct.pack(">iii", nc_type, vsize, begins.get(nm, 0))
        return h

    header_len = len(build_header({}))
    begins: dict[str, int] = {}
    pos = header_len
    for nm, _vd, _t, _a, _at, is_rec, slab in metas:
        if not is_rec:
            begins[nm] = pos
            pos += (slab + 3) & ~3
    rec_start = pos
    off = rec_start
    for nm, _vd, _t, _a, _at, is_rec, slab in metas:
        if is_rec:
            begins[nm] = off
            off += (slab + 3) & ~3 if pad_slabs else slab

    body = bytearray()
    for nm, _vd, nc_type, arr, _at, is_rec, slab in metas:
        if not is_rec:
            # np.asarray: numpy *scalars* silently ignore the byte order in
            # astype — only arrays (incl. 0-d) honor '>f8'
            raw = np.asarray(arr).astype(_DTYPES[nc_type]).tobytes()
            body += raw + b"\x00" * ((-len(raw)) % 4)
    for r in range(numrecs):
        for nm, _vd, nc_type, arr, _at, is_rec, slab in metas:
            if is_rec:
                raw = np.asarray(arr[r]).astype(_DTYPES[nc_type]).tobytes()
                pad = ((-len(raw)) % 4) if pad_slabs else 0
                body += raw + b"\x00" * pad

    return build_header(begins) + bytes(body)


# ---------------------------------------------------------------------------
# Decoder adapter for read_binary_gridded
# ---------------------------------------------------------------------------


def _cf_origin_and_seconds(units: str) -> tuple[np.datetime64, float]:
    """Parse a CF units string like ``days since 2000-01-01[ 00:00:00]``."""
    per = {"seconds": 1.0, "minutes": 60.0, "hours": 3600.0, "days": 86400.0}
    parts = units.split(" since ")
    if len(parts) != 2 or parts[0].strip() not in per:
        raise NetCDF3Error(f"unsupported CF time units: {units!r}")
    origin = np.datetime64(parts[1].strip().replace(" ", "T"), "us")
    return origin, per[parts[0].strip()]


def netcdf3_decoder(
    desc,
    data_var: str | None = None,
    time_var: str = "time",
    lat_var: str = "latitude",
    lon_var: str = "longitude",
):
    """Build a ``Decoder`` for :func:`read_binary_gridded` that reads real
    NetCDF3 bytes: decode the (time, lat, lon, var) grid and emit tall rows.
    CF time units are taken from the time variable's ``units`` attribute.

    Sentinel masking / lon normalization / dtype enforcement stay in
    :func:`canonicalize` — the decoder only surfaces raw cells, mirroring
    the reference split between transform and publish stages.
    """

    import pandas as pd

    from zarr_climate_etl_ipfs_spark.sources.ingest import tall_frame

    def decode(path: str, content: bytes) -> pd.DataFrame:
        nc = parse_netcdf3(content)
        var = data_var or desc.data_var
        for required in (var, time_var, lat_var, lon_var):
            if required not in nc.variables:
                raise NetCDF3Error(f"{path}: variable {required!r} not in file")
        data = nc.read(var)
        tdim = nc.variables[var].dims
        if tdim != (time_var, lat_var, lon_var):
            raise NetCDF3Error(
                f"{path}: expected dims ({time_var},{lat_var},{lon_var}), got {tdim}"
            )
        times_raw = nc.read(time_var).astype("float64")
        units = nc.variables[time_var].attrs.get("units", "days since 1970-01-01")
        origin, secs = _cf_origin_and_seconds(str(units))
        times = origin + (times_raw * secs * 1e6).astype("timedelta64[us]")
        lats = nc.read(lat_var).astype("float64")
        lons = nc.read(lon_var).astype("float64")
        return tall_frame(desc, times, lats, lons, data)

    return decode
