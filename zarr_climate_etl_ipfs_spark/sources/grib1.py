"""Pure-numpy GRIB edition 1 reader/writer (S8).

The reference ingests GRIB via kerchunk/cfgrib (utils/transform.py:19,
211-253); neither is in this container. GRIB1 (WMO FM 92-VIII, edition 1)
is a small, fully published format, and this module implements the subset
regular lat/lon forecast products use, from the spec alone:

  - Indicator Section ("GRIB", 3-byte total length, edition 1);
  - Product Definition Section: parameter / level / reference time /
    decimal scale, GDS+BMS presence flags;
  - Grid Description Section: data representation 0 (regular lat/lon),
    millidegree bounds, Ni×Nj, scanning mode 0 (W→E, N→S);
  - optional Bit Map Section (missing cells);
  - Binary Data Section: simple packing — value = (R + X·2^E) / 10^D with
    the reference value R an IBM 360 32-bit float and X a B-bit big-endian
    integer bitstream (vectorized unpack, no per-value Python loop);
  - End Section "7777"; multi-message concatenation (one slab per message).

Sign-magnitude integers (GRIB1's signed convention) and the IBM float
codec are implemented exactly; the writer exists so tests can round-trip
real bytes without cfgrib, mirroring sources/netcdf3.py's strategy.
"""

from __future__ import annotations

import datetime as dt
import struct
from dataclasses import dataclass, field

import numpy as np


class GRIB1Error(ValueError):
    """Malformed or out-of-subset GRIB1 bytes."""


# ---------------------------------------------------------------------------
# primitive codecs
# ---------------------------------------------------------------------------


def _u(b: bytes, off: int, n: int) -> int:
    return int.from_bytes(b[off : off + n], "big")


def _sm(b: bytes, off: int, n: int) -> int:
    """Sign-magnitude integer (GRIB1 convention: high bit is the sign)."""
    raw = _u(b, off, n)
    sign_bit = 1 << (8 * n - 1)
    return -(raw & ~sign_bit) if raw & sign_bit else raw


def _sm_bytes(v: int, n: int) -> bytes:
    sign_bit = 1 << (8 * n - 1)
    raw = (abs(v) | sign_bit) if v < 0 else v
    return raw.to_bytes(n, "big")


def ibm_to_float(raw: int) -> float:
    """IBM System/360 32-bit float: (-1)^s · (mantissa/2^24) · 16^(exp-64)."""
    if raw == 0:
        return 0.0
    sign = -1.0 if raw & 0x80000000 else 1.0
    exponent = (raw >> 24) & 0x7F
    mantissa = raw & 0x00FFFFFF
    return sign * (mantissa / float(1 << 24)) * 16.0 ** (exponent - 64)


def float_to_ibm(value: float) -> int:
    """Nearest IBM 32-bit representation (round-trips through ibm_to_float
    within IBM-float precision)."""
    if value == 0.0:
        return 0
    sign = 0x80000000 if value < 0 else 0
    v = abs(value)
    exponent = 64
    # normalize mantissa into [1/16, 1)
    while v >= 1.0:
        v /= 16.0
        exponent += 1
    while v < 1.0 / 16.0:
        v *= 16.0
        exponent -= 1
    if not (0 <= exponent <= 127):
        raise GRIB1Error(f"value {value} outside IBM float range")
    mantissa = int(round(v * (1 << 24)))
    if mantissa >= 1 << 24:  # rounding overflowed into the next hex digit
        mantissa >>= 4
        exponent += 1
    return sign | (exponent << 24) | mantissa


def _unpack_bits(data: bytes, n_values: int, bits: int) -> np.ndarray:
    """B-bit big-endian unsigned ints from a packed bitstream, vectorized:
    unpack to a bit matrix and weigh columns — no per-value loop."""
    if bits == 0:
        return np.zeros(n_values, dtype="int64")
    if bits % 8 == 0:
        w = bits // 8
        a = np.frombuffer(data[: n_values * w], dtype=np.uint8).reshape(n_values, w)
        return (a.astype("int64") * (256 ** np.arange(w - 1, -1, -1))).sum(axis=1)
    bit_arr = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    need = n_values * bits
    if len(bit_arr) < need:
        raise GRIB1Error("packed bitstream shorter than value count")
    m = bit_arr[:need].reshape(n_values, bits).astype("int64")
    return m @ (1 << np.arange(bits - 1, -1, -1, dtype="int64"))


def _pack_bits(values: np.ndarray, bits: int) -> bytes:
    m = ((values[:, None] >> np.arange(bits - 1, -1, -1, dtype="int64")) & 1).astype(
        np.uint8
    )
    return np.packbits(m.reshape(-1)).tobytes()


# ---------------------------------------------------------------------------
# message model
# ---------------------------------------------------------------------------


@dataclass
class GRIB1Message:
    """One decoded slab: a (Nj latitude × Ni longitude) grid at one
    reference time for one parameter/level."""

    parameter: int
    level_type: int
    level: int
    ref_time: dt.datetime
    lats: np.ndarray  # Nj, degrees, descending for scanning mode 0
    lons: np.ndarray  # Ni, degrees, ascending
    values: np.ndarray  # (Nj, Ni) float64, NaN where the bitmap masks
    centre: int = 0
    attrs: dict = field(default_factory=dict)


def parse_grib1(content: bytes) -> list[GRIB1Message]:
    """All messages in a (possibly concatenated) GRIB1 byte string."""
    msgs: list[GRIB1Message] = []
    pos = 0
    while True:
        pos = content.find(b"GRIB", pos)
        if pos < 0:
            break
        total_len = _u(content, pos + 4, 3)
        if pos + 8 > len(content):
            raise GRIB1Error("truncated GRIB1 indicator section")
        edition = content[pos + 7]
        if edition != 1:
            raise GRIB1Error(f"GRIB edition {edition} not supported (GRIB1 only)")
        # foreign-bytes contract (the grib2/blosc hardening bar): forged
        # octets must surface as GRIB1Error, never a raw struct/numpy/
        # datetime error — mutation-fuzzed in tests/test_grib1.py
        try:
            msgs.append(_parse_message(content[pos : pos + total_len]))
        except GRIB1Error:
            raise
        except (ValueError, IndexError, KeyError, OverflowError, struct.error) as exc:
            raise GRIB1Error(f"malformed GRIB1 message: {exc}") from exc
        pos += total_len
    if not msgs:
        raise GRIB1Error("not a GRIB1 file (no GRIB indicator found)")
    return msgs


def _parse_message(m: bytes) -> GRIB1Message:
    if m[-4:] != b"7777":
        raise GRIB1Error("message missing 7777 end section")
    p = 8  # past indicator section

    # --- PDS ---
    pds_len = _u(m, p, 3)
    pds = m[p : p + pds_len]
    flags = pds[7]
    has_gds, has_bms = bool(flags & 0x80), bool(flags & 0x40)
    if not has_gds:
        raise GRIB1Error("messages without a GDS (predefined grids) not supported")
    parameter = pds[8]
    level_type = pds[9]
    level = _u(pds, 10, 2)
    year, month, day, hour, minute = pds[12], pds[13], pds[14], pds[15], pds[16]
    century = pds[24]
    full_year = (century - 1) * 100 + year
    ref_time = dt.datetime(full_year, month, day, hour, minute)
    decimal_scale = _sm(pds, 26, 2)
    centre = pds[4]
    p += pds_len

    # --- GDS ---
    gds_len = _u(m, p, 3)
    gds = m[p : p + gds_len]
    rep_type = gds[5]
    if rep_type != 0:
        raise GRIB1Error(f"grid representation {rep_type} not supported (lat/lon only)")
    ni, nj = _u(gds, 6, 2), _u(gds, 8, 2)
    # decode guard: two forged 16-bit counts can size a 4.3e9-point
    # (34 GiB float64) allocation in np.full below — same 2^28 bound as
    # grib2's _MAX_POINTS
    if not (0 < ni and 0 < nj and ni * nj <= 1 << 28):
        raise GRIB1Error(f"implausible grid dimensions ni={ni} nj={nj}")
    la1, lo1 = _sm(gds, 10, 3), _sm(gds, 13, 3)
    la2, lo2 = _sm(gds, 17, 3), _sm(gds, 20, 3)
    scan = gds[27]
    if scan != 0:
        raise GRIB1Error(f"scanning mode {scan:#x} not supported (W→E, N→S only)")
    lats = np.linspace(la1 / 1000.0, la2 / 1000.0, nj)
    lons = np.linspace(lo1 / 1000.0, lo2 / 1000.0, ni)
    p += gds_len

    # --- BMS (optional) ---
    bitmap: np.ndarray | None = None
    if has_bms:
        bms_len = _u(m, p, 3)
        unused = m[p + 3]
        table_ref = _u(m, p + 4, 2)
        if table_ref != 0:
            raise GRIB1Error("predefined bitmaps not supported")
        nbits = (bms_len - 6) * 8 - unused
        bitmap = np.unpackbits(np.frombuffer(m[p + 6 : p + bms_len], dtype=np.uint8))[
            :nbits
        ].astype(bool)
        p += bms_len

    # --- BDS ---
    bds_len = _u(m, p, 3)
    bds = m[p : p + bds_len]
    bds_flags = bds[3] >> 4
    if bds_flags & 0b1100:
        raise GRIB1Error("spherical-harmonic / complex packing not supported")
    unused_bits = bds[3] & 0x0F
    binary_scale = _sm(bds, 4, 2)
    ref_value = ibm_to_float(_u(bds, 6, 4))
    bits_per_value = bds[10]
    n_points = int(bitmap.sum()) if bitmap is not None else ni * nj
    if bits_per_value == 0:
        present = np.full(n_points, ref_value / 10.0**decimal_scale)
    else:
        x = _unpack_bits(bds[11:], n_points, bits_per_value)
        present = (ref_value + x * 2.0**binary_scale) / 10.0**decimal_scale
    del unused_bits  # trailing pad bits are implied by the value count

    if bitmap is not None:
        values = np.full(ni * nj, np.nan)
        values[bitmap] = present
    else:
        values = present
    return GRIB1Message(
        parameter=parameter,
        level_type=level_type,
        level=level,
        ref_time=ref_time,
        lats=lats,
        lons=lons,
        values=values.reshape(nj, ni),
        centre=centre,
        attrs={"decimal_scale": decimal_scale, "binary_scale": binary_scale},
    )


# ---------------------------------------------------------------------------
# writer (test fixture generation — mirrors sources/netcdf3.write_netcdf3)
# ---------------------------------------------------------------------------


def write_grib1(
    messages: list[GRIB1Message],
    bits_per_value: int = 16,
    decimal_scale: int = 2,
) -> bytes:
    """Encode slabs as concatenated GRIB1 messages with simple packing.

    Values are scaled by 10^decimal_scale, offset by the slab minimum (the
    reference value) and packed to ``bits_per_value`` with binary scale
    chosen to cover the range; NaNs become bitmap-masked cells. Packing is
    lossy at the chosen precision, like any real GRIB product.
    """
    out = bytearray()
    for msg in messages:
        out += _write_message(msg, bits_per_value, decimal_scale)
    return bytes(out)


def _write_message(msg: GRIB1Message, bits_per_value: int, decimal_scale: int) -> bytes:
    nj, ni = msg.values.shape
    flat = msg.values.reshape(-1)
    mask = ~np.isnan(flat)
    has_bms = bool((~mask).any())
    present = flat[mask]
    if present.size == 0:
        raise GRIB1Error("cannot encode an all-missing slab")

    scaled = present * 10.0**decimal_scale
    rmin = float(scaled.min())
    span = float(scaled.max()) - rmin
    # smallest binary scale E with span / 2^E representable in B bits
    e = 0
    while span / 2.0**e > (1 << bits_per_value) - 1:
        e += 1
    x = np.rint((scaled - rmin) / 2.0**e).astype("int64")
    x = np.clip(x, 0, (1 << bits_per_value) - 1)

    # --- PDS (28 bytes) ---
    t = msg.ref_time
    century, year = divmod(t.year - 1, 100)
    pds = bytearray(28)
    pds[0:3] = (28).to_bytes(3, "big")
    pds[3] = 0  # table version
    pds[4] = msg.centre
    pds[5] = 0  # generating process
    pds[6] = 255  # grid id: defined by GDS
    pds[7] = 0x80 | (0x40 if has_bms else 0)
    pds[8] = msg.parameter
    pds[9] = msg.level_type
    pds[10:12] = msg.level.to_bytes(2, "big")
    pds[12], pds[13], pds[14] = year + 1, t.month, t.day
    pds[15], pds[16] = t.hour, t.minute
    pds[17] = 1  # forecast time unit: hour
    pds[18] = pds[19] = 0  # P1/P2
    pds[20] = 0  # time range: analysis
    pds[24] = century + 1
    pds[26:28] = _sm_bytes(decimal_scale, 2)

    # --- GDS (32 bytes) ---
    gds = bytearray(32)
    gds[0:3] = (32).to_bytes(3, "big")
    gds[3] = 0  # NV
    gds[4] = 255  # PV: none
    gds[5] = 0  # lat/lon grid
    gds[6:8] = ni.to_bytes(2, "big")
    gds[8:10] = nj.to_bytes(2, "big")
    gds[10:13] = _sm_bytes(int(round(msg.lats[0] * 1000)), 3)
    gds[13:16] = _sm_bytes(int(round(msg.lons[0] * 1000)), 3)
    gds[16] = 0x80  # resolution/component flags: directions given
    gds[17:20] = _sm_bytes(int(round(msg.lats[-1] * 1000)), 3)
    gds[20:23] = _sm_bytes(int(round(msg.lons[-1] * 1000)), 3)
    di = abs(msg.lons[1] - msg.lons[0]) if ni > 1 else 0
    dj = abs(msg.lats[1] - msg.lats[0]) if nj > 1 else 0
    gds[23:25] = int(round(di * 1000)).to_bytes(2, "big")
    gds[25:27] = int(round(dj * 1000)).to_bytes(2, "big")
    gds[27] = 0  # scanning mode: W→E, N→S

    # --- BMS ---
    bms = b""
    if has_bms:
        packed_map = np.packbits(mask.astype(np.uint8)).tobytes()
        unused = (8 - (mask.size % 8)) % 8
        bms_len = 6 + len(packed_map)
        bms = bms_len.to_bytes(3, "big") + bytes([unused]) + b"\x00\x00" + packed_map

    # --- BDS ---
    packed = _pack_bits(x, bits_per_value)
    bds_data_len = 11 + len(packed)
    pad = bds_data_len % 2  # BDS length must be even
    unused_bits = (8 - (x.size * bits_per_value) % 8) % 8 + 8 * pad
    bds = (
        (bds_data_len + pad).to_bytes(3, "big")
        + bytes([(0 << 4) | unused_bits])
        + _sm_bytes(e, 2)
        + struct.pack(">I", float_to_ibm(rmin))
        + bytes([bits_per_value])
        + packed
        + b"\x00" * pad
    )

    body = bytes(pds) + bytes(gds) + bms + bds + b"7777"
    total = 8 + len(body)
    return b"GRIB" + total.to_bytes(3, "big") + bytes([1]) + body


# ---------------------------------------------------------------------------
# decoder adapter (S8 for ingest)
# ---------------------------------------------------------------------------


def grib1_decoder(desc, parameter: int | None = None):
    """Decoder for :func:`~zarr_climate_etl_ipfs_spark.sources.ingest.
    read_binary_gridded` over GRIB1 bytes — same tall-row contract as the
    NetCDF decoders: each message becomes (time, latitude, longitude,
    value) rows; ``parameter`` filters multi-parameter files."""
    import pandas as pd

    from zarr_climate_etl_ipfs_spark.sources.ingest import tall_frame

    def decode(path: str, content: bytes) -> pd.DataFrame:
        frames = []
        for msg in parse_grib1(content):
            if parameter is not None and msg.parameter != parameter:
                continue
            t = [np.datetime64(msg.ref_time, "us")]
            frames.append(tall_frame(desc, t, msg.lats, msg.lons, msg.values))
        if not frames:
            raise GRIB1Error(f"{path}: no matching GRIB1 messages")
        return pd.concat(frames, ignore_index=True)

    return decode
