"""Pure-numpy GRIB edition 2 reader/writer (S8).

The reference's GRIB path is ``kerchunk.grib2.scan_grib``
(utils/transform.py:19, 211-253); this module decodes the same products
without kerchunk/cfgrib, implementing the published WMO GRIB2 format
(FM 92-XIV) subset that regular lat/lon products use:

  - Section 0 indicator ("GRIB", edition 2, 8-byte total length);
  - Section 1 identification (reference time);
  - Section 3 grid definition, template 3.0 (regular lat/lon in
    microdegrees, scanning mode 0);
  - Section 4 product definition: template 4.0 (analysis/forecast at a
    point in time), 4.8 (statistical interval — accumulations), 4.1
    (individual ensemble member: type/perturbation number/ensemble size)
    and 4.11 (individual ensemble member over a statistical interval) —
    the ensemble feeds the reference's ``ensemble``/``hindcast`` dataset
    categories ingest (utils/attributes.py:223-247,
    utils/transform.py:210-218);
  - Section 5 data representation:
      template 5.0 — simple packing (IEEE-754 reference value R, binary
        scale E, decimal scale D, B-bit integers;
        value = (R + X·2^E) / 10^D);
      template 5.2 — complex packing (general group splitting: per-group
        reference values, widths and lengths, continuous bitstream);
      template 5.3 — complex packing + spatial differencing of order 1/2
        (ival/gmin extra descriptors, integration after group unpack) —
        the encoding real ERA5/GFS feeds ship;
  - Section 6 bitmap (indicator 0 = present, 255 = none);
  - Section 7 data (big-endian bitstream, vectorized unpack);
  - Section 8 "7777"; multi-message concatenation.

      template 5.41 — PNG packing (the scaled integers arrive as a PNG
      raster, e.g. NCEP MRMS; decoded/encoded with the repo's own
      pure-stdlib PNG codec, 8/16-bit greyscale + 24/32-bit RGB(A) read)
      template 5.42 — CCSDS/AEC packing (Rice coding, e.g. DWD ICON;
      via the from-spec CCSDS 121.0-B coder in sources/ccsds_aec.py)

Out of scope (clear errors): JPEG2000 packing (5.40 needs a JPEG2000
codec), complex-packing missing-value management (bitmaps cover the
reference's products), non-lat/lon grids, GRIB1 (see sources/grib1.py).
"""

from __future__ import annotations

import datetime as dt
import struct
from dataclasses import dataclass, field

import numpy as np

from zarr_climate_etl_ipfs_spark.sources.grib1 import (
    GRIB1Error,
    _pack_bits,
    _unpack_bits,
)


class GRIB2Error(GRIB1Error):
    """Malformed or out-of-subset GRIB2 bytes."""


def _u(b: bytes, off: int, n: int) -> int:
    return int.from_bytes(b[off : off + n], "big")


def _s32(b: bytes, off: int) -> int:
    """GRIB2 signed 32-bit: sign-magnitude (high bit = sign)."""
    raw = _u(b, off, 4)
    return -(raw & 0x7FFFFFFF) if raw & 0x80000000 else raw


def _s32_bytes(v: int) -> bytes:
    raw = (abs(v) | 0x80000000) if v < 0 else v
    return raw.to_bytes(4, "big")


@dataclass
class GRIB2Message:
    """One decoded slab: (Nj × Ni) grid, one reference time, one product."""

    discipline: int
    parameter_category: int
    parameter_number: int
    level_type: int
    level: int
    ref_time: dt.datetime
    lats: np.ndarray
    lons: np.ndarray
    values: np.ndarray  # (Nj, Ni) float64, NaN where bitmap masks
    attrs: dict = field(default_factory=dict)
    #: lead time in seconds (PDT octets 19-22 × time-unit); 0 for analyses
    forecast_seconds: int = 0
    #: perturbation number for PDT 4.1/4.11 ensemble products; None otherwise
    ensemble_member: int | None = None


#: fixed-length GRIB2 time units (code table 4.4) → seconds. Month/year
#: units are calendar-dependent and rejected with a clear error.
_TIME_UNIT_SECONDS = {0: 60, 1: 3600, 2: 86400, 10: 10800, 11: 21600, 12: 43200, 13: 1}


#: Decode guard for counts read from FOREIGN bytes (grid ni*nj, n_points,
#: complex-packing group counts): these size numpy allocations, so a forged
#: 2^32 count would hang the parser in a multi-GiB alloc before any payload
#: check could fire. 2^28 points (2 GiB of float64 per message) is beyond
#: any single deliverable GRIB2 message (ECMWF O1280 ~6.6e6; km-scale
#: global fields ship sharded); raise the named error, never allocate.
_MAX_POINTS = 1 << 28


def parse_grib2(content: bytes, select=None, j2k_decoder=None) -> list[GRIB2Message]:
    """Decode every message, or — with ``select`` — only matching ones.

    ``select`` is the message-filter analog of the reference's
    ``grib_filter``/``scan_indices`` path (utils/transform.py:137-141,
    210-218: pick the surface layer / one shortName out of multi-layer
    files). It receives a lightweight header dict (``discipline``,
    ``category``, ``number``, ``level_type``, ``level``,
    ``ensemble_member``) BEFORE the data section is unpacked, so rejected
    messages never pay the bitstream decode.

    ``j2k_decoder`` is the template-5.40 (JPEG2000) injection seam — the
    decoder itself is out of scope here (the JPEG2000 MQ arithmetic-coder
    tables proved unreproducible in this environment; decision record in
    SURVEY.md §8), but a user with OpenJPEG / Pillow / eccodes installed
    plugs it in as ``j2k_decoder(payload: bytes, n_points: int,
    bits: int) -> np.ndarray`` returning the raw scaled integers X; the
    R/E/D unscaling is applied here exactly as for every other template.
    Without it, 5.40 messages raise the named GRIB2Error (never a
    mis-decode). Mirrors the non-HTTP ``opener=`` seam in sources/zarr2."""
    msgs: list[GRIB2Message] = []
    pos = 0
    found = False
    while True:
        pos = content.find(b"GRIB", pos)
        if pos < 0:
            break
        found = True
        edition = content[pos + 7]
        if edition != 2:
            raise GRIB2Error(f"GRIB edition {edition} (use sources/grib1 for ed.1)")
        total_len = _u(content, pos + 8, 8)
        if total_len < 16:
            raise GRIB2Error(f"GRIB2 total length {total_len} shorter than header")
        try:
            msg = _parse_message(content[pos : pos + total_len], select, j2k_decoder)
        except GRIB2Error:
            raise
        except (ValueError, IndexError, OverflowError, struct.error) as exc:
            # foreign/corrupt bytes must surface as the ONE contract
            # exception, never a raw numpy/struct error (the blosc lesson)
            raise GRIB2Error(f"malformed GRIB2 message: {exc}") from exc
        if msg is not None:
            msgs.append(msg)
        pos += total_len
    if not found:
        raise GRIB2Error("not a GRIB2 file (no GRIB indicator found)")
    return msgs


def _parse_message(m: bytes, select=None, j2k_decoder=None) -> GRIB2Message | None:
    if m[-4:] != b"7777":
        raise GRIB2Error("message missing 7777 end section")
    discipline = m[6]
    p = 16
    ref_time = None
    grid = None
    product = None
    packing = None
    bitmap: np.ndarray | None = None
    values: np.ndarray | None = None

    while p < len(m) - 4:
        sec_len = _u(m, p, 4)
        if sec_len < 5:  # 4 length octets + 1 number octet is the spec floor;
            # a forged 0 would otherwise freeze the section walk in place
            raise GRIB2Error(f"section length {sec_len} below the 5-octet floor")
        sec_num = m[p + 4]
        s = m[p : p + sec_len]
        if sec_num == 1:
            year = _u(s, 12, 2)
            ref_time = dt.datetime(year, s[14], s[15], s[16], s[17], s[18])
        elif sec_num == 3:
            grid = _parse_grid(s)
        elif sec_num == 4:
            tmpl = _u(s, 7, 2)
            # 4.0 = analysis/forecast at a point in time; 4.8 = statistical
            # processing over an interval (accumulations — real precip feeds
            # like CHIRPS-adjacent GFS/ERA5 products ship 4.8); 4.1 =
            # individual ensemble member at a point in time; 4.11 = 4.1 over
            # a statistical interval. Octets 10-34 are identical across all
            # four; 4.1/4.11 insert 3 ensemble octets (type, perturbation
            # number, ensemble size) at 35-37; the statistical extension
            # (interval end + process descriptors) follows at 35 (4.8) or
            # 38 (4.11).
            if tmpl not in (0, 1, 8, 11):
                raise GRIB2Error(f"product definition template 4.{tmpl} not supported")
            unit = s[17]
            if unit not in _TIME_UNIT_SECONDS:
                raise GRIB2Error(
                    f"forecast time unit {unit} not supported (calendar units)"
                )
            product = {
                "category": s[9],
                "number": s[10],
                "level_type": s[22],
                "level_scale": s[23],
                "level_value": _u(s, 24, 4),
                "forecast_seconds": _u(s, 18, 4) * _TIME_UNIT_SECONDS[unit],
            }
            stat_base = 34  # octet 35, 0-indexed — 4.8's interval extension
            if tmpl in (1, 11):
                product["ensemble_type"] = s[34]
                product["ensemble_member"] = s[35]
                product["ensemble_size"] = s[36]
                stat_base = 37  # 4.11: interval extension shifted past them
            if tmpl in (8, 11) and len(s) >= stat_base + 12:
                # Interval-end octets may carry all-ones missing sentinels
                # (real products do this for templated feeds) — an invalid
                # calendar date is NOT a malformed message, so omit the
                # field rather than let ValueError escape the GRIB2Error
                # contract.
                try:
                    product["interval_end"] = dt.datetime(
                        _u(s, stat_base, 2),
                        s[stat_base + 2],
                        s[stat_base + 3],
                        s[stat_base + 4],
                        s[stat_base + 5],
                        s[stat_base + 6],
                    )
                except ValueError:
                    pass
                # first interval spec's statistical process octet
                # (0=avg, 1=accumulation, 2=max, 3=min, ...)
                if len(s) >= stat_base + 13:
                    product["statistical_process"] = s[stat_base + 12]
            if select is not None and not select(
                {
                    "discipline": discipline,
                    "category": product["category"],
                    "number": product["number"],
                    "level_type": product["level_type"],
                    "level": product["level_value"]
                    // 10 ** product["level_scale"]
                    if product["level_scale"] < 100
                    else product["level_value"],
                    "ensemble_member": product.get("ensemble_member"),
                }
            ):
                return None  # skip before sections 5-7: no bitstream decode
        elif sec_num == 5:
            tmpl = _u(s, 9, 2)
            if tmpl == 40 and j2k_decoder is None:
                raise GRIB2Error(
                    "data representation template 5.40 (JPEG2000 code "
                    "stream) needs a JPEG2000 codec (OpenJPEG / Pillow) — "
                    "pass j2k_decoder= to plug one in"
                )
            if tmpl not in (0, 2, 3, 40, 41, 42):
                raise GRIB2Error(f"data representation template 5.{tmpl} not supported")
            n_claimed = _u(s, 5, 4)
            if n_claimed > _MAX_POINTS:  # same decode guard as the grid dims
                raise GRIB2Error(f"implausible n_points {n_claimed}")
            packing = {
                "template": tmpl,
                "n_points": n_claimed,
                "ref": struct.unpack(">f", s[11:15])[0],
                "binary_scale": _s16(s, 15),
                "decimal_scale": _s16(s, 17),
                "bits": s[19],
            }
            if tmpl == 42:  # CCSDS/AEC: octets 22-25 = flags, block, RSI
                packing.update(
                    {
                        "aec_flags": s[21],
                        "aec_block": s[22],
                        "aec_rsi": _u(s, 23, 2),
                    }
                )
            if tmpl in (2, 3):
                if s[22] != 0:
                    raise GRIB2Error(
                        f"complex-packing missing value management {s[22]} not "
                        "supported (use a section-6 bitmap)"
                    )
                packing.update(
                    {
                        "n_groups": _u(s, 31, 4),
                        "width_ref": s[35],
                        "width_bits": s[36],
                        "length_ref": _u(s, 37, 4),
                        "length_inc": s[41],
                        "last_length": _u(s, 42, 4),
                        "length_bits": s[46],
                    }
                )
            if tmpl == 3:
                packing["diff_order"] = s[47]
                packing["extra_octets"] = s[48]
                if packing["diff_order"] not in (1, 2):
                    raise GRIB2Error(
                        f"spatial differencing order {packing['diff_order']}"
                    )
        elif sec_num == 6:
            indicator = s[5]
            if indicator == 0:
                nbits = (sec_len - 6) * 8
                bitmap = np.unpackbits(np.frombuffer(s[6:], dtype=np.uint8))[:nbits].astype(bool)
            elif indicator != 255:
                raise GRIB2Error(f"predefined bitmap {indicator} not supported")
        elif sec_num == 7:
            if packing is None:
                raise GRIB2Error("data section before data representation section")
            n = packing["n_points"]
            if packing["template"] in (2, 3):
                x = _unpack_complex(s[5:], packing)
                present = (packing["ref"] + x * 2.0 ** packing["binary_scale"]) / (
                    10.0 ** packing["decimal_scale"]
                )
            elif packing["bits"] == 0:
                # bits_per_value=0 is a legal constant field for the simple
                # AND the PNG/CCSDS templates (every value = reference, the
                # data payload is empty) — it must win over the 41/42 decode
                # dispatch or a foreign constant-field message would try to
                # decode its absent payload (wrong values at worst)
                present = np.full(n, packing["ref"] / 10.0 ** packing["decimal_scale"])
            elif packing["template"] == 40:
                # injected-decoder seam: raw X integers come back from the
                # user's JPEG2000 codec; R/E/D unscale is ours either way
                x = np.asarray(
                    j2k_decoder(bytes(s[5:]), n, packing["bits"])
                ).reshape(-1)
                if x.size != n:
                    raise GRIB2Error(
                        f"injected JPEG2000 decoder returned {x.size} points, "
                        f"expected {n}"
                    )
                present = (packing["ref"] + x * 2.0 ** packing["binary_scale"]) / (
                    10.0 ** packing["decimal_scale"]
                )
            elif packing["template"] == 41:
                x = _unpack_png(bytes(s[5:]), n, packing["bits"])
                present = (packing["ref"] + x * 2.0 ** packing["binary_scale"]) / (
                    10.0 ** packing["decimal_scale"]
                )
            elif packing["template"] == 42:
                from zarr_climate_etl_ipfs_spark.sources import ccsds_aec

                try:
                    pp = ccsds_aec.check_flags(packing["aec_flags"])
                    x = ccsds_aec.aec_decode(
                        bytes(s[5:]), n, packing["bits"] or 1,
                        packing["aec_block"], packing["aec_rsi"] or 1, pp,
                    )
                except ccsds_aec.AECError as exc:
                    raise GRIB2Error(f"CCSDS packing: {exc}") from exc
                present = (packing["ref"] + x * 2.0 ** packing["binary_scale"]) / (
                    10.0 ** packing["decimal_scale"]
                )
            else:
                x = _unpack_bits(s[5:], n, packing["bits"])
                present = (packing["ref"] + x * 2.0 ** packing["binary_scale"]) / (
                    10.0 ** packing["decimal_scale"]
                )
            values = present
        p += sec_len

    if not all((ref_time, grid, product, packing)) or values is None:
        raise GRIB2Error("incomplete GRIB2 message (missing required section)")
    ni, nj = grid["ni"], grid["nj"]
    if bitmap is not None:
        full = np.full(ni * nj, np.nan)
        full[bitmap[: ni * nj]] = values  # trim packbits byte padding
        values = full
    attrs = {k: packing[k] for k in ("binary_scale", "decimal_scale", "bits")}
    for k in ("interval_end", "statistical_process", "ensemble_type", "ensemble_size"):
        if k in product:
            attrs[k] = product[k]
    return GRIB2Message(
        discipline=discipline,
        parameter_category=product["category"],
        parameter_number=product["number"],
        level_type=product["level_type"],
        level=product["level_value"] // 10 ** product["level_scale"]
        if product["level_scale"] < 100
        else product["level_value"],
        ref_time=ref_time,
        lats=grid["lats"],
        lons=grid["lons"],
        values=values.reshape(nj, ni),
        attrs=attrs,
        forecast_seconds=product["forecast_seconds"],
        ensemble_member=product.get("ensemble_member"),
    )


def _unpack_png(payload: bytes, n: int, bits: int) -> np.ndarray:
    """Template 7.40: the scaled integers X arrive as a PNG image (WMO
    template 5.41; e.g. NCEP MRMS products). Depths 1-16 are greyscale,
    24 is 8-bit RGB and 32 is 8-bit RGBA, with the pixel raster in scan
    order carrying X big-endian across channels. Decoded with the repo's
    own pure-stdlib PNG codec (mediacodecs.decode_png)."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import MediaDecodeError, decode_png

    try:
        img, _meta = decode_png(payload)
    except MediaDecodeError as e:
        raise GRIB2Error(f"PNG-packed data section: {e}") from e
    flat = img.reshape(img.shape[0] * img.shape[1], img.shape[2]).astype(np.int64)
    c = flat.shape[1]
    if bits <= 16:
        if c != 1:
            raise GRIB2Error(f"PNG packing with {bits} bits expects greyscale, got {c} channels")
        x = flat[:, 0]
        depth = _meta["bit_depth"]
        if bits > depth:
            # the payload physically cannot hold the declared values —
            # refuse rather than mis-decode (clean-failure contract)
            raise GRIB2Error(
                f"PNG packing declares {bits} bits but the PNG payload "
                f"has bit depth {depth}"
            )
        if depth < 8:
            # decode_png applies the PNG DISPLAY scaling 255/(2^d − 1) to
            # sub-byte greyscale; GRIB2 packs raw scaled integers X, so
            # divide the exact factor back out (it divides evenly by
            # construction). Without this, 1/2/4-bit 5.41 payloads would
            # decode to silently inflated values — caught when the r12b
            # PNG work turned the old depth<8 refusal into a decode.
            # The factor is a property of the PNG's ACTUAL depth, not the
            # declared GRIB2 bits: 5/6/7-bit fields have no legal PNG
            # greyscale depth and ship raw at depth 8 (no scaling), so
            # deriving the factor from ``bits`` would silently integer-
            # divide them into garbage (round-13 advisory fix).
            x = x // (255 // ((1 << depth) - 1))
    elif bits == 24 and c == 3:
        x = (flat[:, 0] << 16) | (flat[:, 1] << 8) | flat[:, 2]
    elif bits == 32 and c == 4:
        x = (flat[:, 0] << 24) | (flat[:, 1] << 16) | (flat[:, 2] << 8) | flat[:, 3]
    else:
        raise GRIB2Error(f"PNG packing bits={bits} with {c} channels not supported")
    if x.size != n:
        raise GRIB2Error(f"PNG-packed section has {x.size} points, expected {n}")
    return x


def _read_block(bits: np.ndarray, pos: int, n: int, w: int) -> tuple[np.ndarray, int]:
    """Read ``n`` big-endian unsigned ints of ``w`` bits each from a
    0/1 bit array starting at bit ``pos``; returns (values, new_pos)."""
    if w == 0:
        return np.zeros(n, dtype=np.int64), pos
    seg = bits[pos : pos + n * w].astype(np.int64).reshape(n, w)
    weights = np.left_shift(1, np.arange(w - 1, -1, -1, dtype=np.int64))
    return seg @ weights, pos + n * w


def _byte_align(pos: int) -> int:
    return (pos + 7) // 8 * 8


def _signed_om(b: bytes, off: int, n: int) -> int:
    """Sign-magnitude integer of ``n`` octets (GRIB2 convention: high bit
    of the first octet is the sign)."""
    raw = _u(b, off, n)
    sign_bit = 1 << (8 * n - 1)
    return -(raw & (sign_bit - 1)) if raw & sign_bit else raw


def _unpack_complex(payload: bytes, packing: dict) -> np.ndarray:
    """Templates 7.2 / 7.3: group-split data, optionally spatially
    differenced. Layout (regulations 92.9.4 / g2clib g2_unpack7):

      [7.3 only] ival1 [, ival2], gmin — ``extra_octets`` bytes each,
        sign-magnitude, byte-aligned at the start;
      NG group reference values, ``bits`` wide, padded to a byte;
      NG group widths, ``width_bits`` wide (add ``width_ref``), padded;
      NG scaled group lengths, ``length_bits`` wide
        (len = ``length_ref`` + inc·scaled; the last group's true length
        comes from the template), padded;
      the values themselves: group g contributes length[g] deviations of
        width[g] bits, one continuous bitstream.

    For 7.3 the unpacked sequence is the ``diff_order``-th difference:
    add ``gmin`` to every post-order value, splice ival1/ival2 in front,
    then integrate order times.
    """
    tmpl = packing["template"]
    n = packing["n_points"]
    ng = packing["n_groups"]
    if ng > n or ng > _MAX_POINTS:
        # group counts size the refs/widths/lengths allocations; a group
        # can never cover less than one point, so ng > n is malformed
        raise GRIB2Error(f"implausible group count {ng} for {n} points")
    pos_bytes = 0
    if tmpl == 3:
        od = packing["extra_octets"]
        order = packing["diff_order"]
        if od == 0:
            raise GRIB2Error("template 5.3 with zero extra-descriptor octets")
        if n <= order:
            raise GRIB2Error(
                f"template 5.3 slab of {n} points cannot carry spatial "
                f"differencing of order {order}"
            )
        ivals = [_signed_om(payload, i * od, od) for i in range(order)]
        gmin = _signed_om(payload, order * od, od)
        pos_bytes = (order + 1) * od
    bits = np.unpackbits(np.frombuffer(payload, dtype=np.uint8))
    pos = pos_bytes * 8
    refs, pos = _read_block(bits, pos, ng, packing["bits"])
    pos = _byte_align(pos)
    widths, pos = _read_block(bits, pos, ng, packing["width_bits"])
    widths = widths + packing["width_ref"]
    pos = _byte_align(pos)
    scaled_len, pos = _read_block(bits, pos, ng, packing["length_bits"])
    lengths = packing["length_ref"] + packing["length_inc"] * scaled_len
    if ng > 0:
        lengths[-1] = packing["last_length"]
    pos = _byte_align(pos)
    if int(lengths.sum()) != n:
        raise GRIB2Error(
            f"group lengths sum to {int(lengths.sum())}, expected {n} points"
        )
    out = np.empty(n, dtype=np.int64)
    idx = 0
    for g in range(ng):
        ln, w = int(lengths[g]), int(widths[g])
        if w == 0:
            out[idx : idx + ln] = 0
        else:
            vals, pos = _read_block(bits, pos, ln, w)
            out[idx : idx + ln] = vals
        idx += ln
    x = out + np.repeat(refs, lengths)
    if tmpl == 3:
        d = x
        d[order:] += gmin
        if order == 1:
            # x[j] = d[j] + x[j-1], x[0] = ival1
            d[0] = ivals[0]
            x = np.cumsum(d)
        else:
            # x[j] = d[j] + 2x[j-1] - x[j-2]: integrate twice via the first
            # difference y[j] = y[j-1] + d[j], y[1] = ival2 - ival1
            y = np.empty(n, dtype=np.int64)
            y[1:] = (ivals[1] - ivals[0]) + np.concatenate(
                ([0], np.cumsum(d[2:]))
            )
            x = np.empty(n, dtype=np.int64)
            x[0] = ivals[0]
            x[1:] = ivals[0] + np.cumsum(y[1:])
    return x


def _s16(b: bytes, off: int) -> int:
    raw = _u(b, off, 2)
    return -(raw & 0x7FFF) if raw & 0x8000 else raw


def _s16_bytes(v: int) -> bytes:
    raw = (abs(v) | 0x8000) if v < 0 else v
    return raw.to_bytes(2, "big")


def _parse_grid(s: bytes) -> dict:
    tmpl = _u(s, 12, 2)
    if tmpl != 0:
        raise GRIB2Error(f"grid definition template 3.{tmpl} not supported (lat/lon only)")
    ni, nj = _u(s, 30, 4), _u(s, 34, 4)
    # decode guard: ni/nj are unvalidated claims from foreign bytes, and
    # they size the coordinate/value allocations — a forged 2^32 count
    # would otherwise hang the parser in a multi-GiB numpy alloc. 2^28
    # grid points (2 GiB of float64, per _MAX_POINTS) is far beyond any
    # deliverable single message (a 0.01° global field ships sharded,
    # never as one message).
    if not (0 < ni <= _MAX_POINTS and 0 < nj <= _MAX_POINTS) or ni * nj > _MAX_POINTS:
        raise GRIB2Error(f"implausible grid dimensions ni={ni} nj={nj}")
    la1, lo1 = _s32(s, 46), _s32(s, 50)
    la2, lo2 = _s32(s, 55), _s32(s, 59)
    scan = s[71]
    if scan != 0:
        raise GRIB2Error(f"scanning mode {scan:#x} not supported (W→E, N→S only)")
    return {
        "ni": ni,
        "nj": nj,
        "lats": np.linspace(la1 / 1e6, la2 / 1e6, nj),
        "lons": np.linspace(lo1 / 1e6, lo2 / 1e6, ni),
    }


# ---------------------------------------------------------------------------
# writer (test fixture generation)
# ---------------------------------------------------------------------------


def write_grib2(
    messages: list[GRIB2Message],
    bits_per_value: int = 16,
    decimal_scale: int = 2,
    template: int = 0,
    diff_order: int = 2,
) -> bytes:
    """Concatenated GRIB2 messages; NaNs become a section-6 bitmap. Same
    lossy-at-precision contract as any real GRIB product.

    ``template`` selects the data representation: 0 = simple packing,
    2 = complex packing (group splitting), 3 = complex packing with
    spatial differencing of ``diff_order`` (1 or 2), 41 = PNG packing
    (greyscale image of the scaled integers; ``bits_per_value`` 8 or 16),
    42 = CCSDS/AEC packing (Rice coding via sources/ccsds_aec.py)."""
    if template not in (0, 2, 3, 41, 42):
        raise GRIB2Error(f"write_grib2 supports templates 0/2/3/41/42, not {template}")
    if template == 41 and bits_per_value not in (8, 16):
        raise GRIB2Error("PNG packing (template=41) writes 8- or 16-bit greyscale")
    return b"".join(
        _write_message(m, bits_per_value, decimal_scale, template, diff_order)
        for m in messages
    )


def _om_bytes(v: int, n: int) -> bytes:
    """Sign-magnitude encoding of ``v`` in ``n`` octets."""
    raw = (abs(v) | (1 << (8 * n - 1))) if v < 0 else v
    return raw.to_bytes(n, "big")


def _bits_for(v: int) -> int:
    return int(v).bit_length()


def _vals_to_bits(vals: np.ndarray, w: int) -> np.ndarray:
    """Big-endian bit expansion: (n,) ints → (n*w,) 0/1 array."""
    return (
        (vals[:, None] >> np.arange(w - 1, -1, -1, dtype=np.int64)) & 1
    ).reshape(-1).astype(np.uint8)


def _pad_byte(bits_arr: np.ndarray) -> np.ndarray:
    pad = (-len(bits_arr)) % 8
    if pad:
        return np.concatenate([bits_arr, np.zeros(pad, dtype=np.uint8)])
    return bits_arr


def _encode_complex(
    x: np.ndarray, template: int, diff_order: int, group_size: int = 32
) -> tuple[dict, bytes]:
    """Group-split encoding of non-negative scaled ints ``x`` (templates
    5.2/5.3). Returns (template fields, section-7 payload)."""
    n = x.size
    head = b""
    fields: dict = {}
    v = x.astype(np.int64)
    if template == 3:
        order = diff_order
        if n <= order:
            raise GRIB2Error(
                f"complex packing with spatial differencing order {order} "
                f"needs more than {order} present points, got {n} — use "
                "simple packing (template=0) for degenerate slabs"
            )
        ivals = [int(v[i]) for i in range(order)]
        d = np.diff(v, n=order).astype(np.int64)
        gmin = int(d.min()) if d.size else 0
        packv = np.zeros(n, dtype=np.int64)
        packv[order:] = d - gmin
        od = 4
        head = b"".join(_om_bytes(i, od) for i in ivals) + _om_bytes(gmin, od)
        fields.update({"diff_order": order, "extra_octets": od})
        v = packv
    ng = (n + group_size - 1) // group_size
    lengths = np.full(ng, group_size, dtype=np.int64)
    lengths[-1] = n - (ng - 1) * group_size
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    refs = np.minimum.reduceat(v, starts)
    devs = v - np.repeat(refs, lengths)
    max_dev = np.maximum.reduceat(devs, starts)
    widths = np.array([_bits_for(int(m)) for m in max_dev], dtype=np.int64)
    ref_bits = max((_bits_for(int(r)) for r in refs), default=1) or 1
    width_bits = max((_bits_for(int(w)) for w in widths), default=1) or 1
    fields.update(
        {
            "bits": ref_bits,
            "n_groups": ng,
            "width_ref": 0,
            "width_bits": width_bits,
            "length_ref": group_size,
            "length_inc": 1,
            "last_length": int(lengths[-1]),
            "length_bits": 0,
        }
    )
    stream = [_pad_byte(_vals_to_bits(refs, ref_bits))]
    stream.append(_pad_byte(_vals_to_bits(widths, width_bits)))
    # length_bits == 0: the scaled-lengths block is empty (all groups take
    # the reference length; the last group's true length is in the template)
    data_bits = [
        _vals_to_bits(devs[starts[g] : starts[g] + lengths[g]], int(widths[g]))
        for g in range(ng)
        if widths[g] > 0
    ]
    if data_bits:
        stream.append(_pad_byte(np.concatenate(data_bits)))
    payload = head + np.packbits(np.concatenate(stream)).tobytes()
    return fields, payload


def _write_message(
    msg: GRIB2Message,
    bits_per_value: int,
    decimal_scale: int,
    template: int = 0,
    diff_order: int = 2,
) -> bytes:
    nj, ni = msg.values.shape
    flat = msg.values.reshape(-1)
    mask = ~np.isnan(flat)
    has_bms = bool((~mask).any())
    present = flat[mask]
    if present.size == 0:
        raise GRIB2Error("cannot encode an all-missing slab")
    scaled = present * 10.0**decimal_scale
    rmin = float(np.float32(scaled.min()))
    e = 0
    while (scaled.max() - rmin) / 2.0**e > (1 << bits_per_value) - 1:
        e += 1
    x = np.clip(
        np.rint((scaled - rmin) / 2.0**e), 0, (1 << bits_per_value) - 1
    ).astype("int64")

    t = msg.ref_time
    sec1 = (
        (21).to_bytes(4, "big") + bytes([1]) + (0).to_bytes(2, "big")
        + (0).to_bytes(2, "big") + bytes([2, 1, 1])
        + t.year.to_bytes(2, "big")
        + bytes([t.month, t.day, t.hour, t.minute, t.second, 0, 1])
    )

    sec3 = bytearray(72)
    sec3[0:4] = (72).to_bytes(4, "big")
    sec3[4] = 3
    sec3[5] = 0  # grid source
    sec3[6:10] = (ni * nj).to_bytes(4, "big")
    sec3[10] = 0  # no optional list
    sec3[11] = 0
    sec3[12:14] = (0).to_bytes(2, "big")  # template 3.0
    sec3[14] = 6  # earth shape
    # scale factors/values for radii left zero (15..29)
    sec3[30:34] = ni.to_bytes(4, "big")
    sec3[34:38] = nj.to_bytes(4, "big")
    # basic angle (38..45) zero
    sec3[46:50] = _s32_bytes(int(round(msg.lats[0] * 1e6)))
    sec3[50:54] = _s32_bytes(int(round(msg.lons[0] * 1e6)))
    sec3[54] = 0x30  # resolution/component flags: di/dj given
    sec3[55:59] = _s32_bytes(int(round(msg.lats[-1] * 1e6)))
    sec3[59:63] = _s32_bytes(int(round(msg.lons[-1] * 1e6)))
    di = abs(msg.lons[1] - msg.lons[0]) if ni > 1 else 0.0
    dj = abs(msg.lats[1] - msg.lats[0]) if nj > 1 else 0.0
    sec3[63:67] = int(round(di * 1e6)).to_bytes(4, "big")
    sec3[67:71] = int(round(dj * 1e6)).to_bytes(4, "big")
    sec3[71] = 0  # scanning mode

    interval_end = msg.attrs.get("interval_end")
    is_ens = msg.ensemble_member is not None
    # PDT: 4.0 plain, 4.1 ensemble, 4.8 statistical interval, 4.11 both
    pdt = (11 if interval_end is not None else 1) if is_ens else (
        8 if interval_end is not None else 0
    )
    ens_base = 34
    stat_base = 37 if is_ens else 34  # ensemble octets 35-37 shift the rest
    sec4_len = stat_base + (24 if interval_end is not None else 0)
    sec4 = bytearray(sec4_len)
    sec4[0:4] = sec4_len.to_bytes(4, "big")
    sec4[4] = 4
    sec4[5:7] = (0).to_bytes(2, "big")  # no coord values
    sec4[7:9] = pdt.to_bytes(2, "big")
    sec4[9] = msg.parameter_category
    sec4[10] = msg.parameter_number
    sec4[11] = 0  # generating process: analysis
    fs = int(msg.forecast_seconds)
    if fs % 3600 == 0:
        sec4[17] = 1  # time unit: hour
        sec4[18:22] = (fs // 3600).to_bytes(4, "big")
    else:
        sec4[17] = 13  # time unit: second
        sec4[18:22] = fs.to_bytes(4, "big")
    sec4[22] = msg.level_type
    sec4[23] = 0  # level scale factor
    sec4[24:28] = int(msg.level).to_bytes(4, "big")
    sec4[28] = 255  # second surface: missing
    sec4[29] = 0xFF
    sec4[30:34] = (0xFFFFFFFF).to_bytes(4, "big")
    if is_ens:  # template 4.1/4.11 ensemble octets 35-37
        sec4[ens_base] = int(msg.attrs.get("ensemble_type", 3))  # perturbed
        sec4[ens_base + 1] = int(msg.ensemble_member)
        sec4[ens_base + 2] = int(msg.attrs.get("ensemble_size", 0))
    if interval_end is not None:  # template 4.8/4.11 statistical extension
        ie = interval_end
        b = stat_base
        sec4[b : b + 2] = ie.year.to_bytes(2, "big")
        sec4[b + 2 : b + 8] = bytes(
            [ie.month, ie.day, ie.hour, ie.minute, ie.second, 1]
        )
        sec4[b + 8 : b + 12] = (0).to_bytes(4, "big")  # no missing in process
        sec4[b + 12] = int(msg.attrs.get("statistical_process", 1))  # accum
        sec4[b + 13] = 2  # increment type: same start, process over interval
        sec4[b + 14] = 1  # time-range unit: hour
        hours = max(int((ie - t).total_seconds() // 3600), 0)
        sec4[b + 15 : b + 19] = hours.to_bytes(4, "big")
        sec4[b + 19] = 255  # no time increment between successive fields
        sec4[b + 20 : b + 24] = (0).to_bytes(4, "big")

    if template in (0, 41, 42):
        sec5_len = 25 if template == 42 else 21
        sec5 = (
            sec5_len.to_bytes(4, "big") + bytes([5])
            + present.size.to_bytes(4, "big")
            + template.to_bytes(2, "big")  # template 5.0 / 5.41 / 5.42
            + struct.pack(">f", rmin)
            + _s16_bytes(e)
            + _s16_bytes(decimal_scale)
            + bytes([bits_per_value, 0])  # original field type: float
        )
        if template == 42:
            from zarr_climate_etl_ipfs_spark.sources import ccsds_aec

            # eccodes' defaults: MSB + preprocessing, J=32, RSI=128
            flags = ccsds_aec.FLAG_MSB | ccsds_aec.FLAG_PREPROCESS
            sec5 += bytes([flags, 32]) + (128).to_bytes(2, "big")
            packed = ccsds_aec.aec_encode(x, bits_per_value or 1, 32, 128, True)
        elif template == 41:
            from zarr_climate_etl_ipfs_spark.mediacodecs import encode_png

            # one-row greyscale raster: image shape is the encoder's choice
            # per the template — present points in scan order
            dtype = np.uint16 if bits_per_value == 16 else np.uint8
            packed = encode_png(x.astype(dtype).reshape(1, present.size))
        else:
            packed = _pack_bits(x, bits_per_value)
    else:
        fields, packed = _encode_complex(x, template, diff_order)
        sec5_len = 49 if template == 3 else 47
        sec5 = (
            sec5_len.to_bytes(4, "big") + bytes([5])
            + present.size.to_bytes(4, "big")
            + template.to_bytes(2, "big")
            + struct.pack(">f", rmin)
            + _s16_bytes(e)
            + _s16_bytes(decimal_scale)
            + bytes([fields["bits"], 0])
            + bytes([1, 0])  # general group splitting; no missing mgmt
            + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")  # missing substitutes
            + fields["n_groups"].to_bytes(4, "big")
            + bytes([fields["width_ref"], fields["width_bits"]])
            + fields["length_ref"].to_bytes(4, "big")
            + bytes([fields["length_inc"]])
            + fields["last_length"].to_bytes(4, "big")
            + bytes([fields["length_bits"]])
        )
        if template == 3:
            sec5 += bytes([fields["diff_order"], fields["extra_octets"]])

    if has_bms:
        packed_map = np.packbits(mask.astype(np.uint8)).tobytes()
        sec6 = (6 + len(packed_map)).to_bytes(4, "big") + bytes([6, 0]) + packed_map
    else:
        sec6 = (6).to_bytes(4, "big") + bytes([6, 255])

    sec7 = (5 + len(packed)).to_bytes(4, "big") + bytes([7]) + packed

    body = sec1 + bytes(sec3) + bytes(sec4) + sec5 + sec6 + sec7 + b"7777"
    total = 16 + len(body)
    head = b"GRIB" + b"\x00\x00" + bytes([msg.discipline, 2]) + total.to_bytes(8, "big")
    return head + body


# ---------------------------------------------------------------------------
# decoder adapter (S8 for ingest)
# ---------------------------------------------------------------------------


def grib2_decoder(
    desc,
    parameter: tuple[int, int] | None = None,
    level_type: int | None = None,
    level: int | None = None,
    j2k_decoder=None,
):
    """Decoder for ``read_binary_gridded`` over GRIB2 bytes — same tall-row
    contract as the other decoders.

    ``parameter`` (category, number), ``level_type`` and ``level`` are the
    message-selection predicates of the reference's ``grib_filter`` /
    index-scan path (utils/transform.py:137-141: keep the surface / first
    layer out of multi-layer files; :210-218 per-variable scan filtering).
    They are applied BEFORE section-7 unpack, so filtered messages cost
    only header parsing.

    For ``forecast``/``ensemble``/``hindcast`` descriptors the extra dims
    come from the product definition: ``step`` = forecast lead seconds,
    ``ensemble`` = PDT 4.1/4.11 perturbation number (an ensemble descriptor
    over a non-ensemble product is a clear error)."""
    import pandas as pd

    from zarr_climate_etl_ipfs_spark.sources.ingest import tall_frame

    want_step = "step" in desc.dims
    want_ens = "ensemble" in desc.dims

    def select(h: dict) -> bool:
        if parameter is not None and (h["category"], h["number"]) != tuple(parameter):
            return False
        if level_type is not None and h["level_type"] != level_type:
            return False
        if level is not None and h["level"] != level:
            return False
        return True

    def decode(path: str, content: bytes) -> pd.DataFrame:
        frames = []
        for msg in parse_grib2(content, select=select, j2k_decoder=j2k_decoder):
            const = {}
            if want_step:
                const["step"] = np.int64(msg.forecast_seconds)
            if want_ens:
                if msg.ensemble_member is None:
                    raise GRIB2Error(
                        f"{path}: descriptor {desc.dataset_name!r} declares an "
                        "ensemble dim but the message is not PDT 4.1/4.11"
                    )
                const["ensemble"] = np.int32(msg.ensemble_member)
            t = [np.datetime64(msg.ref_time, "us")]
            frames.append(tall_frame(desc, t, msg.lats, msg.lons, msg.values, **const))
        if not frames:
            raise GRIB2Error(f"{path}: no matching GRIB2 messages")
        return pd.concat(frames, ignore_index=True)

    return decode


# ---------------------------------------------------------------------------
# distributed sharded sink (GridStore.export_grib2 delegates here)
# ---------------------------------------------------------------------------


def write_grib2_sharded(
    df,
    path: str,
    var: str,
    time_dim: str,
    lat_dim: str,
    lon_dim: str,
    bucket_fmt: str = "yyyy-MM",
    template: int = 0,
    bits_per_value: int = 16,
    decimal_scale: int = 2,
    discipline: int = 0,
    parameter: tuple[int, int] = (0, 0),
    level_type: int = 1,
    level: int = 0,
) -> dict:
    """Distributed GRIB2 sink over a tall (time, lat, lon, value) frame —
    one ``.grib2`` file per ``bucket_fmt`` time bucket, one message per time
    step, through the shared bucket-grid sink (sources/sink.py: one shuffle
    keyed on the bucket, executor-side writes). The directory at ``path``
    must already exist (callers own create/overwrite semantics). Section-3
    template 3.0 stores only endpoints + integer-microdegree increments, so
    axes must be evenly spaced on that grid — enforced with a named error.
    All-missing time slices are skipped (a message cannot carry zero
    present points) and counted in the returned manifest."""
    import pandas as pd

    from zarr_climate_etl_ipfs_spark.sources.sink import write_bucket_grids

    def encoder_for(axes):
        for d in (lat_dim, lon_dim):
            ax = axes[d]
            n = len(ax)
            if n > 1:
                recon = np.linspace(
                    round(ax[0] * 1e6) / 1e6, round(ax[-1] * 1e6) / 1e6, n
                )
                if np.abs(recon - ax).max() > 5e-7:
                    raise GRIB2Error(
                        f"axis {d!r} is not evenly spaced on GRIB's microdegree "
                        "grid; section 3 template 3.0 cannot represent it "
                        "(write_zarr_tall/export_netcdf4 carry explicit "
                        "coordinate arrays instead)"
                    )
        lats_asc, lons_asc = axes[lat_dim], axes[lon_dim]

        def encode(tvals, grid):
            grid = grid.astype("float64", copy=False)
            msgs = []
            skipped = 0
            for k, tv in enumerate(tvals):
                slab = grid[k][::-1]  # N→S rows: scanning mode 0
                if np.isnan(slab).all():
                    skipped += 1
                    continue
                msgs.append(
                    GRIB2Message(
                        discipline=discipline,
                        parameter_category=parameter[0],
                        parameter_number=parameter[1],
                        level_type=level_type,
                        level=level,
                        ref_time=pd.Timestamp(tv).to_pydatetime(),
                        lats=lats_asc[::-1],
                        lons=lons_asc,
                        values=slab,
                    )
                )
            if not msgs:  # a bucket of all-missing slices emits no file
                return None, 0, skipped
            return write_grib2(msgs, bits_per_value, decimal_scale, template), len(msgs), skipped

        return encode

    return write_bucket_grids(
        df, path, var, time_dim, [lat_dim, lon_dim], bucket_fmt, "grib2", encoder_for
    )
