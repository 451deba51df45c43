"""Lossy WebP (VP8): header probe + decoder-injection seam.

Why there is no from-scratch VP8 pixel
decoder here, same standard as GRIB2 template 5.40 (SURVEY.md §8):

A VP8 key-frame decoder's structure is fully reproducible from RFC 6386
(boolean arithmetic coder, header layout, mode trees, token tree, LLM
IDCT, predictors, loop filter) — all of that was built and the header
layer VALIDATED against a real libwebp bitstream (the CPython test-suite
``python.webp``): the boolean decoder + key-frame header parse recover
semantically coherent fields (16x16 dims, normal filter level 12, one DCT
partition, y_ac_qi 26, plausible per-plane quantizer deltas) — that
header path ships below as :func:`probe_vp8`. But COEFFICIENT decode
requires ~2.9 kB of exact published probability constants
(``coeff_update_probs`` 1056 B, ``default_coeff_probs`` 1056 B,
``kf_bmode_prob`` 900 B) that could not be reproduced reliably in this
environment: best-effort tables desynchronized the real bitstream
(10/160 partition bytes consumed), and bitstream-as-oracle repair was
attempted and FAILED — 270k single-entry update-table overrides and 268k
single-entry default-table overrides found zero full-consumption parses,
and an 8-move greedy repair plateaued at 66/160 with semantically
meaningless fixes (overfitting, not recovery). A self-consistent-but-
wrong decoder that round-trips its own encoder while mis-decoding every
real file is strictly worse than the named error. The honest surface is:
(a) this probe (validated), (b) the ``vp8_decoder=`` injection seam on
:func:`~zarr_climate_etl_ipfs_spark.webp_vp8l.decode_webp` for users with
libwebp/Pillow, (c) the named NotImplementedError otherwise, pinned by a
real-bitstream test so a future half-implementation cannot slip through.
"""

from __future__ import annotations

import struct

__all__ = ["VP8Error", "probe_vp8"]


class VP8Error(ValueError):
    pass


class _BoolDec:
    """RFC 6386 §7.3 boolean arithmetic decoder (bigsplit form).
    Validated against a real libwebp stream via the header fields it
    recovers (see module docstring)."""

    __slots__ = ("buf", "pos", "rng", "val", "bitcnt", "end", "overrun")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.end = len(buf)
        # Reading past the partition would silently decode synthetic zero
        # bits — structurally valid garbage. Track it so callers can
        # reject a walk that exhausted its partition (e.g. part1_size 0).
        self.overrun = self.end < 2
        b0 = buf[0] if self.end > 0 else 0
        b1 = buf[1] if self.end > 1 else 0
        self.val = (b0 << 8) | b1
        self.pos = 2
        self.rng = 255
        self.bitcnt = 0

    def bool(self, prob: int = 128) -> int:
        split = 1 + (((self.rng - 1) * prob) >> 8)
        bigsplit = split << 8
        if self.val >= bigsplit:
            ret = 1
            self.rng -= split
            self.val -= bigsplit
        else:
            ret = 0
            self.rng = split
        while self.rng < 128:
            self.val <<= 1
            self.rng <<= 1
            self.bitcnt += 1
            if self.bitcnt == 8:
                self.bitcnt = 0
                if self.pos < self.end:
                    self.val |= self.buf[self.pos]
                else:
                    self.overrun = True
                self.pos += 1
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bool(128)
        return v

    def signed(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.bool(128) else v


def probe_vp8(data: bytes) -> dict:
    """Parse a VP8 key-frame header (the ``VP8 `` chunk payload) down to
    the quantizer indices — everything BEFORE the coefficient-probability
    update loop, which is the exact prefix that needs no entropy tables
    (only uniform-probability literals/flags). Returns dims, filter
    config, partition count, and quantizer info. Raises VP8Error on
    malformed or non-key frames."""
    if len(data) < 10:
        raise VP8Error("VP8 frame shorter than its header")
    b0, b1, b2 = data[0], data[1], data[2]
    if b0 & 1:
        raise VP8Error("WebP stills are key frames; got an interframe")
    version = (b0 >> 1) & 7
    if version > 3:
        raise VP8Error(f"VP8 version {version} reserved")
    part1_size = (b0 >> 5) | (b1 << 3) | (b2 << 11)
    if data[3:6] != b"\x9d\x01\x2a":
        raise VP8Error("VP8 key frame start code missing")
    wv, hv = struct.unpack("<HH", data[6:10])
    width, height = wv & 0x3FFF, hv & 0x3FFF
    if width == 0 or height == 0:
        raise VP8Error("VP8 frame with zero dimension")
    if 10 + part1_size > len(data):
        raise VP8Error("first partition overruns frame")
    bd = _BoolDec(data[10 : 10 + part1_size])

    bd.literal(1)  # color space
    bd.literal(1)  # clamping
    seg_enabled = bd.bool()
    if seg_enabled:
        seg_update_map = bd.bool()
        if bd.bool():  # update feature data
            bd.bool()  # abs/delta
            for _ in range(4):
                if bd.bool():
                    bd.signed(7)
            for _ in range(4):
                if bd.bool():
                    bd.signed(6)
        if seg_update_map:
            for _ in range(3):
                if bd.bool():
                    bd.literal(8)
    filter_type = bd.literal(1)
    filter_level = bd.literal(6)
    sharpness = bd.literal(3)
    if bd.bool():  # lf deltas enabled
        if bd.bool():  # delta update
            for _ in range(8):
                if bd.bool():
                    bd.signed(6)
    n_parts = 1 << bd.literal(2)
    y_ac_qi = bd.literal(7)
    deltas = {}
    for name in ("y1dc", "y2dc", "y2ac", "uvdc", "uvac"):
        deltas[name] = bd.signed(4) if bd.bool() else 0
    if bd.overrun:
        raise VP8Error(
            f"first partition ({part1_size} bytes) exhausted mid-header — "
            "probe fields would be synthetic zero bits"
        )
    return {
        "format": "webp-vp8",
        "width": width,
        "height": height,
        "version": version,
        "segmentation": bool(seg_enabled),
        "filter_type": "simple" if filter_type else "normal",
        "filter_level": filter_level,
        "sharpness": sharpness,
        "n_dct_partitions": n_parts,
        "y_ac_qi": y_ac_qi,
        "quant_deltas": deltas,
        "first_partition_bytes": part1_size,
    }
