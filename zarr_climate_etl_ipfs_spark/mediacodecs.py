"""Pure-stdlib media codecs: PNG / GIF / PPM / PGM / BMP images, PCM WAV audio.

The container has no PIL/opencv/ffmpeg, but none are needed for the
lossless formats whose decoders are just byte-layout + zlib/LZW (stdlib):
these kernels turn the multimodal "decode" step from an injectable stub
into a real decoder for PNG (8-bit gray/gray+alpha/RGB/RGBA, all five
scanline filters), GIF87a/89a (LZW, global/local palettes, interlace),
baseline uncompressed TIFF (II/MM byte orders, strips), binary PPM/PGM,
uncompressed 24-bit BMP, baseline JPEG (SOF0 huffman/DCT per ITU T.81,
4:4:4/4:2:2/4:2:0, restart markers), PCM WAV (8/16-bit), FLAC, and
lossless WebP (VP8L, in `webp_vp8l.py`). MP4 and Ogg get structure-only
metadata PROBES (box/page walking — duration, dimensions, streams)
without codec decode. Formats whose sample decode genuinely needs
external codecs (lossy WebP, progressive JPEG, LZW/JPEG TIFF, MP3,
MP4/H.264, Ogg Vorbis/Opus payloads) still raise with the dependency
name — the seam `multimodal.py` documents.

Encoders/writers for PNG/GIF/TIFF/PPM/JPEG/WAV/FLAC/WebP and the MP4/Ogg
skeletons exist so tests can round-trip real bytes without fixtures from
outside the repo.
"""

from __future__ import annotations

import struct
import zlib
from typing import Any

import numpy as np


class MediaDecodeError(ValueError):
    pass


def _clean_errors(fn):
    """Decode entry points raise MediaDecodeError for ANY malformed input —
    a 100 TB crawl corpus feeds these decoders adversarial bytes, and the
    failure taxonomy must stay two-valued: MediaDecodeError (bad bytes) or
    NotImplementedError (format needs an external lib). Low-level
    struct/zlib/index/value errors from truncated or corrupt payloads are
    wrapped; nothing else leaks."""
    import functools

    @functools.wraps(fn)
    def wrapped(content, *a, **kw):
        try:
            return fn(content, *a, **kw)
        except (MediaDecodeError, NotImplementedError):
            raise
        except (struct.error, zlib.error, ValueError, IndexError, KeyError, OverflowError, MemoryError, ZeroDivisionError) as e:
            raise MediaDecodeError(f"{fn.__name__}: malformed input ({type(e).__name__}: {e})") from e

    return wrapped


# ---------------------------------------------------------------------------
# GIF (87a/89a): palette + LZW, both pure stdlib
# ---------------------------------------------------------------------------


def _gif_lzw_decode(
    data: bytes, min_code_size: int, max_out: int | None = None
) -> list[int]:
    """GIF-variant LZW: little-endian bit packing, variable code width
    starting at min_code_size+1 (max 12), CLEAR resets the table.
    ``max_out`` caps the expanded size (callers pass the declared pixel
    count) — LZW expands up to ~2700x, so an unbounded decode of a crafted
    few-MB stream would allocate gigabytes before any size check (the
    decompression-bomb guard an adversarial crawl corpus needs)."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out: list[int] = []
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise MediaDecodeError(f"GIF LZW: bad code {code}")
            out.extend(entry)
            if max_out is not None and len(out) > max_out:
                raise MediaDecodeError(
                    f"GIF LZW: output exceeds declared size ({len(out)} > {max_out})"
                )
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


@_clean_errors
def decode_gif(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """GIF87a/89a → (H, W, 3) uint8 RGB of the FIRST frame (training-data
    feature extraction wants one representative raster, not an animation);
    ``meta['n_frames']`` counts every image block so multi-frame inputs are
    visible to callers. Thin wrapper over ``decode_gif_frames`` — one
    parser, two views; ``max_frames=1`` stops LZW/composite work after the
    first frame and only structurally skips the remaining image blocks (so
    an adversarial many-frame animation costs one frame of decode here, not
    the whole animation, while n_frames stays accurate). Transparency index
    (89a GCE before frame 1) is reported in meta but not composited."""
    frames, fmeta = decode_gif_frames(content, max_frames=1)
    meta = {
        "format": "gif",
        "height": fmeta["height"],
        "width": fmeta["width"],
        "channels": 3,
        "n_frames": fmeta["n_frames"],
    }
    if "transparent_index" in fmeta:
        meta["transparent_index"] = fmeta["transparent_index"]
    return frames[0], meta


_GIF_MAX_CANVAS_BYTES = 256 << 20  # total frames × H × W × 3 decompression cap


@_clean_errors
def decode_gif_frames(
    content: bytes, max_frames: int | None = None
) -> tuple[np.ndarray, dict[str, Any]]:
    """GIF87a/89a → (n_frames, H, W, 3) uint8 RGB — ALL frames, composited
    onto the logical-screen canvas in order with full 89a animation
    semantics: per-frame transparency masks the draw (delta frames keep
    the canvas underneath), disposal 2 restores the drawn rect to
    background (black, the browser convention) before the next frame,
    disposal 3 restores the canvas under the previous draw, and 0/1
    leave the canvas as drawn.  This is the repo's real
    video decode path: animated GIF is the one motion format whose decode
    is pure stdlib, so frame sampling runs for real instead of via a
    stubbed MP4 seam.

    Decompression-bomb bounds (adversarial-crawl threat model): the LZW
    ``max_out`` cap bounds each frame's pixel data, and
    ``_GIF_MAX_CANVAS_BYTES`` bounds total frames × canvas bytes — a GIF
    declaring a large logical screen plus many tiny image blocks would
    otherwise allocate one full canvas copy per frame unbounded. With
    ``max_frames=N``, blocks past the Nth are structurally skipped (counted
    in ``n_frames``, delays recorded, no LZW/composite cost)."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise MediaDecodeError("not a GIF (bad signature)")
    if len(content) < 14:
        raise MediaDecodeError("GIF: truncated header")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", content[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(content[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    frames: list[np.ndarray] = []
    delays: list[int] = []
    pending_delay = 0
    n_skipped = 0
    transparent = None
    # per-frame GCE state (89a): transparency masks the draw, disposal
    # decides what the NEXT frame composites onto
    pend_transparent: int | None = None
    pend_disposal = 0
    prev_disposal = 0
    prev_rect = None  # (top, left, h, w) of the last drawn frame
    prev_under = None  # canvas copy for disposal 3 (restore to previous)
    while pos < len(content):
        block = content[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:
            label = content[pos]
            pos += 1
            sub0 = pos
            while content[pos] != 0:
                pos += content[pos] + 1
            if label == 0xF9:
                gce = content[sub0 + 1 : sub0 + 1 + content[sub0]]
                if len(gce) >= 4:
                    pending_delay = struct.unpack("<H", gce[1:3])[0]
                    pend_transparent = gce[3] if gce[0] & 0x01 else None
                    pend_disposal = (gce[0] >> 2) & 0x7
                    if not frames and gce[0] & 0x01:
                        transparent = gce[3]
            pos += 1
            continue
        if block != 0x2C:
            raise MediaDecodeError(f"GIF: unexpected block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack("<HHHHB", content[pos : pos + 9])
        pos += 9
        if max_frames is not None and len(frames) >= max_frames:
            # structural skip: count the block, record its delay, decode nothing
            if ipacked & 0x80:
                pos += 3 * (2 << (ipacked & 0x07))
            pos += 1  # LZW min code size
            while content[pos] != 0:
                pos += content[pos] + 1
            pos += 1
            n_skipped += 1
            delays.append(pending_delay)
            pending_delay = 0
            continue
        if (len(frames) + 1) * sh * sw * 3 > _GIF_MAX_CANVAS_BYTES:
            raise MediaDecodeError(
                f"GIF: decoded frames exceed canvas-bytes cap "
                f"({len(frames) + 1} frames × {sh}×{sw}×3 > {_GIF_MAX_CANVAS_BYTES})"
            )
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = np.frombuffer(content[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise MediaDecodeError("GIF: no color table for frame")
        min_code_size = content[pos]
        pos += 1
        chunks = []
        while content[pos] != 0:
            ln = content[pos]
            chunks.append(content[pos + 1 : pos + 1 + ln])
            pos += ln + 1
        pos += 1
        idx = _gif_lzw_decode(b"".join(chunks), min_code_size, max_out=w * h)
        if len(idx) < w * h:
            raise MediaDecodeError(f"GIF: short pixel data ({len(idx)} < {w * h})")
        arr = np.asarray(idx[: w * h], dtype=np.uint8).reshape(h, w)
        if ipacked & 0x40:
            rows = np.empty_like(arr)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                for r in range(start, h, step):
                    rows[r] = arr[src]
                    src += 1
            arr = rows
        if int(arr.max(initial=0)) >= len(ct):
            raise MediaDecodeError("GIF: pixel index out of palette range")
        # apply the PREVIOUS frame's disposal before compositing this one:
        # 2 = restore the drawn rect to the background (black — browsers
        # treat the background as transparent-black), 3 = restore the
        # canvas under the previous draw; 0/1 leave the canvas as drawn
        canvas = canvas.copy()
        if prev_rect is not None:
            pt, pl, ph, pw = prev_rect
            if prev_disposal == 2:
                canvas[pt : pt + ph, pl : pl + pw] = 0
            elif prev_disposal == 3 and prev_under is not None:
                canvas = prev_under.copy()
        prev_under = canvas.copy()
        region = canvas[top : top + h, left : left + w]
        drawn = ct[arr[: region.shape[0], : region.shape[1]]]
        if pend_transparent is not None:
            # transparent pixels keep what the canvas already shows —
            # the delta-frame convention every animation encoder uses
            keep = (arr[: region.shape[0], : region.shape[1]] == pend_transparent)
            drawn = np.where(keep[..., None], region, drawn)
        canvas[top : top + h, left : left + w] = drawn
        prev_rect = (top, left, h, w)
        prev_disposal = pend_disposal
        pend_transparent = None
        pend_disposal = 0
        frames.append(canvas)
        delays.append(pending_delay)
        pending_delay = 0
    if not frames:
        raise MediaDecodeError("GIF: no image data")
    meta = {
        "format": "gif",
        "height": sh,
        "width": sw,
        "channels": 3,
        "n_frames": len(frames) + n_skipped,
        "frame_delays_cs": delays,  # centiseconds, per the GCE field
        "duration_ms": int(sum(delays) * 10),
    }
    if transparent is not None:
        meta["transparent_index"] = int(transparent)
    return np.stack(frames), meta


def _gif_lzw_encode(indices: "np.ndarray", min_code_size: int) -> bytes:
    """Real dictionary LZW (not the clear-code-spam shortcut), matching the
    decoder's width-growth rule."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    prev = b""
    for v in indices.ravel().tolist():
        cur = prev + bytes([v])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        table[cur] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        prev = bytes([v])
    if prev:
        emit(table[prev])
    # NOTE the final-code width subtlety the TIFF pair needed a fix for
    # (decoder performs one more table add after the last data code; if it
    # lands on the width threshold the decoder reads END one bit wider):
    # harmless HERE because GIF packs little-endian and the last byte pads
    # with zeros, so the decoder's extra high bit reads 0 and the code
    # still equals END — verified by a 30k-trial random round-trip sweep.
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """(H, W, 3) uint8 with ≤256 distinct colors → single-frame GIF89a.
    Exists (like encode_png/encode_wav) so tests round-trip real bytes."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_gif wants (H, W, 3) uint8")
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"encode_gif: {len(palette)} colors > 256")
    ct_bits = max(1, (len(palette) - 1).bit_length())
    ct_n = 1 << ct_bits
    ct = np.zeros((ct_n, 3), dtype=np.uint8)
    ct[: len(palette)] = palette
    idx = inverse.astype(np.uint8).reshape(h, w)
    if interlace:
        order = []
        for start, step in _GIF_INTERLACE_PASSES:
            order.extend(range(start, h, step))
        idx = idx[order]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (ct_bits - 1), 0, 0)
    out += ct.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    min_code_size = max(2, ct_bits)
    out.append(min_code_size)
    payload = _gif_lzw_encode(idx, min_code_size)
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def encode_gif_animation(frames: np.ndarray, delay_cs: int = 10) -> bytes:
    """(n, H, W, 3) uint8 (≤256 distinct colors ACROSS all frames) →
    animated GIF89a: one global color table, a NETSCAPE loop block, and a
    graphic-control extension (delay in centiseconds) before each
    full-canvas image block.  Exists so video-frame-sampling tests and the
    catalog query run over real animation bytes."""
    arr = np.asarray(frames)
    if arr.ndim != 4 or arr.shape[3] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_gif_animation wants (n, H, W, 3) uint8")
    n_f, h, w = arr.shape[:3]
    flat = arr.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"encode_gif_animation: {len(palette)} colors > 256")
    ct_bits = max(1, (len(palette) - 1).bit_length())
    ct_n = 1 << ct_bits
    ct = np.zeros((ct_n, 3), dtype=np.uint8)
    ct[: len(palette)] = palette
    idx_all = inverse.astype(np.uint8).reshape(n_f, h, w)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (ct_bits - 1), 0, 0)
    out += ct.tobytes()
    # NETSCAPE2.0 application extension: loop forever
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    min_code_size = max(2, ct_bits)
    for f in range(n_f):
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(min_code_size)
        payload = _gif_lzw_encode(idx_all[f], min_code_size)
        for i in range(0, len(payload), 255):
            chunk = payload[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# TIFF (baseline, uncompressed, strip-based; both byte orders)
# ---------------------------------------------------------------------------

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits_per_sample", 259: "compression",
    262: "photometric", 273: "strip_offsets", 277: "samples_per_pixel",
    278: "rows_per_strip", 279: "strip_byte_counts", 284: "planar_config",
    317: "predictor", 322: "tile_width", 323: "tile_length",
    339: "sample_format",
    324: "tile_offsets", 325: "tile_byte_counts", 347: "jpeg_tables",
}
_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4, 7: 1}  # BYTE, SHORT, LONG, UNDEFINED


def _tiff_sample_dtype(tags: dict, bo: str) -> np.dtype:
    """BitsPerSample (258) + SampleFormat (339) → the file-order numpy
    dtype: (8,u)/(16,u)/(16,s)/(32,f) — the flavors GeoTIFF rasters (DEMs,
    temperature/reflectance grids) actually ship. Mixed per-channel depths
    or formats, and anything else, raise the contract error."""
    bps = tags.get("bits_per_sample", [8])
    fmt = tags.get("sample_format", [1])
    b0, f0 = bps[0], fmt[0]
    if any(b != b0 for b in bps) or any(f != f0 for f in fmt):
        raise MediaDecodeError(f"TIFF: mixed per-channel sample types {bps}/{fmt}")
    kind = {(8, 1): "u1", (16, 1): "u2", (16, 2): "i2", (32, 3): "f4"}.get((b0, f0))
    if kind is None:
        raise MediaDecodeError(f"TIFF: unsupported {b0}-bit sample format {f0}")
    return np.dtype(bo + kind) if b0 > 8 else np.dtype(np.uint8)


def _tiff_bytes_to_samples(
    data: bytes, nrows: int, w: int, spp: int, sdt: np.dtype, pred: int, what: str
) -> np.ndarray:
    """Raw chunk bytes → (nrows, w, spp) NATIVE-order array with the
    predictor undone. Integer predictor 2 is a wrapping per-row cumsum in
    the sample's unsigned lane (any depth, per TIFF6 §14); float predictor
    3 (TechNote 3) un-differences the row's BYTES, then reassembles the
    big-endian-significance-split floats."""
    need = nrows * w * spp * sdt.itemsize
    if len(data) < need:
        raise MediaDecodeError(f"TIFF: short {what} data ({len(data)} < {need})")
    buf = data[:need]
    if sdt.kind == "f":
        if pred == 2:
            raise MediaDecodeError("TIFF: predictor 2 undefined for float samples")
        if pred == 3:
            rows = np.frombuffer(buf, np.uint8).reshape(nrows, w * spp * 4)
            rows = np.cumsum(rows, axis=1, dtype=np.uint8)
            split = np.ascontiguousarray(
                rows.reshape(nrows, 4, w * spp).transpose(0, 2, 1)
            )
            return split.view(">f4").astype(np.float32).reshape(nrows, w, spp)
        return np.frombuffer(buf, sdt).astype(np.float32).reshape(nrows, w, spp)
    if pred == 3:
        raise MediaDecodeError("TIFF: predictor 3 applies to float samples only")
    arr = np.frombuffer(buf, sdt).reshape(nrows, w, spp).astype(sdt.newbyteorder("="))
    if pred == 2:
        lane = np.dtype(f"u{sdt.itemsize}")
        arr = np.cumsum(arr.view(lane), axis=1, dtype=lane).view(arr.dtype)
    return arr


def _tiff_invert_if_white_is_zero(img: np.ndarray, tags: dict) -> np.ndarray:
    """PhotometricInterpretation 0 (WhiteIsZero, the min-is-white flavor
    many scanners emit): invert UNSIGNED samples so 0 means black like
    everywhere else; signed/float rasters pass through untouched (the tag
    is not meaningful for measurement data)."""
    if tags.get("photometric", [1])[0] == 0 and img.dtype.kind == "u":
        return np.array((1 << (8 * img.dtype.itemsize)) - 1, img.dtype) - img
    return img



def _tiff_lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF-variant LZW (TIFF6 spec §13) — the same algorithm as
    ``_gif_lzw_decode`` above with TIFF's three layout differences:
    MSB-first bit packing (GIF is LSB-first), a fixed 8-bit alphabet
    (CLEAR=256, EOI=257, first dynamic code 258), and the spec's "early
    change" — code width grows when the code 2^width - 1 is ADDED to the
    table, one step before the table strictly requires it (the TIFF6
    pseudocode's documented off-by-one vs GIF), max width 12.

    ``max_out`` caps the expanded size at the strip's declared byte count
    — the same decompression-bomb guard as the GIF path: a crafted
    few-KB stream must not allocate unbounded memory before any size
    check (table growth is bounded by it too: every table add first
    appended at least one output byte)."""
    CLEAR, EOI = 256, 257
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            acc &= (1 << nbits) - 1  # trim consumed high bits (MSB-first
            # packing never shifts them out, and an untrimmed acc grows
            # into an O(stream)-bit bignum -> quadratic decode)
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if code < len(table) and code != 256 and code != 257:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK deferred case
            else:
                raise MediaDecodeError(f"TIFF LZW: bad code {code}")
            out += entry
            if len(out) > max_out:
                raise MediaDecodeError(
                    f"TIFF LZW: output exceeds declared strip size "
                    f"({len(out)} > {max_out})"
                )
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) - 1 and width < 12:
                    width += 1  # early change: switch as 511/1023/2047 lands
            prev = entry
    raise MediaDecodeError("TIFF LZW: stream ended without EOI")


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    """PackBits (TIFF6 §9, the Apple RLE): control byte n as signed —
    0..127 copies n+1 literals, -1..-127 repeats the next byte 1-n
    times, -128 is a no-op. ``max_out`` caps expansion at the strip's
    declared byte count (a 2-byte run token expands 128x)."""
    out = bytearray()
    i = 0
    n_data = len(data)
    while i < n_data:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1
            if i + n + 1 > n_data:
                # same strictness as the repeat branch: a literal run
                # extending past the input is truncation, not padding
                raise MediaDecodeError("TIFF PackBits: truncated literal run")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= n_data:
                raise MediaDecodeError("TIFF PackBits: truncated repeat run")
            out += data[i : i + 1] * (257 - n)
            i += 1
        # n == 128: no-op
        if len(out) > max_out:
            raise MediaDecodeError(
                f"TIFF PackBits: output exceeds declared strip size ({max_out})"
            )
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits encoder (round-trip counterpart): repeat runs of
    >= 3 become repeat tokens; everything between becomes literal runs,
    both capped at 128 per token."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and (i - lit_start) < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += run
        if i - lit_start > 128:
            i = lit_start + 128
        out.append(i - lit_start - 1)
        out += data[lit_start:i]
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Greedy TIFF-variant LZW encoder (round-trip counterpart of
    ``_tiff_lzw_decode``; exists so tests exercise real compressed strips
    and the catalog's format rotation can emit LZW TIFFs): MSB-first
    packing, early-change width schedule mirroring the decoder, CLEAR
    emitted when the 12-bit table is one code from full (4094 — libtiff's
    restart point, keeping the decoder's deferred-code case reachable)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1  # same bignum trim as the decoder

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    w = b""
    for i in range(len(data)):
        b = data[i : i + 1]
        k = w + b
        if k in table:
            w = k
            continue
        emit(table[w])
        table[k] = next_code
        next_code += 1
        # width-sync law (see the GIF pair above): the decoder's add for
        # OUR add #m happens one code later, so a decoder that bumps at
        # table size X needs an encoder that bumps at next_code == X + 1.
        # TIFF early change: X = 2^width - 1, hence bump at 2^width.
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code == 4094:
            emit(CLEAR)
            table = {bytes([j]): j for j in range(256)}
            next_code = 258
            width = 9
        w = b
    if w:
        emit(table[w])
        # the decoder performs ONE MORE table add after this final data
        # code (prev + entry[0]) that no encoder add mirrors; when that
        # add lands exactly on the early-change threshold (decoder size
        # next_code == 2^width - 1) the decoder reads EOI at width+1 —
        # emit it there or the stream desyncs and EOI is never seen.
        # ~1/2^width of streams end in this zone, so most round-trips
        # never reach it.
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(EOI)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


_TIFF_COMP_NAMES = {1: "none", 5: "lzw", 7: "jpeg", 8: "deflate",
                    32946: "deflate", 32773: "packbits"}


def _tiff_jpeg_tables(tags: dict) -> bytes:
    """Validated JPEGTables payload with the trailing EOI stripped for
    splicing ahead of per-chunk streams; b'' when the tag is absent."""
    jt = bytes(tags.get("jpeg_tables", []))
    if not jt:
        return b""
    if len(jt) < 4 or jt[:2] != b"\xFF\xD8" or jt[-2:] != b"\xFF\xD9":
        raise MediaDecodeError("TIFF JPEGTables: not an SOI…EOI table stream")
    return jt[:-2]


def _tiff_decompress_chunk(raw: bytes, cap: int, comp: int) -> bytes:
    """One strip/tile through the non-JPEG codec matrix, expansion capped
    at the chunk's declared decoded size (the shared bomb guard)."""
    if comp == 5:
        return _tiff_lzw_decode(raw, cap)
    if comp == 32773:
        return _packbits_decode(raw, cap)
    if comp in (8, 32946):
        try:
            data = zlib.decompressobj().decompress(raw, cap + 1)
        except zlib.error as exc:
            raise MediaDecodeError(f"TIFF Deflate: {exc}") from None
        if len(data) > cap:
            raise MediaDecodeError(
                f"TIFF Deflate: output exceeds declared chunk size ({cap})"
            )
        return data
    return raw  # comp == 1


def _tiff_decode_jpeg_chunk(
    raw: bytes, jt: bytes, photo: int, idx: int, min_rows: int, width: int, spp: int
) -> np.ndarray:
    """One JPEG strip/tile: splice the shared tables, decode through the
    in-repo machinery (photometric drives the color transform), and
    validate the decoded geometry against the layout's expectations."""
    if raw[:2] != b"\xFF\xD8":
        raise MediaDecodeError(f"TIFF JPEG chunk {idx}: missing SOI")
    stream = jt + raw[2:] if jt else raw
    arr, _ = decode_jpeg(stream, rgb_transform=None if photo == 6 else False)
    if arr.shape[1] < width or arr.shape[2] != spp:
        raise MediaDecodeError(
            f"TIFF JPEG chunk {idx}: decoded {arr.shape} ≠ declared "
            f"width {width} × {spp} channels"
        )
    if arr.shape[0] < min_rows:
        raise MediaDecodeError(
            f"TIFF JPEG chunk {idx}: {arr.shape[0]} rows < declared {min_rows}"
        )
    return arr


def _decode_tiff_tiles(
    content: bytes, tags: dict, bo: str, w: int, h: int, spp: int, comp: int
) -> tuple[np.ndarray, dict[str, Any]]:
    """Tiled TIFF body (TIFF6 §15): decode every tile through the same
    per-chunk codec matrix as strips (raw/LZW/Deflate/PackBits/JPEG),
    assemble onto the padded tile canvas, crop to the declared image.
    Predictor 2 differencing restarts per tile row; JPEG tiles carry the
    photometric/JPEGTables rules from the strip path."""
    for t_ in ("tile_width", "tile_length", "tile_offsets", "tile_byte_counts"):
        if t_ not in tags:
            raise MediaDecodeError(f"TIFF tiled: missing {t_}")
    tw, th = tags["tile_width"][0], tags["tile_length"][0]
    if tw <= 0 or th <= 0 or tw % 16 or th % 16:  # §15: multiples of 16
        raise MediaDecodeError(f"TIFF tiled: bad tile size {tw}x{th}")
    ta = -(-w // tw)
    td = -(-h // th)
    n_tiles = ta * td
    offsets = tags["tile_offsets"]
    counts = tags["tile_byte_counts"]
    if len(offsets) != n_tiles or len(counts) != n_tiles:
        raise MediaDecodeError(
            f"TIFF tiled: {n_tiles} tiles declared but "
            f"{len(offsets)} offsets / {len(counts)} counts"
        )
    if td * th * ta * tw * spp * _tiff_sample_dtype(tags, bo).itemsize > 1 << 28:
        # padded-canvas alloc guard, in bytes
        raise MediaDecodeError(
            f"TIFF tiled: implausible canvas {td * th}x{ta * tw}x{spp}"
        )
    photo = tags.get("photometric", [6 if comp == 7 else 1])[0]
    jt = _tiff_jpeg_tables(tags)
    sdt = _tiff_sample_dtype(tags, bo)
    cap = tw * th * spp * sdt.itemsize
    canvas = np.zeros((td * th, ta * tw, spp), dtype=sdt.newbyteorder("="))
    for i, (o, c) in enumerate(zip(offsets, counts)):
        raw = content[o : o + c]
        if comp == 7:
            arr = _tiff_decode_jpeg_chunk(raw, jt, photo, i, th, tw, spp)[:th, :tw]
        else:
            # predictor differencing restarts at each tile's left edge
            arr = _tiff_bytes_to_samples(
                _tiff_decompress_chunk(raw, cap, comp), th, tw, spp, sdt,
                tags.get("predictor", [1])[0], "tile",
            )
        r, col = divmod(i, ta)
        canvas[r * th : (r + 1) * th, col * tw : (col + 1) * tw] = arr
    img = _tiff_invert_if_white_is_zero(canvas[:h, :w], tags)
    return img, {"format": "tiff", "height": h, "width": w, "channels": spp,
                 "byte_order": "little" if bo == "<" else "big",
                 "compression": _TIFF_COMP_NAMES[comp]}


@_clean_errors
def decode_tiff(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """TIFF → (H, W, C) array: uint8, uint16, int16 or float32 samples
    (BitsPerSample × SampleFormat — the GeoTIFF raster flavors), chunky
    planar config, strips or §15 tiles, II or MM byte order, codecs
    none/LZW/Deflate/PackBits/JPEG (JPEG 8-bit only), integer predictor 2
    at any depth and the TechNote-3 float predictor 3. Unsupported codecs
    raise NotImplementedError naming the codec."""
    if content[:4] == b"II*\x00":
        bo = "<"
    elif content[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise MediaDecodeError("not a TIFF (bad signature)")
    (ifd_off,) = struct.unpack(bo + "I", content[4:8])
    (n_entries,) = struct.unpack(bo + "H", content[ifd_off : ifd_off + 2])
    tags: dict[str, list[int]] = {}
    for i in range(n_entries):
        e = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(bo + "HHI", content[e : e + 8])
        name = _TIFF_TAGS.get(tag)
        if name is None or typ not in _TIFF_TYPE_SIZE:
            continue
        size = _TIFF_TYPE_SIZE[typ] * count
        if size <= 4:
            raw = content[e + 8 : e + 8 + size]
        else:
            (off,) = struct.unpack(bo + "I", content[e + 8 : e + 12])
            raw = content[off : off + size]
        if len(raw) < size:
            # forged count/offset: the data would lie past EOF — raise
            # BEFORE building the fmt string (fmt * count with a 2^31
            # count is a multi-GiB allocation, the fuzz-found bomb)
            raise MediaDecodeError(f"TIFF: tag {tag} data out of bounds")
        fmt = {1: "B", 3: "H", 4: "I", 7: "B"}[typ]
        tags[name] = list(struct.unpack(bo + fmt * count, raw))
    try:
        w, h = tags["width"][0], tags["height"][0]
    except KeyError as e:
        raise MediaDecodeError(f"TIFF: missing required tag {e}") from None
    comp = tags.get("compression", [1])[0]
    if comp not in (1, 5, 7, 8, 32773, 32946):
        codec = {6: "old-style JPEG (deprecated by TIFF6 TechNote 2)"}.get(
            comp, f"compression={comp}"
        )
        raise NotImplementedError(f"TIFF {codec} — inject a decoder (libtiff/PIL)")
    spp = tags.get("samples_per_pixel", [1])[0]
    sdt = _tiff_sample_dtype(tags, bo)
    if comp == 7 and sdt.itemsize != 1:
        raise MediaDecodeError("TIFF: JPEG strips/tiles are 8-bit only")
    if tags.get("planar_config", [1])[0] != 1:
        raise MediaDecodeError("TIFF: planar (non-chunky) layout unsupported")
    # same alloc guard family as GRIB2, in BYTES now that samples widen
    if not (0 < w * h * spp * sdt.itemsize <= 1 << 28):
        raise MediaDecodeError(f"TIFF: implausible dimensions {w}x{h}x{spp}")
    if "tile_offsets" in tags:
        # Tiled layout (TIFF6 §15, the GeoTIFF/raster-pyramid convention):
        # fixed-size tiles in row-major order, right/bottom tiles padded to
        # full tile size. Same codec matrix as strips, per-tile streams.
        # Dispatch keys on TileOffsets (the data pointer), not TileWidth:
        # a striped file carrying a stray geometry tag but no tile data
        # stays decodable via its strips (crawl-corpus tolerance).
        return _decode_tiff_tiles(content, tags, bo, w, h, spp, comp)
    offsets = tags["strip_offsets"]
    counts = tags.get("strip_byte_counts")
    if counts is None:
        # the single-uncompressed-strip default is the only case where a
        # missing StripByteCounts is recoverable — for compressed data the
        # byte count is not derivable, and for multiple strips a default
        # would make zip() silently drop every strip after the first
        if comp != 1 or len(offsets) != 1:
            raise MediaDecodeError(
                "TIFF: StripByteCounts required for compressed or multi-strip data"
            )
        counts = [w * h * spp]
    elif len(counts) != len(offsets):
        raise MediaDecodeError(
            f"TIFF: {len(offsets)} strip offsets but {len(counts)} byte counts"
        )
    if comp == 7:
        # New-style JPEG (TIFF6 TechNote 2): each strip is an independent
        # JPEG stream; shared DQT/DHT/DRI may live in the JPEGTables tag as
        # an abbreviated table stream (SOI·tables·EOI) that prefixes every
        # strip. PhotometricInterpretation declares the component color
        # space — 6 = YCbCr (decode_jpeg's RGB transform applies), 1/2 =
        # components already gray/RGB (no transform). decode_jpeg carries
        # its own MCU/entropy bomb guards per strip.
        photo = tags.get("photometric", [6])[0]
        jt = _tiff_jpeg_tables(tags)
        rps = tags.get("rows_per_strip", [h])[0] or h
        strips = []
        for i, (o, c) in enumerate(zip(offsets, counts)):
            nrows = min(rps, h - i * rps)
            if nrows <= 0:
                break
            piece = _tiff_decode_jpeg_chunk(
                content[o : o + c], jt, photo, i, nrows, w, spp
            )
            strips.append(piece[:nrows, :w])
        img = np.vstack(strips) if strips else np.zeros((0, w, spp), np.uint8)
        if img.shape[0] < h:
            raise MediaDecodeError(f"TIFF JPEG: strips cover {img.shape[0]} of {h} rows")
        if photo == 0:
            img = 255 - img
        return img, {"format": "tiff", "height": h, "width": w, "channels": spp,
                     "byte_order": "little" if bo == "<" else "big",
                     "compression": "jpeg"}
    if comp != 1:
        # LZW (5), Deflate (8 / legacy 32946) and PackBits (32773) are all
        # compressed PER STRIP: each strip decodes independently against
        # its own declared row span (rows_per_strip, last strip truncated)
        # — the per-strip cap is the bomb guard for every codec.
        rps = tags.get("rows_per_strip", [h])[0] or h
        pieces = []
        for i, (o, c) in enumerate(zip(offsets, counts)):
            nrows = min(rps, h - i * rps)
            if nrows <= 0:
                break
            pieces.append(
                _tiff_decompress_chunk(
                    content[o : o + c], nrows * w * spp * sdt.itemsize, comp
                )
            )
        data = b"".join(pieces)
    else:
        data = b"".join(content[o : o + c] for o, c in zip(offsets, counts))
    img = _tiff_bytes_to_samples(
        data, h, w, spp, sdt, tags.get("predictor", [1])[0], "strip"
    )
    img = _tiff_invert_if_white_is_zero(img, tags)
    return img, {"format": "tiff", "height": h, "width": w, "channels": spp,
                 "byte_order": "little" if bo == "<" else "big",
                 "compression": _TIFF_COMP_NAMES[comp]}


def _split_jpeg_tables(blob: bytes) -> tuple[bytes, bytes]:
    """Split a complete JPEG interchange stream into (tables, abbreviated):
    ``tables`` = SOI + every DQT/DHT/DRI segment + EOI (the JPEGTables tag
    payload per TIFF6 TechNote 2), ``abbreviated`` = the stream with those
    segments removed (still SOI-prefixed). Splicing tables[:-2] + abbrev[2:]
    reconstructs an equivalent decodable stream."""
    if blob[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG stream")
    tables = bytearray(b"\xFF\xD8")
    abbrev = bytearray(b"\xFF\xD8")
    pos = 2
    while pos + 2 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError(f"JPEG marker sync lost at {pos}")
        marker = blob[pos + 1]
        if marker == 0xD9:  # EOI
            abbrev += blob[pos:]
            break
        (seg_len,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        segment = blob[pos : pos + 2 + seg_len]
        if marker in (0xDB, 0xC4, 0xDD):  # DQT / DHT / DRI
            tables += segment
        else:
            abbrev += segment
        pos += 2 + seg_len
        if marker == 0xDA:  # SOS: entropy data runs to EOI
            abbrev += blob[pos:]
            break
    tables += b"\xFF\xD9"
    return bytes(tables), bytes(abbrev)


def _tiff_chunk_bytes(arr: np.ndarray, predictor: int, bo: str) -> bytes:
    """One strip/tile of NATIVE-order samples → file bytes with the
    predictor applied: integer predictor 2 wrap-diffs per row in the
    sample's unsigned lane (exact inverse of the decoder's wrapping
    cumsum); float predictor 3 (TechNote 3) splits each row's big-endian
    bytes by significance, then byte-diffs. Multi-byte samples land in
    the FILE's byte order."""
    arr = np.ascontiguousarray(arr)
    if predictor == 2:
        lane = np.dtype(f"u{arr.dtype.itemsize}")
        u = arr.view(lane)
        u = np.concatenate([u[:, :1], u[:, 1:] - u[:, :-1]], axis=1)
        return u.view(arr.dtype).astype(arr.dtype.newbyteorder(bo)).tobytes()
    if predictor == 3:
        nrows, w, c = arr.shape
        be = np.ascontiguousarray(arr.astype(">f4")).view(np.uint8).reshape(
            nrows, w * c, 4
        )
        inter = np.ascontiguousarray(be.transpose(0, 2, 1)).reshape(nrows, 4 * w * c)
        d = np.concatenate([inter[:, :1], inter[:, 1:] - inter[:, :-1]], axis=1)
        return d.tobytes()
    return arr.astype(arr.dtype.newbyteorder(bo)).tobytes()


def _tiff_compress_chunks(chunks: list[bytes], compression: str) -> list[bytes]:
    """One codec mapping for strips AND tiles — keeping it single-sited so
    a codec addition cannot update one layout and miss the other."""
    if compression == "lzw":
        return [_tiff_lzw_encode(s) for s in chunks]
    if compression == "deflate":
        return [zlib.compress(s) for s in chunks]
    if compression == "packbits":
        return [_packbits_encode(s) for s in chunks]
    return chunks  # "none"


def _tiff_encode_jpeg_chunks(
    imgs: list[np.ndarray], quality: int, shared_tables: bool
) -> tuple[list[bytes], bytes]:
    """Per-chunk JPEG streams for strips AND tiles; with ``shared_tables``
    the common DQT/DHT (identical quality + standard Huffman per chunk, so
    the first chunk's tables stand for all) factor into a JPEGTables
    payload and the chunks become abbreviated streams."""
    streams = [encode_jpeg(s, quality=quality) for s in imgs]
    if not shared_tables:
        return streams, b""
    tables, _ = _split_jpeg_tables(streams[0])
    return [_split_jpeg_tables(s)[1] for s in streams], tables


def encode_tiff(
    img: np.ndarray,
    big_endian: bool = False,
    compression: str = "none",
    predictor: int = 1,
    rows_per_strip: int | None = None,
    quality: int = 90,
    shared_jpeg_tables: bool = False,
    tile_size: tuple[int, int] | None = None,
) -> bytes:
    """(H, W) or (H, W, C) uint8/uint16/int16/float32 → TIFF: uncompressed,
    LZW, Deflate, PackBits, or new-style JPEG (``compression=``, 8-bit
    only), optionally with horizontal-differencing predictor 2 (integer
    samples, any depth) or the TechNote-3 floating-point predictor 3, and
    multi-strip layout. Wide samples write BitsPerSample/SampleFormat and
    honor the file byte order — the GeoTIFF raster flavors (DEM int16,
    temperature float32).
    Exists so tests round-trip real bytes in both byte orders and every
    codec. ``compression="jpeg"`` writes TechNote-2 per-strip JPEG streams
    (``quality`` feeds encode_jpeg; photometric 6 for color, 1 for gray);
    ``shared_jpeg_tables`` factors the common DQT/DHT into a JPEGTables
    (347) tag with abbreviated per-strip streams, the layout most
    scanner/provider writers emit. ``tile_size=(th, tw)`` switches to the
    TIFF6 §15 tiled layout (the GeoTIFF convention; multiples of 16, edge
    tiles padded by replication) with the same codec matrix per tile."""
    img = np.asarray(img)
    enc_types = {
        np.dtype(np.uint8): (8, 1), np.dtype(np.uint16): (16, 1),
        np.dtype(np.int16): (16, 2), np.dtype(np.float32): (32, 3),
    }
    if img.dtype not in enc_types:
        raise ValueError("encode_tiff wants uint8/uint16/int16/float32")
    bps_v, sf_v = enc_types[img.dtype]
    if compression not in ("none", "lzw", "deflate", "packbits", "jpeg"):
        raise ValueError(f"encode_tiff: unsupported compression {compression!r}")
    if predictor not in ((1, 3) if sf_v == 3 else (1, 2)):
        raise ValueError(
            f"encode_tiff: predictor {predictor} illegal for this sample type"
        )
    if tile_size is not None and rows_per_strip is not None:
        raise ValueError("encode_tiff: rows_per_strip does not apply to tiled layout")
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if compression == "jpeg":
        if bps_v != 8:
            raise ValueError("encode_tiff: JPEG strips/tiles are 8-bit only")
        if c not in (1, 3):
            raise ValueError("encode_tiff: JPEG strips need 1 or 3 channels")
        if predictor != 1:
            raise ValueError("encode_tiff: predictor does not apply to JPEG strips")
    bo = ">" if big_endian else "<"
    header = b"MM\x00*" if big_endian else b"II*\x00"
    rps = h if rows_per_strip is None else max(1, min(rows_per_strip, h))
    jpeg_tables = b""
    if tile_size is not None:
        th_, tw_ = tile_size
        if th_ <= 0 or tw_ <= 0 or th_ % 16 or tw_ % 16:
            raise ValueError(f"encode_tiff: tile size must be multiples of 16, got {tile_size}")
        ta = -(-w // tw_)
        td = -(-h // th_)
        padded = np.pad(img, ((0, td * th_ - h), (0, ta * tw_ - w), (0, 0)), mode="edge")
        tile_imgs = [
            padded[r * th_ : (r + 1) * th_, col * tw_ : (col + 1) * tw_]
            for r in range(td)
            for col in range(ta)
        ]
        if compression == "jpeg":
            strips, jpeg_tables = _tiff_encode_jpeg_chunks(
                tile_imgs, quality, shared_jpeg_tables
            )
        else:
            chunks = [_tiff_chunk_bytes(t_, predictor, bo) for t_ in tile_imgs]
            strips = _tiff_compress_chunks(chunks, compression)
    elif compression == "jpeg":
        strip_imgs = [img[i : i + rps] for i in range(0, h, rps)] or [
            np.zeros((0, w, c), np.uint8)
        ]
        strips, jpeg_tables = _tiff_encode_jpeg_chunks(
            strip_imgs, quality, shared_jpeg_tables
        )
    else:
        chunks = [
            _tiff_chunk_bytes(img[i : i + rps], predictor, bo)
            for i in range(0, h, rps)
        ] or [b""]
        strips = _tiff_compress_chunks(chunks, compression)
    n = len(strips)
    # layout: header(8) | strip blobs | bps array (c>2) | jpeg tables |
    # offset/count arrays (n>1) | IFD
    pos = 8
    strip_offs = []
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)
    bps_off = pos
    pos += 2 * c if c > 2 else 0
    sf_off = pos
    pos += 2 * c if (c > 2 and sf_v != 1) else 0
    jt_off = pos
    pos += len(jpeg_tables)
    offs_arr_off = pos
    pos += 4 * n if n > 1 else 0
    cnts_arr_off = pos
    pos += 4 * n if n > 1 else 0
    ifd_off = pos
    entries = []

    def entry(tag: int, typ: int, count: int, value: int) -> None:
        fmt = {3: "H", 4: "I"}[typ]
        raw = struct.pack(bo + fmt, value)
        raw += b"\x00" * (4 - len(raw))
        entries.append(struct.pack(bo + "HHI", tag, typ, count) + raw)

    # TIFF spec: tag values that fit in 4 bytes MUST be stored inline —
    # two SHORTs (c=2) go in the value field, three or more via offset
    if c == 2:
        entries.append(
            struct.pack(bo + "HHI", 258, 3, 2) + struct.pack(bo + "HH", bps_v, bps_v)
        )
    elif c > 2:
        entries.append(struct.pack(bo + "HHII", 258, 3, c, bps_off))
    else:
        entry(258, 3, 1, bps_v)
    if sf_v != 1:  # SampleFormat (339): 2 = signed int, 3 = IEEE float
        if c == 2:
            entries.append(
                struct.pack(bo + "HHI", 339, 3, 2) + struct.pack(bo + "HH", sf_v, sf_v)
            )
        elif c > 2:
            entries.append(struct.pack(bo + "HHII", 339, 3, c, sf_off))
        else:
            entry(339, 3, 1, sf_v)
    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(259, 3, 1, {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773,
                      "jpeg": 7}[compression])
    if compression == "jpeg":
        # TechNote 2: photometric declares the JPEG component space —
        # encode_jpeg writes YCbCr for color, so 6; grayscale stays 1
        entry(262, 3, 1, 6 if c == 3 else 1)
        if jpeg_tables:
            entries.append(
                struct.pack(bo + "HHII", 347, 7, len(jpeg_tables), jt_off)
            )
    else:
        entry(262, 3, 1, 2 if c >= 3 else 1)  # photometric: RGB / BlackIsZero
    if tile_size is not None:
        entry(322, 3, 1, tw_)
        entry(323, 3, 1, th_)
        if n == 1:
            entry(324, 4, 1, strip_offs[0])
            entry(325, 4, 1, len(strips[0]))
        else:
            entries.append(struct.pack(bo + "HHII", 324, 4, n, offs_arr_off))
            entries.append(struct.pack(bo + "HHII", 325, 4, n, cnts_arr_off))
    elif n == 1:
        entry(273, 4, 1, strip_offs[0])
        entry(279, 4, 1, len(strips[0]))
    else:
        entries.append(struct.pack(bo + "HHII", 273, 4, n, offs_arr_off))
        entries.append(struct.pack(bo + "HHII", 279, 4, n, cnts_arr_off))
    entry(277, 3, 1, c)
    if tile_size is None:
        entry(278, 4, 1, rps)
    if predictor != 1:
        entry(317, 3, 1, predictor)
    out = bytearray(header)
    out += struct.pack(bo + "I", ifd_off)
    for s in strips:
        out += s
    if c > 2:
        out += struct.pack(bo + "H" * c, *([bps_v] * c))
    if c > 2 and sf_v != 1:
        out += struct.pack(bo + "H" * c, *([sf_v] * c))
    out += jpeg_tables
    if n > 1:
        out += struct.pack(bo + "I" * n, *strip_offs)
        out += struct.pack(bo + "I" * n, *[len(s) for s in strips])
    out += struct.pack(bo + "H", len(entries))
    for e in sorted(entries, key=lambda b: struct.unpack(bo + "H", b[:2])[0]):
        out += e
    out += struct.pack(bo + "I", 0)  # next-IFD terminator
    return bytes(out)


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per color type: gray, rgb, palette-index, gray+alpha, rgba
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: legal bit depths per color type (PNG spec Table 11.1)
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
#: Adam7 pass grid (x0, y0, dx, dy), spec §8.2: each pass is an independent
#: reduced image with its own scanline filtering; empty passes carry no bytes
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_stride(w: int, c: int, depth: int) -> int:
    """Scanline width in bytes: sub-byte samples pack MSB-first."""
    return (w * c * depth + 7) // 8


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int, offset: int) -> np.ndarray:
    """Undo the five scanline filters over ``h`` rows of ``stride`` bytes
    starting at ``raw[offset]`` (each row led by its filter-type byte).
    Filters operate on BYTES with a lane distance of bytes-per-pixel —
    and bpp is defined as 1 when the depth is sub-byte, per the spec."""
    if offset + h * (stride + 1) > len(raw):
        raise MediaDecodeError("PNG data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        base = offset + y * (stride + 1)
        ftype = raw[base]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1).astype(
            np.int32
        )
        if ftype == 0:  # None
            rec = line
        elif ftype == 1:  # Sub: prefix sum per byte lane
            rec = line.reshape(-1, bpp).cumsum(axis=0).reshape(stride)
        elif ftype == 2:  # Up
            rec = line + prev
        elif ftype == 3:  # Average — sequential in x
            rec = line.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = line[x] + ((left + prev[x]) >> 1)
                rec[x] &= 0xFF
        elif ftype == 4:  # Paeth — sequential in x
            rec = line.copy()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                rec[x] = line[x] + pred
                rec[x] &= 0xFF
        else:
            raise MediaDecodeError(f"unknown PNG filter {ftype}")
        rec = rec & 0xFF
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


def _png_samples(rows: np.ndarray, w: int, c: int, depth: int) -> np.ndarray:
    """(h, stride) filtered-out bytes → (h, w, c) samples (uint8, or uint16
    for 16-bit). Sub-byte depths (always c == 1) unpack MSB-first."""
    h = rows.shape[0]
    if depth == 16:  # network byte order per spec
        u = rows.reshape(h, w, c, 2).astype(np.uint16)
        return u[..., 0] * 256 + u[..., 1]
    if depth == 8:
        return rows.reshape(h, w, c)
    bits = np.unpackbits(rows, axis=1)
    g = bits[:, : (bits.shape[1] // depth) * depth].reshape(h, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (g * weights).sum(axis=2, dtype=np.int32)[:, :w].astype(np.uint8).reshape(
        h, w, 1
    )


def _png_pass_geometry(w: int, h: int, c: int, depth: int):
    """Non-empty Adam7 passes as (x0, y0, dx, dy, wp, hp, stride)."""
    passes = []
    for x0, y0, dx, dy in _ADAM7:
        wp = (w - x0 + dx - 1) // dx if w > x0 else 0
        hp = (h - y0 + dy - 1) // dy if h > y0 else 0
        if wp and hp:
            passes.append((x0, y0, dx, dy, wp, hp, _png_stride(wp, c, depth)))
    return passes


@_clean_errors
def decode_png(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """PNG → (H, W, C) uint8 array (or uint16 for 16-bit images). Full
    static-image coverage: bit depths 1/2/4/8/16 per the spec's color-type
    matrix, color types 0/2/3/4/6 (3 via PLTE, low-depth gray scaled by the
    spec's 255/(2^d−1) factor), tRNS transparency on all three forms
    (palette alpha table, gray/RGB color key → alpha channel), and Adam7
    interlace (each pass unfiltered independently, scattered by the §8.2
    grid). Undoes all five scanline filters (which operate on BYTES with a
    lane distance of bytes-per-pixel — 1 for sub-byte depths — the 16-bit
    case GRIB2 PNG packing uses). Inflation is capped at the geometry-
    derived byte count (decompression-bomb guard)."""
    if content[:8] != _PNG_SIG:
        raise MediaDecodeError("not a PNG (bad signature)")
    pos, idat, ihdr, plte, trns = 8, [], None, None, None
    while pos + 8 <= len(content):
        (clen,) = struct.unpack(">I", content[pos : pos + 4])
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + clen]
        pos += 12 + clen  # len + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise MediaDecodeError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise MediaDecodeError(
            f"unsupported PNG (compression={comp}, filter={filt}, interlace={interlace})"
        )
    if color not in _PNG_CHANNELS or depth not in _PNG_DEPTHS[color]:
        raise MediaDecodeError(f"illegal PNG depth/color combination {depth}/{color}")
    c = _PNG_CHANNELS[color]
    if not (0 < w * h * max(c, 3) <= 1 << 28):  # alloc guard, TIFF/GRIB2 family
        raise MediaDecodeError(f"implausible PNG dimensions {w}x{h}")
    if color == 3:
        if plte is None or len(plte) < 3 or len(plte) % 3:
            raise MediaDecodeError("palette PNG without a well-formed PLTE")
        palette = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if len(palette) > 1 << depth:
            raise MediaDecodeError(f"PLTE has {len(palette)} entries at depth {depth}")
    bpp = max(1, (c * depth) // 8)  # filter lane distance
    if interlace:
        passes = _png_pass_geometry(w, h, c, depth)
        expected = sum(hp * (sp + 1) for *_, hp, sp in passes)
    else:
        stride = _png_stride(w, c, depth)
        expected = h * (stride + 1)
    # inflate with a hard cap at the geometry-derived size — a 10 kB stream
    # must not be allowed to balloon past what the declared dims can hold
    raw = zlib.decompressobj().decompress(b"".join(idat), expected + 1)
    if len(raw) != expected:
        raise MediaDecodeError("PNG data length mismatch")
    if interlace:
        img = np.zeros((h, w, c), dtype=np.uint16 if depth == 16 else np.uint8)
        offset = 0
        for x0, y0, dx, dy, wp, hp, sp in passes:
            rows = _png_unfilter(raw, hp, sp, bpp, offset)
            img[y0::dy, x0::dx] = _png_samples(rows, wp, c, depth)
            offset += hp * (sp + 1)
    else:
        rows = _png_unfilter(raw, h, stride, bpp, 0)
        img = _png_samples(rows, w, c, depth)
    meta = {"format": "png", "width": w, "height": h, "n_channels": c, "bit_depth": depth}
    if color == 3:
        idx = img[..., 0]
        if int(idx.max(initial=0)) >= len(palette):
            raise MediaDecodeError("PNG palette index out of range")
        rgb = palette[idx]
        if trns is not None:
            alpha_tab = np.full(len(palette), 255, dtype=np.uint8)
            alpha_tab[: min(len(trns), len(palette))] = np.frombuffer(
                trns[: len(palette)], dtype=np.uint8
            )
            img = np.dstack([rgb, alpha_tab[idx]])
        else:
            img = rgb
        meta["n_channels"] = img.shape[2]
        return img, meta
    if color == 0 and depth < 8:
        # spec sample scaling: 255/(2^d − 1) is exact for d ∈ {1, 2, 4}
        scaled = img * np.uint8(255 // ((1 << depth) - 1))
        if trns is not None and len(trns) >= 2:
            key = struct.unpack(">H", trns[:2])[0]  # in DEPTH units
            alpha = np.where(img[..., 0] == key, 0, 255).astype(np.uint8)
            meta["n_channels"] = 2
            return np.dstack([scaled[..., 0], alpha]), meta
        return scaled, meta
    if trns is not None and color in (0, 2):
        # color-key transparency: tRNS holds one 16-bit value per channel,
        # in depth units; matching pixels get alpha 0
        n = c
        if len(trns) < 2 * n:
            raise MediaDecodeError("PNG tRNS too short for color type")
        key = np.array(struct.unpack(f">{n}H", trns[: 2 * n]))
        if depth == 8:
            key = key.astype(np.uint8)
        match = (img == key.reshape(1, 1, n)).all(axis=2)
        full = 65535 if depth == 16 else 255
        alpha = np.where(match, 0, full).astype(img.dtype)
        meta["n_channels"] = c + 1
        return np.dstack([img, alpha]), meta
    return img, meta


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """(H, W) or (H, W, C) uint8/uint16 → PNG bytes (filter 0, one IDAT);
    uint16 input produces a 16-bit image with network-byte-order samples.
    ``interlace=True`` writes Adam7 passes (each pass's rows filtered
    independently — here all filter 0), the §8.2 grid in encode direction."""
    img = np.asarray(img)
    if img.dtype == np.uint16:
        depth = 16
        img = img.astype(">u2")
    else:
        depth = 8
        img = img.astype(np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                parts.extend(b"\x00" + sub[y].tobytes() for y in range(sub.shape[0]))
        scan = b"".join(parts)
    else:
        scan = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan))
        + _png_chunk(b"IEND", b"")
    )


def _png_pack_row(samples: np.ndarray, depth: int) -> bytes:
    """One scanline of sub-byte or byte samples → packed bytes, MSB-first
    with zero padding in the final byte (spec §7.2)."""
    if depth == 8:
        return samples.astype(np.uint8).tobytes()
    bits = (
        (samples.astype(np.uint8)[:, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).reshape(-1)
    return np.packbits(bits).tobytes()


def encode_png_indexed(
    indices: np.ndarray,
    palette: np.ndarray,
    bit_depth: int = 8,
    trns: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """(H, W) palette indices + (N, 3) uint8 palette → color-type-3 PNG at
    bit depth 1/2/4/8, optional tRNS alpha table, optional Adam7. The
    indexed form is what crawl-scale icon/diagram PNGs actually ship."""
    indices = np.asarray(indices)
    palette = np.asarray(palette, dtype=np.uint8)
    if bit_depth not in (1, 2, 4, 8):
        raise ValueError(f"illegal palette bit depth {bit_depth}")
    if palette.ndim != 2 or palette.shape[1] != 3 or not len(palette):
        raise ValueError("palette must be (N, 3) uint8")
    if len(palette) > 1 << bit_depth:
        raise ValueError(f"{len(palette)} palette entries exceed depth {bit_depth}")
    if indices.ndim != 2:
        raise ValueError("indices must be (H, W)")
    if int(indices.max(initial=0)) >= len(palette) or int(indices.min(initial=0)) < 0:
        raise ValueError("palette index out of range")
    h, w = indices.shape

    def rows(sub: np.ndarray):
        return (b"\x00" + _png_pack_row(sub[y], bit_depth) for y in range(sub.shape[0]))

    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = indices[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                parts.extend(rows(sub))
        scan = b"".join(parts)
    else:
        scan = b"".join(rows(indices))
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 3, 0, 0, 1 if interlace else 0)
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"PLTE", palette.tobytes())
    if trns is not None:
        out += _png_chunk(b"tRNS", bytes(trns))
    return out + _png_chunk(b"IDAT", zlib.compress(scan)) + _png_chunk(b"IEND", b"")


# ---------------------------------------------------------------------------
# PPM / PGM (binary P6 / P5)
# ---------------------------------------------------------------------------


@_clean_errors
def decode_ppm(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    magic = content[:2]
    if magic not in (b"P5", b"P6"):
        raise MediaDecodeError("not a binary PGM/PPM (P5/P6)")
    # header: magic, width, height, maxval — whitespace/comment separated
    toks: list[bytes] = []
    pos = 2
    while len(toks) < 3 and pos < len(content):
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        toks.append(content[start:pos])
    pos += 1  # single whitespace after maxval
    w, h, maxval = (int(t) for t in toks)
    if maxval > 255:
        raise MediaDecodeError("16-bit PNM not supported")
    c = 3 if magic == b"P6" else 1
    arr = np.frombuffer(content, dtype=np.uint8, count=h * w * c, offset=pos)
    fmt = "ppm" if c == 3 else "pgm"
    return arr.reshape(h, w, c).copy(), {
        "format": fmt, "width": w, "height": h, "n_channels": c
    }


def encode_ppm(img: np.ndarray) -> bytes:
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    magic = b"P6" if c == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + img.tobytes()


# ---------------------------------------------------------------------------
# BMP (uncompressed 24-bit BI_RGB)
# ---------------------------------------------------------------------------


@_clean_errors
def decode_bmp(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """BMP → (H, W, C) uint8. Covers what legacy crawls actually ship:
    24-bit and 32-bit BI_RGB (BGRX), 32-bit BI_BITFIELDS with the
    canonical BGRA/BGRX masks, palettized 1/4/8-bit BI_RGB (MSB-first
    packing, 4-byte row alignment), and the RLE8/RLE4 run encodings
    (encoded runs, absolute mode with word padding, EOL/EOS/delta
    escapes; unwritten pixels = palette index 0 per the format's
    convention). Top-down (negative height) handled throughout."""
    if content[:2] != b"BM":
        raise MediaDecodeError("not a BMP")
    (data_off,) = struct.unpack("<I", content[10:14])
    (hdr_size, w, h) = struct.unpack("<Iii", content[14:26])
    if hdr_size < 40:
        raise MediaDecodeError(f"BMP: unsupported header size {hdr_size}")
    planes, bpp = struct.unpack("<HH", content[26:30])
    (compression,) = struct.unpack("<I", content[30:34])
    (clr_used,) = struct.unpack("<I", content[46:50])
    flip = h > 0
    h = abs(h)
    if not (0 < w * h * 4 <= 1 << 28):  # alloc guard, bytes at widest output
        raise MediaDecodeError(f"BMP: implausible dimensions {w}x{h}")

    def palette() -> np.ndarray:
        n = clr_used or (1 << bpp)
        if not (0 < n <= 1 << bpp):
            raise MediaDecodeError(f"BMP: {n} palette entries at {bpp} bpp")
        raw = content[14 + hdr_size : 14 + hdr_size + 4 * n]
        if len(raw) < 4 * n:
            raise MediaDecodeError("BMP: truncated palette")
        return np.frombuffer(raw, np.uint8).reshape(n, 4)[:, 2::-1]  # BGRX→RGB

    def padded_rows(bits_per_px: int) -> np.ndarray:
        stride = ((w * bits_per_px + 31) // 32) * 4
        need = h * stride
        raw = content[data_off : data_off + need]
        if len(raw) < need:
            raise MediaDecodeError("BMP: truncated pixel data")
        return np.frombuffer(raw, np.uint8).reshape(h, stride)

    meta = {"format": "bmp", "width": w, "height": h, "n_channels": 3}
    if compression == 0 and bpp == 24:
        img = padded_rows(24)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    elif bpp == 32 and compression in (0, 3):
        alpha = False
        if compression == 3:
            masks = struct.unpack("<III", content[54:66])
            if masks != (0x00FF0000, 0x0000FF00, 0x000000FF):
                raise MediaDecodeError(f"BMP: non-canonical bitfields {masks}")
            amask = struct.unpack("<I", content[66:70])[0] if hdr_size >= 56 else 0
            alpha = amask == 0xFF000000
        quads = padded_rows(32)[:, : w * 4].reshape(h, w, 4)
        img = quads[:, :, 2::-1] if not alpha else np.dstack(
            [quads[:, :, 2::-1], quads[:, :, 3]]
        )
        if alpha:
            meta["n_channels"] = 4
    elif compression == 0 and bpp in (1, 4, 8):
        pal = palette()
        rows = padded_rows(bpp)
        idx = rows[:, :w] if bpp == 8 else _png_samples(rows, w, 1, bpp)[..., 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise MediaDecodeError("BMP: palette index out of range")
        img = pal[idx]
    elif (compression, bpp) in ((1, 8), (2, 4)):
        pal = palette()
        idx = _bmp_rle_decode(content[data_off:], w, h, rle4=compression == 2)
        if int(idx.max(initial=0)) >= len(pal):
            raise MediaDecodeError("BMP: palette index out of range")
        img = pal[idx]
    else:
        raise MediaDecodeError(
            f"BMP: unsupported bpp={bpp}/compression={compression} combination"
        )
    if flip:
        img = img[::-1]
    return np.ascontiguousarray(img), meta


def _bmp_rle_decode(data: bytes, w: int, h: int, rle4: bool) -> np.ndarray:
    """RLE8/RLE4 → (h, w) palette indices, rows in FILE order (bottom-up
    flipping is the caller's job). Encoded runs repeat one byte (RLE8) or
    alternate the byte's two nibbles high-first (RLE4); absolute runs are
    literal and pad to a word boundary; escapes 0/1/2 are EOL, end of
    bitmap, and a (dx, dy) cursor delta. Off-canvas writes clip — a
    malformed stream must not write out of bounds OR loop forever (pos
    strictly advances)."""
    idx = np.zeros((h, w), np.uint8)
    x = y = pos = 0
    while pos + 1 < len(data):
        n, v = data[pos], data[pos + 1]
        pos += 2
        if n:
            if rle4:
                hi, lo = v >> 4, v & 0xF
                for i in range(n):
                    if x < w and y < h:
                        idx[y, x] = hi if i % 2 == 0 else lo
                    x += 1
            else:
                if y < h:
                    end = min(x + n, w)
                    if end > x:
                        idx[y, x:end] = v
                x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return idx
        elif v == 2:  # delta
            if pos + 1 >= len(data):
                raise MediaDecodeError("BMP RLE: truncated delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:  # absolute mode: v literal pixels, word-aligned
            if rle4:
                nbytes = (v + 1) // 2
                chunk = data[pos : pos + nbytes]
                if len(chunk) < nbytes:
                    raise MediaDecodeError("BMP RLE4: truncated absolute run")
                for i in range(v):
                    b = chunk[i // 2]
                    if x < w and y < h:
                        idx[y, x] = (b >> 4) if i % 2 == 0 else (b & 0xF)
                    x += 1
                pos += nbytes + (nbytes & 1)
            else:
                chunk = data[pos : pos + v]
                if len(chunk) < v:
                    raise MediaDecodeError("BMP RLE8: truncated absolute run")
                if y < h:
                    end = min(x + v, w)
                    if end > x:
                        idx[y, x:end] = np.frombuffer(chunk[: end - x], np.uint8)
                x += v
                pos += v + (v & 1)
    return idx


def _bmp_headers(
    w: int, h: int, bpp: int, compression: int, n_pal: int, data_size: int
) -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER + the offsets that bind them."""
    data_off = 14 + 40 + 4 * n_pal
    return struct.pack("<2sIHHI", b"BM", data_off + data_size, 0, 0, data_off) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, compression, data_size, 2835, 2835, n_pal, 0
    )


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → 24-bit bottom-up BI_RGB BMP (4-byte row pad)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.dstack([img] * 3)
    h, w, c = img.shape
    if c != 3:
        raise ValueError("encode_bmp wants (H, W, 3)")
    stride = (w * 3 + 3) & ~3
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        line = img[y, :, ::-1].tobytes()  # RGB→BGR
        rows.append(line + b"\x00" * (stride - len(line)))
    data = b"".join(rows)
    return _bmp_headers(w, h, 24, 0, 0, len(data)) + data


def encode_bmp_indexed(
    indices: np.ndarray, palette: np.ndarray, rle: bool = False
) -> bytes:
    """(H, W) indices + (N, 3) palette → 8-bit BMP, uncompressed or RLE8
    (run-encoded per row + EOL, EOS at the end — the round-trip validator
    for the RLE decoder)."""
    indices = np.asarray(indices, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    if palette.ndim != 2 or palette.shape[1] != 3 or not 0 < len(palette) <= 256:
        raise ValueError("palette must be (N<=256, 3) uint8")
    if int(indices.max(initial=0)) >= len(palette):
        raise ValueError("palette index out of range")
    h, w = indices.shape
    pal = b"".join(bytes([b, g, r, 0]) for r, g, b in palette.tolist())
    if not rle:
        stride = (w + 3) & ~3
        data = b"".join(
            indices[y].tobytes() + b"\x00" * (stride - w) for y in range(h - 1, -1, -1)
        )
        return _bmp_headers(w, h, 8, 0, len(palette), len(data)) + pal + data
    out = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up row order
        row = indices[y]
        x = 0
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            out += bytes([run, int(row[x])])
            x += run
        out += b"\x00\x00"  # EOL
    out += b"\x00\x01"  # end of bitmap
    return _bmp_headers(w, h, 8, 1, len(palette), len(out)) + pal + bytes(out)


# ---------------------------------------------------------------------------
# ICO (favicon container: PNG or BMP-DIB entries)
# ---------------------------------------------------------------------------


@_clean_errors
def decode_ico(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """ICO (the favicon container every crawl collects) → the LARGEST
    entry decoded. Entries are either embedded PNGs (the modern form) or
    classic BMP DIBs with a DOUBLED-height header covering the XOR pixel
    rows plus a 1-bpp AND transparency mask. DIB entries at ≤24 bpp
    reuse decode_bmp through a synthesized file header and turn the AND
    mask into an alpha channel; 32-bpp entries carry alpha in-band."""
    if len(content) < 6 or content[:4] != b"\x00\x00\x01\x00":
        raise MediaDecodeError("not an ICO")
    (count,) = struct.unpack("<H", content[4:6])
    if not 0 < count <= 256:
        raise MediaDecodeError(f"ICO: implausible entry count {count}")
    best = None
    for i in range(count):
        e = 6 + 16 * i
        if e + 16 > len(content):
            raise MediaDecodeError("ICO: truncated directory")
        w, h = content[e] or 256, content[e + 1] or 256
        size, off = struct.unpack("<II", content[e + 8 : e + 16])
        if best is None or w * h > best[0]:
            best = (w * h, size, off)
    _, size, off = best
    data = content[off : off + size]
    if len(data) < size:
        raise MediaDecodeError("ICO: entry data out of bounds")
    if data[:8] == _PNG_SIG:
        img, m = decode_png(data)
        m = dict(m)
        m["format"] = "ico"
        m["container_entries"] = count
        return img, m
    if len(data) < 40:
        raise MediaDecodeError("ICO: truncated DIB entry")
    hdr_size, dw, dh2 = struct.unpack("<Iii", data[:12])
    if hdr_size != 40:
        raise MediaDecodeError(f"ICO: unsupported DIB header size {hdr_size}")
    if dw <= 0 or dh2 <= 0 or dh2 % 2:
        raise MediaDecodeError(f"ICO: bad DIB geometry {dw}x{dh2}")
    dh = dh2 // 2
    bpp = struct.unpack("<H", data[14:16])[0]
    comp = struct.unpack("<I", data[16:20])[0]
    if comp != 0:
        raise MediaDecodeError("ICO: compressed DIB entries unsupported")
    if not (0 < dw * dh * 4 <= 1 << 28):
        raise MediaDecodeError(f"ICO: implausible dimensions {dw}x{dh}")
    clr_used = struct.unpack("<I", data[32:36])[0]
    n_pal = clr_used or ((1 << bpp) if bpp <= 8 else 0)
    xor_stride = ((dw * bpp + 31) // 32) * 4
    and_stride = ((dw + 31) // 32) * 4
    xor_off = 40 + 4 * n_pal
    mask_off = xor_off + xor_stride * dh
    if len(data) < mask_off:
        raise MediaDecodeError("ICO: truncated XOR pixel data")
    if bpp == 32:
        # alpha in-band: BGRA quads, bottom-up
        quads = np.frombuffer(
            data[xor_off : xor_off + xor_stride * dh], np.uint8
        ).reshape(dh, xor_stride)[:, : dw * 4].reshape(dh, dw, 4)
        img = np.dstack([quads[:, :, 2::-1], quads[:, :, 3]])[::-1]
    else:
        # synthesize a single-image BMP around the DIB (height un-doubled)
        # and let decode_bmp do palette/sub-byte/24-bit work
        ihdr = bytearray(data[:40])
        ihdr[8:12] = struct.pack("<i", dh)
        pal = data[40 : 40 + 4 * n_pal]
        xor_bytes = data[xor_off:mask_off]
        bmp = (
            struct.pack(
                "<2sIHHI", b"BM", 14 + 40 + len(pal) + len(xor_bytes), 0, 0,
                14 + 40 + len(pal),
            )
            + bytes(ihdr)
            + pal
            + xor_bytes
        )
        rgb, _m = decode_bmp(bmp)
        mask = data[mask_off : mask_off + and_stride * dh]
        if len(mask) >= and_stride * dh:
            rows = np.frombuffer(mask, np.uint8)[: and_stride * dh].reshape(
                dh, and_stride
            )
            bits = _png_samples(rows, dw, 1, 1)[..., 0][::-1]  # bottom-up
            alpha = np.where(bits == 1, 0, 255).astype(np.uint8)
            img = np.dstack([rgb[:, :, :3], alpha])
        else:  # mask absent: fully opaque (tolerant-read, crawl convention)
            img = rgb
    return np.ascontiguousarray(img), {
        "format": "ico", "width": dw, "height": dh,
        "n_channels": img.shape[2], "container_entries": count,
    }


def encode_ico(img: np.ndarray, entry: str = "png") -> bytes:
    """(H≤256, W≤256, 3|4) uint8 → single-entry ICO with a PNG payload
    (``entry="png"``, the modern favicon form) or a classic 32-bpp DIB
    (``entry="bmp"``: doubled-height header, BGRA bottom-up, all-opaque
    AND mask) — the round-trip validators for decode_ico's two paths."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.dstack([img] * 3)
    h, w, c = img.shape
    if not (0 < h <= 256 and 0 < w <= 256) or c not in (3, 4):
        raise ValueError("encode_ico wants (H<=256, W<=256, 3|4)")
    if entry == "png":
        payload = encode_png(img)
        bpp = 8 * c
    elif entry == "bmp":
        rgba = img if c == 4 else np.dstack([img, np.full((h, w), 255, np.uint8)])
        quads = np.dstack([rgba[:, :, 2::-1], rgba[:, :, 3]])[::-1]
        and_stride = ((w + 31) // 32) * 4
        payload = (
            struct.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, 32, 0, 0, 0, 0, 0, 0)
            + quads.tobytes()
            + b"\x00" * (and_stride * h)
        )
        bpp = 32
    else:
        raise ValueError(f"encode_ico: unknown entry kind {entry!r}")
    head = b"\x00\x00\x01\x00" + struct.pack("<H", 1)
    dirent = bytes([w % 256, h % 256, 0, 0]) + struct.pack(
        "<HHII", 1, bpp, len(payload), 22
    )
    return head + dirent + payload


# ---------------------------------------------------------------------------
# WAV (RIFF PCM 8/16-bit)
# ---------------------------------------------------------------------------


@_clean_errors
def decode_wav(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """WAV → (n_samples, n_channels) float32 in [-1, 1] + meta. PCM
    8/16/24/32-bit and IEEE float 32/64, plain or WAVE_FORMAT_EXTENSIBLE
    (SubFormat GUID unwrapped) — the flavors studio/field recorders ship."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise MediaDecodeError("not a RIFF/WAVE file")
    pos, fmt, data, fmt_body = 12, None, None, b""
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (clen,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
            fmt_body = body
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise MediaDecodeError("WAV missing fmt/data chunk")
    audio_fmt, n_ch, rate, _byte_rate, _block, bits = fmt
    if audio_fmt == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the real format is the first two bytes
        # of the SubFormat GUID in the fmt extension (bytes 24:40) — the
        # container every writer uses for >16-bit and multichannel PCM
        if len(fmt_body) < 40:
            raise MediaDecodeError("WAV extensible fmt chunk too short")
        (audio_fmt,) = struct.unpack("<H", fmt_body[24:26])
        if fmt_body[26:40] != bytes.fromhex("000000001000800000aa00389b71"):
            raise MediaDecodeError("WAV: non-PCM extensible SubFormat GUID")
    if n_ch == 0:
        raise MediaDecodeError("WAV: zero channels")
    if audio_fmt == 1 and bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif audio_fmt == 1 and bits == 8:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif audio_fmt == 1 and bits == 24:
        # 3-byte little-endian signed: widen via a zero-padded uint8 view
        # (value lands in the top 3 bytes of an int32, then scale by 2^31)
        b3 = np.frombuffer(data[: len(data) - len(data) % 3], np.uint8).reshape(-1, 3)
        i32 = np.zeros((len(b3), 4), np.uint8)
        i32[:, 1:] = b3
        samples = i32.view("<i4")[:, 0].astype(np.float32) / 2147483648.0
    elif audio_fmt == 1 and bits == 32:
        samples = np.frombuffer(data, dtype="<i4").astype(np.float32) / 2147483648.0
    elif audio_fmt == 3 and bits == 32:
        samples = np.frombuffer(data, dtype="<f4").astype(np.float32)
    elif audio_fmt == 3 and bits == 64:
        samples = np.frombuffer(data, dtype="<f8").astype(np.float32)
    else:
        raise MediaDecodeError(
            f"only PCM 8/16/24/32-bit or IEEE-float WAV (fmt={audio_fmt}, bits={bits})"
        )
    n = samples.size // n_ch
    samples = samples[: n * n_ch].reshape(n, n_ch)
    meta = {
        "format": "wav",
        "n_channels": n_ch,
        "sample_rate": rate,
        "duration_ms": int(n * 1000 / rate) if rate else 0,
    }
    return samples, meta


def encode_wav(
    samples: np.ndarray, sample_rate: int = 16000, bits: int = 16
) -> bytes:
    """(n,) or (n, C) float32 in [-1, 1] → PCM WAV bytes at 16/24/32 bits,
    or IEEE float32 with ``bits=-32`` (negative = float, mirroring the
    fmt-chunk dichotomy)."""
    arr = np.asarray(samples, dtype=np.float32)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, c = arr.shape
    # round (not truncate) at the decoder's scale so the round-trip error
    # is bounded by half an LSB of the chosen width
    if bits == 16:
        pcm = np.clip(np.round(arr * 32768.0), -32768, 32767).astype("<i2").tobytes()
    elif bits == 24:
        i32 = np.clip(
            np.round(arr.astype(np.float64) * 2147483648.0), -2147483648, 2147483647
        ).astype("<i4")
        pcm = np.ascontiguousarray(i32.view(np.uint8).reshape(-1, 4)[:, 1:]).tobytes()
    elif bits == 32:
        pcm = np.clip(
            np.round(arr.astype(np.float64) * 2147483648.0), -2147483648, 2147483647
        ).astype("<i4").tobytes()
    elif bits == -32:
        pcm = arr.astype("<f4").tobytes()
    else:
        raise ValueError(f"encode_wav: unsupported bits {bits}")
    afmt, width = (3, 4) if bits == -32 else (1, abs(bits) // 8)
    fmt = struct.pack(
        "<HHIIHH", afmt, c, sample_rate, sample_rate * c * width, c * width,
        8 * width,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


# ---------------------------------------------------------------------------
# JPEG (baseline sequential DCT, ITU T.81): pure stdlib + numpy
# ---------------------------------------------------------------------------
# Everything below is from the public spec (ITU T.81 Annex K carries the
# example quantization + Huffman tables that libjpeg and virtually every
# camera emit).  Decoder handles SOF0 (baseline), 1-3 components, arbitrary
# sampling factors (4:4:4 / 4:2:2 / 4:2:0 all exercised in tests), restart
# markers, and 0xFF00 byte stuffing.  Progressive (SOF2) and arithmetic
# coding raise with a precise message.  The encoder mirrors the decoder so
# tests round-trip real bytes with a measured PSNR gate (JPEG is lossy, so
# "round-trip" means high fidelity, not bit equality).

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_JPEG_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

_JPEG_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# Annex K Huffman tables: (BITS counts for code lengths 1..16, HUFFVAL).
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    # Orthonormal 8x8 DCT-II basis: F = T @ f @ T.T, f = T.T @ F @ T.
    x = np.arange(8)
    T = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) * 0.5
    T[0, :] = 1.0 / np.sqrt(8.0)
    return T


_DCT_T = _dct_matrix()


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: {(code_length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: {symbol: (code, code_length)}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over a de-stuffed entropy-coded segment."""

    __slots__ = ("data", "pos", "buf", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                return 0  # T.81 F.2.2.5: pad with 1-bits; 0 is safer for EOB tails
            self.buf = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.buf >> self.n) & 1

    def read_bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise MediaDecodeError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    # T.81 F.2.2.1: map t-bit magnitude to signed value.
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _split_entropy_segments(content: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``start``: de-stuff 0xFF00, split on RSTn
    markers, stop at the first real marker. Returns (segments, position of
    the stopping marker's 0xFF)."""
    segments: list[bytes] = []
    cur = bytearray()
    p = start
    end = len(content)
    while p < end:
        byte = content[p]
        if byte == 0xFF and p + 1 < end:
            nxt = content[p + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                p += 2
                continue
            break  # EOI or next real marker
        cur.append(byte)
        p += 1
    segments.append(bytes(cur))
    return segments, p


def _refine_ac(
    br: _JpegBitReader,
    zz: np.ndarray,
    ac_tab: dict[tuple[int, int], int],
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    """AC successive-approximation refinement for one block (T.81 G.2,
    the libjpeg decode_mcu_AC_refine control flow): already-nonzero
    coefficients receive correction bits, newly significant ones arrive
    as run+sign codes, and EOB runs cover whole blocks (whose nonzero
    coefficients still consume correction bits). Returns the EOB run
    remaining after this block."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = br.read_huff(ac_tab)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break
                # r == 15: ZRL — skip 16 zero-history coefficients below
            else:
                if s != 1:
                    raise MediaDecodeError("JPEG AC refinement size != 1")
                newval = p1 if br.read_bit() else m1
            while k <= se:
                v = int(zz[k])
                if v != 0:
                    # correction bit for an already-nonzero coefficient
                    if br.read_bit() and (v & p1) == 0:
                        zz[k] = v + (p1 if v >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s != 0:
                if k > se:
                    raise MediaDecodeError("JPEG refinement run overflows band")
                zz[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            v = int(zz[k])
            if v != 0 and br.read_bit() and (v & p1) == 0:
                zz[k] = v + (p1 if v >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_block(
    br: _JpegBitReader,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
    pred: int,
) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int32)
    t = br.read_huff(dc_tab)
    pred += _extend(br.read_bits(t), t)
    zz[0] = pred
    k = 1
    while k < 64:
        rs = br.read_huff(ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise MediaDecodeError("JPEG AC run overflows block")
        zz[k] = _extend(br.read_bits(s), s)
        k += 1
    return zz, pred


def _init_prog_store(frame) -> tuple[dict[int, np.ndarray], dict]:
    """Allocate the per-component coefficient store a progressive frame
    accumulates across scans: (block_rows, block_cols, 64) int32 in ZIGZAG
    order, sized to the full interleaved MCU grid. Geometry rides along so
    every scan shares one computation. The store is THE alloc surface for
    a forged SOF (scans only index into it), so the block-count cap lives
    here — 1M blocks ≈ 256 MB of coefficients, comfortably above any real
    photograph (a 24 MP 4:2:0 image is ~560k blocks) and far below the
    multi-GiB forged-dimension bombs the fuzz nets throw."""
    _precision, H, W, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    total_blocks = sum(mcus_x * c["h"] * mcus_y * c["v"] for c in comps)
    if not (0 < total_blocks <= 1 << 20):
        raise MediaDecodeError(
            f"JPEG progressive: implausible frame geometry ({total_blocks} blocks)"
        )
    store = {
        c["id"]: np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32)
        for c in comps
    }
    geom = {
        "hmax": hmax, "vmax": vmax, "mcus_x": mcus_x, "mcus_y": mcus_y,
        "by_id": {c["id"]: c for c in comps},
        # non-interleaved scans iterate the component's OWN block grid
        # (T.81 A.2.2: ceil(comp samples / 8)), not the padded MCU grid
        "ni": {
            c["id"]: (
                -(-(-(-H * c["v"] // vmax)) // 8),
                -(-(-(-W * c["h"] // hmax)) // 8),
            )
            for c in comps
        },
    }
    return store, geom


def _progressive_scan(
    segments: list[bytes],
    scan_comps: list[dict],
    ss: int,
    se: int,
    ah: int,
    al: int,
    frame,
    geom,
    coef_store: dict[int, np.ndarray],
    huff_dc: dict[int, dict],
    huff_ac: dict[int, dict],
    restart_interval: int,
) -> None:
    """Apply one progressive scan (T.81 G.2) to the coefficient store.
    DC scans (Ss=Se=0) may interleave components; AC scans (Ss>0) are
    single-component over that component's own block grid. Ah=0 scans
    deliver first approximations shifted by Al; Ah>0 scans refine one bit.
    DC predictors and EOB runs reset per scan and at every restart."""
    by_id = geom["by_id"]
    for sc in scan_comps:
        if sc["id"] not in by_id:
            raise MediaDecodeError(f"JPEG scan names unknown component {sc['id']}")
    if ss == 0:
        if se != 0:
            raise MediaDecodeError("JPEG progressive: DC scan with Se != 0")
    else:
        if len(scan_comps) != 1:
            raise MediaDecodeError("JPEG progressive: interleaved AC scan")
        if not (ss <= se <= 63):
            raise MediaDecodeError(f"JPEG progressive: bad band {ss}..{se}")
    if ah not in range(14) or al not in range(14):
        raise MediaDecodeError(f"JPEG progressive: bad approximation {ah}/{al}")
    interleaved = len(scan_comps) > 1
    if interleaved:
        units = geom["mcus_x"] * geom["mcus_y"]
        blocks_per_unit = sum(
            by_id[sc["id"]]["h"] * by_id[sc["id"]]["v"] for sc in scan_comps
        )
    else:
        c0 = by_id[scan_comps[0]["id"]]
        ni_bh, ni_bw = geom["ni"][c0["id"]]
        units = ni_bh * ni_bw
        blocks_per_unit = 1
    # work/payload bound (the baseline guard's progressive analog): EOB
    # runs legitimately cover ≤16384 blocks per ~15-bit code (~1100
    # blocks/bit), so demand 1 bit per 4096 blocks — forged frames
    # declaring millions of blocks against a near-empty scan die here
    entropy_bits = 8 * sum(len(s) for s in segments)
    if units * blocks_per_unit > entropy_bits * 4096:
        raise MediaDecodeError(
            f"JPEG progressive: {units * blocks_per_unit} blocks exceeds "
            f"entropy data ({entropy_bits} bits) — truncated or adversarial"
        )
    seg_idx = 0
    br = _JpegBitReader(segments[0])
    preds = {sc["id"]: 0 for sc in scan_comps}
    eobrun = 0
    mcus_x = geom["mcus_x"]
    for u in range(units):
        if restart_interval and u and u % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise MediaDecodeError("JPEG truncated at restart boundary")
            br = _JpegBitReader(segments[seg_idx])
            preds = {sc["id"]: 0 for sc in scan_comps}
            eobrun = 0
        if interleaved:  # DC scan over MCUs
            my, mx = divmod(u, mcus_x)
            for sc in scan_comps:
                c = by_id[sc["id"]]
                plane = coef_store[sc["id"]]
                for by_ in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = plane[my * c["v"] + by_, mx * c["h"] + bx]
                        if ah == 0:
                            t = br.read_huff(huff_dc[sc["td"]])
                            preds[sc["id"]] += _extend(br.read_bits(t), t)
                            zz[0] = preds[sc["id"]] << al
                        elif br.read_bit():
                            zz[0] = int(zz[0]) | (1 << al)
        else:
            sc = scan_comps[0]
            by_, bx = divmod(u, ni_bw)
            zz = coef_store[sc["id"]][by_, bx]
            if ss == 0:  # single-component DC scan
                if ah == 0:
                    t = br.read_huff(huff_dc[sc["td"]])
                    preds[sc["id"]] += _extend(br.read_bits(t), t)
                    zz[0] = preds[sc["id"]] << al
                elif br.read_bit():
                    zz[0] = int(zz[0]) | (1 << al)
            elif ah == 0:  # AC first scan
                if eobrun > 0:
                    eobrun -= 1
                    continue
                ac_tab = huff_ac[sc["ta"]]
                k = ss
                while k <= se:
                    rs = br.read_huff(ac_tab)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read_bits(r)
                            break
                        k += 16
                    else:
                        k += r
                        if k > se:
                            raise MediaDecodeError("JPEG AC run overflows band")
                        zz[k] = _extend(br.read_bits(s), s) << al
                        k += 1
            else:  # AC refinement scan
                eobrun = _refine_ac(br, zz, huff_ac[sc["ta"]], ss, se, al, eobrun)


@_clean_errors
def decode_jpeg(
    content: bytes, rgb_transform: bool | None = None
) -> tuple[np.ndarray, dict[str, Any]]:
    """Baseline JPEG → (H, W, C) uint8 + meta.  C is 1 (grayscale) or 3 (RGB
    after YCbCr conversion).  Chroma is upsampled by sample replication.

    ``rgb_transform`` overrides the 3-component color convention: None
    (default) applies the YCbCr→RGB transform as every standalone JPEG
    expects; False returns the decoded component planes untransformed —
    the TIFF compression-7 path needs this when PhotometricInterpretation
    says the strip's JPEG components are already RGB (TIFF6 TechNote 2:
    the photometric tag, not the JPEG stream, declares the color space).

    Reference parity note: the reference ETL has no media path at all (it
    delegates raster decode to xarray/rasterio); this decoder exists so the
    multimodal pipeline's decode stage is real rather than stubbed.
    """
    if content[:2] != b"\xFF\xD8":
        raise MediaDecodeError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (precision, H, W, components)
    restart_interval = 0
    scan = None
    progressive = False
    coef_store: dict[int, np.ndarray] | None = None  # cid → (bh, bw, 64) zigzag
    prog_geom = None
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise MediaDecodeError(f"JPEG marker sync lost at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < len(content) and content[pos + 1] == 0xFF:
            pos += 1
        marker = content[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        (seg_len,) = struct.unpack(">H", content[pos : pos + 2])
        body = content[pos + 2 : pos + seg_len]
        if marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc_th = body[b]
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                tab = _huff_decode_table(bits, vals)
                if tc_th >> 4 == 0:
                    huff_dc[tc_th & 0x0F] = tab
                else:
                    huff_ac[tc_th & 0x0F] = tab
                b += 17 + nv
        elif marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                pq_tq = body[b]
                if pq_tq >> 4:  # 16-bit table
                    vals = np.frombuffer(body[b + 1 : b + 129], dtype=">u2").astype(np.int64)
                    b += 129
                else:
                    vals = np.frombuffer(body[b + 1 : b + 65], dtype=np.uint8).astype(np.int64)
                    b += 65
                q = np.zeros(64, dtype=np.int64)
                q[_ZIGZAG] = vals
                qt[pq_tq & 0x0F] = q.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 (sequential) / SOF2 (progressive)
            if frame is not None:
                # T.81 B.2.1: exactly one frame header per stream. A forged
                # second SOF would re-declare dimensions AFTER coef_store
                # was sized (progressive) or redefine geometry mid-stream —
                # decode would return an array whose shape contradicts its
                # meta instead of failing
                raise MediaDecodeError("JPEG: duplicate SOF marker")
            precision, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                ch, cv = hv >> 4, hv & 0x0F
                if not (1 <= ch <= 4 and 1 <= cv <= 4):  # T.81 B.2.2 bounds
                    raise MediaDecodeError(
                        f"JPEG: component {cid} sampling factors {ch}x{cv} out of range"
                    )
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            frame = (precision, h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} coding — only baseline sequential "
                "(SOF0/SOF1) and progressive (SOF2) are implemented"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cs, td_ta = body[1 + 2 * i : 3 + 2 * i]
                scan_comps.append({"id": cs, "td": td_ta >> 4, "ta": td_ta & 0x0F})
            if not progressive:
                scan = (scan_comps, pos + seg_len)
                break
            # progressive: this scan carries a spectral band / bit layer
            # (T.81 G.1): Ss..Se select coefficients, Ah/Al the precision
            if frame is None:
                raise MediaDecodeError("JPEG SOS before SOF")
            ss, se, ah_al = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 0x0F
            if coef_store is None:
                coef_store, prog_geom = _init_prog_store(frame)
            segments, pos = _split_entropy_segments(content, pos + seg_len)
            _progressive_scan(
                segments, scan_comps, ss, se, ah, al, frame, prog_geom,
                coef_store, huff_dc, huff_ac, restart_interval,
            )
            continue
        elif marker == 0xD9:  # EOI before scan
            break
        pos += seg_len
    if frame is None or (scan is None and coef_store is None):
        raise MediaDecodeError("JPEG missing SOF/SOS")
    precision, H, W, comps = frame
    if precision != 8:
        raise MediaDecodeError(f"only 8-bit JPEG (precision={precision})")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    planes: dict[int, np.ndarray] = {}
    if progressive:
        # every scan already accumulated into coef_store (zigzag order,
        # allocation bounded by _init_prog_store's block cap): one batched
        # dequant + IDCT per component, same math as baseline
        for c in comps:
            arr = coef_store[c["id"]]  # (bh, bw, 64)
            bh, bw_, _ = arr.shape
            coef = np.zeros((bh * bw_, 64), dtype=np.float64)
            coef[:, _ZIGZAG] = arr.reshape(-1, 64)
            coef = coef.reshape(-1, 8, 8) * qt[c["tq"]][None, :, :]
            pix = np.einsum("ur,nrs,sv->nuv", _DCT_T.T, coef, _DCT_T) + 128.0
            planes[c["id"]] = (
                pix.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw_ * 8)
            )
    else:
        scan_comps, data_start = scan
        if len(scan_comps) != len(comps):
            raise MediaDecodeError("non-interleaved multi-scan JPEG not supported (baseline interleaved only)")

        # Entropy-coded data: split on RST markers, de-stuff 0xFF00.
        segments, _ = _split_entropy_segments(content, data_start)

        # Decode every block's zigzag coefficients, then batch dequant+IDCT in numpy.
        blocks: dict[int, list[tuple[int, int, np.ndarray]]] = {c["id"]: [] for c in comps}
        preds = {c["id"]: 0 for c in comps}
        seg_idx = 0
        br = _JpegBitReader(segments[0])
        n_mcus = mcus_x * mcus_y
        # CPU/memory-bomb bound: n_mcus derives solely from declared SOF
        # dimensions, and the bit reader zero-pads past the end of truncated
        # entropy data — a tiny file declaring 65535×65535 would otherwise burn
        # ~67M block decodes. Every block costs ≥2 bits (a ≥1-bit DC Huffman
        # code + a ≥1-bit EOB); require at least 1 bit per block of actual
        # entropy-coded data before entering the loop.
        blocks_per_mcu = sum(by_id[sc["id"]]["h"] * by_id[sc["id"]]["v"] for sc in scan_comps)
        entropy_bits = 8 * sum(len(s) for s in segments)
        if n_mcus * blocks_per_mcu > entropy_bits:
            raise MediaDecodeError(
                f"JPEG: declared {n_mcus} MCUs × {blocks_per_mcu} blocks exceeds "
                f"entropy data ({entropy_bits} bits) — truncated or adversarial"
            )
        # plane allocation sits BEHIND the bomb guard: forged 65535×65535
        # dims must die above before any np.zeros is sized from them
        planes = {
            c["id"]: np.zeros(
                (mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64
            )
            for c in comps
        }
        for m in range(n_mcus):
            if restart_interval and m and m % restart_interval == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise MediaDecodeError("JPEG truncated at restart boundary")
                br = _JpegBitReader(segments[seg_idx])
                preds = {c["id"]: 0 for c in comps}
            my, mx = divmod(m, mcus_x)
            for sc in scan_comps:
                c = by_id[sc["id"]]
                for by_ in range(c["v"]):
                    for bx in range(c["h"]):
                        zz, preds[c["id"]] = _decode_block(
                            br, huff_dc[sc["td"]], huff_ac[sc["ta"]], preds[c["id"]]
                        )
                        y0 = (my * c["v"] + by_) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        blocks[c["id"]].append((y0, x0, zz))
        for c in comps:
            blist = blocks[c["id"]]
            if not blist:
                continue
            zzs = np.stack([b[2] for b in blist])  # (n, 64)
            coef = np.zeros((len(blist), 64), dtype=np.float64)
            coef[:, _ZIGZAG] = zzs
            coef = coef.reshape(-1, 8, 8) * qt[c["tq"]][None, :, :]
            pix = np.einsum("ur,nrs,sv->nuv", _DCT_T.T, coef, _DCT_T) + 128.0
            plane = planes[c["id"]]
            for (y0, x0, _), blk in zip(blist, pix):
                plane[y0 : y0 + 8, x0 : x0 + 8] = blk
    # Upsample to full resolution, crop, stack.
    out_planes = []
    for c in comps:
        plane = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out_planes.append(plane[:H, :W])
    meta = {
        "format": "jpeg",
        "height": H,
        "width": W,
        "n_channels": 1 if len(comps) == 1 else 3,
        "subsampling": f"{comps[0]['h']}x{comps[0]['v']}" if len(comps) > 1 else "1x1",
    }
    if len(comps) == 1:
        img = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)[:, :, None]
        return img, meta
    if rgb_transform is False:
        img = np.clip(np.round(np.stack(out_planes, axis=-1)), 0, 255).astype(np.uint8)
        return img, meta
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    img = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)
    return img, meta


class _JpegBitWriter:
    """MSB-first bit writer with 0xFF00 stuffing."""

    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.buf = (self.buf << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.buf)
                if self.buf == 0xFF:
                    self.out.append(0x00)
                self.buf = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.buf = (self.buf << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.buf)
            if self.buf == 0xFF:
                self.out.append(0x00)
            self.buf = 0
            self.n = 0


def _magnitude(v: int) -> tuple[int, int]:
    """Signed value → (category ssss, ssss magnitude bits)."""
    t = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


def _encode_block(
    bw: _JpegBitWriter,
    zz: np.ndarray,
    pred: int,
    dc_tab: dict[int, tuple[int, int]],
    ac_tab: dict[int, tuple[int, int]],
) -> int:
    dc = int(zz[0])
    t, bits = _magnitude(dc - pred)
    code, ln = dc_tab[t]
    bw.write(code, ln)
    if t:
        bw.write(bits, t)
    run = 0
    last_nz = 0
    nz = np.nonzero(zz[1:])[0]
    last_nz = (nz[-1] + 1) if nz.size else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]
            bw.write(code, ln)
            run -= 16
        s, bits = _magnitude(v)
        code, ln = ac_tab[(run << 4) | s]
        bw.write(code, ln)
        bw.write(bits, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]
        bw.write(code, ln)
    return dc


def _gen_huff_spec(freq_in: dict[int, int]) -> tuple[list[int], list[int]]:
    """JPEG-legal Huffman table from symbol frequencies — the published
    T.81 Annex K.2 procedure (Figures K.1-K.3): pair-merge code sizes,
    limit lengths to 16 bits, and reserve the all-ones code via the dummy
    symbol 256. Returns (bits[16], vals) for DHT emission. Progressive AC
    scans need this because the Annex K typical tables carry no EOBn
    (n>=1) symbols."""
    freq = [0] * 257
    for s, f in freq_in.items():
        freq[s] = f
    freq[256] = 1  # dummy: guarantees the all-1s code stays unassigned
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        present = [(f, i) for i, f in enumerate(freq) if f > 0]
        if len(present) < 2:
            break
        present.sort(key=lambda t: (t[0], -t[1]))  # least freq, highest index
        v1, v2 = present[0][1], present[1][1]
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] >= 0:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] >= 0:
            v2 = others[v2]
            codesize[v2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    # Figure K.3: fold code lengths > 16 back into the tree
    for i in range(32, 16, -1):
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the dummy symbol's code slot
    vals = sorted(
        (s for s in range(256) if codesize[s]),
        key=lambda s: (codesize[s], s),
    )
    return bits[1:17], vals


class _SymCounter:
    """Frequency-gathering sink for the two-pass progressive encoder."""

    __slots__ = ("freq",)

    def __init__(self):
        self.freq: dict[int, int] = {}

    def sym(self, s: int) -> None:
        self.freq[s] = self.freq.get(s, 0) + 1

    def bits(self, v: int, n: int) -> None:
        pass


class _SymWriter:
    """Huffman-emitting sink sharing the emitter code with _SymCounter."""

    __slots__ = ("bw", "table")

    def __init__(self, bw: _JpegBitWriter, table: dict[int, tuple[int, int]]):
        self.bw = bw
        self.table = table

    def sym(self, s: int) -> None:
        code, ln = self.table[s]
        self.bw.write(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.bw.write(v, n)


def _scan_ac_first(sink, blocks: list[np.ndarray], ss: int, se: int, al: int) -> None:
    """Progressive AC first-approximation scan body (T.81 G.1.2.2 /
    jcphuff encode_mcu_AC_first): zero runs, ZRL, point-transformed
    coefficients, and EOB runs accumulated across all-zero band blocks."""
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            sink.sym(nb << 4)
            sink.bits(eobrun - (1 << nb), nb)
            eobrun = 0

    for zz in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            v = (v >> al) if v >= 0 else -((-v) >> al)  # point transform → 0
            if v == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                sink.sym(0xF0)  # ZRL
                r -= 16
            s, bits = _magnitude(v)
            sink.sym((r << 4) | s)
            sink.bits(bits, s)
            r = 0
        if r > 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _scan_ac_refine(sink, blocks: list[np.ndarray], ss: int, se: int, al: int) -> None:
    """Progressive AC refinement scan body (T.81 G.1.2.3 / jcphuff
    encode_mcu_AC_refine): newly significant coefficients as run+sign
    codes, correction bits for already-nonzero ones buffered and emitted
    after the covering symbol, EOB runs carrying their buffered bits."""
    eobrun = 0
    be_bits: list[int] = []  # correction bits owed after the next EOBRUN symbol

    def flush_eob():
        nonlocal eobrun, be_bits
        if eobrun:
            nb = eobrun.bit_length() - 1
            sink.sym(nb << 4)
            sink.bits(eobrun - (1 << nb), nb)
            eobrun = 0
        for b in be_bits:
            sink.bits(b, 1)
        be_bits = []

    for zz in blocks:
        absv = []
        eob_k = ss - 1  # index of the last NEWLY significant coefficient
        for k in range(ss, se + 1):
            t = int(zz[k])
            if t < 0:
                t = -t
            t >>= al
            absv.append(t)
            if t == 1:
                eob_k = k
        r = 0
        br_bits: list[int] = []  # correction bits inside the current run
        for k in range(ss, se + 1):
            temp = absv[k - ss]
            if temp == 0:
                r += 1
                continue
            while r > 15 and k <= eob_k:
                flush_eob()
                sink.sym(0xF0)
                r -= 16
                for b in br_bits:
                    sink.bits(b, 1)
                br_bits = []
            if temp > 1:
                br_bits.append(temp & 1)
                continue
            flush_eob()
            sink.sym((r << 4) | 1)
            sink.bits(1 if int(zz[k]) >= 0 else 0, 1)
            for b in br_bits:
                sink.bits(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            eobrun += 1
            be_bits.extend(br_bits)
            if eobrun == 0x7FFF or len(be_bits) > 900:
                flush_eob()
    flush_eob()


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    # libjpeg-compatible linear quality scaling (public jcparam.c formula).
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    return np.clip((q * scale + 50) // 100, 1, 255)


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: str = "4:4:4",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """(H, W) / (H, W, 1) grayscale or (H, W, 3) RGB uint8 → baseline JPEG.

    `subsample` is "4:4:4", "4:2:2", or "4:2:0" (chroma by box averaging).
    `restart_interval` > 0 emits DRI + RSTn markers every N MCUs (the
    resync structure real camera JPEGs carry).  Uses the T.81 Annex K
    quantization (quality-scaled) and Huffman tables.

    ``progressive`` emits SOF2 with a successive-approximation scan
    script (DC first Al=1 → AC first Al=1 per component → DC refine →
    AC refine per component): every coefficient bit is delivered across
    the scans, so the decoded image is BIT-IDENTICAL to the baseline
    encoding of the same input — only the entropy layer differs. AC
    scans carry per-scan optimal Huffman tables (T.81 K.2) because the
    Annex K typical tables define no EOBn symbols. Restart markers are
    not combined with progressive here.
    """
    arr = np.asarray(img)
    if progressive and restart_interval:
        raise ValueError("encode_jpeg: restart_interval unsupported with progressive")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    H, W, C = arr.shape
    if C not in (1, 3):
        raise ValueError("encode_jpeg expects 1 or 3 channels")
    gray = C == 1
    qy = _quality_scale(_JPEG_QT_LUMA, quality)
    qc = _quality_scale(_JPEG_QT_CHROMA, quality)
    if gray:
        planes = [arr[:, :, 0].astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        hs, vs = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}[subsample]
        planes = [y]
        for ch in (cb, cr):
            if hs > 1 or vs > 1:
                ph = -(-H // vs) * vs
                pw = -(-W // hs) * hs
                pad = np.pad(ch, ((0, ph - H), (0, pw - W)), mode="edge")
                ch = pad.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
            planes.append(ch)
        samp = [(hs, vs), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    # Pad each plane to its MCU-aligned size (edge replication keeps the
    # padding cheap to code: flat blocks compress to DC + EOB).
    coded: list[np.ndarray] = []
    qts = []
    for i, (plane, (h, v)) in enumerate(zip(planes, samp)):
        th, tw = mcus_y * v * 8, mcus_x * h * 8
        ph, pw = plane.shape
        plane = np.pad(plane, ((0, th - ph), (0, tw - pw)), mode="edge")
        q = qy if i == 0 else qc
        qts.append(q)
        blocks = (
            plane.reshape(th // 8, 8, tw // 8, 8).transpose(0, 2, 1, 3) - 128.0
        )
        coef = np.einsum("ur,yxrs,sv->yxuv", _DCT_T, blocks, _DCT_T.T)
        zz = np.round(coef / q[None, None, :, :]).astype(np.int32)
        flat = zz.reshape(th // 8, tw // 8, 64)
        zzflat = flat[:, :, _ZIGZAG]  # natural order → zigzag sequence
        coded.append(zzflat)
    dc_y = _huff_encode_table(*_HUFF_DC_LUMA)
    dc_c = _huff_encode_table(*_HUFF_DC_CHROMA)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def dht(tc: int, th: int, spec: tuple) -> bytes:
        bits, vals = spec
        return seg(0xC4, bytes([(tc << 4) | th] + list(bits) + list(vals)))

    out = bytearray(b"\xFF\xD8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_qy = bytes(int(qy.reshape(64)[i]) for i in _ZIGZAG)
    out += seg(0xDB, b"\x00" + zz_qy)
    if not gray:
        zz_qc = bytes(int(qc.reshape(64)[i]) for i in _ZIGZAG)
        out += seg(0xDB, b"\x01" + zz_qc)
    sof = bytearray(struct.pack(">BHHB", 8, H, W, len(planes)))
    for i, (h, v) in enumerate(samp):
        sof += bytes([i + 1, (h << 4) | v, 0 if i == 0 else 1])
    out += seg(0xC2 if progressive else 0xC0, bytes(sof))

    if progressive:
        out += _encode_progressive_scans(
            coded, samp, gray, H, W, hmax, vmax, mcus_x, mcus_y,
            dc_y, dc_c, seg, dht,
        )
        out += b"\xFF\xD9"
        return bytes(out)

    ac_y = _huff_encode_table(*_HUFF_AC_LUMA)
    ac_c = _huff_encode_table(*_HUFF_AC_CHROMA)
    bw = _JpegBitWriter()
    preds = [0] * len(planes)
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)])
            preds = [0] * len(planes)
        my, mx = divmod(m, mcus_x)
        for ci, (h, v) in enumerate(samp):
            dct_tab = dc_y if ci == 0 else dc_c
            act_tab = ac_y if ci == 0 else ac_c
            for by_ in range(v):
                for bx in range(h):
                    preds[ci] = _encode_block(
                        bw, coded[ci][my * v + by_, mx * h + bx], preds[ci], dct_tab, act_tab
                    )
    bw.flush()

    out += dht(0, 0, _HUFF_DC_LUMA) + dht(1, 0, _HUFF_AC_LUMA)
    if not gray:
        out += dht(0, 1, _HUFF_DC_CHROMA) + dht(1, 1, _HUFF_AC_CHROMA)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([len(planes)])
    for i in range(len(planes)):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3F\x00"
    out += seg(0xDA, bytes(sos))
    out += bw.out
    out += b"\xFF\xD9"
    return bytes(out)


def _encode_progressive_scans(
    coded, samp, gray, H, W, hmax, vmax, mcus_x, mcus_y, dc_y, dc_c, seg, dht
) -> bytes:
    """Emit the progressive scan script: DC first (Al=1, interleaved) →
    AC first per component (band 1..63, Al=1, per-scan optimal Huffman
    table in slot 0) → DC refine (raw bits) → AC refine per component.
    Together the scans deliver every coefficient bit, so decode is
    bit-identical to the baseline encoding of the same coefficients."""
    out = bytearray()
    ncomp = len(samp)

    def sos(comp_specs: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytearray([len(comp_specs)])
        for cid, td, ta in comp_specs:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, bytes(body))

    # per-component block lists over the component's OWN grid (T.81
    # A.2.2) — for subsampled frames this is smaller than the padded MCU
    # grid, and the decoder's non-interleaved scans walk exactly it
    ni_blocks = []
    for ci, (h, v) in enumerate(samp):
        nbh = -(-(-(-H * v // vmax)) // 8)
        nbw = -(-(-(-W * h // hmax)) // 8)
        ni_blocks.append(
            [coded[ci][by_, bx] for by_ in range(nbh) for bx in range(nbw)]
        )

    # scan 1: DC first, all components interleaved, Al=1
    out += dht(0, 0, _HUFF_DC_LUMA)
    if not gray:
        out += dht(0, 1, _HUFF_DC_CHROMA)
    bw = _JpegBitWriter()
    preds = [0] * ncomp
    for m in range(mcus_x * mcus_y):
        my, mx = divmod(m, mcus_x)
        for ci, (h, v) in enumerate(samp):
            tab = dc_y if ci == 0 else dc_c
            for by_ in range(v):
                for bx in range(h):
                    dc = int(coded[ci][my * v + by_, mx * h + bx][0]) >> 1
                    t, bits = _magnitude(dc - preds[ci])
                    preds[ci] = dc
                    code, ln = tab[t]
                    bw.write(code, ln)
                    if t:
                        bw.write(bits, t)
    bw.flush()
    out += sos([(i + 1, 0 if i == 0 else 1, 0) for i in range(ncomp)], 0, 0, 0, 1)
    out += bw.out

    # AC first per component: two-pass (count → optimal table → emit)
    for ci in range(ncomp):
        cnt = _SymCounter()
        _scan_ac_first(cnt, ni_blocks[ci], 1, 63, 1)
        spec = _gen_huff_spec(cnt.freq)
        out += dht(1, 0, spec)
        bw = _JpegBitWriter()
        _scan_ac_first(_SymWriter(bw, _huff_encode_table(*spec)), ni_blocks[ci], 1, 63, 1)
        bw.flush()
        out += sos([(ci + 1, 0, 0)], 1, 63, 0, 1) + bw.out

    # DC refine: one raw bit per block, interleaved MCU order
    bw = _JpegBitWriter()
    for m in range(mcus_x * mcus_y):
        my, mx = divmod(m, mcus_x)
        for ci, (h, v) in enumerate(samp):
            for by_ in range(v):
                for bx in range(h):
                    bw.write(int(coded[ci][my * v + by_, mx * h + bx][0]) & 1, 1)
    bw.flush()
    out += sos([(i + 1, 0 if i == 0 else 1, 0) for i in range(ncomp)], 0, 0, 1, 0)
    out += bw.out

    # AC refine per component
    for ci in range(ncomp):
        cnt = _SymCounter()
        _scan_ac_refine(cnt, ni_blocks[ci], 1, 63, 0)
        spec = _gen_huff_spec(cnt.freq)
        out += dht(1, 0, spec)
        bw = _JpegBitWriter()
        _scan_ac_refine(_SymWriter(bw, _huff_encode_table(*spec)), ni_blocks[ci], 1, 63, 0)
        bw.flush()
        out += sos([(ci + 1, 0, 0)], 1, 63, 1, 0) + bw.out
    return bytes(out)


# ---------------------------------------------------------------------------
# dispatch + feature kernels
# ---------------------------------------------------------------------------

_IMAGE_MAGIC = (
    (b"\xff\xd8", decode_jpeg),
    (_PNG_SIG, decode_png),
    (b"GIF87a", decode_gif),
    (b"GIF89a", decode_gif),
    (b"II*\x00", decode_tiff),
    (b"MM\x00*", decode_tiff),
    (b"P5", decode_ppm),
    (b"P6", decode_ppm),
    (b"BM", decode_bmp),
    (b"\x00\x00\x01\x00", decode_ico),
)

def decode_image(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """Magic-byte dispatch over the stdlib-decodable image formats."""
    for magic, dec in _IMAGE_MAGIC:
        if content[: len(magic)] == magic:
            return dec(content)
    # WebP is RIFF <4-byte size> WEBP — the format tag sits at offset 8, so a
    # plain prefix compare can't see it (and must not shadow RIFF/WAVE audio).
    # Lossless (VP8L) decodes for real (webp_vp8l, pure stdlib+numpy); lossy
    # VP8 still raises NotImplementedError naming libwebp.
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        from zarr_climate_etl_ipfs_spark.webp_vp8l import decode_webp

        return decode_webp(content)
    raise MediaDecodeError("unrecognized image format")


def image_features(content: bytes, meta: dict[str, Any]) -> np.ndarray:
    """Decode + fixed 12-dim feature: (h, w, c, global mean/std, 4 quadrant
    means, per-channel-0 min/max, edge-energy proxy). Deterministic, no
    external libs — the real-decode default for multimodal.extract_features."""
    img, m = decode_image(content)
    h, w, c = img.shape
    g = img.astype(np.float32)
    qh, qw = max(1, h // 2), max(1, w // 2)
    quads = [
        g[:qh, :qw].mean(), g[:qh, qw:].mean() if w > qw else 0.0,
        g[qh:, :qw].mean() if h > qh else 0.0,
        g[qh:, qw:].mean() if (h > qh and w > qw) else 0.0,
    ]
    edge = float(np.abs(np.diff(g[:, :, 0], axis=1)).mean()) if w > 1 else 0.0
    return np.array(
        [h, w, c, g.mean(), g.std(), *quads, g[:, :, 0].min(), g[:, :, 0].max(), edge],
        dtype=np.float32,
    )


def decode_audio(
    content: bytes, decoder=None
) -> tuple[np.ndarray, dict[str, Any]]:
    """Magic-byte dispatch over the stdlib-decodable audio formats:
    RIFF/WAVE PCM and FLAC.  MP3/AAC/OGG raise naming the dependency —
    unless ``decoder`` is injected.

    ``decoder`` is the compressed-audio injection seam (the same standard
    as GRIB2 template 5.40): a from-scratch MP3
    Layer III decoder needs ~3k exact published constants (32 Huffman
    tables, scalefactor bands, the 512-tap synthesis window) that cannot
    be recalled reliably in this environment, and unlike a desynchronizing
    arithmetic coder, Layer III's Huffman region is length-bounded by the
    side info's part2_3_length — a wrong table mis-decodes WITHOUT a
    structural failure signal, so a self-consistent-but-wrong decoder
    could pass its own tests while producing wrong samples. The named
    error + seam is strictly more honest. Signature:
    ``decoder(content: bytes, fmt: str) -> (samples float32[n, ch],
    meta dict with sample_rate/duration_ms)`` — wrap miniaudio, pydub,
    or ffmpeg. ``probe_mp3``/``probe_media`` still walk real MP3 frame
    headers without any dependency (tests/fixtures/real/lame_22k_mono.mp3).
    """
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return decode_wav(content)
    if content[:4] == b"fLaC":
        return decode_flac(content)
    if content[:3] == b"ID3" or content[:2] in (b"\xff\xfb", b"\xff\xf3", b"\xff\xf2"):
        if decoder is not None:
            return _checked_audio(decoder, content, "mp3")
        raise NotImplementedError(
            "MP3 (needs ffmpeg/libmad) — not in this container; pass decoder= "
            "to plug one in"
        )
    if content[:4] == b"OggS":
        if decoder is not None:
            return _checked_audio(decoder, content, "ogg")
        raise NotImplementedError(
            "Ogg (needs libvorbis/libopus) — not in this container; pass "
            "decoder= to plug one in"
        )
    raise MediaDecodeError("unrecognized audio format")


def _checked_audio(decoder, content: bytes, fmt: str):
    """Validate an injected decoder's contract so a misbehaving plugin
    surfaces as a clear error, not a downstream numpy shape blowup."""
    samples, meta = decoder(content, fmt)
    samples = np.asarray(samples)
    if samples.ndim != 2:
        raise MediaDecodeError(
            f"injected {fmt} decoder returned ndim={samples.ndim}, want (n, ch)"
        )
    rate = meta.get("sample_rate")
    if not isinstance(rate, (int, float)) or isinstance(rate, bool) or rate <= 0:
        raise MediaDecodeError(
            f"injected {fmt} decoder meta needs a positive sample_rate, got {rate!r}"
        )
    meta = dict(meta)
    meta.setdefault("format", fmt)
    meta.setdefault("duration_ms", int(samples.shape[0] * 1000 / rate))
    return samples.astype(np.float32, copy=False), meta


def audio_features(content: bytes, meta: dict[str, Any], decoder=None) -> np.ndarray:
    """Decode WAV/FLAC + fixed 8-dim feature: (n_samples, channels,
    sample_rate, duration_ms, rms, peak, zero-crossing rate, dc offset).
    ``decoder`` forwards to :func:`decode_audio`'s MP3/Ogg injection seam."""
    samples, m = decode_audio(content, decoder=decoder)
    mono = samples.mean(axis=1)
    zcr = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8))))) if mono.size > 1 else 0.0
    return np.array(
        [
            samples.shape[0], samples.shape[1], m["sample_rate"], m["duration_ms"],
            float(np.sqrt(np.mean(mono**2))), float(np.abs(mono).max(initial=0.0)),
            zcr, float(mono.mean()),
        ],
        dtype=np.float32,
    )


# ---------------------------------------------------------------------------
# FLAC (free lossless audio codec, public spec / RFC 9639): pure stdlib
# ---------------------------------------------------------------------------
# Decoder covers the full subframe surface — CONSTANT, VERBATIM, FIXED 0-4,
# LPC up to order 32, wasted bits, rice partitions (4- and 5-bit params,
# escape codes), and the left/side, right/side, mid/side stereo
# decorrelations.  The encoder emits spec-legal frames with VERBATIM /
# CONSTANT / FIXED-order-2 subframes so round-trip tests exercise the rice
# and predictor paths with real bytes.


class _FlacBitReader:
    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes, bitpos: int = 0):
        self.data = data
        self.bitpos = bitpos

    def read(self, n: int) -> int:
        v = 0
        bp = self.bitpos
        data = self.data
        for _ in range(n):
            byte = data[bp >> 3]
            v = (v << 1) | ((byte >> (7 - (bp & 7))) & 1)
            bp += 1
        self.bitpos = bp
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        q = 0
        bp = self.bitpos
        data = self.data
        while not (data[bp >> 3] >> (7 - (bp & 7))) & 1:
            q += 1
            bp += 1
        self.bitpos = bp + 1
        return q

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


def _flac_utf8_decode(br: _FlacBitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    v = b0 & (mask - 1)
    for _ in range(n):
        v = (v << 6) | (br.read(8) & 0x3F)
    return v


_FLAC_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_residual(br: _FlacBitReader, blocksize: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise MediaDecodeError(f"FLAC: reserved residual method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    po = br.read(4)
    out: list[int] = []
    nparts = 1 << po
    if blocksize % nparts:
        raise MediaDecodeError("FLAC: partition order does not divide block size")
    for p in range(nparts):
        n = (blocksize >> po) - (order if p == 0 else 0)
        param = br.read(plen)
        if param == escape:
            bits = br.read(5)
            for _ in range(n):
                out.append(br.read_signed(bits) if bits else 0)
        else:
            for _ in range(n):
                q = br.read_unary()
                v = (q << param) | br.read(param)
                out.append((v >> 1) ^ -(v & 1))
    return out


def _flac_subframe(br: _FlacBitReader, blocksize: int, bps: int) -> list[int]:
    if br.read(1):
        raise MediaDecodeError("FLAC: subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.read_unary()
        bps -= wasted
    if stype == 0:  # CONSTANT
        out = [br.read_signed(bps)] * blocksize
    elif stype == 1:  # VERBATIM
        out = [br.read_signed(bps) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        warm = [br.read_signed(bps) for _ in range(order)]
        resid = _flac_residual(br, blocksize, order)
        coefs = _FLAC_FIXED_COEFS[order]
        out = list(warm)
        for r in resid:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
            out.append(pred + r)
    elif stype >= 32:  # LPC order 1-32
        order = stype - 31
        warm = [br.read_signed(bps) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise MediaDecodeError("FLAC: invalid LPC precision escape")
        shift = br.read_signed(5)
        coefs = [br.read_signed(precision) for _ in range(order)]
        resid = _flac_residual(br, blocksize, order)
        out = list(warm)
        for r in resid:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs)) >> shift
            out.append(pred + r)
    else:
        raise MediaDecodeError(f"FLAC: reserved subframe type {stype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


_FLAC_BLOCKSIZE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_FLAC_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


@_clean_errors
def decode_flac(content: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """FLAC → (n_samples, n_channels) float32 in [-1, 1] + meta — the
    compressed-audio sibling of decode_wav, pure stdlib (bit reader +
    rice + integer predictors; no libFLAC)."""
    if content[:4] != b"fLaC":
        raise MediaDecodeError("not a FLAC stream (missing fLaC)")
    pos = 4
    rate = channels = bps = None
    total = 0
    while True:
        if pos + 4 > len(content):
            raise MediaDecodeError("FLAC: truncated metadata")
        hdr = content[pos]
        blen = int.from_bytes(content[pos + 1 : pos + 4], "big")
        body = content[pos + 4 : pos + 4 + blen]
        pos += 4 + blen
        if hdr & 0x7F == 0:  # STREAMINFO
            if len(body) < 34:
                raise MediaDecodeError("FLAC: truncated STREAMINFO")
            br = _FlacBitReader(body)
            br.read(16); br.read(16); br.read(24); br.read(24)
            rate = br.read(20)
            channels = br.read(3) + 1
            bps = br.read(5) + 1
            total = br.read(36)
        if hdr & 0x80:
            break
    if rate is None:
        raise MediaDecodeError("FLAC: missing STREAMINFO")
    br = _FlacBitReader(content, pos * 8)
    chans: list[list[int]] = [[] for _ in range(channels)]
    nbytes = len(content)
    # decompression-bomb cap (same threat model as the GIF LZW max_out): a
    # CONSTANT subframe expands ~6 bytes into up to 65,536 samples, so an
    # adversarial stream must not accumulate unbounded Python-int lists.
    # Trust STREAMINFO's total when present (one max-blocksize of slack for
    # the final partial frame); otherwise bound by a fixed multiple of the
    # input size (4096 samples/byte ≈ the CONSTANT-frame expansion ceiling).
    cap = (total + 65536) if total else max(1 << 20, 4096 * nbytes)
    try:
        _decode_flac_frames(br, nbytes, channels, bps, chans, cap)
    except IndexError as e:
        raise MediaDecodeError("FLAC: truncated stream") from e
    n = min(len(c) for c in chans)
    if total:
        n = min(n, total)
    arr = np.stack([np.asarray(c[:n], dtype=np.float64) for c in chans], axis=1)
    samples = (arr / float(1 << (bps - 1))).astype(np.float32)
    meta = {
        "format": "flac",
        "n_channels": channels,
        "sample_rate": rate,
        "bits_per_sample": bps,
        "duration_ms": int(n * 1000 / rate) if rate else 0,
    }
    return samples, meta


def _decode_flac_frames(
    br: _FlacBitReader,
    nbytes: int,
    channels: int,
    bps: int,
    chans: list[list[int]],
    max_samples: int,
) -> None:
    while (br.bitpos >> 3) < nbytes - 1:
        if chans and len(chans[0]) > max_samples:
            raise MediaDecodeError(
                f"FLAC: decoded samples exceed cap ({len(chans[0])} > {max_samples})"
            )
        if br.read(14) != 0x3FFE:
            raise MediaDecodeError("FLAC: lost frame sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        rate_code = br.read(4)
        chan_code = br.read(4)
        bps_code = br.read(3)
        br.read(1)  # reserved
        _flac_utf8_decode(br)  # frame/sample number
        if bs_code == 0:
            raise MediaDecodeError("FLAC: reserved block size code")
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZE[bs_code]
        if rate_code == 12:
            br.read(8)
        elif rate_code in (13, 14):
            br.read(16)
        fbps = _FLAC_BPS.get(bps_code, bps)
        br.read(8)  # CRC-8 (not verified: integrity is the store's job)
        if chan_code < 8:
            nch = chan_code + 1
            subs = [_flac_subframe(br, blocksize, fbps) for _ in range(nch)]
        elif chan_code == 8:  # left/side
            left = _flac_subframe(br, blocksize, fbps)
            side = _flac_subframe(br, blocksize, fbps + 1)
            subs = [left, [l - s for l, s in zip(left, side)]]
        elif chan_code == 9:  # right/side
            side = _flac_subframe(br, blocksize, fbps + 1)
            right = _flac_subframe(br, blocksize, fbps)
            subs = [[r + s for r, s in zip(right, side)], right]
        elif chan_code == 10:  # mid/side
            mid = _flac_subframe(br, blocksize, fbps)
            side = _flac_subframe(br, blocksize, fbps + 1)
            subs = [[(2 * m + (s & 1) + s) >> 1 for m, s in zip(mid, side)],
                    [(2 * m + (s & 1) - s) >> 1 for m, s in zip(mid, side)]]
        else:
            raise MediaDecodeError(f"FLAC: reserved channel assignment {chan_code}")
        for c, sub in enumerate(subs):
            chans[c].extend(sub)
        br.align()
        br.read(16)  # CRC-16


class _FlacBitWriter:
    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, v: int, bits: int) -> None:
        for i in range(bits - 1, -1, -1):
            self.buf = (self.buf << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.buf)
                self.buf = 0
                self.n = 0

    def write_signed(self, v: int, bits: int) -> None:
        self.write(v & ((1 << bits) - 1), bits)

    def write_unary(self, q: int) -> None:
        for _ in range(q):
            self.write(0, 1)
        self.write(1, 1)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _flac_utf8_encode(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    out = []
    nbytes = 2
    while v >= (1 << (5 * nbytes + 1)):
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead | (v >> shift))
    for i in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((v >> shift) & 0x3F))
    return bytes(out)


def _rice_param(resid: list[int]) -> int:
    if not resid:
        return 0
    mean = sum(abs(r) for r in resid) / len(resid) + 1
    p = max(0, int(mean).bit_length() - 1)
    return min(p, 14)


def encode_flac(
    samples: np.ndarray, sample_rate: int = 16000, block_size: int = 4096
) -> bytes:
    """(n,) or (n, C) float32 in [-1, 1] → 16-bit FLAC.  Per block, picks
    CONSTANT (flat), FIXED order 2 + rice (the compressing path), or
    VERBATIM (incompressible) per channel — enough of the encoder surface
    that tests exercise every decoder path with spec-legal bytes."""
    arr = np.asarray(samples, dtype=np.float32)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, nch = arr.shape
    if not 1 <= nch <= 8:
        raise ValueError("encode_flac supports 1-8 channels")
    pcm = np.clip(np.round(arr * 32768.0), -32768, 32767).astype(np.int64)
    rate_code = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
                 24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11}.get(sample_rate)
    # STREAMINFO
    si = _FlacBitWriter()
    si.write(block_size, 16); si.write(block_size, 16)
    si.write(0, 24); si.write(0, 24)
    si.write(sample_rate, 20); si.write(nch - 1, 3); si.write(15, 5)  # 16 bps
    si.write(n, 36)
    si.align()
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(bytes(si.out) + b"\x00" * 16).to_bytes(3, "big")
    out += bytes(si.out) + b"\x00" * 16  # md5 unset (all zero = not computed)
    frame_no = 0
    for start in range(0, n, block_size):
        blk = pcm[start : start + block_size]
        bs = blk.shape[0]
        hw = _FlacBitWriter()
        hw.write(0x3FFE, 14); hw.write(0, 1); hw.write(0, 1)
        hw.write(7, 4)  # blocksize: 16-bit value - 1 follows
        hw.write(rate_code if rate_code else 0, 4)
        hw.write(nch - 1, 4)  # independent channels
        hw.write(4, 3)  # 16 bps
        hw.write(0, 1)
        hw.align()
        header = bytes(hw.out) + _flac_utf8_encode(frame_no) + struct.pack(">H", bs - 1)
        header += bytes([_crc8(header)])
        bw = _FlacBitWriter()
        for c in range(nch):
            ch = [int(v) for v in blk[:, c]]
            bw.write(0, 1)
            if all(v == ch[0] for v in ch):
                bw.write(0, 6)  # CONSTANT
                bw.write(0, 1)
                bw.write_signed(ch[0], 16)
                continue
            if bs > 2:
                resid = [ch[i] - 2 * ch[i - 1] + ch[i - 2] for i in range(2, bs)]
                param = _rice_param(resid)
                cost = sum(min((abs(r) >> max(param, 1)) + 1 + param, 64) for r in resid)
                if cost < 14 * bs:  # compresses vs verbatim → FIXED order 2
                    bw.write(10, 6)  # FIXED order 2
                    bw.write(0, 1)
                    bw.write_signed(ch[0], 16)
                    bw.write_signed(ch[1], 16)
                    bw.write(0, 2)  # 4-bit rice params
                    bw.write(0, 4)  # partition order 0
                    bw.write(param, 4)
                    for r in resid:
                        z = (abs(r) << 1) - (1 if r < 0 else 0)  # zigzag
                        bw.write_unary(z >> param)
                        if param:
                            bw.write(z & ((1 << param) - 1), param)
                    continue
            bw.write(1, 6)  # VERBATIM
            bw.write(0, 1)
            for v in ch:
                bw.write_signed(v, 16)
        bw.align()
        frame = header + bytes(bw.out)
        frame += struct.pack(">H", _crc16(frame))
        out += frame
        frame_no += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# container-metadata probes (no codec decode)
# ---------------------------------------------------------------------------
# A crawl pipeline wants duration / dimensions / channel stats for media it
# will never fully decode (sample decode happens on a filtered sliver). MP4
# and Ogg metadata live entirely in the container structure — box walking
# and page headers, pure struct arithmetic — so the probes are real even
# though the codec payloads (H.264/AAC/Vorbis/Opus) stay behind the
# injectable seam. Sample decode for these formats still raises naming the
# dependency; PROBING them no longer does.


@_clean_errors
def probe_mp4(content: bytes) -> dict[str, Any]:
    """ISO BMFF (MP4/MOV) box walk → container metadata: duration from
    moov/mvhd (version 0 and 1 layouts), per-track dimensions from tkhd
    (16.16 fixed point), track handler types from hdlr (vide/soun/...).
    No codec decode — the sample tables are not touched."""
    if len(content) < 8 or content[4:8] != b"ftyp":
        raise MediaDecodeError("not an MP4 (missing ftyp)")

    _CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

    meta: dict[str, Any] = {
        "format": "mp4",
        "duration_ms": 0,
        "n_tracks": 0,
        "track_types": [],
        "width": 0,
        "height": 0,
    }

    def walk(lo: int, hi: int, depth: int = 0) -> None:
        if depth > 16:  # spec nesting is ~6 deep; crafted nesting must not
            raise MediaDecodeError("MP4: box nesting too deep")  # RecursionError-escape
        pos = lo
        while pos + 8 <= hi:
            (size,) = struct.unpack(">I", content[pos : pos + 4])
            btype = content[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize — 16-byte header
                if pos + 16 > hi:
                    raise MediaDecodeError("MP4: truncated largesize header")
                (size,) = struct.unpack(">Q", content[pos + 8 : pos + 16])
                body = pos + 16
            elif size == 0:  # box extends to end of enclosing scope
                size = hi - pos
            # the box must at least cover its own header (8 or 16 bytes):
            # a declared largesize of 8..15 would place `body` past the box
            # end and leaf parsers would read the following box's bytes as
            # metadata
            if size < body - pos or pos + size > hi:
                raise MediaDecodeError("MP4: bad box size")
            if btype in _CONTAINERS:
                if btype == b"trak":
                    meta["n_tracks"] += 1
                walk(body, pos + size, depth + 1)
            elif btype == b"mvhd":
                ver = content[body]
                if ver == 1:
                    ts, dur = struct.unpack(">IQ", content[body + 20 : body + 32])
                else:
                    ts, dur = struct.unpack(">II", content[body + 12 : body + 20])
                if ts:
                    meta["duration_ms"] = int(dur * 1000 // ts)
            elif btype == b"tkhd":
                ver = content[body]
                # FullBox(4) + times/id/dur (20 or 32) + reserved(8) +
                # layer/alt/volume/reserved(8) + matrix(36) -> 76 / 88
                off = body + (88 if ver == 1 else 76)
                w16, h16 = struct.unpack(">II", content[off : off + 8])
                meta["width"] = max(meta["width"], w16 >> 16)
                meta["height"] = max(meta["height"], h16 >> 16)
            elif btype == b"hdlr":
                meta["track_types"].append(
                    content[body + 8 : body + 12].decode("ascii", "replace")
                )
            pos += size

    walk(0, len(content))
    if meta["n_tracks"] == 0:
        raise MediaDecodeError("MP4: no moov/trak boxes")
    return meta


@_clean_errors
def probe_ogg(content: bytes) -> dict[str, Any]:
    """Ogg page walk → stream metadata: codec + channels + sample rate from
    the first packet's identification header (Vorbis `\\x01vorbis` or Opus
    `OpusHead`), duration from the final page's granule position (PCM
    samples for Vorbis; 48 kHz ticks minus pre-skip for Opus). CRCs are
    not verified — integrity is the store's job."""
    if content[:4] != b"OggS":
        raise MediaDecodeError("not an Ogg stream")
    pos = 0
    first_body = None
    last_granule = 0
    n_pages = 0
    while pos + 27 <= len(content):
        if content[pos : pos + 4] != b"OggS":
            raise MediaDecodeError("Ogg: lost page sync")
        granule = struct.unpack("<q", content[pos + 6 : pos + 14])[0]
        nsegs = content[pos + 26]
        segs = content[pos + 27 : pos + 27 + nsegs]
        if len(segs) < nsegs:
            raise MediaDecodeError("Ogg: truncated segment table")
        body_len = sum(segs)
        body = content[pos + 27 + nsegs : pos + 27 + nsegs + body_len]
        if len(body) < body_len:
            raise MediaDecodeError("Ogg: truncated page body")
        if first_body is None:
            first_body = body
        if granule >= 0:
            last_granule = max(last_granule, granule)
        n_pages += 1
        pos += 27 + nsegs + body_len
    if first_body is None:
        raise MediaDecodeError("Ogg: no pages")
    meta: dict[str, Any] = {"format": "ogg", "n_pages": n_pages}
    if first_body[:7] == b"\x01vorbis":
        meta["codec"] = "vorbis"
        meta["n_channels"] = first_body[11]
        (meta["sample_rate"],) = struct.unpack("<I", first_body[12:16])
        rate = meta["sample_rate"]
        meta["duration_ms"] = int(last_granule * 1000 // rate) if rate else 0
    elif first_body[:8] == b"OpusHead":
        meta["codec"] = "opus"
        meta["n_channels"] = first_body[9]
        (pre_skip,) = struct.unpack("<H", first_body[10:12])
        (meta["sample_rate"],) = struct.unpack("<I", first_body[12:16])
        # Opus granules are always 48 kHz ticks regardless of input rate
        meta["duration_ms"] = int(max(0, last_granule - pre_skip) * 1000 // 48000)
    else:
        raise MediaDecodeError("Ogg: unrecognized first packet (not Vorbis/Opus)")
    return meta


def probe_media(content: bytes) -> dict[str, Any]:
    """Magic-byte dispatch over every probe-able container: full-decode
    formats answer via their decoders' meta, MP4/Ogg via the
    structure-only probes. The one metadata call a curation pipeline makes
    per media row before deciding what (if anything) to decode."""
    if len(content) >= 12 and content[4:8] == b"ftyp":
        return probe_mp4(content)
    if content[:4] == b"OggS":
        return probe_ogg(content)
    # MP3: ID3v2 tag, or a bare frame sync (0xFFEx — JPEG's 0xFFD8 fails
    # the 0xE0 mask, so the image dispatch below is not shadowed)
    if content[:3] == b"ID3" or (
        len(content) >= 2 and content[0] == 0xFF and (content[1] & 0xE0) == 0xE0
    ):
        return probe_mp3(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        _, meta = decode_wav(content)
        return meta
    if content[:4] == b"fLaC":
        _, meta = decode_flac(content)
        return meta
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        # lossy VP8 probes header-only (validated bool-decoder walk,
        # webp_vp8.probe_vp8) — a probe must never require the pixel
        # decoder the container doesn't have; lossless falls through to
        # the full VP8L decode below. Every failure in this branch lands
        # as MediaDecodeError (the module's adversarial-bytes contract):
        # VP8Error and truncated-VP8X are parse failures, not crashes.
        from zarr_climate_etl_ipfs_spark.webp_vp8 import VP8Error, probe_vp8
        from zarr_climate_etl_ipfs_spark.webp_vp8l import iter_webp_chunks, parse_vp8x

        vp8x: dict[str, Any] = {}
        for fourcc, payload in iter_webp_chunks(content):
            if fourcc == b"VP8X":
                vp8x = parse_vp8x(payload)
            if fourcc == b"VP8 ":
                try:
                    return {**probe_vp8(payload), **vp8x}
                except VP8Error as e:
                    raise MediaDecodeError(f"WebP VP8 chunk: {e}") from e
        # Animated lossy WebP nests its VP8 frames inside ANMF chunks, so
        # the top-level walk above finds no VP8 chunk; falling through to
        # decode_image would die with a misleading "no VP8L chunk found".
        # The VP8X header already carries the probe-relevant facts —
        # return them, typed as an animation.
        if vp8x.get("has_animation"):
            return {"format": "webp", "codec": "animated", **vp8x}
        # VP8X features ride along for extended LOSSLESS files too — the
        # probe surface must not depend on which codec the still used
        _, meta = decode_image(content)
        return {**meta, **vp8x}
    _, meta = decode_image(content)
    return meta


def encode_mp4_meta(
    width: int,
    height: int,
    duration_ms: int,
    timescale: int = 1000,
    track_types: tuple[str, ...] = ("vide",),
) -> bytes:
    """Minimal spec-legal MP4 skeleton (ftyp + moov/mvhd + one trak per
    handler with tkhd + mdia/hdlr) — the test-grade writer for probe_mp4,
    same role as the FLAC/JPEG/WebP encoders: real bytes, no codec data."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    dur = duration_ms * timescale // 1000
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, dur)
        + b"\x00" * 80,
    )
    traks = b""
    for tt in track_types:
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + b"\x00" * 72
            + struct.pack(">II", width << 16, height << 16),
        )
        hdlr = box(
            b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + tt.encode("ascii") + b"\x00" * 13
        )
        mdia = box(b"mdia", hdlr)
        traks += box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + traks)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    return ftyp + moov


def encode_ogg_meta(
    codec: str, sample_rate: int, n_channels: int, n_samples: int
) -> bytes:
    """Minimal two-page Ogg stream (identification-header page + one data
    page carrying the final granule position) for probe_ogg. CRC fields
    are zero — the probe does not verify them."""

    def page(granule: int, seq: int, body: bytes, header_type: int) -> bytes:
        segs = []
        rest = len(body)
        while rest >= 255:
            segs.append(255)
            rest -= 255
        segs.append(rest)
        return (
            b"OggS\x00"
            + bytes([header_type])
            + struct.pack("<q", granule)
            + struct.pack("<I", 0x1234)
            + struct.pack("<I", seq)
            + b"\x00\x00\x00\x00"
            + bytes([len(segs)])
            + bytes(segs)
            + body
        )

    if codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + struct.pack("<I", 0)
            + bytes([n_channels])
            + struct.pack("<I", sample_rate)
            + b"\x00" * 12
            + b"\x01"
        )
        final_granule = n_samples
    elif codec == "opus":
        pre_skip = 312
        ident = (
            b"OpusHead\x01"
            + bytes([n_channels])
            + struct.pack("<H", pre_skip)
            + struct.pack("<I", sample_rate)
            + b"\x00\x00\x00"
        )
        # opus granules tick at 48 kHz; n_samples is at the input rate
        final_granule = pre_skip + n_samples * 48000 // sample_rate
    else:
        raise ValueError("codec must be vorbis|opus")
    return page(0, 0, ident, 0x02) + page(final_granule, 1, b"\x00\x10", 0x04)


_MP3_BITRATES_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_BITRATES_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


@_clean_errors
def probe_mp3(content: bytes) -> dict[str, Any]:
    """MPEG audio (Layer III) frame-header walk → codec metadata and exact
    duration: skips a leading ID3v2 tag (syncsafe size), then hops frame
    to frame via the header-derived frame length (samples/8 · bitrate /
    samplerate + padding), summing samples-per-frame (1152 MPEG1 / 576
    MPEG2·2.5) — correct for CBR and VBR alike, no Xing header needed.
    Payloads are never decoded (Huffman audio data needs libmad/ffmpeg)."""
    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        size = 0
        for b in content[6:10]:  # syncsafe: 7 bits per byte
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    n_frames = 0
    total_samples = 0
    rate = channels = None
    while pos + 4 <= len(content):
        b0, b1, b2, b3 = content[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            if n_frames:
                break  # trailing junk/tag after the last frame
            raise MediaDecodeError("MP3: no frame sync")
        version = (b1 >> 3) & 0x03  # 0=2.5, 2=MPEG2, 3=MPEG1
        layer = (b1 >> 1) & 0x03  # 1 = Layer III
        if version == 1 or layer != 1:
            raise MediaDecodeError("MP3: reserved version or non-Layer-III frame")
        br_idx = (b2 >> 4) & 0x0F
        sr_idx = (b2 >> 2) & 0x03
        if br_idx in (0, 15) or sr_idx == 3:
            raise MediaDecodeError("MP3: free/bad bitrate or reserved sample rate")
        bitrate = (
            _MP3_BITRATES_V1L3 if version == 3 else _MP3_BITRATES_V2L3
        )[br_idx] * 1000
        sr = _MP3_RATES[version][sr_idx]
        padding = (b2 >> 1) & 0x01
        spf = 1152 if version == 3 else 576
        frame_len = spf // 8 * bitrate // sr + padding
        if frame_len < 4:
            raise MediaDecodeError("MP3: degenerate frame length")
        if rate is None:
            rate = sr
            channels = 1 if ((b3 >> 6) & 0x03) == 3 else 2
        n_frames += 1
        total_samples += spf
        pos += frame_len
    if not n_frames or rate is None:
        raise MediaDecodeError("MP3: no frames")
    return {
        "format": "mp3",
        "n_frames": n_frames,
        "sample_rate": rate,
        "n_channels": channels,
        "duration_ms": int(total_samples * 1000 // rate),
    }


def encode_mp3_meta(
    n_frames: int, sample_rate: int = 44100, bitrate_kbps: int = 128, mono: bool = False
) -> bytes:
    """Valid Layer-III frame headers with zeroed payloads (+ a tiny ID3v2
    tag), for probe_mp3 tests — no audible content, real structure."""
    for version, rates in ((3, _MP3_RATES[3]), (2, _MP3_RATES[2]), (0, _MP3_RATES[0])):
        if sample_rate in rates:
            sr_idx = rates.index(sample_rate)
            break
    else:
        raise ValueError("unsupported sample rate")
    table = _MP3_BITRATES_V1L3 if version == 3 else _MP3_BITRATES_V2L3
    br_idx = table.index(bitrate_kbps)
    spf = 1152 if version == 3 else 576
    frame_len = spf // 8 * (bitrate_kbps * 1000) // sample_rate
    hdr = bytes(
        [
            0xFF,
            0xE0 | (version << 3) | (1 << 1),
            (br_idx << 4) | (sr_idx << 2),
            (0x03 << 6) if mono else 0x00,
        ]
    )
    frame = hdr + b"\x00" * (frame_len - 4)
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10
    return id3 + frame * n_frames
