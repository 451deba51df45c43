"""WebP lossless (VP8L) codec — pure stdlib + numpy, no libwebp.

Decoder implements the full VP8L bitstream (RFC 9649 / the WebP lossless
bitstream specification): LSB-first bit reading, canonical prefix codes
(simple and code-length-coded forms, including the max-symbol shortcut),
meta-prefix images, color cache, LZ77 backward references with the 2D
distance plane mapping, and all four transforms (predictor with its 14
modes, color transform, subtract-green, color indexing with sub-byte
packing) applied in reverse read order. Lossy VP8 stays behind the
injectable seam (`multimodal.py`) and raises NotImplementedError naming
libwebp — only the lossless half is stdlib-feasible.

The encoder exists to make the decoder testable with spec-legal bytes
(the FLAC/JPEG pattern): literals + optional distance-1 LZ77 runs +
optional color cache + optional subtract-green or color-indexing
transform, one prefix-code group, canonical Huffman with a
power-of-two-completion fallback when depth limits bite. It favors
simplicity over ratio — its job is coverage, not compression.

Reference parity note: the reference ETL delegates all image decode to
external libraries; this module exists for the multimodal featurize seam
(SURVEY.md multimodal rows), so crawl-corpus WebP rows decode for real
instead of degrading.
"""

from __future__ import annotations

import struct

import numpy as np

from zarr_climate_etl_ipfs_spark.mediacodecs import MediaDecodeError, _clean_errors

# ---------------------------------------------------------------------------
# bit I/O (LSB-first, per the VP8L spec)
# ---------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = 8 * len(data)

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > self.nbits:
            raise MediaDecodeError("VP8L: read past end of stream")
        p = self.pos
        byte = p >> 3
        shift = p & 7
        chunk = int.from_bytes(self.data[byte : byte + ((n + shift + 7) >> 3)], "little")
        self.pos += n
        return (chunk >> shift) & ((1 << n) - 1)

    def read_bit(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise MediaDecodeError("VP8L: read past end of stream")
        self.pos += 1
        return (self.data[p >> 3] >> (p & 7)) & 1

    def peek(self, n: int) -> int:
        """Next ``n`` bits LSB-first WITHOUT consuming; zero-padded past
        end-of-stream (the table decode checks the true bound on skip)."""
        p = self.pos
        byte = p >> 3
        shift = p & 7
        chunk = int.from_bytes(self.data[byte : byte + ((n + shift + 7) >> 3)], "little")
        return (chunk >> shift) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n
        if self.pos > self.nbits:
            raise MediaDecodeError("VP8L: read past end of stream")


class _BitWriter:
    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, value: int, n: int) -> None:
        """Write ``n`` bits of ``value``, LSB first."""
        self.buf |= (value & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.buf & 0xFF)
            self.buf >>= 8
            self.n -= 8

    def write_code(self, code: int, length: int) -> None:
        """Write a canonical Huffman codeword MSB-first (the decoder walks
        the code tree one bit at a time, so the first stream bit is the
        code's most significant bit)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def finish(self) -> bytes:
        if self.n:
            self.out.append(self.buf & 0xFF)
            self.buf = 0
            self.n = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------

_MAX_CODE_LENGTH = 15
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class _Huffman:
    """Canonical prefix decoder: a peek-indexed lookup table over the
    first ``root`` bits (one dict-free list access per symbol for codes
    ≤ root bits — the hot path; a bit-by-bit decode cost ~6 python-level
    read_bit calls per symbol and dominated whole-image decode time),
    falling back to the puff-style counts/symbols walk for longer codes.
    Also handles the VP8L 0-bit single-symbol degenerate form."""

    __slots__ = ("counts", "symbols", "single", "table", "root")

    def __init__(self, lengths: list[int]):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise MediaDecodeError("VP8L: empty prefix code")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.counts = self.symbols = self.table = None
            self.root = 0
            return
        self.single = None
        counts = [0] * (_MAX_CODE_LENGTH + 1)
        for l, _ in nz:
            if l > _MAX_CODE_LENGTH:
                raise MediaDecodeError("VP8L: code length > 15")
            counts[l] += 1
        # completeness check (Kraft): over- or under-subscribed codes are
        # invalid per the spec (libwebp rejects both)
        left = 1
        for l in range(1, _MAX_CODE_LENGTH + 1):
            left = (left << 1) - counts[l]
            if left < 0:
                raise MediaDecodeError("VP8L: over-subscribed prefix code")
        if left != 0:
            raise MediaDecodeError("VP8L: incomplete prefix code")
        self.counts = counts
        self.symbols = [s for _, s in sorted(nz)]
        # canonical codes are read MSB-first from the stream while peek()
        # yields them LSB-first: table index i matches a codeword c of
        # length L iff bit j of i equals bit (L-1-j) of c for j < L
        self.root = root = min(10, max(l for l, _ in nz))
        table: list = [None] * (1 << root)
        code = 0
        prev_len = 0
        for l, s in sorted(nz):
            code <<= l - prev_len
            prev_len = l
            if l <= root:
                rev = 0
                c = code
                for _ in range(l):
                    rev = (rev << 1) | (c & 1)
                    c >>= 1
                step = 1 << l
                for i in range(rev, 1 << root, step):
                    table[i] = (s, l)
            code += 1
        self.table = table

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        hit = self.table[br.peek(self.root)]
        if hit is not None:
            br.skip(hit[1])
            return hit[0]
        # long-code fallback: bit-by-bit canonical walk
        code = 0
        first = 0
        index = 0
        for length in range(1, _MAX_CODE_LENGTH + 1):
            code |= br.read_bit()
            count = self.counts[length]
            if code - first < count:
                return self.symbols[index + (code - first)]
            index += count
            first = (first + count) << 1
            code <<= 1
        raise MediaDecodeError("VP8L: invalid prefix code in stream")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _Huffman:
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        first_8bits = br.read_bit()
        s0 = br.read(8 if first_8bits else 1)
        lengths = [0] * alphabet_size
        if s0 >= alphabet_size:
            raise MediaDecodeError("VP8L: simple-code symbol out of range")
        if num_symbols == 2:
            s1 = br.read(8)
            if s1 >= alphabet_size or s1 == s0:
                raise MediaDecodeError("VP8L: bad simple-code symbols")
            lengths[s0] = lengths[s1] = 1
        else:
            lengths[s0] = 1  # degenerate single-symbol (0-bit) code
        return _Huffman(lengths)
    # code-length-coded form
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_huff = _Huffman(cl_lengths)
    if br.read_bit():  # use max_symbol shortcut
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        cl = cl_huff.decode(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        else:
            if cl == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif cl == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise MediaDecodeError("VP8L: code-length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _Huffman(lengths)


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length/distance prefix decoding (spec 'prefix coding')."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


#: 2D distance mapping: plane codes 1..120 -> (dx, dy); code > 120 -> code-120
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _plane_to_distance(plane_code: int, width: int) -> int:
    if plane_code > 120:
        return plane_code - 120
    dx, dy = _DIST_MAP[plane_code - 1]
    return max(1, dy * width + dx)


def _cache_hash(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


# ---------------------------------------------------------------------------
# entropy-coded image streams
# ---------------------------------------------------------------------------

_PREDICTOR, _COLOR, _SUBTRACT_GREEN, _COLOR_INDEXING = 0, 1, 2, 3
#: decompression-bomb guard: total pixels a single VP8L stream may decode
_MAX_PIXELS = 64 << 20


def _div_round_up(a: int, b: int) -> int:
    return -(-a // b)


def _decode_image_stream(
    br: _BitReader, w: int, h: int, is_level0: bool
) -> tuple[np.ndarray, list]:
    """Decode one entropy-coded ARGB image (uint32 row-major flat array).
    For level-0 also parses the transform list (returned for inverse
    application; subimages have no transforms and no meta-prefix image)."""
    if w * h > _MAX_PIXELS:
        raise MediaDecodeError("VP8L: declared image too large")
    transforms: list = []
    seen_types = set()
    if is_level0:
        while br.read_bit():
            ttype = br.read(2)
            if ttype in seen_types:
                raise MediaDecodeError("VP8L: duplicate transform")
            seen_types.add(ttype)
            if ttype in (_PREDICTOR, _COLOR):
                bits = br.read(3) + 2
                sw, sh = _div_round_up(w, 1 << bits), _div_round_up(h, 1 << bits)
                data, _ = _decode_image_stream(br, sw, sh, False)
                transforms.append((ttype, bits, data, w))
            elif ttype == _SUBTRACT_GREEN:
                transforms.append((ttype, 0, None, w))
            else:  # color indexing
                n_colors = br.read(8) + 1
                pal_px, _ = _decode_image_stream(br, n_colors, 1, False)
                # palette entries are delta-coded per channel; build rows in
                # the [a, r, g, b] channel order the pixel pipeline uses
                chans = np.stack(
                    [
                        (pal_px >> 24) & 0xFF,
                        (pal_px >> 16) & 0xFF,
                        (pal_px >> 8) & 0xFF,
                        pal_px & 0xFF,
                    ],
                    axis=1,
                )
                pal = (np.cumsum(chans, axis=0, dtype=np.uint32) & 0xFF).astype(np.uint8)
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((ttype, width_bits, pal, w))
                w = _div_round_up(w, 1 << width_bits)

    # color cache
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise MediaDecodeError("VP8L: bad color cache bits")
    cache_size = (1 << cache_bits) if cache_bits else 0

    # meta-prefix image (level-0 only)
    meta = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        mw, mh = _div_round_up(w, 1 << meta_bits), _div_round_up(h, 1 << meta_bits)
        mimg, _ = _decode_image_stream(br, mw, mh, False)
        meta = ((mimg >> 8) & 0xFFFF).astype(np.int64)  # (red<<8)|green
        n_groups = int(meta.max()) + 1

    alphabets = (256 + 24 + cache_size, 256, 256, 256, 40)
    groups = [
        tuple(_read_prefix_code(br, a) for a in alphabets) for _ in range(n_groups)
    ]

    n = w * h
    pixels = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    mw = _div_round_up(w, 1 << meta_bits) if meta is not None else 0
    pos = 0
    g_green, g_red, g_blue, g_alpha, g_dist = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            g_green, g_red, g_blue, g_alpha, g_dist = groups[
                int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
            ]
        s = g_green.decode(br)
        if s < 256:  # literal
            r = g_red.decode(br)
            b = g_blue.decode(br)
            a = g_alpha.decode(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            pixels[pos] = px
            if cache_size:
                cache[_cache_hash(px, cache_bits)] = px
            pos += 1
        elif s < 280:  # LZ77 backward reference
            length = _prefix_value(s - 256, br)
            dist_prefix = g_dist.decode(br)
            plane = _prefix_value(dist_prefix, br)
            dist = _plane_to_distance(plane, w)
            if dist > pos or pos + length > n:
                raise MediaDecodeError("VP8L: backward reference out of range")
            if cache_size:
                for _ in range(length):
                    px = int(pixels[pos - dist])
                    pixels[pos] = px
                    cache[_cache_hash(px, cache_bits)] = px
                    pos += 1
            else:
                for _ in range(length):
                    pixels[pos] = pixels[pos - dist]
                    pos += 1
        else:  # color cache reference
            idx = s - 280
            if idx >= cache_size:
                raise MediaDecodeError("VP8L: color cache index out of range")
            pixels[pos] = cache[idx]
            pos += 1
    return pixels, transforms


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a.astype(np.uint16) + b.astype(np.uint16)) // 2


def _predict(mode: int, L, T, TR, TL) -> np.ndarray:
    """One predictor mode over per-channel uint8 vectors (shape (4,))."""
    if mode == 0:
        return np.array([255, 0, 0, 0], dtype=np.uint8)  # ARGB black
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T).astype(np.uint8)
    if mode == 6:
        return _avg2(L, TL).astype(np.uint8)
    if mode == 7:
        return _avg2(L, T).astype(np.uint8)
    if mode == 8:
        return _avg2(TL, T).astype(np.uint8)
    if mode == 9:
        return _avg2(T, TR).astype(np.uint8)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR)).astype(np.uint8)
    if mode == 11:  # Select
        pa_minus_pb = int(
            np.sum(np.abs(L.astype(int) - TL.astype(int)))
            - np.sum(np.abs(T.astype(int) - TL.astype(int)))
        )
        return T if pa_minus_pb <= 0 else L
    if mode == 12:  # ClampAddSubtractFull
        return np.clip(L.astype(int) + T.astype(int) - TL.astype(int), 0, 255).astype(
            np.uint8
        )
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(L, T).astype(int)
        d = ave - TL.astype(int)
        # C-style truncation toward zero for (a - b) / 2
        half = np.where(d >= 0, d // 2, -((-d) // 2))
        return np.clip(ave + half, 0, 255).astype(np.uint8)
    raise MediaDecodeError(f"VP8L: invalid predictor mode {mode}")


def _predict_scalar(mode: int, L, T, TR, TL):
    """_predict on python-int 4-tuples — the hot decode path. Per-pixel
    numpy-scalar arithmetic costs ~5-10 ufunc dispatches per pixel
    (~1M-pixel crawl images take tens of seconds);
    plain int tuples are an order of magnitude faster with identical
    semantics (asserted equal to _predict across all modes in tests)."""
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 7:
        return (
            (L[0] + T[0]) >> 1, (L[1] + T[1]) >> 1,
            (L[2] + T[2]) >> 1, (L[3] + T[3]) >> 1,
        )
    if mode == 5:
        return tuple((((L[i] + TR[i]) >> 1) + T[i]) >> 1 for i in range(4))
    if mode == 6:
        return tuple((L[i] + TL[i]) >> 1 for i in range(4))
    if mode == 8:
        return tuple((TL[i] + T[i]) >> 1 for i in range(4))
    if mode == 9:
        return tuple((T[i] + TR[i]) >> 1 for i in range(4))
    if mode == 10:
        return tuple(
            (((L[i] + TL[i]) >> 1) + ((T[i] + TR[i]) >> 1)) >> 1 for i in range(4)
        )
    if mode == 11:
        pa_minus_pb = 0
        for i in range(4):
            pa_minus_pb += abs(L[i] - TL[i]) - abs(T[i] - TL[i])
        return T if pa_minus_pb <= 0 else L
    if mode == 12:
        return tuple(min(255, max(0, L[i] + T[i] - TL[i])) for i in range(4))
    if mode == 13:
        out = []
        for i in range(4):
            ave = (L[i] + T[i]) >> 1
            d = ave - TL[i]
            half = d // 2 if d >= 0 else -((-d) // 2)  # C trunc-toward-zero
            out.append(min(255, max(0, ave + half)))
        return tuple(out)
    if mode == 0:
        return (255, 0, 0, 0)
    raise MediaDecodeError(f"VP8L: invalid predictor mode {mode}")


def _inverse_predictor(ch: np.ndarray, bits: int, data: np.ndarray, w: int) -> np.ndarray:
    """ch: (n, 4) uint8 residuals in ARGB channel order; returns pixels."""
    h = ch.shape[0] // w
    sub_w = _div_round_up(w, 1 << bits)
    modes = ((data >> 8) & 0xFF).tolist()  # green channel, python ints
    res = ch.reshape(h, w, 4).tolist()  # python ints throughout the loop
    out: list[list[tuple]] = [[None] * w for _ in range(h)]  # type: ignore[list-item]
    for y in range(h):
        r_row = res[y]
        o_row = out[y]
        prev = out[y - 1] if y else None
        mode_row_base = (y >> bits) * sub_w
        for x in range(w):
            if y == 0:
                pred = (255, 0, 0, 0) if x == 0 else o_row[x - 1]
            elif x == 0:
                pred = prev[0]
            else:
                mode = modes[mode_row_base + (x >> bits)]
                # top-right of the last column is the current row's first
                # pixel (contiguous addressing, per libwebp/spec behavior)
                TR = prev[x + 1] if x + 1 < w else o_row[0]
                pred = _predict_scalar(mode, o_row[x - 1], prev[x], TR, prev[x - 1])
            r = r_row[x]
            o_row[x] = (
                (r[0] + pred[0]) & 0xFF,
                (r[1] + pred[1]) & 0xFF,
                (r[2] + pred[2]) & 0xFF,
                (r[3] + pred[3]) & 0xFF,
            )
    return np.array(out, dtype=np.uint8).reshape(-1, 4)


def _ctd(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """ColorTransformDelta: (int8 multiplier * int8 channel) >> 5, with
    C-style arithmetic shift on the signed product."""
    prod = t.astype(np.int32) * c.astype(np.int32)
    return prod >> 5


def _inverse_color_transform(
    ch: np.ndarray, bits: int, data: np.ndarray, w: int
) -> np.ndarray:
    h = ch.shape[0] // w
    sub_w = _div_round_up(w, 1 << bits)
    xs = np.arange(w) >> bits
    ys = np.arange(h) >> bits
    block = (ys[:, None] * sub_w + xs[None, :]).reshape(-1)
    elems = data[block]
    g2r = (elems & 0xFF).astype(np.int8)
    g2b = ((elems >> 8) & 0xFF).astype(np.int8)
    r2b = ((elems >> 16) & 0xFF).astype(np.int8)
    a, r, g, b = ch[:, 0], ch[:, 1], ch[:, 2], ch[:, 3]
    new_r = (r.astype(np.int32) + _ctd(g2r, g.view(np.int8))) & 0xFF
    new_b = (
        b.astype(np.int32)
        + _ctd(g2b, g.view(np.int8))
        + _ctd(r2b, new_r.astype(np.uint8).view(np.int8))
    ) & 0xFF
    return np.stack(
        [a, new_r.astype(np.uint8), g, new_b.astype(np.uint8)], axis=1
    )


def _inverse_color_indexing(
    ch: np.ndarray, width_bits: int, pal: np.ndarray, orig_w: int
) -> np.ndarray:
    packed_w = _div_round_up(orig_w, 1 << width_bits)
    h = ch.shape[0] // packed_w
    greens = ch[:, 2].reshape(h, packed_w)
    if width_bits:
        bpp = 8 >> width_bits
        per = 1 << width_bits
        xs = np.arange(orig_w)
        shifts = (xs % per) * bpp
        mask = (1 << bpp) - 1
        idx = (greens[:, xs // per] >> shifts[None, :]) & mask
    else:
        idx = greens[:, :orig_w]
    # RFC 9649 §4.2.3: a packed index past the color table selects
    # 0x00000000 (transparent black), not an error — spec-legal files can
    # carry stray high bits in the packed lanes.
    oob = idx >= pal.shape[0]
    if oob.any():
        out = pal[np.where(oob, 0, idx).reshape(-1)].copy()
        out[oob.reshape(-1)] = 0
        return out
    return pal[idx.reshape(-1)]


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


@_clean_errors
def decode_vp8l(payload: bytes) -> tuple[np.ndarray, dict]:
    """Decode a VP8L chunk payload → ((H, W, C) uint8, meta). C is 4 when
    the header's alpha-is-used hint is set, else 3."""
    if not payload or payload[0] != 0x2F:
        raise MediaDecodeError("VP8L: bad signature byte")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_used = br.read_bit()
    if br.read(3) != 0:
        raise MediaDecodeError("VP8L: unsupported version")
    pixels, transforms = _decode_image_stream(br, w, h, True)
    # ARGB uint32 -> (n, 4) uint8 channel columns [a, r, g, b]
    ch = np.stack(
        [
            (pixels >> 24) & 0xFF,
            (pixels >> 16) & 0xFF,
            (pixels >> 8) & 0xFF,
            pixels & 0xFF,
        ],
        axis=1,
    ).astype(np.uint8)
    # inverse transforms in reverse read order
    for ttype, bits, data, tw in reversed(transforms):
        if ttype == _SUBTRACT_GREEN:
            g = ch[:, 2].astype(np.uint16)
            ch[:, 1] = ((ch[:, 1] + g) & 0xFF).astype(np.uint8)
            ch[:, 3] = ((ch[:, 3] + g) & 0xFF).astype(np.uint8)
        elif ttype == _PREDICTOR:
            ch = _inverse_predictor(ch, bits, data, tw)
        elif ttype == _COLOR:
            ch = _inverse_color_transform(ch, bits, data, tw)
        else:  # color indexing: (a, r, g, b) palette rows
            ch = _inverse_color_indexing(ch, bits, data, tw)
    if ch.shape[0] != w * h:
        raise MediaDecodeError("VP8L: transform size mismatch")
    a = ch[:, 0].reshape(h, w)
    rgb = ch[:, [1, 2, 3]].reshape(h, w, 3)
    meta = {
        "format": "webp",
        "height": h,
        "width": w,
        "channels": 4 if alpha_used else 3,
        "lossless": True,
    }
    if alpha_used:
        return np.dstack([rgb, a]), meta
    return rgb, meta


def iter_webp_chunks(content: bytes):
    """Yield ``(fourcc, payload)`` over a RIFF/WEBP container (even-byte
    chunk padding per RIFF). The ONE chunk walk shared by decode_webp and
    mediacodecs.probe_media — duplicated walks diverge on truncation
    handling. Raises MediaDecodeError on a non-WebP
    header; a chunk whose declared size overruns the buffer yields the
    truncated payload (callers decide whether that is fatal)."""
    if content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise MediaDecodeError("not a WebP file")
    pos = 12
    while pos + 8 <= len(content):
        fourcc = content[pos : pos + 4]
        (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        yield fourcc, content[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)


def parse_vp8x(payload: bytes) -> dict:
    """VP8X extended-container header → canvas size + feature flags."""
    if len(payload) < 10:
        raise MediaDecodeError(f"VP8X chunk truncated ({len(payload)} bytes)")
    return {
        "has_alpha": bool(payload[0] & 0x10),
        "has_animation": bool(payload[0] & 0x02),
        "canvas_width": (payload[4] | payload[5] << 8 | payload[6] << 16) + 1,
        "canvas_height": (payload[7] | payload[8] << 8 | payload[9] << 16) + 1,
    }


@_clean_errors
def decode_webp(content: bytes, vp8_decoder=None) -> tuple[np.ndarray, dict]:
    """RIFF/WEBP container → decoded VP8L image. Walks the chunk list so
    VP8X-extended files work.

    Lossy VP8 raises NotImplementedError naming libwebp unless
    ``vp8_decoder`` is injected — the decision record for why there is no
    from-scratch VP8 pixel decoder (header probe validated on a real
    libwebp bitstream; coefficient probability tables empirically
    unrecoverable in this environment) lives in
    :mod:`zarr_climate_etl_ipfs_spark.webp_vp8`. Signature:
    ``vp8_decoder(vp8_chunk: bytes) -> (rgb uint8[h, w, 3], meta dict)``
    — wrap libwebp/Pillow; the container walk, VP8X handling, and
    header metadata (``webp_vp8.probe_vp8``) stay engine-side."""
    vp8x: dict = {}
    for fourcc, payload in iter_webp_chunks(content):
        if fourcc == b"VP8X":
            # captured so the injected-decoder meta below matches what
            # probe_media surfaces for the same extended lossy file
            # (has_alpha/has_animation/canvas_*)
            vp8x = parse_vp8x(payload)
        if fourcc == b"VP8L":
            rgb, meta = decode_vp8l(payload)
            # same merge as the injected-lossy branch below: extended
            # LOSSLESS files must surface the VP8X fields too, matching
            # probe_media
            return rgb, {**meta, **vp8x}
        if fourcc == b"VP8 ":
            if vp8_decoder is not None:
                from zarr_climate_etl_ipfs_spark.webp_vp8 import probe_vp8

                hdr = probe_vp8(payload)
                rgb, meta = vp8_decoder(payload)
                rgb = np.asarray(rgb)
                if rgb.ndim != 3 or rgb.shape[:2] != (hdr["height"], hdr["width"]):
                    raise MediaDecodeError(
                        f"injected VP8 decoder returned shape {rgb.shape}, "
                        f"header says {hdr['height']}x{hdr['width']}"
                    )
                out_meta = {**hdr, **vp8x, **meta, "format": "webp", "lossless": False}
                return rgb, out_meta
            raise NotImplementedError(
                "WebP lossy (VP8) needs libwebp — only lossless (VP8L) decodes "
                "here; pass vp8_decoder= to plug one in"
            )
    raise MediaDecodeError("WebP: no VP8L chunk found")


# ---------------------------------------------------------------------------
# encoder (test-grade: spec-legal bytes to exercise the decoder)
# ---------------------------------------------------------------------------


def _huffman_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Code lengths for the used symbols. Real Huffman when the depth fits,
    else a flat power-of-two completion (always Kraft-complete)."""
    used = sorted(freqs)
    if len(used) <= 2:
        return {s: 1 for s in used} if len(used) == 2 else {used[0]: 0}
    import heapq
    import itertools

    cnt = itertools.count()
    heap = [(f, next(cnt), (s,)) for s, f in freqs.items()]
    heapq.heapify(heap)
    depth: dict[int, int] = dict.fromkeys(used, 0)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, next(cnt), s1 + s2))
    if max(depth.values()) <= max_len:
        return depth
    k = max((len(used) - 1).bit_length(), 1)
    if k > max_len:
        raise ValueError("alphabet too large for depth limit")
    return dict.fromkeys(used, k)  # completed with padding by the caller


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical assignment (by length, then
    symbol order)."""
    nz = sorted((l, s) for s, l in lengths.items() if l > 0)
    codes = {}
    code = 0
    prev_len = 0
    for l, s in nz:
        code <<= l - prev_len
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


def _complete_lengths(lengths: dict[int, int], alphabet_size: int) -> dict[int, int]:
    """If the flat fallback produced an incomplete code, pad with unused
    symbols at the same depth until Kraft-complete (decoders reject
    incomplete codes; the padding codewords simply never occur)."""
    nz = [l for l in lengths.values() if l > 0]
    if not nz:
        return lengths
    kraft = sum(1 << (_MAX_CODE_LENGTH - l) for l in nz)
    full = 1 << _MAX_CODE_LENGTH
    if kraft == full:
        return lengths
    k = max(nz)
    out = dict(lengths)
    s = 0
    while kraft < full:
        if s >= alphabet_size:
            raise ValueError("cannot complete prefix code")
        if s not in out:
            out[s] = k
            kraft += 1 << (_MAX_CODE_LENGTH - k)
            if kraft > full:
                raise ValueError("completion overshot; non-flat lengths")
        s += 1
    return out


def _write_prefix_code(
    bw: _BitWriter, lengths: dict[int, int], alphabet_size: int
) -> dict[int, tuple[int, int]]:
    """Emit one prefix code (simple form when possible, else the
    code-length-coded form) and return the codeword table."""
    used = sorted(s for s, l in lengths.items() if l >= 0)
    nz = [s for s in used if lengths[s] > 0 or len(used) == 1]
    if len(nz) == 1 and nz[0] < 256:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        s = nz[0]
        if s < 2:
            bw.write(0, 1)
            bw.write(s, 1)
        else:
            bw.write(1, 1)
            bw.write(s, 8)
        return {s: (0, 0)}
    if len(nz) == 2 and all(s < 256 for s in nz):
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(nz[0], 8)
        bw.write(nz[1], 8)
        return {nz[0]: (0, 1), nz[1]: (1, 1)}
    bw.write(0, 1)  # code-length-coded form
    # degenerate main code (a single symbol >= 256, e.g. one cache ref and
    # nothing else): a 0-length-only dict would emit an all-zero header the
    # decoder rejects — promote to a complete 1-bit code with a padding
    # symbol
    if not any(l > 0 for l in lengths.values()):
        only = next(iter(lengths))
        lengths = _complete_lengths({only: 1}, alphabet_size)
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    # RLE only for zero runs (17/18); literal code-length symbols otherwise
    tokens: list[tuple[int, int, int]] = []  # (cl_symbol, extra_val, extra_bits)
    i = 0
    while i < alphabet_size:
        if full[i] == 0:
            j = i
            while j < alphabet_size and full[j] == 0:
                j += 1
            run = j - i
            if j == alphabet_size:
                break  # trailing zeros are implicit (decoder zero-fills)
            while run >= 11:
                r = min(run, 138)
                tokens.append((18, r - 11, 7))
                run -= r
            while run >= 3:
                r = min(run, 10)
                tokens.append((17, r - 3, 3))
                run -= r
            for _ in range(run):
                tokens.append((0, 0, 0))
            i = j
        else:
            tokens.append((full[i], 0, 0))
            i += 1
    cl_freq: dict[int, int] = {}
    for sym, _, _ in tokens:
        cl_freq[sym] = cl_freq.get(sym, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq, 7)
    if not any(l > 0 for l in cl_lengths.values()):
        # every token shares one code-length value (e.g. a flat 2-bit main
        # code with no zero runs): {sym: 0} would write an all-zero
        # code-length header — an EMPTY prefix code the decoder rejects.
        # Promote to a complete 1-bit code (1 bit per token; the padding
        # symbol never occurs). Without it encode_webp raises KeyError on
        # a 2x2 image with greens {0,1,2,3}.
        only = next(iter(cl_lengths))
        cl_lengths = {only: 1}
    cl_lengths = _complete_lengths(cl_lengths, 19)
    cl_codes = _canonical_codes(cl_lengths)
    order_pos = {s: i for i, s in enumerate(_CL_ORDER)}
    single_cl = False  # cl code always has >= 2 nonzero lengths now
    num_cl = max((order_pos[s] for s in cl_lengths if cl_lengths[s] > 0), default=3) + 1
    num_cl = max(num_cl, 4)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    # max_symbol shortcut is MANDATORY here: the decoder keeps reading
    # code-length tokens until the alphabet is filled, and we drop the
    # trailing-zero run — the shortcut caps the token count instead
    n_tok = len(tokens)
    k = 0
    while n_tok - 2 >= (1 << (2 + 2 * k)):
        k += 1
    bw.write(1, 1)
    bw.write(k, 3)
    bw.write(n_tok - 2, 2 + 2 * k)
    for sym, extra_val, extra_bits in tokens:
        if not single_cl:
            code, ln = cl_codes[sym]
            bw.write_code(code, ln)
        if extra_bits:
            bw.write(extra_val, extra_bits)
    return _canonical_codes(lengths)


def _prefix_encode(v: int) -> tuple[int, int, int]:
    """value >= 1 -> (prefix_code, extra_val, extra_bits)."""
    if v <= 4:
        return v - 1, 0, 0
    n = v - 1
    b = n.bit_length() - 1
    half = 1 << (b - 1)
    rem = n - (1 << b)
    if rem < half:
        return 2 * b, rem, b - 1
    return 2 * b + 1, rem - half, b - 1


def encode_webp(
    img: np.ndarray,
    use_subtract_green: bool = False,
    cache_bits: int = 0,
    lz77: bool = True,
    palette: bool = False,
) -> bytes:
    """(H, W), (H, W, 3) or (H, W, 4) uint8 → lossless WebP (VP8L).

    Test-grade encoder: one prefix-code group, literals + distance-1 run
    LZ77 + optional color cache, optional subtract-green or color-indexing
    transform (mutually exclusive; palette requires ≤256 distinct colors).
    """
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.dstack([arr] * 3)
    h, w = arr.shape[:2]
    nch = arr.shape[2]
    has_alpha = nch == 4
    a = arr[:, :, 3].astype(np.uint32) if has_alpha else np.full((h, w), 255, np.uint32)
    r = arr[:, :, 0].astype(np.uint32)
    g = arr[:, :, 1].astype(np.uint32)
    b = arr[:, :, 2].astype(np.uint32)

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if has_alpha else 0, 1)
    bw.write(0, 3)  # version

    if palette and use_subtract_green:
        raise ValueError("palette and subtract-green are mutually exclusive here")

    if palette:
        argb = ((a << 24) | (r << 16) | (g << 8) | b).reshape(-1)
        colors, inverse = np.unique(argb, return_inverse=True)
        if colors.size > 256:
            raise ValueError("palette mode needs <=256 distinct colors")
        n_colors = colors.size
        bw.write(1, 1)  # a transform
        bw.write(_COLOR_INDEXING, 2)
        bw.write(n_colors - 1, 8)
        # palette as a delta-coded 1×n entropy image of literals
        pal_px = []
        prev = np.zeros(4, dtype=np.uint32)
        for c in colors:
            cur = np.array(
                [(c >> 24) & 0xFF, (c >> 16) & 0xFF, (c >> 8) & 0xFF, c & 0xFF],
                dtype=np.uint32,
            )
            delta = (cur - prev) & 0xFF
            pal_px.append((delta[0] << 24) | (delta[1] << 16) | (delta[2] << 8) | delta[3])
            prev = cur
        _encode_entropy_image(
            bw, np.array(pal_px, dtype=np.uint64), cache_bits=0, lz77=False, level0=False
        )
        bw.write(0, 1)  # no more transforms
        if n_colors <= 2:
            width_bits = 3
        elif n_colors <= 4:
            width_bits = 2
        elif n_colors <= 16:
            width_bits = 1
        else:
            width_bits = 0
        idx = inverse.reshape(h, w).astype(np.uint32)
        if width_bits:
            per = 1 << width_bits
            bpp = 8 >> width_bits
            packed_w = _div_round_up(w, per)
            packed = np.zeros((h, packed_w), dtype=np.uint32)
            for x in range(w):
                packed[:, x // per] |= idx[:, x] << ((x % per) * bpp)
            greens = packed
        else:
            greens = idx
        px = (np.uint32(0xFF) << 24) | (greens << 8)
        _encode_entropy_image(bw, px.reshape(-1).astype(np.uint64), cache_bits, lz77)
        return _wrap_riff(bw.finish())

    if use_subtract_green:
        bw.write(1, 1)
        bw.write(_SUBTRACT_GREEN, 2)
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF
    bw.write(0, 1)  # no (more) transforms
    px = ((a << 24) | (r << 16) | (g << 8) | b).reshape(-1).astype(np.uint64)
    _encode_entropy_image(bw, px, cache_bits, lz77)
    return _wrap_riff(bw.finish())


def _tokenize(px: np.ndarray, cache_bits: int, lz77: bool):
    """Token stream: ('lit', argb) | ('cache', idx) | ('copy', length)."""
    n = len(px)
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    tokens = []
    i = 0
    while i < n:
        if lz77 and i >= 1 and px[i] == px[i - 1]:
            j = i
            while j < n and px[j] == px[j - 1] and j - i < 4096:
                j += 1
            if j - i >= 2:
                tokens.append(("copy", j - i))
                if cache_size:
                    for k in range(i, j):
                        cache[_cache_hash(int(px[k]), cache_bits)] = int(px[k])
                i = j
                continue
        v = int(px[i])
        if cache_size:
            hidx = _cache_hash(v, cache_bits)
            if cache[hidx] == v:
                tokens.append(("cache", hidx))
                i += 1
                continue
            cache[hidx] = v
        tokens.append(("lit", v))
        i += 1
    return tokens


def _encode_entropy_image(
    bw: _BitWriter, px: np.ndarray, cache_bits: int, lz77: bool, level0: bool = True
) -> None:
    """Emit one entropy-coded image: cache header, (level 0 only) the
    no-meta-prefix bit, the 5 prefix codes, then the token stream —
    matching the decoder's read order exactly (subimages have no meta
    bit)."""
    tokens = _tokenize(px, cache_bits, lz77)
    cache_size = (1 << cache_bits) if cache_bits else 0
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        bw.write(0, 1)  # no meta-prefix image
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for kind, v in tokens:
        if kind == "lit":
            gf[(v >> 8) & 0xFF] = gf.get((v >> 8) & 0xFF, 0) + 1
            rf[(v >> 16) & 0xFF] = rf.get((v >> 16) & 0xFF, 0) + 1
            bf[v & 0xFF] = bf.get(v & 0xFF, 0) + 1
            af[(v >> 24) & 0xFF] = af.get((v >> 24) & 0xFF, 0) + 1
        elif kind == "cache":
            gf[280 + v] = gf.get(280 + v, 0) + 1
        else:
            lcode, _, _ = _prefix_encode(v)
            gf[256 + lcode] = gf.get(256 + lcode, 0) + 1
            dcode, _, _ = _prefix_encode(1 + 120)  # distance 1 -> plane 121
            df[dcode] = df.get(dcode, 0) + 1
    # every code must exist even if unused (the decoder reads all five);
    # give empty histograms a trivial single-symbol code
    for f in (gf, rf, bf, af, df):
        if not f:
            f[0] = 1
    galpha = 256 + 24 + cache_size
    gcodes = _write_prefix_code(bw, _complete_lengths(_huffman_lengths(gf, _MAX_CODE_LENGTH), galpha), galpha)
    rcodes = _write_prefix_code(bw, _complete_lengths(_huffman_lengths(rf, _MAX_CODE_LENGTH), 256), 256)
    bcodes = _write_prefix_code(bw, _complete_lengths(_huffman_lengths(bf, _MAX_CODE_LENGTH), 256), 256)
    acodes = _write_prefix_code(bw, _complete_lengths(_huffman_lengths(af, _MAX_CODE_LENGTH), 256), 256)
    dcodes = _write_prefix_code(bw, _complete_lengths(_huffman_lengths(df, _MAX_CODE_LENGTH), 40), 40)

    def emit(codes: dict[int, tuple[int, int]], sym: int) -> None:
        code, ln = codes[sym]
        if ln:
            bw.write_code(code, ln)

    for kind, v in tokens:
        if kind == "lit":
            emit(gcodes, (v >> 8) & 0xFF)
            emit(rcodes, (v >> 16) & 0xFF)
            emit(bcodes, v & 0xFF)
            emit(acodes, (v >> 24) & 0xFF)
        elif kind == "cache":
            emit(gcodes, 280 + v)
        else:
            lcode, lval, lbits = _prefix_encode(v)
            emit(gcodes, 256 + lcode)
            if lbits:
                bw.write(lval, lbits)
            dcode, dval, dbits = _prefix_encode(121)  # distance 1
            emit(dcodes, dcode)
            if dbits:
                bw.write(dval, dbits)


def _wrap_riff(payload: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
