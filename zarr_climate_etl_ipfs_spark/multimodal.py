"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (BASELINE.json north star): media payloads are ``binary`` columns with
a typed metadata struct alongside; decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` stages so payload bytes
stream through executors in columnar batches and never transit the driver.

Decode is REAL for every format a pure-stdlib decoder can handle —
baseline JPEG / PNG / GIF (incl. animated, the video path) / baseline
TIFF / PPM / PGM / BMP images and PCM WAV audio (``mediacodecs.py``:
zlib + struct + numpy — Huffman/IDCT for JPEG, LZW for GIF, all five PNG
scanline filters). Formats that genuinely need external codecs
(WebP, progressive JPEG, MP3/MP4 — PIL/ffmpeg are not in this container)
raise NotImplementedError with the dependency name through the same
pluggable seam, and tests can still inject fakes.

Ordering contract: :func:`extract_features`, :func:`resize_images` and
:func:`sample_frames` keep each partition's row order — one output row per
input row (one per kept frame, in ascending ``frame_idx``, for
``sample_frames``), at the input row's position, failures included. The
catalog's sort-first queries (``plans/queries._sorted_doc_ids``) return
their rows without a final sort and rely on it; a kernel that reorders,
drops or regroups rows must not be used there.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: metadata struct carried next to every media payload
MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

#: decoder contract: raw bytes + meta dict -> float feature vector
Decoder = Callable[[bytes, dict[str, Any]], np.ndarray]


def default_image_decoder(content: bytes, meta: dict[str, Any]) -> np.ndarray:
    """Real decode for JPEG/PNG/GIF/TIFF/PPM/PGM/BMP and lossless WebP
    (mediacodecs.image_features, VP8L via webp_vp8l); lossy WebP and
    progressive JPEG raise NotImplementedError naming the missing
    library."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import image_features

    return image_features(content, meta)


def default_audio_decoder(content: bytes, meta: dict[str, Any]) -> np.ndarray:
    """Real decode for PCM WAV and FLAC (mediacodecs.audio_features);
    MP3/Ogg raise NotImplementedError naming the missing library."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import audio_features

    return audio_features(content, meta)


def deterministic_fake_decoder(content: bytes, meta: dict[str, Any]) -> np.ndarray:
    """Test stand-in: an 8-dim feature derived from byte statistics —
    deterministic, content-sensitive, shaped like a real embedding."""
    arr = np.frombuffer(content, dtype=np.uint8).astype(np.float32)
    if arr.size == 0:
        return np.zeros(8, dtype=np.float32)
    return np.array(
        [
            arr.mean(),
            arr.std(),
            arr.min(),
            arr.max(),
            float(arr.size),
            arr[:16].sum(),
            arr[-16:].sum(),
            float(int(arr.sum()) % 997),
        ],
        dtype=np.float32,
    )


def attach_media_meta(df: DataFrame, media_type: str, fmt: str | None = None) -> DataFrame:
    """Wrap a binary column with the typed metadata struct."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).cast("string").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


def extract_features(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    decoder: Decoder = default_image_decoder,
) -> DataFrame:
    """Decode + featurize media payloads via Arrow-batched mapInPandas.

    Per-row failures are captured, not fatal (decode_ok/error columns):
    at 100 TB a corrupt blob must not kill the stage. Batch size is governed
    by spark.sql.execution.arrow.maxRecordsPerBatch; payload bytes stay
    executor-side end to end. Keeps input row order (module ordering
    contract).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            # zip over the two columns, not iterrows(): row materialization
            # dominated the batch loop (~5x) for small payloads
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    feat = decoder(content, {})
                    out.append((rid, feat.tolist(), True, None))
                except Exception as e:  # noqa: BLE001 — per-row isolation
                    # includes NotImplementedError: one JPEG row in a PNG
                    # corpus must not kill the stage — it lands as
                    # decode_ok=false with the missing-dependency name
                    out.append((rid, None, False, str(e)[:200]))
            yield pd.DataFrame(out, columns=["doc_id", "feature", "decode_ok", "error"])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        kernel, schema=FEATURE_SCHEMA
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame index,
    derived from duration metadata — the explode happens before decode so
    frame decoding parallelizes across the cluster, not inside one task."""
    n_frames = (F.col("media_meta.duration_ms") / every_ms).cast("int")
    return df.withColumn(
        "frame_idx", F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))))
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("f_height", T.IntegerType(), True),
        T.StructField("f_width", T.IntegerType(), True),
        T.StructField("f_mean", T.DoubleType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def sample_frames(
    df: DataFrame,
    every_n: int = 2,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """REAL video frame sampling: decode an animation (animated GIF — the
    one motion container a pure-stdlib decoder covers;
    ``mediacodecs.decode_gif_frames``), keep every ``every_n``-th frame,
    and emit one row per kept frame with per-frame raster stats.

    Arrow-batched ``mapInPandas``: payload bytes stay executor-side, one
    input row fans out to ceil(n_frames / every_n) output rows inside the
    kernel (mapInPandas is a flat-map — the 1→N expansion needs no
    explode/join). Per-row failures degrade to decode_ok=false rows.
    For MP4/WebM the same kernel shape applies with an injected ffmpeg
    decoder; the plumbing — schema, batching, fan-out — is what this
    operator pins down. Keeps input row order, each row's frames in
    ascending ``frame_idx`` (module ordering contract)."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import decode_gif_frames

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    frames, _meta = decode_gif_frames(content)
                    for f in range(0, frames.shape[0], every_n):
                        img = frames[f]
                        out.append(
                            (
                                rid,
                                f,
                                img.shape[0],
                                img.shape[1],
                                float(img.mean()),
                                True,
                                None,
                            )
                        )
                except Exception as e:  # noqa: BLE001 — per-row isolation
                    out.append((rid, None, None, None, None, False, str(e)[:200]))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "frame_idx", "f_height", "f_width",
                    "f_mean", "decode_ok", "error",
                ],
            )

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        kernel, schema=FRAME_SCHEMA
    )


DELTA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("mean_abs_delta", T.DoubleType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def frame_deltas(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Consecutive-frame difference signal — the primitive behind shot-
    boundary detection in video curation pipelines: decode an animation
    (animated GIF via the stdlib LZW path), emit one row per consecutive
    frame PAIR with the mean absolute pixel delta. Thresholding the delta
    downstream (a plain column predicate) marks cut points; keeping the
    threshold out of the kernel leaves it a Catalyst-visible filter.

    Same Arrow mapInPandas flat-map shape as :func:`sample_frames`
    (payload bytes never leave the executor; per-row failures degrade to
    decode_ok=false rows). For MP4/WebM the kernel takes an injected
    ffmpeg decoder; the plumbing is what this pins down."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import decode_gif_frames

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    frames, _meta = decode_gif_frames(content)
                    if frames.shape[0] < 2:
                        # a decodable single-frame animation has no pairs
                        # but must stay VISIBLE: zero rows would be
                        # indistinguishable from a lost doc downstream
                        out.append((rid, None, None, True, None))
                        continue
                    for f in range(frames.shape[0] - 1):
                        delta = float(
                            np.abs(
                                frames[f + 1].astype(np.int16)
                                - frames[f].astype(np.int16)
                            ).mean()
                        )
                        out.append((rid, f, delta, True, None))
                except Exception as e:  # noqa: BLE001 — per-row isolation
                    out.append((rid, None, None, False, str(e)[:200]))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "frame_idx", "mean_abs_delta", "decode_ok", "error"],
            )

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        kernel, schema=DELTA_SCHEMA
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("phash", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def _dct32() -> np.ndarray:
    n = 32
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    dct = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    dct[0] = np.sqrt(1.0 / n)
    return dct


_DCT32 = _dct32()  # module-level: the basis is rebuilt for no image


def _phash_bits(img: np.ndarray) -> str:
    """64-bit perceptual hash of a decoded raster: grayscale → 32×32 box
    resize → 32×32 orthonormal DCT-II → top-left 8×8 low-frequency block
    minus DC → median threshold → 16-hex-digit string. Positive scaling
    and constant offsets of the pixel values leave the hash unchanged
    (signs of AC coefficients are scale-invariant; DC is dropped) — up
    to float ties: coefficients are normalized by the block's max
    magnitude before the 1e-6 noise rounding, so the tie threshold is
    scale-RELATIVE (an absolute epsilon would round differently at
    different gains). The catalog oracle's generated patterns sit far
    from ties; near-degenerate blocks (all AC within noise of zero) can
    still split across gains — inherent to any float threshold.

    Hot path: the resize is two np.add.reduceat passes over the 32-bin
    grid (no Python-loop slice means) and the DCT basis is a module
    constant — this runs once per image per executor batch."""
    gray = img.astype(np.float64).mean(axis=2) if img.ndim == 3 else img.astype(np.float64)
    if gray.shape[0] < 32 or gray.shape[1] < 32:
        # sample-replicate up first so every 32-grid bin below is non-empty
        gray = np.repeat(
            np.repeat(gray, -(-32 // gray.shape[0]), axis=0),
            -(-32 // gray.shape[1]),
            axis=1,
        )
    h, w = gray.shape
    # box resize to 32x32: bin-sum via reduceat on each axis, then divide
    # by the bin areas (bins are contiguous, boundaries from the 32-grid)
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    sums = np.add.reduceat(np.add.reduceat(gray, ys, axis=0), xs, axis=1)
    ylen = np.diff(np.append(ys, h))[:, None].astype(np.float64)
    xlen = np.diff(np.append(xs, w))[None, :].astype(np.float64)
    small = sums / (ylen * xlen)
    coef = _DCT32 @ small @ _DCT32.T
    block = coef[:8, :8].reshape(64)[1:]  # drop DC
    peak = np.abs(block).max()
    if peak > 0:
        block = block / peak  # scale-relative tie threshold
    block = np.round(block, 6)  # kill fp noise on structural zeros
    med = np.median(block)
    bits = block > med
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return f"{val:016x}"


def phash_images(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    decoder: Decoder | None = None,
) -> DataFrame:
    """Perceptual-hash image fingerprinting — the image-content analog of
    text MinHash for multimodal training-data dedup: near-identical
    images (rescaled, brightness-shifted, re-encoded) map to the same or
    Hamming-close 64-bit hash, so grouping by hash (or banded hash
    pieces) finds duplicates with NO pairwise comparison. Arrow-batched
    mapInPandas; per-row failures degrade to decode_ok=false rows."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import decode_image

    dec = decoder or (lambda content, meta: decode_image(content)[0])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    out.append((rid, _phash_bits(dec(content, {})), True, None))
                except Exception as e:  # noqa: BLE001 — per-row isolation
                    out.append((rid, None, False, str(e)[:200]))
            yield pd.DataFrame(out, columns=["doc_id", "phash", "decode_ok", "error"])

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        kernel, schema=PHASH_SCHEMA
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("in_h", T.IntegerType(), True),
        T.StructField("in_w", T.IntegerType(), True),
        T.StructField("out_h", T.IntegerType(), True),
        T.StructField("out_w", T.IntegerType(), True),
        T.StructField("out_mean", T.DoubleType(), True),
        T.StructField("resized_png", T.BinaryType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def _box_resize(img: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Area (box) downsample to (th, tw) by averaging near-equal row/column
    bins — integer accumulation, so constant regions stay EXACT (the
    property the catalog oracle leans on).  Upscaling replicates
    (nearest), the degenerate box."""
    h, w, c = img.shape
    if th > h:
        img = np.repeat(img, -(-th // h), axis=0)
        h = img.shape[0]
    if tw > w:
        img = np.repeat(img, -(-tw // w), axis=1)
        w = img.shape[1]
    ys = np.linspace(0, h, th + 1).astype(int)
    xs = np.linspace(0, w, tw + 1).astype(int)
    out = np.empty((th, tw, c), dtype=np.float64)
    for i in range(th):
        for j in range(tw):
            block = img[ys[i] : max(ys[i + 1], ys[i] + 1),
                        xs[j] : max(xs[j + 1], xs[j] + 1)]
            out[i, j] = block.reshape(-1, c).mean(axis=0)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def resize_images(
    df: DataFrame,
    target_h: int,
    target_w: int,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """REAL image resize as an Arrow mapInPandas stage: decode any
    stdlib-decodable format (`mediacodecs.decode_image`), box-resample to
    (target_h, target_w), re-encode as PNG — the thumbnail/normalize step
    of a multimodal training pipeline.  Payload bytes never touch the
    driver; per-row failures degrade to decode_ok=false.  At 100 TB the
    stage is a pure map over the scan (no shuffle), and the output PNG
    column feeds the same downstream featurize/dedup operators as the
    input. Keeps input row order (module ordering contract)."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import decode_image, encode_png

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    img, _meta = decode_image(bytes(content))
                    resized = _box_resize(img, target_h, target_w)
                    out.append(
                        (
                            rid, img.shape[0], img.shape[1],
                            resized.shape[0], resized.shape[1],
                            float(resized.mean()),
                            encode_png(resized), True, None,
                        )
                    )
                except Exception as e:  # noqa: BLE001 — per-row isolation
                    out.append((rid, None, None, None, None, None, None, False, str(e)[:200]))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "in_h", "in_w", "out_h", "out_w",
                    "out_mean", "resized_png", "decode_ok", "error",
                ],
            )

    return df.select(F.col(id_col), F.col(content_col)).mapInPandas(
        kernel, schema=RESIZE_SCHEMA
    )
