"""Pure-stdlib Zarr v2 store reader/writer — the reference's native format.

The reference's entire output surface is a Zarr v2 store (utils/publish.py
``write_initial_zarr``/``to_zarr``, utils/store.py key→bytes mappers), so a
migrating user's EXISTING data lives in exactly this layout: per-array
``.zarray``/``.zattrs`` JSON, chunk files named ``0.0.0`` (or nested
``0/0/0``), optional consolidated ``.zmetadata`` at the root. zarr/numcodecs
aren't in this container, but the format is fully described by the public
Zarr v2 storage specification, and the numcodecs codec configs it embeds are
simple stdlib transforms for every codec the reference's stack defaults to
short of blosc. This module implements the format from that spec with
stdlib + numpy only (the same boundary as :mod:`.netcdf3`):

  - :func:`open_group` — parse a store's array metadata (consolidated
    ``.zmetadata`` fast path, directory walk fallback);
  - :func:`read_zarr_array_local` / :func:`write_zarr_array_local` —
    driver-side whole-array access (coordinate arrays, fixtures, tests);
  - :func:`read_zarr_tall` — the DISTRIBUTED ingest path: tall
    (dim…, value) DataFrame over ``spark.range(n_chunks)`` +
    ``mapInPandas``, with chunk-grid pruning for dim-range predicates
    (the partition-pruning analog of utils/store.py date-range reads);
  - :func:`write_zarr_tall` — the distributed sink
    (``write_initial_zarr``, publish.py:240-261, re-expressed): coords
    resolved driver-side, cells routed to chunk ordinals via broadcast
    index joins + pure JVM arithmetic, one ``applyInPandas`` group per
    chunk assembles/encodes/writes the chunk file.

The READ path also speaks the Zarr v3 core spec (the format current
zarr-python writes): per-node ``zarr.json`` metadata, ``c/``-style chunk
key encodings, codec pipelines (``bytes`` endianness, ``gzip``,
``transpose``, ``crc32c`` with a real Castagnoli CRC, and
``sharding_indexed`` — shards of encoded inner chunks with a
crc-guarded offset index, absent entries reading as fill), inline
consolidated metadata, first-class ``dimension_names`` — all mapped onto
the same :class:`ArrayMeta`/distributed-reader machinery, with mixed
v2+v3 stores merging (v3 wins name conflicts). The WRITE surface covers
both formats: v2 (the reference's format, the default) and, with
``write_zarr_tall(..., zarr_format=3)``, the v3 layout current
zarr-python writes — per-node ``zarr.json``, ``c/`` chunk keys, v3
codec pipelines including ``sharding_indexed`` shards, inline
consolidated metadata (datetime axes fall back to v2 siblings; v3 has
no datetime dtype).

Codecs (numcodecs-config-compatible): compressors ``blosc`` (the zarr v2
DEFAULT — full c-blosc1 container with byte/bit shuffle, split streams
and the memcpy fallback, inner lz4/lz4hc/zstd/zlib/snappy via
:mod:`.blosc`), ``lz4``, ``zstd``, ``zlib``, ``gzip``, ``bz2``, ``lzma``
and ``null``; array filters ``delta`` and ``fixedscaleoffset``; and the
reference's encrypted-chunk filter ``xchacha20poly1305``
(utils/encryption.py:80-134 — blob = nonce(24)‖tag(16)‖ciphertext, AAD
``b"dClimate-Zarr"``, key looked up by SHA3-256 hash), decoded via
:mod:`.encryption`'s codec-exact parity mode, so a store the reference
published ENCRYPTED decodes here given the registered key. The v3 codec
pipeline additionally accepts ``blosc`` and ``zstd`` by their v3 names
and configs. Every blosc inner codec decodes, including ``blosclz``
(test-grade, from the published token layout — see
:mod:`.blosc`'s framing); the codec matrix has no remaining seam.

Scale notes (100 TB store = ~10⁷-10⁸ chunks of 1-5 MB):
  - the chunk task list is ``spark.range(n_chunks)`` — no driver-side
    chunk enumeration, no file listing; missing chunks (= all-fill, legal
    per spec) are handled by the decode kernel without a pre-existence
    scan;
  - coordinate arrays are 1-D and axis-sized (10³-10⁶ entries), read
    driver-side and broadcast — the DATA is the big part, never the axes;
  - dim-range predicates prune at chunk granularity with pure JVM
    arithmetic on the range ordinal (``(id div stride) % grid``), then
    re-filter rows after decode: coarse pruning + exact predicate, the
    same two-level structure Catalyst uses for parquet partition columns;
  - the writer shuffles once, on the chunk ordinal (the only shuffle the
    layout permits: cells of one chunk must meet), and writes chunk files
    from executors (shared filesystem / object store assumed, as any
    distributed zarr writer requires).
"""

from __future__ import annotations

import base64
import bz2
import gzip
import hashlib
import itertools
import json
import lzma
import math
import os
import shutil
import zlib
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.sources.sink import claim_dir


class ZarrError(RuntimeError):
    pass


# ---------------------------------------------------------------------------
# Metadata
# ---------------------------------------------------------------------------

#: xarray's dimension-name attribute, written by the reference on every
#: array (metadata.py zarr attrs; tests/unit/inputs/chirps_example_zarr.json)
DIM_ATTR = "_ARRAY_DIMENSIONS"


@dataclass
class ArrayMeta:
    """One array's metadata — v2 ``.zarray`` + ``.zattrs``, or a v3
    ``zarr.json`` mapped onto the same fields (``zarr_format=3`` rows set
    ``codecs``/``dimension_names``/``key_encoding`` and leave the v2-only
    ``compressor``/``filters`` empty)."""

    name: str
    shape: tuple[int, ...]
    chunks: tuple[int, ...]
    dtype: str  # numpy dtype string as stored, e.g. "<f4"
    order: str = "C"
    fill_value: Any = None
    compressor: dict[str, Any] | None = None
    filters: list[dict[str, Any]] = field(default_factory=list)
    separator: str = "."
    attrs: dict[str, Any] = field(default_factory=dict)
    zarr_format: int = 2
    codecs: list[dict[str, Any]] = field(default_factory=list)  # v3 pipeline
    dimension_names: list[str] | None = None  # v3 first-class dim names
    key_encoding: str = "v2"  # v3: "default" ("c/0/0") or "v2" ("0.0")

    @property
    def np_dtype(self) -> np.dtype:
        return np.dtype(self.dtype)

    @property
    def dims(self) -> list[str] | None:
        if self.dimension_names is not None:
            return list(self.dimension_names)
        d = self.attrs.get(DIM_ATTR)
        return list(d) if isinstance(d, list) else None

    @property
    def chunk_grid(self) -> tuple[int, ...]:
        return tuple(
            -(-s // c) if c else 0 for s, c in zip(self.shape, self.chunks)
        )

    @property
    def n_chunks(self) -> int:
        return int(math.prod(self.chunk_grid)) if self.shape else 1

    def chunk_key(self, idx: tuple[int, ...]) -> str:
        if self.zarr_format == 3 and self.key_encoding == "default":
            # v3 default encoding: "c" for 0-d, else "c/<i>/<j>" (spec's
            # default separator "/"; a configured "." gives "c.0.0")
            if not idx:
                return "c"
            return "c" + self.separator + self.separator.join(str(i) for i in idx)
        if not idx:  # 0-d array: single chunk stored under "0"
            return "0"
        return self.separator.join(str(i) for i in idx)

    def fill_scalar(self) -> Any:
        return parse_fill(self.fill_value, self.np_dtype)

    def to_zarray(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "zarr_format": 2,
            "shape": list(self.shape),
            "chunks": list(self.chunks),
            "dtype": self.dtype,
            "compressor": self.compressor,
            "fill_value": self.fill_value,
            "order": self.order,
            "filters": self.filters or None,
        }
        if self.separator != ".":
            d["dimension_separator"] = self.separator
        return d


def parse_fill(fill: Any, dtype: np.dtype) -> Any:
    """JSON ``fill_value`` → numpy scalar (spec §"Fill value encoding")."""
    if fill is None:
        return None
    k = dtype.kind
    if k == "f":
        if isinstance(fill, str):
            special = {"NaN": np.nan, "Infinity": np.inf, "-Infinity": -np.inf}
            if fill not in special:
                raise ZarrError(f"bad float fill_value {fill!r}")
            return dtype.type(special[fill])
        return dtype.type(fill)
    if k in "iu":
        return dtype.type(int(fill))
    if k == "b":
        return dtype.type(bool(fill))
    if k in "mM":
        # datetimes round-trip through their int64 tick representation
        if isinstance(fill, str):
            return np.array(fill, dtype=dtype)[()]
        return np.int64(fill).view(dtype)
    if k in "SV":
        return np.frombuffer(base64.b64decode(fill), dtype=dtype)[0]
    if k == "U":
        return dtype.type(fill)
    raise ZarrError(f"unsupported dtype kind {k!r} for fill_value")


def encode_fill(fill: Any, dtype: np.dtype) -> Any:
    """Numpy scalar → JSON ``fill_value``."""
    if fill is None:
        return None
    k = dtype.kind
    if k == "f":
        f = float(fill)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "Infinity" if f > 0 else "-Infinity"
        return f
    if k in "iu":
        return int(fill)
    if k == "b":
        return bool(fill)
    if k in "mM":
        return int(np.asarray(fill).view("i8"))
    if k in "SV":
        return base64.b64encode(np.asarray(fill, dtype=dtype).tobytes()).decode()
    return fill


def _meta_from_json(name: str, zarray: dict[str, Any], attrs: dict[str, Any]) -> ArrayMeta:
    if zarray.get("zarr_format") != 2:
        raise ZarrError(f"{name}: zarr_format {zarray.get('zarr_format')!r} != 2")
    return ArrayMeta(
        name=name,
        shape=tuple(zarray["shape"]),
        chunks=tuple(zarray["chunks"]),
        dtype=zarray["dtype"] if isinstance(zarray["dtype"], str) else str(zarray["dtype"]),
        order=zarray.get("order", "C"),
        fill_value=zarray.get("fill_value"),
        compressor=zarray.get("compressor"),
        filters=list(zarray.get("filters") or []),
        separator=zarray.get("dimension_separator", "."),
        attrs=attrs,
    )


def _read_json(path: str) -> dict[str, Any]:
    with open(path, "rb") as f:
        return json.loads(f.read().decode("utf-8"))


# -- Zarr v3 metadata (core spec: one zarr.json per node) -------------------

#: v3 abstract data_type → numpy kind+size (byte ORDER comes from the
#: "bytes" codec configuration, not the type — spec §data types)
_V3_DTYPES = {
    "bool": "b1",
    "int8": "i1", "int16": "i2", "int32": "i4", "int64": "i8",
    "uint8": "u1", "uint16": "u2", "uint32": "u4", "uint64": "u8",
    "float16": "f2", "float32": "f4", "float64": "f8",
}
_V3_DTYPE_NAMES = {v: k for k, v in _V3_DTYPES.items()}


def _meta_from_v3_json(name: str, doc: dict[str, Any]) -> ArrayMeta:
    if doc.get("node_type") != "array":
        raise ZarrError(f"{name}: zarr.json node_type {doc.get('node_type')!r} != 'array'")
    grid = doc.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise ZarrError(f"{name}: unsupported chunk_grid {grid.get('name')!r}")
    codecs = list(doc.get("codecs") or [])
    base = _V3_DTYPES.get(doc.get("data_type"))
    if base is None:
        raise ZarrError(f"{name}: unsupported v3 data_type {doc.get('data_type')!r}")
    def _find_bytes(cs: list[dict[str, Any]]) -> dict[str, Any] | None:
        for c in cs:
            if c.get("name") == "bytes":
                return c
            if c.get("name") == "sharding_indexed":
                found = _find_bytes((c.get("configuration") or {}).get("codecs") or [])
                if found is not None:
                    return found
        return None

    endian = "<"
    bc = _find_bytes(codecs)
    if bc is not None:
        endian = {"little": "<", "big": ">"}.get(
            (bc.get("configuration") or {}).get("endian", "little"), "<"
        )
    dtype = ("|" if base in ("b1", "i1", "u1") else endian) + base
    key = doc.get("chunk_key_encoding") or {"name": "default"}
    key_name = key.get("name", "default")
    if key_name not in ("default", "v2"):
        raise ZarrError(f"{name}: unsupported chunk_key_encoding {key_name!r}")
    sep = (key.get("configuration") or {}).get(
        "separator", "/" if key_name == "default" else "."
    )
    return ArrayMeta(
        name=name,
        shape=tuple(doc["shape"]),
        chunks=tuple(grid["configuration"]["chunk_shape"]),
        dtype=dtype,
        fill_value=doc.get("fill_value"),
        separator=sep,
        attrs=dict(doc.get("attributes") or {}),
        zarr_format=3,
        codecs=codecs,
        dimension_names=doc.get("dimension_names"),
        key_encoding=key_name,
    )


def open_group(store: str) -> dict[str, ArrayMeta]:
    """Array name → metadata for every array under ``store``.

    Prefers consolidated metadata (``.zmetadata``,
    ``zarr_consolidated_format: 1`` — what the reference always writes:
    publish.py ``consolidated=True``); falls back to a directory walk for
    ``.zarray`` files. Metadata is a few KB — driver-side by design.
    """
    metas: dict[str, ArrayMeta] = {}
    root_v3 = os.path.join(store, "zarr.json")
    if os.path.exists(root_v3):
        doc = _read_json(root_v3)
        if doc.get("zarr_format") == 3:
            if doc.get("node_type") == "array":
                return {"": _meta_from_v3_json("", doc)}
            # group: inline consolidated metadata fast path, else walk;
            # v2 siblings (e.g. datetime coordinate axes, a v2-only dtype)
            # merge in below, v3 winning name conflicts
            cons = (doc.get("consolidated_metadata") or {}).get("metadata") or {}
            for path, sub in cons.items():
                if sub.get("node_type") == "array":
                    metas[path] = _meta_from_v3_json(path, sub)
            if not metas:
                for root, _dirs, files in os.walk(store):
                    if (
                        "zarr.json" not in files
                        or os.path.abspath(root) == os.path.abspath(store)
                    ):
                        continue
                    sub = _read_json(os.path.join(root, "zarr.json"))
                    if sub.get("node_type") != "array":
                        continue
                    name = os.path.relpath(root, store).replace(os.sep, "/")
                    metas[name] = _meta_from_v3_json(name, sub)
    zmeta = os.path.join(store, ".zmetadata")
    if not metas and os.path.exists(zmeta):
        try:
            blob = _read_json(zmeta)
            md = blob["metadata"]
            for key, val in md.items():
                if key.endswith(".zarray"):
                    name = key[: -len("/.zarray")]
                    attrs = md.get(f"{name}/.zattrs", {})
                    metas[name] = _meta_from_json(name, val, attrs)
            if metas:
                return metas
        except (KeyError, ValueError, ZarrError):
            metas = {}  # corrupt consolidation → trust the files themselves
    for root, _dirs, files in os.walk(store):
        if ".zarray" not in files:
            continue
        name = os.path.relpath(root, store).replace(os.sep, "/")
        name = "" if name == "." else name
        if name in metas:  # a v3 zarr.json on the same node wins
            continue
        zarray = _read_json(os.path.join(root, ".zarray"))
        zattrs_p = os.path.join(root, ".zattrs")
        attrs = _read_json(zattrs_p) if os.path.exists(zattrs_p) else {}
        metas[name] = _meta_from_json(name, zarray, attrs)
    if not metas:
        raise ZarrError(f"no Zarr v2 or v3 arrays under {store!r}")
    return metas


def _v3_doc_from_meta(meta: ArrayMeta) -> dict[str, Any]:
    """Serialize a ``zarr_format=3`` :class:`ArrayMeta` back to its
    ``zarr.json`` document (inverse of :func:`_meta_from_v3_json`)."""
    dt = meta.np_dtype
    tname = _V3_DTYPE_NAMES.get(f"{dt.kind}{dt.itemsize}")
    if tname is None:
        raise ZarrError(f"no v3 data_type for numpy dtype {dt} (v3 has no datetimes)")
    doc: dict[str, Any] = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(meta.shape),
        "data_type": tname,
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(meta.chunks)},
        },
        "chunk_key_encoding": {
            "name": meta.key_encoding,
            "configuration": {"separator": meta.separator},
        },
        "fill_value": meta.fill_value if meta.fill_value is not None else 0,
        "codecs": list(meta.codecs),
        "attributes": dict(meta.attrs),
    }
    if meta.dimension_names:
        doc["dimension_names"] = list(meta.dimension_names)
    return doc


def consolidate_metadata_v3(store: str) -> None:
    """Write the root group ``zarr.json`` with INLINE consolidated
    metadata (zarr-python 3's consolidated format): every v3 array node's
    document under ``consolidated_metadata.metadata``, keyed by path. v2
    sibling nodes (e.g. datetime coordinate axes, a v2-only dtype) are
    intentionally absent — :func:`open_group` merges them by walking."""
    md: dict[str, Any] = {}
    for root, _dirs, files in os.walk(store):
        if "zarr.json" not in files or os.path.abspath(root) == os.path.abspath(store):
            continue
        rel = os.path.relpath(root, store).replace(os.sep, "/")
        md[rel] = _read_json(os.path.join(root, "zarr.json"))
    doc = {
        "zarr_format": 3,
        "node_type": "group",
        "attributes": {},
        "consolidated_metadata": {
            "kind": "inline",
            "must_understand": False,
            "metadata": md,
        },
    }
    _atomic_write(os.path.join(store, "zarr.json"), json.dumps(doc, indent=1).encode())


def consolidate_metadata(store: str) -> None:
    """Write root ``.zmetadata`` (consolidated-format 1) from the files."""
    md: dict[str, Any] = {}
    for root, _dirs, files in os.walk(store):
        rel = os.path.relpath(root, store).replace(os.sep, "/")
        prefix = "" if rel == "." else rel + "/"
        for f in files:
            if f in (".zarray", ".zattrs", ".zgroup"):
                md[prefix + f] = _read_json(os.path.join(root, f))
    blob = {"zarr_consolidated_format": 1, "metadata": md}
    _atomic_write(os.path.join(store, ".zmetadata"), json.dumps(blob, indent=1).encode())


# ---------------------------------------------------------------------------
# Codecs — numcodecs-config-compatible, stdlib implementations
# ---------------------------------------------------------------------------

# zarr v3 blosc codec shuffle names → numcodecs/c-blosc constants
_V3_SHUFFLE = {"noshuffle": 0, "shuffle": 1, "bitshuffle": 2}

def _compress(buf: bytes, conf: dict[str, Any] | None, itemsize: int = 1) -> bytes:
    if conf is None:
        return buf
    cid = conf.get("id")
    if cid in ("blosc", "lz4", "zstd"):
        from zarr_climate_etl_ipfs_spark.sources import blosc as _blosc

        try:
            if cid == "blosc":
                return _blosc.blosc_compress(
                    buf,
                    typesize=int(conf.get("typesize") or itemsize or 1),
                    cname=conf.get("cname", "lz4"),
                    clevel=int(conf.get("clevel", 5)),
                    shuffle=int(conf.get("shuffle", _blosc.SHUFFLE)),
                    blocksize=int(conf.get("blocksize", 0) or 0),
                )
            if cid == "lz4":
                return _blosc.lz4_nc_encode(buf, conf.get("acceleration", 1))
            return _blosc.zstd_nc_encode(buf, int(conf.get("level", 1)))
        except _blosc.BloscError as exc:
            raise ZarrError(str(exc)) from exc
    if cid == "zlib":
        return zlib.compress(buf, conf.get("level", 1))
    if cid == "gzip":
        return gzip.compress(buf, compresslevel=conf.get("level", 1))
    if cid == "bz2":
        return bz2.compress(buf, conf.get("level", 1))
    if cid == "lzma":
        return lzma.compress(
            buf,
            format=conf.get("format", lzma.FORMAT_XZ),
            check=conf.get("check", -1),
            preset=conf.get("preset"),
            filters=conf.get("filters"),
        )
    raise ZarrError(f"unknown compressor id {cid!r}")


def _decompress(buf: bytes, conf: dict[str, Any] | None) -> bytes:
    if conf is None:
        return buf
    cid = conf.get("id")
    if cid in ("blosc", "lz4", "zstd"):
        from zarr_climate_etl_ipfs_spark.sources import blosc as _blosc

        try:
            if cid == "blosc":
                return _blosc.blosc_decompress(buf)
            if cid == "lz4":
                return _blosc.lz4_nc_decode(buf)
            return _blosc.zstd_nc_decode(buf)
        except _blosc.BloscError as exc:
            raise ZarrError(str(exc)) from exc
    if cid == "zlib":
        return zlib.decompress(buf)
    if cid == "gzip":
        return gzip.decompress(buf)
    if cid == "bz2":
        return bz2.decompress(buf)
    if cid == "lzma":
        return lzma.decompress(buf, format=conf.get("format", lzma.FORMAT_XZ), filters=conf.get("filters"))
    raise ZarrError(f"unknown compressor id {cid!r}")


def _filter_encode(obj: Any, conf: dict[str, Any]) -> Any:
    """One numcodecs filter, encode direction. Array filters take/return
    flat ndarrays; byte filters take/return bytes (ndarray input is
    flattened to its buffer first, as zarr's encode pipeline does)."""
    fid = conf.get("id")
    if fid == "delta":
        arr = np.asarray(obj).reshape(-1)
        astype = np.dtype(conf.get("astype", conf["dtype"]))
        enc = np.empty(arr.shape, dtype=astype)
        if len(arr):
            enc[0] = arr[0]
            enc[1:] = np.diff(arr)
        return enc
    if fid == "fixedscaleoffset":
        arr = np.asarray(obj).reshape(-1)
        astype = np.dtype(conf.get("astype", conf["dtype"]))
        return np.around((arr - conf["offset"]) * conf["scale"]).astype(astype)
    if fid == "xchacha20poly1305":
        from zarr_climate_etl_ipfs_spark.sources import encryption

        buf = obj.tobytes() if isinstance(obj, np.ndarray) else bytes(obj)
        return encryption.xencrypt_bytes(buf, encryption.get_key(conf["key_hash"]))
    raise ZarrError(f"unknown filter id {fid!r}")


def _filter_decode(obj: Any, conf: dict[str, Any]) -> Any:
    fid = conf.get("id")
    if fid == "delta":
        astype = np.dtype(conf.get("astype", conf["dtype"]))
        arr = _as_array(obj, astype)
        dec = np.cumsum(arr, dtype=np.dtype(conf["dtype"]))
        return dec.astype(np.dtype(conf["dtype"]), copy=False)
    if fid == "fixedscaleoffset":
        astype = np.dtype(conf.get("astype", conf["dtype"]))
        arr = _as_array(obj, astype)
        dtype = np.dtype(conf["dtype"])
        return (arr.astype(dtype) / conf["scale"] + conf["offset"]).astype(dtype)
    if fid == "xchacha20poly1305":
        from zarr_climate_etl_ipfs_spark.sources import encryption

        buf = obj.tobytes() if isinstance(obj, np.ndarray) else bytes(obj)
        return encryption.xdecrypt_bytes(buf, encryption.get_key(conf["key_hash"]))
    raise ZarrError(f"unknown filter id {fid!r}")


def _as_array(obj: Any, dtype: np.dtype) -> np.ndarray:
    if isinstance(obj, np.ndarray):
        return obj.reshape(-1)
    return np.frombuffer(obj, dtype=dtype)


def _filter_keys(meta: ArrayMeta) -> dict[str, bytes]:
    """Resolve encrypted-chunk keys DRIVER-side (failing fast if a key is
    unregistered). The registry is per-process, and Spark's Python workers
    are separate processes — so the distributed read/write kernels carry
    the resolved keys in their closure and re-register them worker-side,
    the cluster equivalent of the reference's 'register at run time'
    contract (encryption.py:59-99)."""
    keys: dict[str, bytes] = {}
    for conf in meta.filters:
        if conf.get("id") == "xchacha20poly1305":
            from zarr_climate_etl_ipfs_spark.sources import encryption

            kh = conf["key_hash"]
            keys[kh] = encryption.get_key(kh)
    return keys


def _register_keys(keys: dict[str, bytes]) -> None:
    if keys:
        from zarr_climate_etl_ipfs_spark.sources import encryption

        for key in keys.values():
            encryption.register_key(key)


# -- Zarr v3 codec pipeline (array→array, array→bytes, bytes→bytes) --------

_CRC32C_TABLE = None


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the v3 ``crc32c``
    checksum codec; stdlib zlib.crc32 is plain CRC-32, a different poly."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    crc = 0xFFFFFFFF
    tab = _CRC32C_TABLE
    for b in data:
        crc = (crc >> 8) ^ tab[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


_SHARD_MISSING = 0xFFFFFFFFFFFFFFFF


def _shard_layout(meta: ArrayMeta, conf: dict[str, Any]):
    inner = tuple(conf["chunk_shape"])
    if len(inner) != len(meta.chunks):
        raise ZarrError(f"{meta.name}: shard chunk_shape {inner} rank mismatch")
    grid = tuple(-(-c // i) for c, i in zip(meta.chunks, inner))
    index_codecs = list(conf.get("index_codecs") or [{"name": "bytes"}, {"name": "crc32c"}])
    for c in index_codecs:
        if c.get("name") not in ("bytes", "crc32c"):
            raise ZarrError(f"unsupported shard index codec {c.get('name')!r}")
    has_crc = any(c.get("name") == "crc32c" for c in index_codecs)
    idx_size = int(math.prod(grid)) * 16 + (4 if has_crc else 0)
    from dataclasses import replace

    inner_meta = replace(
        meta, chunks=inner, codecs=list(conf.get("codecs") or [{"name": "bytes"}])
    )
    return inner, grid, inner_meta, idx_size, has_crc, conf.get("index_location", "end")


def _decode_shard(buf: bytes, meta: ArrayMeta, conf: dict[str, Any]) -> np.ndarray:
    """v3 ``sharding_indexed`` codec: a stored chunk is a SHARD — encoded
    inner chunks concatenated, plus a (offset, nbytes) uint64-LE index per
    inner chunk (2^64-1 pairs mark absent = all-fill inner chunks) at the
    start or end, itself run through bytes[+crc32c] index codecs."""
    inner, grid, inner_meta, idx_size, has_crc, loc = _shard_layout(meta, conf)
    raw_idx = buf[-idx_size:] if loc == "end" else buf[:idx_size]
    if has_crc:
        body, tail = raw_idx[:-4], raw_idx[-4:]
        if _crc32c(body) != int.from_bytes(tail, "little"):
            raise ZarrError(f"{meta.name}: shard index crc32c mismatch")
        raw_idx = body
    idx = np.frombuffer(raw_idx, dtype="<u8").reshape(grid + (2,))
    fill = meta.fill_scalar()
    out = np.full(meta.chunks, 0 if fill is None else fill, dtype=meta.np_dtype)
    for pos in np.ndindex(*grid):
        off, nb = (int(v) for v in idx[pos])
        if off == _SHARD_MISSING:
            continue
        sub = _decode_chunk_v3(buf[off: off + nb], inner_meta)
        sel = tuple(
            slice(p * i, min((p + 1) * i, c))
            for p, i, c in zip(pos, inner, meta.chunks)
        )
        out[sel] = sub[tuple(slice(0, s.stop - s.start) for s in sel)]
    return out


def _encode_shard(arr: np.ndarray, meta: ArrayMeta, conf: dict[str, Any]) -> bytes:
    inner, grid, inner_meta, _idx_size, has_crc, loc = _shard_layout(meta, conf)
    blobs: list[bytes] = []
    idx = np.full(grid + (2,), _SHARD_MISSING, dtype="<u8")
    offset = 0 if loc == "end" else _idx_size
    for pos in np.ndindex(*grid):
        sel = tuple(
            slice(p * i, min((p + 1) * i, c))
            for p, i, c in zip(pos, inner, meta.chunks)
        )
        block = np.asarray(arr[sel])
        if block.shape != inner:  # pad edge inner chunks to full size
            fill = meta.fill_scalar()
            full = np.full(inner, 0 if fill is None else fill, dtype=meta.np_dtype)
            full[tuple(slice(0, e) for e in block.shape)] = block
            block = full
        blob = _encode_chunk_v3(block, inner_meta)
        idx[pos] = (offset, len(blob))
        offset += len(blob)
        blobs.append(blob)
    raw_idx = idx.tobytes()
    if has_crc:
        raw_idx += _crc32c(raw_idx).to_bytes(4, "little")
    body = b"".join(blobs)
    return body + raw_idx if loc == "end" else raw_idx + body


def _encode_chunk_v3(arr: np.ndarray, meta: ArrayMeta) -> bytes:
    """Forward codec pipeline: array→array codecs, the ``bytes`` codec,
    then bytes→bytes codecs (v3 core spec §codecs)."""
    if meta.codecs and meta.codecs[0].get("name") == "sharding_indexed":
        return _encode_shard(
            np.asarray(arr, dtype=meta.np_dtype),
            meta,
            meta.codecs[0].get("configuration") or {},
        )
    cur: Any = np.asarray(arr, dtype=meta.np_dtype)
    saw_bytes = False
    for c in meta.codecs:
        cname, conf = c.get("name"), c.get("configuration") or {}
        if cname == "transpose":
            cur = np.transpose(cur, axes=conf.get("order"))
        elif cname == "bytes":
            cur = np.ascontiguousarray(cur).tobytes()
            saw_bytes = True
        elif cname == "gzip":
            cur = gzip.compress(bytes(cur), compresslevel=conf.get("level", 1))
        elif cname == "crc32c":
            cur = bytes(cur)
            cur = cur + _crc32c(cur).to_bytes(4, "little")
        elif cname in ("blosc", "zstd"):
            from zarr_climate_etl_ipfs_spark.sources import blosc as _blosc

            try:
                if cname == "blosc":
                    cur = _blosc.blosc_compress(
                        bytes(cur),
                        typesize=int(conf.get("typesize") or meta.np_dtype.itemsize),
                        cname=conf.get("cname", "zstd"),
                        clevel=int(conf.get("clevel", 5)),
                        shuffle=_V3_SHUFFLE.get(conf.get("shuffle", "noshuffle"), 0),
                        blocksize=int(conf.get("blocksize", 0) or 0),
                    )
                else:
                    # written without the optional xxhash64 checksum; readers
                    # accept frames either way (RFC 8878 makes it optional)
                    cur = _blosc.zstd_nc_encode(bytes(cur), int(conf.get("level", 0) or 1))
            except _blosc.BloscError as exc:
                raise ZarrError(str(exc)) from exc
        else:
            raise ZarrError(f"unknown v3 codec {cname!r}")
    if not saw_bytes:  # spec: exactly one array→bytes codec is required
        cur = np.ascontiguousarray(cur).tobytes()
    return bytes(cur)


def _decode_chunk_v3(buf: bytes, meta: ArrayMeta) -> np.ndarray:
    if meta.codecs and meta.codecs[0].get("name") == "sharding_indexed":
        return _decode_shard(buf, meta, meta.codecs[0].get("configuration") or {})
    cur: Any = buf
    # bytes→bytes codecs, reversed, down to (and including) "bytes"
    arr: np.ndarray | None = None
    post_bytes: list[dict[str, Any]] = []  # array→array codecs, forward order
    pipeline = list(meta.codecs)
    if not any(c.get("name") == "bytes" for c in pipeline):
        pipeline.append({"name": "bytes"})
    for c in reversed(pipeline):
        cname, conf = c.get("name"), c.get("configuration") or {}
        if arr is None:
            if cname == "gzip":
                cur = gzip.decompress(cur)
            elif cname == "crc32c":
                body, tail = cur[:-4], cur[-4:]
                if _crc32c(body) != int.from_bytes(tail, "little"):
                    raise ZarrError(f"{meta.name}: crc32c checksum mismatch")
                cur = body
            elif cname == "bytes":
                arr = np.frombuffer(cur, dtype=meta.np_dtype)
            elif cname in ("blosc", "zstd"):
                from zarr_climate_etl_ipfs_spark.sources import blosc as _blosc

                try:
                    cur = (
                        _blosc.blosc_decompress(cur)
                        if cname == "blosc"
                        else _blosc.zstd_nc_decode(cur)
                    )
                except _blosc.BloscError as exc:
                    raise ZarrError(str(exc)) from exc
            elif cname == "transpose":
                post_bytes.insert(0, c)
            else:
                raise ZarrError(f"unknown v3 codec {cname!r}")
        else:
            if cname == "transpose":
                post_bytes.insert(0, c)
            else:
                raise ZarrError(f"v3 codec {cname!r} on the array side is unsupported")
    assert arr is not None
    expected = int(math.prod(meta.chunks)) if meta.chunks else 1
    if arr.size != expected:
        raise ZarrError(f"{meta.name}: chunk has {arr.size} elements, expected {expected}")
    # the encoded array may be a transposed view of the chunk — reshape to
    # the transposed shape, then invert each transpose (reverse order)
    shape = tuple(meta.chunks)
    for c in post_bytes:
        order = (c.get("configuration") or {}).get("order")
        if order:
            shape = tuple(shape[i] for i in order)
    arr = arr.reshape(shape)
    for c in reversed(post_bytes):
        order = (c.get("configuration") or {}).get("order")
        if order:
            inv = np.argsort(order)
            arr = np.transpose(arr, axes=inv)
    return np.ascontiguousarray(arr)


def encode_chunk(arr: np.ndarray, meta: ArrayMeta) -> bytes:
    """Full-shape chunk ndarray → stored bytes (filters then compressor)."""
    if meta.zarr_format == 3:
        return _encode_chunk_v3(arr, meta)
    obj: Any = np.asarray(arr, dtype=meta.np_dtype)
    if isinstance(obj, np.ndarray) and obj.ndim > 1:
        obj = obj.ravel(order=meta.order)
    for conf in meta.filters:
        obj = _filter_encode(obj, conf)
    # blosc shuffles by element lanes: the typesize is the POST-filter
    # itemsize (a delta/astype filter changes it), numcodecs' behavior
    itemsize = obj.dtype.itemsize if isinstance(obj, np.ndarray) else meta.np_dtype.itemsize
    buf = obj.tobytes() if isinstance(obj, np.ndarray) else bytes(obj)
    return _compress(buf, meta.compressor, itemsize)


def decode_chunk(buf: bytes, meta: ArrayMeta) -> np.ndarray:
    """Stored bytes → full-shape chunk ndarray (compressor then filters,
    reversed). Edge chunks are stored FULL-size per spec; callers trim."""
    if meta.zarr_format == 3:
        return _decode_chunk_v3(buf, meta)
    obj: Any = _decompress(buf, meta.compressor)
    for conf in reversed(meta.filters):
        obj = _filter_decode(obj, conf)
    arr = _as_array(obj, meta.np_dtype).astype(meta.np_dtype, copy=False)
    expected = int(math.prod(meta.chunks)) if meta.chunks else 1
    if arr.size != expected:
        raise ZarrError(
            f"{meta.name}: chunk has {arr.size} elements, expected {expected}"
        )
    return arr.reshape(meta.chunks, order=meta.order)


# ---------------------------------------------------------------------------
# Driver-side whole-array access (coordinate axes, fixtures, tests)
# ---------------------------------------------------------------------------


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def read_zarr_array_local(store: str, name: str, meta: ArrayMeta | None = None) -> np.ndarray:
    """Assemble one whole array driver-side. Missing chunks read as fill
    (spec: an absent chunk key denotes an all-fill chunk)."""
    if meta is None:
        meta = open_group(store)[name]
    out_fill = meta.fill_scalar()
    out = np.full(meta.shape, 0 if out_fill is None else out_fill, dtype=meta.np_dtype)
    base = os.path.join(store, *name.split("/")) if name else store
    for idx in np.ndindex(*meta.chunk_grid) if meta.shape else [()]:
        path = os.path.join(base, *meta.chunk_key(tuple(idx)).split("/"))
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            chunk = decode_chunk(f.read(), meta)
        sel = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(idx, meta.chunks, meta.shape)
        )
        valid = tuple(slice(0, sl.stop - sl.start) for sl in sel)
        out[sel] = chunk[valid]
    return out


def write_zarr_array_local(
    store: str,
    name: str,
    arr: np.ndarray,
    chunks: tuple[int, ...] | None = None,
    compressor: dict[str, Any] | None = None,
    filters: list[dict[str, Any]] | None = None,
    attrs: dict[str, Any] | None = None,
    fill_value: Any = None,
    order: str = "C",
    separator: str = ".",
) -> ArrayMeta:
    """Driver-side array writer (coordinate axes, fixtures). One chunk per
    grid cell, ``.zarray``/``.zattrs`` per spec. Not the 100 TB path —
    that's :func:`write_zarr_tall`."""
    arr = np.asarray(arr)
    chunks = tuple(chunks) if chunks else tuple(max(1, s) for s in arr.shape)
    meta = ArrayMeta(
        name=name,
        shape=tuple(arr.shape),
        chunks=chunks,
        dtype=arr.dtype.str,
        order=order,
        fill_value=encode_fill(fill_value, arr.dtype),
        compressor=compressor,
        filters=list(filters or []),
        separator=separator,
        attrs=dict(attrs or {}),
    )
    base = os.path.join(store, *name.split("/")) if name else store
    os.makedirs(base, exist_ok=True)
    for idx in np.ndindex(*meta.chunk_grid) if arr.shape else [()]:
        sel = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(idx, chunks, arr.shape)
        )
        block = arr[sel]
        if block.shape != chunks:  # pad edge chunks to full size, per spec
            fill = meta.fill_scalar()
            full = np.full(chunks, 0 if fill is None else fill, dtype=arr.dtype)
            full[tuple(slice(0, e) for e in block.shape)] = block
            block = full
        key = meta.chunk_key(tuple(idx))
        path = os.path.join(base, *key.split("/"))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _atomic_write(path, encode_chunk(block, meta))
    _atomic_write(os.path.join(base, ".zarray"), json.dumps(meta.to_zarray(), indent=1).encode())
    if meta.attrs:
        _atomic_write(os.path.join(base, ".zattrs"), json.dumps(meta.attrs, indent=1).encode())
    return meta


def _expand_kerchunk_templates(
    table: dict[str, Any],
    templates: dict[str, str],
    gen: list[dict[str, Any]],
) -> dict[str, Any]:
    """Expand a kerchunk version-1 ``templates``/``gen`` section into plain
    refs (the fsspec ReferenceFileSystem expansion, from the published
    kerchunk spec): ``{{name}}`` in a ref URL substitutes a template;
    each ``gen`` entry is a cartesian product over its ``dimensions``
    (``{"stop"}``/``{"start","stop","step"}`` ranges or explicit lists),
    rendering jinja expressions like ``{{(i + 1) * 1000}}`` in the key,
    url, offset and length. The spec's template language IS jinja; render
    through a SandboxedEnvironment since refs JSON is untrusted input."""
    try:
        from jinja2.sandbox import SandboxedEnvironment
    except ImportError as exc:  # pragma: no cover — jinja2 ships here
        raise ZarrError("templated kerchunk refs need jinja2") from exc
    env_cls = SandboxedEnvironment()

    def render(text: str, env: dict[str, Any]) -> str:
        out = str(text)
        for _ in range(3):  # a template may reference another template
            if "{{" not in out:
                break
            out = env_cls.from_string(out).render(**env)
        return out

    out: dict[str, Any] = {}
    for key, val in table.items():
        if isinstance(val, list) and val and isinstance(val[0], str) and "{{" in val[0]:
            val = [render(val[0], templates), *val[1:]]
        out[key] = val
    for g in gen:
        dims: dict[str, Any] = {}
        for name, spec in (g.get("dimensions") or {}).items():
            if isinstance(spec, dict):
                dims[name] = range(
                    int(spec.get("start", 0)), int(spec["stop"]), int(spec.get("step", 1))
                )
            else:
                dims[name] = list(spec)
        names = list(dims)
        for combo in itertools.product(*(dims[n] for n in names)):
            e = {**templates, **dict(zip(names, combo))}
            entry: list[Any] = [render(g["url"], e)]
            off, ln = g.get("offset"), g.get("length")
            if off is not None and ln is not None:
                entry.append(off if isinstance(off, int) else int(render(off, e)))
                entry.append(ln if isinstance(ln, int) else int(render(ln, e)))
            out[render(g["key"], e)] = entry
    return out


def _http_range_fetch(url: str, offset: int | None, length: int | None, key: str) -> bytes:
    """Fetch one kerchunk byte-range over HTTP with the stdlib only (no
    fsspec): a ranged GET when (offset, length) are given, falling back to
    slicing a 200 full-body response when the server ignores Range.
    Scheme is validated http/https by the caller (S310: no file:// or
    data:// smuggling through a refs doc). Errors rewrap as ZarrError —
    refs JSON is untrusted input."""
    import urllib.request as _rq

    req = _rq.Request(url)
    if offset is not None and length is not None and length > 0:
        req.add_header("Range", f"bytes={offset}-{offset + length - 1}")
    try:
        with _rq.urlopen(req, timeout=30) as resp:  # noqa: S310 — scheme checked
            status = getattr(resp, "status", 200)
            body = resp.read()
    except (OSError, ValueError) as exc:  # URLError is an OSError
        raise ZarrError(f"ref {key!r}: HTTP fetch of {url!r} failed: {exc}") from exc
    if offset is not None and length is not None:
        if status != 206:  # server ignored Range: slice the full body
            body = body[offset : offset + length]
        if len(body) != length:
            raise ZarrError(
                f"ref {key!r}: short range read from {url!r} "
                f"({len(body)} != {length})"
            )
    return body


def materialize_kerchunk_refs(
    refs: dict[str, Any] | str,
    dest: str,
    base_dir: str | None = None,
    opener: Any = None,
) -> str:
    """Write a kerchunk reference set to an on-disk Zarr store.

    The refs JSON is the reference pipeline's central artifact — the
    virtual Zarr it builds per input file and combines across files
    (utils/transform.py ``create_zarr_json``/``zarr_json_to_dataset``,
    SURVEY §2 S9/S10; dm.zarr_jsons). This materializes one so the
    distributed reader can open it without the ``reference://`` fsspec
    engine: accepts a path or dict, version-1 ``{"version", "refs"}``
    wrappers (including ``templates``/``gen`` sections, expanded per the
    kerchunk spec) or the bare key→value map; inline values are raw
    latin-1 bytes or ``base64:``-prefixed; ``[path, offset, length]``
    triples are resolved against the LOCAL filesystem (``file://`` URLs,
    or paths relative to ``base_dir``).

    Remote (http/s3/...) byte-ranges: pass ``opener`` — any callable
    ``url -> binary file-like`` supporting ``seek``/``read`` (e.g.
    ``fsspec.open(url, "rb").open``, or ``lambda u:
    s3fs.S3FileSystem().open(u)``). Without one they raise a named
    error: this environment has no network stack to validate against,
    so remote IO is the CALLER's dependency, injected rather than
    half-implemented here (reference parity: S6's S3 extract,
    utils/extractor.py:312-397, delegates to fsspec the same way).
    Refs metadata is small by design (it is the index, not the data),
    so this is a driver-side step."""
    if isinstance(refs, str):
        refs = _read_json(refs)
    if "refs" in refs and isinstance(refs["refs"], dict):
        templates = {k: str(v) for k, v in (refs.get("templates") or {}).items()}
        gen = list(refs.get("gen") or [])
        table = dict(refs["refs"])
        if templates or gen:
            table = _expand_kerchunk_templates(table, templates, gen)
        refs = table
    os.makedirs(dest, exist_ok=True)
    for key, val in refs.items():
        path = os.path.join(dest, *key.split("/"))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if isinstance(val, str):
            # refs JSON is untrusted input: a corrupt inline value must
            # raise the contract error, not leak binascii/codec errors
            try:
                if val.startswith("base64:"):
                    # validate=True: without it, non-alphabet characters
                    # are silently DISCARDED (only bad padding raises), so
                    # a corrupt inline ref would decode to wrong bytes
                    # instead of raising the contract error
                    data = base64.b64decode(val[len("base64:"):], validate=True)
                else:
                    data = val.encode("latin-1")
            except (ValueError, UnicodeEncodeError) as exc:
                raise ZarrError(f"ref {key!r}: undecodable inline value: {exc}") from exc
        elif isinstance(val, list) and val and isinstance(val[0], str):
            url = val[0]
            if "://" in url and not url.startswith("file://"):
                if opener is None and url.split("://", 1)[0] in ("http", "https"):
                    # stdlib default path: ranged GET per ref (S6 parity —
                    # the reference fetches remote refs transparently);
                    # non-HTTP schemes still need an injected opener
                    try:
                        off = int(val[1]) if len(val) >= 3 else None
                        ln = int(val[2]) if len(val) >= 3 else None
                    except (ValueError, TypeError) as exc:
                        raise ZarrError(f"ref {key!r}: bad byte range: {exc}") from exc
                    data = _http_range_fetch(url, off, ln, key)
                    _atomic_write(path, data)
                    continue
                if opener is None:
                    raise ZarrError(
                        f"ref {key!r} points at {url!r}: non-HTTP remote "
                        f"byte-ranges need an opener= (e.g. "
                        f"fsspec.open(url, 'rb').open)"
                    )
                f = opener(url)
            else:
                src = url[len("file://"):] if url.startswith("file://") else url
                if base_dir is not None and not os.path.isabs(src):
                    src = os.path.join(base_dir, src)
                try:
                    f = open(src, "rb")
                except OSError as exc:
                    raise ZarrError(f"ref {key!r}: cannot open {src!r}: {exc}") from exc
            with f:
                try:
                    if len(val) >= 3:
                        f.seek(int(val[1]))
                        data = f.read(int(val[2]))
                    else:
                        data = f.read()
                except (ValueError, TypeError, OSError) as exc:
                    # corrupt offset/length in an untrusted refs doc
                    raise ZarrError(f"ref {key!r}: bad byte range: {exc}") from exc
        else:
            raise ZarrError(f"unsupported ref value for {key!r}: {type(val).__name__}")
        _atomic_write(path, data)
    return dest


def write_zarr3_array_local(
    store: str,
    name: str,
    arr: np.ndarray,
    chunks: tuple[int, ...] | None = None,
    codecs: list[dict[str, Any]] | None = None,
    attrs: dict[str, Any] | None = None,
    fill_value: Any = None,
    dimension_names: list[str] | None = None,
    chunk_key_encoding: dict[str, Any] | None = None,
) -> ArrayMeta:
    """Minimal Zarr v3 array writer (fixtures, round-trip tests): one
    ``zarr.json`` per node + chunk files under the v3 key encoding. The
    production sink stays v2 (the reference's format); this exists so the
    v3 READ path is tested against bytes written from the v3 spec."""
    arr = np.asarray(arr)
    tname = _V3_DTYPE_NAMES.get(f"{arr.dtype.kind}{arr.dtype.itemsize}")
    if tname is None:
        raise ZarrError(f"no v3 data_type for numpy dtype {arr.dtype}")
    chunks = tuple(chunks) if chunks else tuple(max(1, s) for s in arr.shape)
    doc: dict[str, Any] = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(arr.shape),
        "data_type": tname,
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": list(chunks)}},
        "chunk_key_encoding": chunk_key_encoding
        or {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": None,
        "codecs": codecs or [{"name": "bytes", "configuration": {"endian": "little"}}],
        "attributes": dict(attrs or {}),
    }
    if dimension_names is not None:
        doc["dimension_names"] = list(dimension_names)
    meta = _meta_from_v3_json(name, doc)
    doc["fill_value"] = encode_fill(
        meta.np_dtype.type(fill_value) if fill_value is not None else None, meta.np_dtype
    )
    meta.fill_value = doc["fill_value"]
    base = os.path.join(store, *name.split("/")) if name else store
    os.makedirs(base, exist_ok=True)
    for idx in np.ndindex(*meta.chunk_grid) if arr.shape else [()]:
        sel = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(idx, chunks, arr.shape)
        )
        block = arr[sel]
        if block.shape != chunks:
            fill = meta.fill_scalar()
            full = np.full(chunks, 0 if fill is None else fill, dtype=arr.dtype)
            full[tuple(slice(0, e) for e in block.shape)] = block
            block = full
        path = os.path.join(base, *meta.chunk_key(tuple(idx)).split("/"))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _atomic_write(path, encode_chunk(block, meta))
    _atomic_write(os.path.join(base, "zarr.json"), json.dumps(doc, indent=1).encode())
    root_doc = os.path.join(store, "zarr.json")
    if name and not os.path.exists(root_doc):
        _atomic_write(
            root_doc, json.dumps({"zarr_format": 3, "node_type": "group"}).encode()
        )
    return meta


# ---------------------------------------------------------------------------
# Distributed read — tall DataFrame over chunk ordinals
# ---------------------------------------------------------------------------

_SPARK_TYPE = {"f8": "double", "f4": "float", "i8": "bigint", "i4": "int", "i2": "smallint", "i1": "tinyint", "u1": "smallint", "u2": "int", "u4": "bigint", "b1": "boolean"}


def _spark_type(dtype: np.dtype) -> str:
    if dtype.kind == "M":
        return "timestamp"
    if dtype.kind in "SU":
        return "string"
    t = _SPARK_TYPE.get(f"{dtype.kind}{dtype.itemsize}")
    if t is None:
        raise ZarrError(f"no Spark mapping for dtype {dtype}")
    return t


def _pick_data_var(metas: dict[str, ArrayMeta]) -> str:
    """The data variable = the array that is not its own (1-D) coordinate
    axis, preferring highest rank — xarray's coords-vs-data split."""
    cands = [
        m for m in metas.values()
        if not (len(m.shape) == 1 and m.dims == [m.name])
    ]
    if not cands:
        raise ZarrError("store holds only coordinate axes; pass var= explicitly")
    cands.sort(key=lambda m: (-len(m.shape), m.name))
    if len(cands) > 1 and len(cands[0].shape) == len(cands[1].shape):
        names = [m.name for m in cands]
        raise ZarrError(f"ambiguous data variable {names}; pass var= explicitly")
    return cands[0].name


def read_zarr_tall(
    spark: SparkSession,
    store: str,
    var: str | None = None,
    dims: list[str] | None = None,
    bounds: dict[str, tuple[Any, Any]] | None = None,
    skip_fill: bool = False,
    mask_fill: bool = False,
) -> DataFrame:
    """Open a Zarr v2 store as a tall ``(dim…, value)`` DataFrame.

    The distributed S10/S11 analog (utils/store.py ``dataset()``,
    transform.py ``zarr_json_to_dataset``): chunk tasks come from
    ``spark.range(n_chunks)`` — no driver enumeration — and each task
    reads+decodes its chunk file and emits rows with real coordinate
    values from the broadcast 1-D axes. ``bounds={dim: (lo, hi)}``
    (inclusive) prunes whole chunks via JVM arithmetic on the ordinal
    before any file is opened — the date-range partition-pruning analog
    (store.py:230-256) — then re-applies the exact predicate on decoded
    rows. ``skip_fill`` drops fill-valued cells (absent chunks are skipped
    without emitting); ``mask_fill`` turns them into NULL (F6).
    """
    metas = open_group(store)
    if var is None:
        var = _pick_data_var(metas)
    meta = metas[var]
    dims = dims or meta.dims
    if dims is None or len(dims) != len(meta.shape):
        raise ZarrError(
            f"{var}: need one dim name per axis (shape {meta.shape}); "
            f"store attrs carry {meta.dims!r} — pass dims= explicitly"
        )
    coords: dict[str, np.ndarray] = {}
    for d, n in zip(dims, meta.shape):
        if d in metas and len(metas[d].shape) == 1 and metas[d].shape[0] == n:
            coords[d] = read_zarr_array_local(store, d, metas[d])
        else:  # bare positional axis — integer index coordinate
            coords[d] = np.arange(n, dtype=np.int64)

    grid = meta.chunk_grid
    strides = [int(math.prod(grid[i + 1:])) for i in range(len(grid))]

    df = spark.range(meta.n_chunks).toDF("__ordinal")
    # chunk-grid pruning: a chunk survives iff, on every bounded axis, some
    # coordinate inside its span falls in [lo, hi] — computed driver-side on
    # the axis (tiny), enforced executor-side by pure JVM ordinal arithmetic
    if bounds:
        for axis, d in enumerate(dims):
            if d not in bounds:
                continue
            lo, hi = bounds[d]
            ax = coords[d]
            lo_v = _coerce_bound(lo, ax.dtype)
            hi_v = _coerce_bound(hi, ax.dtype)
            in_rng = (ax >= lo_v) & (ax <= hi_v)
            c = meta.chunks[axis]
            allowed = sorted(
                {int(i // c) for i in np.nonzero(in_rng)[0]}
            )
            idx_col = (F.col("__ordinal") / strides[axis]).cast("long") % grid[axis]
            if not allowed:
                df = df.filter(F.lit(False))
            elif allowed == list(range(allowed[0], allowed[-1] + 1)):
                df = df.filter(idx_col.between(allowed[0], allowed[-1]))
            else:
                df = df.filter(idx_col.isin(allowed))

    schema = ", ".join(
        [f"`{d}` {_spark_type(coords[d].dtype)}" for d in dims]
        + [f"`{var}` {_spark_type(meta.np_dtype)}"]
    )
    sc = spark.sparkContext
    b_coords = sc.broadcast(coords)
    b_meta = sc.broadcast(meta)
    base = os.path.join(store, *var.split("/"))
    fill = meta.fill_scalar()
    dims_t = list(dims)
    enc_keys = _filter_keys(meta)

    def kernel(batches):
        _register_keys(enc_keys)
        m: ArrayMeta = b_meta.value
        axes = b_coords.value
        g, ch, sh = m.chunk_grid, m.chunks, m.shape
        st = [int(math.prod(g[i + 1:])) for i in range(len(g))]
        for pdf in batches:
            for ordinal in pdf["__ordinal"].to_numpy():
                idx = tuple(int(ordinal // st[a]) % g[a] for a in range(len(g)))
                path = os.path.join(base, *m.chunk_key(idx).split("/"))
                try:
                    with open(path, "rb") as f:
                        raw = f.read()
                except FileNotFoundError:
                    if skip_fill or fill is None:
                        continue  # absent chunk = all fill
                    raw = None
                valid = tuple(
                    min(ch[a], sh[a] - idx[a] * ch[a]) for a in range(len(ch))
                )
                if raw is None:
                    vals = np.full(valid, fill, dtype=m.np_dtype)
                else:
                    chunk = decode_chunk(raw, m)
                    vals = chunk[tuple(slice(0, v) for v in valid)]
                axis_slices = [
                    axes[d][idx[a] * ch[a]: idx[a] * ch[a] + valid[a]]
                    for a, d in enumerate(dims_t)
                ]
                mesh = np.meshgrid(*axis_slices, indexing="ij") if axis_slices else []
                data = {d: mg.ravel() for d, mg in zip(dims_t, mesh)}
                flat = vals.ravel()
                if m.np_dtype.kind == "S":
                    flat = np.char.decode(flat, "utf-8")
                data[var] = flat
                yield pd.DataFrame(data)

    out = df.mapInPandas(kernel, schema=schema)
    if fill is not None and (skip_fill or mask_fill):
        c = F.col(var)
        is_fill = (
            F.isnan(c)
            if meta.np_dtype.kind == "f" and np.isnan(fill)
            else c == F.lit(fill.item() if hasattr(fill, "item") else fill)
        )
        if skip_fill:
            out = out.filter(~is_fill)
        else:
            out = out.withColumn(var, F.when(is_fill, F.lit(None)).otherwise(c))
    if bounds:
        for d, (lo, hi) in bounds.items():
            out = out.filter(F.col(d).between(F.lit(lo), F.lit(hi)))
    return out


def _coerce_bound(v: Any, dtype: np.dtype) -> Any:
    if dtype.kind == "M":
        return np.datetime64(pd.Timestamp(v).to_datetime64())
    return v


# ---------------------------------------------------------------------------
# Distributed write — the write_initial_zarr sink
# ---------------------------------------------------------------------------

_NP_OF_SPARK = {"double": "<f8", "float": "<f4", "bigint": "<i8", "int": "<i4", "smallint": "<i2", "tinyint": "<i1", "boolean": "|b1", "timestamp": "<M8[ns]", "timestamp_ntz": "<M8[ns]"}


def write_zarr_tall(
    df: DataFrame,
    store: str,
    var: str,
    dims: list[str],
    chunks: tuple[int, ...] | None = None,
    compressor: dict[str, Any] | None = None,
    filters: list[dict[str, Any]] | None = None,
    fill_value: Any = 0,
    attrs: dict[str, Any] | None = None,
    overwrite: bool = False,
    on_duplicates: str = "error",
    zarr_format: int = 2,
    codecs: list[dict[str, Any]] | None = None,
) -> dict[str, Any]:
    """Write a tall ``(dim…, value)`` DataFrame as a Zarr v2 group —
    or, with ``zarr_format=3``, a Zarr v3 group (zarr-python 3's default
    format): per-node ``zarr.json``, ``c/``-keyed chunks, a v3 ``codecs``
    pipeline (default ``bytes``+``zstd``; pass a ``sharding_indexed``
    config to write SHARDS — the kernel encodes whole shards per grid
    cell), first-class ``dimension_names``, and a root group with inline
    consolidated metadata. Datetime coordinate axes have no v3 dtype and
    are written as v2 siblings, which :func:`open_group` merges — the
    exact mixed-store shape the v3 READ dialect already handles.

    The reference's initial-write sink (publish.py:240-261
    ``write_initial_zarr``: rechunk → ``to_zarr`` → consolidate)
    re-expressed for Spark's execution model:

      1. coordinate axes = sorted distinct values per dim, resolved in ONE
         aggregate job and kept driver-side (axis-sized, not data-sized) —
         written as 1-D coordinate arrays with ``_ARRAY_DIMENSIONS``;
      2. each cell row is mapped to (chunk ordinal, in-chunk offset) by
         BROADCAST joins against the tiny coord→index tables plus pure JVM
         integer arithmetic — no Python in the routing path;
      3. one shuffle, on the chunk ordinal (the layout's intrinsic
         grouping), then ``applyInPandas`` assembles each chunk ndarray,
         pads with ``fill_value``, encodes (filters+compressor), and
         writes the chunk file executor-side (tmp + atomic rename; shared
         filesystem or object store assumed, as for any parallel zarr
         writer);
      4. the driver writes ``.zarray``/``.zattrs``/``.zgroup`` and
         consolidates ``.zmetadata`` after the job succeeds — metadata
         commit AFTER data, the same ordering GridStore's manifest commit
         uses.

    ``on_duplicates="error"`` raises inside the kernel when two input rows
    land on the same cell (cheap: one ``np.unique`` per chunk); ``"any"``
    keeps an arbitrary one. Empty input produces a valid all-empty store.
    Compressor default: blosc lz4+shuffle — zarr-python's own v2
    default, and measured 3.7× faster than zlib-1 through this sink at
    equal stored size (SCALE.md codec-kernels section).
    """
    if zarr_format not in (2, 3):
        raise ZarrError(f"zarr_format must be 2 or 3, not {zarr_format}")
    if zarr_format == 3:
        if compressor is not None or filters:
            raise ZarrError(
                "zarr v3 takes a codecs= pipeline, not compressor=/filters="
            )
    else:
        if codecs is not None:
            raise ZarrError("codecs= is a zarr v3 option; v2 takes compressor=")
        if compressor is None:
            compressor = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1}
    if on_duplicates not in ("error", "any"):
        raise ZarrError(f"on_duplicates must be 'error' or 'any', not {on_duplicates!r}")
    if chunks is not None and len(chunks) != len(dims):
        raise ZarrError(f"chunks {chunks} must have one entry per dim {dims}")
    dtypes = dict(df.dtypes)
    missing = [c for c in [*dims, var] if c not in dtypes]
    if missing:
        raise ZarrError(f"columns {missing} not in DataFrame ({list(dtypes)})")
    claim_dir(store, overwrite, ZarrError)

    spark = df.sparkSession
    # one job: every axis's distinct values (axis-sized — driver-safe by
    # the same bound that makes zarr coordinate arrays single-chunk JSON)
    sets = df.agg(*[F.collect_set(d).alias(d) for d in dims]).collect()[0]
    coords: dict[str, np.ndarray] = {}
    for d in dims:
        np_t = _NP_OF_SPARK.get(dtypes[d])
        if np_t is None:
            raise ZarrError(f"dim {d!r}: no zarr mapping for Spark type {dtypes[d]!r}")
        vals = sets[d] or []
        if np_t == "<M8[ns]":
            ax = pd.DatetimeIndex(vals).values
        else:
            ax = np.asarray(vals, dtype=np.dtype(np_t))
        ax = np.sort(ax)
        coords[d] = ax.astype(np.dtype(np_t), copy=False)

    np_val_t = _NP_OF_SPARK.get(dtypes[var])
    if np_val_t is None:
        raise ZarrError(f"value {var!r}: no zarr mapping for Spark type {dtypes[var]!r}")
    val_dtype = np.dtype(np_val_t)

    if chunks is None:
        # default chunking: slab the leading (time-like) axis, keep the
        # trailing spatial axes whole — the reference's own chunk shape
        # (attributes.py dask/zarr chunk config: time-major slabs)
        chunks = tuple(
            max(1, min(256, len(coords[d]))) if i == 0 else max(1, len(coords[d]))
            for i, d in enumerate(dims)
        )

    if zarr_format == 3:
        meta = ArrayMeta(
            name=var,
            shape=tuple(len(coords[d]) for d in dims),
            chunks=tuple(chunks),
            dtype=val_dtype.str,
            # v3 requires a fill_value; None coerces to the dtype's zero
            fill_value=encode_fill(
                val_dtype.type(fill_value if fill_value is not None else 0), val_dtype
            ),
            attrs=dict(attrs or {}),
            zarr_format=3,
            codecs=list(codecs)
            if codecs
            else [
                {"name": "bytes", "configuration": {"endian": "little"}},
                {"name": "zstd", "configuration": {"level": 0, "checksum": False}},
            ],
            dimension_names=list(dims),
            key_encoding="default",
            separator="/",
        )
        _v3_doc_from_meta(meta)  # fail fast on un-v3-able dtypes
    else:
        meta = ArrayMeta(
            name=var,
            shape=tuple(len(coords[d]) for d in dims),
            chunks=tuple(chunks),
            dtype=val_dtype.str,
            fill_value=encode_fill(val_dtype.type(fill_value) if fill_value is not None else None, val_dtype),
            compressor=compressor,
            filters=list(filters or []),
            attrs={DIM_ATTR: list(dims), **(attrs or {})},
        )
    grid = meta.chunk_grid
    strides = [int(math.prod(grid[i + 1:])) for i in range(len(grid))]
    offs = [int(math.prod(chunks[i + 1:])) for i in range(len(chunks))]

    # Routing-loss guard: the coord-index INNER joins below can only drop a
    # row if its dim value missed the collect_set pass — a nondeterministic
    # input (or NULL dim values, or a source mutated between the two jobs)
    # would otherwise be silently truncated in the written store. Count the
    # pre-join rows via an Observation (materializes with the stats job —
    # no extra action) and fail loudly on any mismatch.
    from pyspark.sql import Observation as _Observation

    _obs = _Observation()
    cells = df.select(*dims, F.col(var).alias("__val")).observe(
        _obs, F.count(F.lit(1)).alias("n_in")
    )
    ordinal = F.lit(0).cast("long")
    offset = F.lit(0).cast("long")
    for a, d in enumerate(dims):
        idx_df = spark.createDataFrame(
            pd.DataFrame({d: pd.Series(coords[d]), f"__i_{d}": np.arange(len(coords[d]), dtype=np.int64)})
        ) if len(coords[d]) else spark.createDataFrame([], f"`{d}` {dtypes[d]}, `__i_{d}` bigint")
        cells = cells.join(F.broadcast(idx_df), on=d, how="inner")
        i = F.col(f"__i_{d}")
        ordinal = ordinal + (i / chunks[a]).cast("long") * strides[a]
        offset = offset + (i % chunks[a]) * offs[a]
    cells = cells.select(
        ordinal.alias("__ordinal"), offset.alias("__offset"), "__val"
    )

    base = os.path.join(store, *var.split("/"))
    os.makedirs(base, exist_ok=True)
    fill = meta.fill_scalar()
    n_cell_total = int(math.prod(chunks))
    enc_keys = _filter_keys(meta)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        _register_keys(enc_keys)
        ordn = int(pdf["__ordinal"].iloc[0])
        off = pdf["__offset"].to_numpy()
        if on_duplicates == "error" and len(np.unique(off)) != len(off):
            raise ZarrError(
                f"duplicate cells in chunk ordinal {ordn}: pre-aggregate the "
                f"input or pass on_duplicates='any'"
            )
        flat = np.full(n_cell_total, fill if fill is not None else 0, dtype=val_dtype)
        vals = pdf["__val"].to_numpy()
        if val_dtype.kind == "M":
            vals = pd.DatetimeIndex(pdf["__val"]).values
        flat[off] = vals.astype(val_dtype, copy=False)
        idx = tuple(int(ordn // strides[a]) % grid[a] for a in range(len(grid)))
        blob = encode_chunk(flat.reshape(chunks), meta)
        key = meta.chunk_key(idx)
        path = os.path.join(base, *key.split("/"))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _atomic_write(path, blob)
        return pd.DataFrame(
            {
                "chunk_key": [key],
                "nbytes": [len(blob)],
                "n_cells": [len(pdf)],
                "sha256": [hashlib.sha256(blob).hexdigest()],
            }
        )

    manifest = cells.groupBy("__ordinal").applyInPandas(
        assemble, schema="chunk_key string, nbytes long, n_cells long, sha256 string"
    )
    stats = manifest.agg(
        F.count("*").alias("n_chunks"),
        F.coalesce(F.sum("nbytes"), F.lit(0)).alias("bytes"),
        F.coalesce(F.sum("n_cells"), F.lit(0)).alias("cells"),
    ).collect()[0]
    try:
        n_in = int(_obs.get["n_in"])
    except Exception:
        # a statically-empty input collapses to an empty LocalRelation and
        # Catalyst prunes the CollectMetrics node with it — no rows existed,
        # so there is nothing to lose; any OTHER input always materializes
        # the metrics with the write job above
        n_in = int(stats["cells"])
    if n_in != int(stats["cells"]):
        shutil.rmtree(store, ignore_errors=True)  # no partial store left live
        raise ZarrError(
            f"routing loss: {n_in} input rows but {int(stats['cells'])} cells "
            "written — dim values missed the coordinate-axis pass (NULL dim "
            "values, a nondeterministic input DataFrame, or a source mutated "
            "between the axis job and the write job)"
        )

    # data is on disk — now commit metadata (coords, array docs, group, index)
    for d in dims:
        if zarr_format == 3 and coords[d].dtype.kind != "M":
            write_zarr3_array_local(store, d, coords[d], dimension_names=[d])
        else:  # v2 store, or a datetime axis (no v3 dtype): v2 sibling
            write_zarr_array_local(
                store, d, coords[d], compressor=compressor, attrs={DIM_ATTR: [d]}
            )
    if zarr_format == 3:
        _atomic_write(
            os.path.join(base, "zarr.json"),
            json.dumps(_v3_doc_from_meta(meta), indent=1).encode(),
        )
        consolidate_metadata_v3(store)
    else:
        _atomic_write(os.path.join(base, ".zarray"), json.dumps(meta.to_zarray(), indent=1).encode())
        _atomic_write(os.path.join(base, ".zattrs"), json.dumps(meta.attrs, indent=1).encode())
        _atomic_write(os.path.join(store, ".zgroup"), json.dumps({"zarr_format": 2}).encode())
        consolidate_metadata(store)
    return {
        "n_chunks": int(stats["n_chunks"]),
        "bytes": int(stats["bytes"]),
        "cells": int(stats["cells"]),
        "shape": list(meta.shape),
    }
