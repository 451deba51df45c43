"""Pure-numpy HDF5 (NetCDF4) reader — decodes the reference's real fixtures.

The reference ingests NetCDF4 via kerchunk/h5py (utils/transform.py:204-209);
neither library is in this container, but HDF5 is a published, stable format
(the HDF5 File Format Specification, The HDF Group) and the subset netCDF4
writes is small. This module implements exactly that subset from the spec
with stdlib struct/zlib + numpy:

  - superblocks v0/v1 (symbol-table root) and v2/v3 (root object header);
  - object headers v1 and v2 (``OHDR``), with continuation blocks;
  - compact links (link message), v1 symbol-table groups (group B-tree v1 +
    ``SNOD`` + local heap);
  - dense attributes: fractal heap (``FRHP``/``FHDB``) walked through the
    attribute-name v2 B-tree (``BTHD``/``BTLF`` record type 8);
  - dense links: link-info message → fractal heap walked through the
    link-name v2 B-tree (``BTHD``/``BTLF`` record type 5) — the layout
    newer h5py emits for groups with many members;
  - datatypes: fixed ints, IEEE floats, fixed strings, and variable-length
    strings (class 9 string type) — VLEN *data* elements resolve their
    (length, collection address, index) descriptors through the global
    heap (``GCOL``), for compact/contiguous layouts and for attributes;
  - data layouts: compact, contiguous, and chunked v3 with the chunk
    B-tree v1 (``TREE`` node type 1), deflate + shuffle filters.

Out of scope (raise ``HDF5Error`` where encountered): VLEN sequences of
non-string types, chunked VLEN data, compound data reads, some v4 chunk
indexes. netCDF4-classic files — including the reference's own system
fixtures (tests/system/data/*.nc) — don't use them for coordinate/data
variables. An *attribute* the subset cannot decode (compound types, exotic
message versions) is skipped with a warning rather than failing the file —
only dataset decoding is strict.

This is a reader built from the public specification; no h5py/kerchunk code
was consulted or translated.
"""

from __future__ import annotations

import struct
import warnings
import zlib
from dataclasses import dataclass, field
from typing import Any

import numpy as np

MAGIC = b"\x89HDF\r\n\x1a\n"
UNDEF = 0xFFFFFFFFFFFFFFFF


class HDF5Error(ValueError):
    """Malformed or out-of-subset HDF5 bytes."""


# message type ids (spec IV.A.2)
_MSG_DATASPACE = 1
_MSG_LINK_INFO = 2
_MSG_DATATYPE = 3
_MSG_FILL_OLD = 4
_MSG_FILL = 5
_MSG_LINK = 6
_MSG_LAYOUT = 8
_MSG_FILTERS = 11
_MSG_ATTRIBUTE = 12
_MSG_CONTINUATION = 16
_MSG_SYMBOL_TABLE = 17
_MSG_ATTR_INFO = 21


@dataclass
class _Datatype:
    cls: int
    size: int
    bits0: int
    base_cls: int = -1  # vlen/array element class (class 9 only)
    # float layouts are validated as standard IEEE; ints carry signedness

    @property
    def is_vlen_string(self) -> bool:
        # class 9 (variable-length), bit-field type 1 = string
        return self.cls == 9 and (self.bits0 & 0x0F) == 1

    @property
    def is_vlen_ref(self) -> bool:
        # vlen SEQUENCE (type 0) of object references (class 7) — the
        # netCDF4 DIMENSION_LIST attribute's type
        return self.cls == 9 and (self.bits0 & 0x0F) == 0 and self.base_cls == 7

    def numpy_dtype(self) -> np.dtype:
        order = ">" if (self.bits0 & 0x01) else "<"
        if self.cls == 0:  # fixed-point
            sign = "i" if (self.bits0 & 0x08) else "u"
            return np.dtype(f"{order}{sign}{self.size}")
        if self.cls == 1:  # floating-point
            return np.dtype(f"{order}f{self.size}")
        if self.cls == 3:  # string
            return np.dtype(f"S{self.size}")
        raise HDF5Error(f"unsupported datatype class {self.cls} for data read")


@dataclass
class H5Var:
    name: str
    shape: tuple[int, ...]
    dtype: _Datatype
    attrs: dict[str, Any]
    layout_class: int  # 0 compact, 1 contiguous, 2 chunked
    data_addr: int = UNDEF  # contiguous address / chunk-index address
    data_size: int = 0
    compact: bytes = b""
    chunk_shape: tuple[int, ...] = ()
    filters: tuple[tuple[int, tuple[int, ...]], ...] = ()  # (filter_id, client_vals)
    # layout-v4 chunk indexes (0 = layout v3: v1 B-tree at data_addr)
    chunk_index: int = 0  # 1 single chunk, 2 implicit, 3 fixed array
    single_nbytes: int = 0  # single-chunk: stored (possibly filtered) size
    single_mask: int = 0  # single-chunk: filter mask


@dataclass
class HDF5File:
    attrs: dict[str, Any]
    variables: dict[str, H5Var]
    _content: bytes = field(repr=False, default=b"")

    def read(self, name: str) -> np.ndarray:
        """Materialize a variable.

        Foreign-bytes contract (the grib2/blosc hardening bar): forged
        header fields raise :class:`HDF5Error` — never a raw numpy/
        struct/zlib error, and never an implausible allocation (element
        count capped before any buffer or decompress work; chunked +
        deflate data can legally exceed the file size, so the cap is the
        grib2-style fixed 2^28-element bound, not the file length)."""
        try:
            return self._read(name)
        except HDF5Error:
            raise
        except (ValueError, IndexError, KeyError, OverflowError, TypeError,
                struct.error, zlib.error) as exc:
            raise HDF5Error(f"{name}: malformed variable data: {exc}") from exc

    def _read(self, name: str) -> np.ndarray:
        import math as _math

        v = self.variables[name]
        if not (0 <= _math.prod(v.shape) <= 1 << 28):
            raise HDF5Error(f"{name}: implausible dataspace {v.shape}")
        if v.dtype.is_vlen_string:
            if v.layout_class == 0:
                raw = v.compact
            elif v.layout_class == 1:
                if v.data_addr == UNDEF:
                    raise HDF5Error(f"{name}: contiguous data not allocated")
                n = int(np.prod(v.shape)) if v.shape else 1
                raw = self._content[v.data_addr : v.data_addr + 16 * n]
            else:
                raise HDF5Error(f"{name}: chunked VLEN string data not supported")
            vals = _vlen_strings(self._content, raw, int(np.prod(v.shape)) or 1)
            return np.array(vals, dtype=object).reshape(v.shape)
        dt = v.dtype.numpy_dtype()
        if v.layout_class == 0:
            arr = np.frombuffer(v.compact, dtype=dt, count=int(np.prod(v.shape)) or 1)
        elif v.layout_class == 1:
            if v.data_addr == UNDEF:  # never written: all fill
                raise HDF5Error(f"{name}: contiguous data not allocated")
            n = int(np.prod(v.shape)) if v.shape else 1
            arr = np.frombuffer(self._content, dtype=dt, count=n, offset=v.data_addr)
        else:
            arr = _read_chunked(self._content, v, dt)
            return arr
        out = arr.reshape(v.shape)
        return out.astype(dt.newbyteorder("=")) if dt.byteorder == ">" else out


# ---------------------------------------------------------------------------
# low-level helpers
# ---------------------------------------------------------------------------


def _u(b: bytes, off: int, n: int) -> int:
    return int.from_bytes(b[off : off + n], "little")


def _apply_filters(raw: bytes, v: H5Var, mask: int) -> bytes:
    """Reverse the filter pipeline (spec IV.A.2.l): filters applied in order
    at write time are reversed back-to-front; a set mask bit means the
    filter was skipped for this chunk."""
    out = raw
    for i in range(len(v.filters) - 1, -1, -1):
        fid, vals = v.filters[i]
        if mask & (1 << i):
            continue
        if fid == 1:  # deflate
            out = zlib.decompress(out)
        elif fid == 2:  # shuffle: byte-transpose with element size vals[0]
            esize = vals[0] if vals else v.dtype.size
            a = np.frombuffer(out, dtype="u1")
            n = len(a) // esize
            out = a[: n * esize].reshape(esize, n).T.tobytes() + a[n * esize :].tobytes()
        elif fid == 3:  # fletcher32 checksum: strip trailing 4 bytes
            out = out[:-4]
        else:
            raise HDF5Error(f"unsupported filter id {fid}")
    return out


def _place_chunk(
    full: np.ndarray, content: bytes, v: H5Var, dt: np.dtype,
    offsets: list[int], addr: int, nbytes: int, mask: int,
) -> None:
    """Decode one stored chunk and copy its in-bounds region into ``full``."""
    raw = _apply_filters(content[addr : addr + nbytes], v, mask)
    chunk = np.frombuffer(raw, dtype=dt, count=int(np.prod(v.chunk_shape)))
    chunk = chunk.reshape(v.chunk_shape)
    sel = tuple(
        slice(o, min(o + c, s)) for o, c, s in zip(offsets, v.chunk_shape, v.shape)
    )
    trim = tuple(slice(0, s.stop - s.start) for s in sel)
    full[sel] = chunk[trim]


def _chunk_grid(v: H5Var) -> list[list[int]]:
    """Row-major chunk origins — the element order of v4 flat indexes."""
    counts = [(s + c - 1) // c for s, c in zip(v.shape, v.chunk_shape)]
    grid: list[list[int]] = [[]]
    for dim, n in enumerate(counts):
        grid = [g + [i * v.chunk_shape[dim]] for g in grid for i in range(n)]
    return grid


def _read_fixed_array(content: bytes, v: H5Var, dt: np.dtype, full: np.ndarray) -> None:
    """Layout-v4 chunk index type 3 (spec III.K): FAHD header → FADB data
    block holding one element per chunk in row-major grid order; client id 0
    = plain addresses, 1 = (address, stored size, filter mask) for filtered
    chunks. Paged data blocks (very large grids) are out of scope."""
    fahd = v.data_addr
    if content[fahd : fahd + 4] != b"FAHD":
        raise HDF5Error("bad fixed-array header signature")
    client = content[fahd + 5]
    entry_size = content[fahd + 6]
    page_bits = content[fahd + 7]
    nelmts = _u(content, fahd + 8, 8)
    dblk = _u(content, fahd + 16, 8)
    if nelmts > (1 << page_bits):
        raise HDF5Error("paged fixed-array data block not supported")
    if content[dblk : dblk + 4] != b"FADB":
        raise HDF5Error("bad fixed-array data block signature")
    p = dblk + 6 + 8  # sig + version + client id + header address
    grid = _chunk_grid(v)
    if len(grid) != nelmts:
        raise HDF5Error(f"fixed array holds {nelmts} entries, grid needs {len(grid)}")
    raw_nbytes = int(np.prod(v.chunk_shape)) * v.dtype.size
    for offsets in grid:
        addr = _u(content, p, 8)
        if client == 1:  # filtered: address + stored size + mask
            nbytes = _u(content, p + 8, entry_size - 12)
            mask = _u(content, p + entry_size - 4, 4)
        else:
            nbytes, mask = raw_nbytes, 0
        if addr != UNDEF:
            _place_chunk(full, content, v, dt, offsets, addr, nbytes, mask)
        p += entry_size


def _read_chunked(content: bytes, v: H5Var, dt: np.dtype) -> np.ndarray:
    ndims = len(v.shape)
    full = np.zeros(v.shape, dtype=dt.newbyteorder("="))
    if v.chunk_index == 1:  # single chunk covering the whole dataset
        nbytes = (
            v.single_nbytes
            if v.single_nbytes
            else int(np.prod(v.chunk_shape)) * v.dtype.size
        )
        _place_chunk(
            full, content, v, dt, [0] * ndims, v.data_addr, nbytes, v.single_mask
        )
        return full
    if v.chunk_index == 2:  # implicit: unfiltered chunks, contiguous grid
        if v.filters:
            raise HDF5Error("implicit chunk index cannot carry filters")
        raw_nbytes = int(np.prod(v.chunk_shape)) * v.dtype.size
        for i, offsets in enumerate(_chunk_grid(v)):
            _place_chunk(
                full, content, v, dt, offsets, v.data_addr + i * raw_nbytes,
                raw_nbytes, 0,
            )
        return full
    if v.chunk_index == 3:  # fixed array
        _read_fixed_array(content, v, dt, full)
        return full

    def walk(addr: int) -> None:
        if addr == UNDEF:
            return
        if content[addr : addr + 4] != b"TREE":
            raise HDF5Error("expected v1 B-tree node for chunk index")
        node_type, level = content[addr + 4], content[addr + 5]
        if node_type != 1:
            raise HDF5Error(f"chunk B-tree with node type {node_type}")
        entries = _u(content, addr + 6, 2)
        p = addr + 8 + 16  # skip left/right sibling addresses
        key_size = 8 + 8 * (ndims + 1)
        for _ in range(entries):
            chunk_nbytes = _u(content, p, 4)
            mask = _u(content, p + 4, 4)
            offsets = [
                _u(content, p + 8 + 8 * i, 8) for i in range(ndims)
            ]  # final key element (byte offset within element) is always 0
            child = _u(content, p + key_size, 8)
            if level > 0:
                walk(child)
            else:
                raw = _apply_filters(content[child : child + chunk_nbytes], v, mask)
                chunk = np.frombuffer(raw, dtype=dt, count=int(np.prod(v.chunk_shape)))
                chunk = chunk.reshape(v.chunk_shape)
                sel = tuple(
                    slice(o, min(o + c, s))
                    for o, c, s in zip(offsets, v.chunk_shape, v.shape)
                )
                trim = tuple(slice(0, s.stop - s.start) for s in sel)
                full[sel] = chunk[trim]
            p += key_size + 8
    walk(v.data_addr)
    return full


# ---------------------------------------------------------------------------
# object headers
# ---------------------------------------------------------------------------


def _messages(content: bytes, addr: int) -> list[tuple[int, int, int]]:
    """All (type, offset, size) messages of the object header at ``addr``,
    following continuations; supports v1 and v2 headers."""
    msgs: list[tuple[int, int, int]] = []
    if content[addr : addr + 4] == b"OHDR":
        flags = content[addr + 5]
        p = addr + 6
        if flags & 0x20:
            p += 8  # access/mod/change/birth times (4 x int32)... spec: 4 fields
            p += 8
        if flags & 0x10:
            p += 4  # max compact / min dense
        size_bytes = 1 << (flags & 0x3)
        size = _u(content, p, size_bytes)
        p += size_bytes
        blocks = [(p, p + size)]
        bi = 0
        while bi < len(blocks):
            q, end = blocks[bi]
            bi += 1
            while q < end - 3:
                mtype = content[q]
                msize = _u(content, q + 1, 2)
                q += 4
                if flags & 0x04:
                    q += 2
                if mtype == _MSG_CONTINUATION:
                    caddr, clen = struct.unpack_from("<QQ", content, q)
                    # OCHK signature + checksum bracket the continuation
                    blocks.append((caddr + 4, caddr + clen - 4))
                else:
                    msgs.append((mtype, q, msize))
                q += msize
        return msgs
    # v1: no signature
    if content[addr] != 1:
        raise HDF5Error(f"unrecognized object header at {addr}")
    nmsgs = _u(content, addr + 2, 2)
    hsize = _u(content, addr + 8, 4)
    blocks = [(addr + 16, addr + 16 + hsize)]
    bi = 0
    while bi < len(blocks) and len(msgs) < nmsgs:
        q, end = blocks[bi]
        bi += 1
        while q + 8 <= end and len(msgs) < nmsgs:
            mtype = _u(content, q, 2)
            msize = _u(content, q + 2, 2)
            q += 8
            if mtype == _MSG_CONTINUATION:
                caddr, clen = struct.unpack_from("<QQ", content, q)
                blocks.append((caddr, caddr + clen))
            else:
                msgs.append((mtype, q, msize))
            q += msize
    return msgs


# ---------------------------------------------------------------------------
# datatype / dataspace / attribute decoding
# ---------------------------------------------------------------------------


def _parse_datatype(d: bytes) -> _Datatype:
    cls = d[0] & 0x0F
    size = _u(d, 4, 4)
    base_cls = (d[8] & 0x0F) if cls == 9 and len(d) > 8 else -1
    return _Datatype(cls=cls, size=size, bits0=d[1], base_cls=base_cls)


def _parse_dataspace(d: bytes) -> tuple[int, ...]:
    ver = d[0]
    rank = d[1]
    off = 8 if ver == 1 else 4
    return tuple(_u(d, off + 8 * i, 8) for i in range(rank))


def _decode_attr_value(
    dt: _Datatype, shape: tuple[int, ...], raw: bytes, content: bytes = b""
) -> Any:
    n = int(np.prod(shape)) if shape else 1
    if dt.cls == 3:
        return raw[: dt.size * n].split(b"\x00")[0].decode("utf-8", errors="replace")
    if dt.cls in (0, 1):
        arr = np.frombuffer(raw, dtype=dt.numpy_dtype(), count=n)
        vals = arr.astype(arr.dtype.newbyteorder("=")).tolist()
        return vals if shape else vals[0]
    if dt.is_vlen_string and content:
        vals = _vlen_strings(content, raw, n)
        return vals if shape else vals[0]
    if dt.is_vlen_ref and content:
        # each element: (count u32, GCOL address u64, object index u32);
        # the heap object holds `count` object-header addresses
        out: list[list[int]] = []
        for i in range(n):
            length, gaddr, gidx = struct.unpack_from("<IQI", raw, 16 * i)
            if gaddr in (0, UNDEF) or length == 0:
                out.append([])
                continue
            data = _gcol_object(content, gaddr, gidx)
            out.append(list(struct.unpack_from(f"<{length}Q", data, 0)))
        return out if shape else out[0]
    return None  # compound / other vlen: present but undecoded


def _parse_attribute(d: bytes, content: bytes = b"") -> tuple[str, Any]:
    ver = d[0]
    if ver == 1:  # name/datatype/dataspace each padded to 8 bytes
        nsz, dtsz, dssz = struct.unpack_from("<HHH", d, 2)
        p = 8
        name = d[p : p + nsz].split(b"\x00")[0].decode()
        p += (nsz + 7) & ~7
        dt = _parse_datatype(d[p : p + dtsz])
        p += (dtsz + 7) & ~7
        shape = _parse_dataspace(d[p : p + dssz])
        p += (dssz + 7) & ~7
    elif ver in (2, 3):  # packed; v3 adds the name-encoding byte
        nsz, dtsz, dssz = struct.unpack_from("<HHH", d, 2)
        p = 9 if ver == 3 else 8
        name = d[p : p + nsz].split(b"\x00")[0].decode()
        p += nsz
        dt = _parse_datatype(d[p : p + dtsz])
        p += dtsz
        shape = _parse_dataspace(d[p : p + dssz])
        p += dssz
    else:
        raise HDF5Error(f"attribute message v{ver}")
    return name, _decode_attr_value(dt, shape, d[p:], content)


def _dense_attributes(content: bytes, d: bytes) -> dict[str, Any]:
    """Attribute-info message → walk the name v2 B-tree, resolve managed
    fractal-heap IDs into the root direct block (spec III.D/III.G)."""
    fl = d[1]
    q = 2 + (2 if fl & 1 else 0)
    fheap, name_bt = struct.unpack_from("<QQ", d, q)
    if fheap == UNDEF or name_bt == UNDEF:
        return {}
    blocks, off_size = _heap_direct_blocks(content, fheap)

    if content[name_bt : name_bt + 4] != b"BTHD":
        raise HDF5Error("bad v2 B-tree header")
    rec_size = _u(content, name_bt + 10, 2)
    depth = _u(content, name_bt + 12, 2)
    if depth != 0:
        raise HDF5Error("multi-level attribute B-tree not supported")
    leaf = _u(content, name_bt + 16, 8)
    nrec = _u(content, name_bt + 24, 2)
    if content[leaf : leaf + 4] != b"BTLF":
        raise HDF5Error("bad v2 B-tree leaf")
    out: dict[str, Any] = {}
    p = leaf + 6
    for _ in range(nrec):
        rec = content[p : p + rec_size]
        p += rec_size
        heap_off = int.from_bytes(rec[1 : 1 + off_size], "little")
        heap_len = int.from_bytes(rec[1 + off_size : 1 + off_size + 2], "little")
        msg = _heap_read(content, blocks, heap_off)[:heap_len]
        name, value = _parse_attribute(msg, content)
        out[name] = value
    return out


def _heap_direct_blocks(content: bytes, fheap: int) -> tuple[list[tuple[int, int, int]], int]:
    """Walk a fractal heap's doubling table (spec III.G): returns
    ``[(heap_offset, size, file_addr), ...]`` for every allocated direct
    block, plus the heap-offset byte width. The root is either one direct
    block (``FHDB``) or an indirect block (``FHIB``) whose rows point at
    direct blocks — row r blocks are ``start`` bytes for r<2, doubling
    after."""
    if content[fheap : fheap + 4] != b"FRHP":
        raise HDF5Error("bad fractal heap signature")
    io_filter_len = _u(content, fheap + 7, 2)
    p = fheap + 4 + 1 + 2 + 2 + 1 + 4 + 96
    width, start_sz, max_direct, max_heap_bits, _snr, root_blk, cur_rows = struct.unpack_from(
        "<HQQHHQH", content, p
    )
    off_size = (max_heap_bits + 7) // 8
    if io_filter_len:
        raise HDF5Error("filtered fractal heap blocks not supported")

    def block_at(addr: int) -> tuple[int, int]:
        if content[addr : addr + 4] != b"FHDB":
            raise HDF5Error("expected fractal heap direct block")
        boff = _u(content, addr + 5 + 8, off_size)
        return boff, addr

    blocks: list[tuple[int, int, int]] = []
    if cur_rows == 0:  # root is a single direct block
        boff, addr = block_at(root_blk)
        blocks.append((boff, max(start_sz, 1), addr))
        return blocks, off_size

    if content[root_blk : root_blk + 4] != b"FHIB":
        raise HDF5Error("expected root indirect block")
    max_direct_rows = (max_direct.bit_length() - start_sz.bit_length()) + 2
    if cur_rows > max_direct_rows:
        raise HDF5Error("nested indirect fractal heap blocks not supported")
    q = root_blk + 4 + 1 + 8 + off_size
    for row in range(cur_rows):
        row_sz = start_sz if row < 2 else start_sz << (row - 1)
        for _ in range(width):
            child = struct.unpack_from("<Q", content, q)[0]
            q += 8
            if child == UNDEF:
                continue
            boff, addr = block_at(child)
            blocks.append((boff, row_sz, addr))
    return blocks, off_size


def _heap_read(content: bytes, blocks: list[tuple[int, int, int]], heap_off: int) -> bytes:
    """Resolve a managed heap ID's offset to file bytes: heap-linear offsets
    count from each block's signature position (matching the direct-block
    ``block offset`` header field)."""
    for boff, bsz, addr in blocks:
        if boff <= heap_off < boff + bsz:
            return content[addr + (heap_off - boff) :]
    raise HDF5Error(f"heap offset {heap_off} outside allocated direct blocks")


# ---------------------------------------------------------------------------
# global heap (VLEN data elements)
# ---------------------------------------------------------------------------


def _gcol_object(content: bytes, addr: int, index: int) -> bytes:
    """Object ``index`` of the global heap collection at ``addr`` (spec
    III.E): GCOL header, then (index, refcount, reserved, size, data)
    entries padded to 8 bytes; index 0 terminates."""
    if content[addr : addr + 4] != b"GCOL":
        raise HDF5Error("bad global heap collection signature")
    total = _u(content, addr + 8, 8)
    p = addr + 16
    end = addr + total
    while p + 16 <= end:
        idx = _u(content, p, 2)
        if idx == 0:
            break
        size = _u(content, p + 8, 8)
        if idx == index:
            return content[p + 16 : p + 16 + size]
        p += 16 + ((size + 7) & ~7)
    raise HDF5Error(f"global heap object {index} not found at {addr}")


def _vlen_strings(content: bytes, raw: bytes, n: int) -> list[str]:
    """Decode ``n`` VLEN-string elements: each a 16-byte descriptor
    (length u32, global-heap collection address u64, object index u32)."""
    out: list[str] = []
    for i in range(n):
        length, gaddr, gidx = struct.unpack_from("<IQI", raw, 16 * i)
        if gaddr == 0 or gaddr == UNDEF:  # never-written element
            out.append("")
            continue
        data = _gcol_object(content, gaddr, gidx)
        out.append(data[:length].decode("utf-8", errors="replace"))
    return out


# ---------------------------------------------------------------------------
# groups
# ---------------------------------------------------------------------------


def _parse_link_message(d: bytes) -> tuple[str, int] | None:
    """One link message body → (name, object-header address), or None for
    soft/external links (the gridded subset only follows hard links)."""
    fl = d[1]
    q = 2
    ltype = 0
    if fl & 0x08:
        ltype = d[q]
        q += 1
    if fl & 0x04:
        q += 8
    if fl & 0x10:
        q += 1
    lsz = 1 << (fl & 0x3)
    nlen = _u(d, q, lsz)
    q += lsz
    name = d[q : q + nlen].decode()
    q += nlen
    if ltype == 0:  # hard link → object header address
        return name, struct.unpack_from("<Q", d, q)[0]
    return None


def _compact_links(content: bytes, msgs) -> dict[str, int]:
    links: dict[str, int] = {}
    for mtype, off, msize in msgs:
        if mtype != _MSG_LINK:
            continue
        parsed = _parse_link_message(content[off : off + msize])
        if parsed is not None:
            links[parsed[0]] = parsed[1]
    return links


def _dense_links(content: bytes, d: bytes) -> dict[str, int]:
    """Link-info message → dense link storage: link messages live in a
    fractal heap, indexed by the link-name v2 B-tree (record type 5:
    hash u32 + 7-byte managed heap ID). Same heap machinery as dense
    attributes; the heap bytes are plain link-message bodies."""
    fl = d[1]
    q = 2 + (8 if fl & 1 else 0)
    fheap, name_bt = struct.unpack_from("<QQ", d, q)
    if fheap == UNDEF or name_bt == UNDEF:
        return {}
    blocks, off_size = _heap_direct_blocks(content, fheap)
    if content[name_bt : name_bt + 4] != b"BTHD":
        raise HDF5Error("bad v2 B-tree header")
    rec_size = _u(content, name_bt + 10, 2)
    depth = _u(content, name_bt + 12, 2)
    if depth != 0:
        raise HDF5Error("multi-level link B-tree not supported")
    leaf = _u(content, name_bt + 16, 8)
    nrec = _u(content, name_bt + 24, 2)
    if content[leaf : leaf + 4] != b"BTLF":
        raise HDF5Error("bad v2 B-tree leaf")
    links: dict[str, int] = {}
    p = leaf + 6
    for _ in range(nrec):
        rec = content[p : p + rec_size]
        p += rec_size
        # record: hash(4) + managed heap ID (version/type byte, offset,
        # 2-byte length)
        heap_off = int.from_bytes(rec[5 : 5 + off_size], "little")
        heap_len = int.from_bytes(rec[5 + off_size : 5 + off_size + 2], "little")
        msg = _heap_read(content, blocks, heap_off)[:heap_len]
        parsed = _parse_link_message(msg)
        if parsed is not None:
            links[parsed[0]] = parsed[1]
    return links


def _symbol_table_links(content: bytes, d: bytes) -> dict[str, int]:
    """v1 group: symbol-table message → group B-tree v1 + local heap."""
    btree, heap = struct.unpack_from("<QQ", d, 0)
    if content[heap : heap + 4] != b"HEAP":
        raise HDF5Error("bad local heap")
    heap_data = struct.unpack_from("<Q", content, heap + 24)[0]
    links: dict[str, int] = {}

    def walk(addr: int) -> None:
        sig = content[addr : addr + 4]
        if sig == b"TREE":
            level = content[addr + 5]
            entries = _u(content, addr + 6, 2)
            p = addr + 24 + 8  # header + key0
            for _ in range(entries):
                child = _u(content, p, 8)
                walk(child) if level > 0 else walk(child)
                p += 16  # child + next key
        elif sig == b"SNOD":
            nsyms = _u(content, addr + 6, 2)
            p = addr + 8
            for _ in range(nsyms):
                name_off = _u(content, p, 8)
                oh = _u(content, p + 8, 8)
                name = content[heap_data + name_off :].split(b"\x00")[0].decode()
                links[name] = oh
                p += 40
        else:
            raise HDF5Error(f"unexpected node {sig!r} in group tree")

    walk(btree)
    return links


# ---------------------------------------------------------------------------
# top level
# ---------------------------------------------------------------------------


def parse_hdf5(content: bytes) -> HDF5File:
    """Parse an HDF5 superblock + root group (arrays read lazily).

    Foreign-bytes contract: malformed input raises :class:`HDF5Error` —
    forged addresses/sizes/counts must never leak a raw struct/numpy/
    zlib/unicode error (mutation-fuzzed in tests/test_hdf5_synthetic.py,
    the grib2/blosc hardening bar)."""
    try:
        return _parse_hdf5(content)
    except HDF5Error:
        raise
    except (
        ValueError,
        IndexError,
        KeyError,
        OverflowError,
        TypeError,
        UnicodeDecodeError,
        struct.error,
        zlib.error,
    ) as exc:
        raise HDF5Error(f"malformed HDF5 bytes: {exc}") from exc


def _parse_hdf5(content: bytes) -> HDF5File:
    if content[:8] != MAGIC:
        raise HDF5Error("not an HDF5 file")
    sb_ver = content[8]
    if sb_ver in (0, 1):
        # root symbol-table entry sits after the fixed superblock fields
        off = 24 + 4 * 8 if sb_ver == 0 else 24 + 4 * 8 + 4  # v1 adds 2+2 reserved
        root_oh = struct.unpack_from("<Q", content, off + 8)[0]
    elif sb_ver in (2, 3):
        root_oh = struct.unpack_from("<Q", content, 36)[0]
    else:
        raise HDF5Error(f"superblock v{sb_ver}")

    root_msgs = _messages(content, root_oh)
    root_attrs = _collect_attrs(content, root_msgs)
    links = _compact_links(content, root_msgs)
    if not links:
        for mtype, off, msize in root_msgs:
            if mtype == _MSG_LINK_INFO:
                links.update(_dense_links(content, content[off : off + msize]))
            elif mtype == _MSG_SYMBOL_TABLE:
                links.update(
                    _symbol_table_links(content, content[off : off + msize])
                )
    variables: dict[str, H5Var] = {}
    for name, addr in links.items():
        v = _parse_dataset(content, name, addr)
        if v is not None:
            variables[name] = v
    by_addr = {addr: name for name, addr in links.items()}
    for v in variables.values():
        dl = v.attrs.get("DIMENSION_LIST")
        if isinstance(dl, list) and all(isinstance(e, list) for e in dl):
            # netCDF4 dimension scales: one reference per axis — resolve
            # object-header addresses to variable names
            v.attrs["DIMENSION_LIST"] = [
                [by_addr.get(a, a) for a in e] for e in dl
            ]
    return HDF5File(attrs=root_attrs, variables=variables, _content=content)


def _collect_attrs(content: bytes, msgs) -> dict[str, Any]:
    """Attributes are metadata, not data: an attribute the subset reader
    cannot decode (VLEN strings from newer h5py, compound types, exotic
    message versions) is skipped with a warning instead of failing the
    whole file — the dataset decode path stays strict."""
    attrs: dict[str, Any] = {}
    for mtype, off, msize in msgs:
        try:
            if mtype == _MSG_ATTRIBUTE:
                name, value = _parse_attribute(content[off : off + msize], content)
                attrs[name] = value
            elif mtype == _MSG_ATTR_INFO:
                attrs.update(_dense_attributes(content, content[off : off + msize]))
        except (HDF5Error, UnicodeDecodeError, struct.error, IndexError) as e:
            warnings.warn(f"skipping unreadable HDF5 attribute: {e}", stacklevel=2)
    return attrs


def _parse_dataset(content: bytes, name: str, addr: int) -> H5Var | None:
    msgs = _messages(content, addr)
    shape: tuple[int, ...] | None = None
    dtype: _Datatype | None = None
    layout_class = -1
    data_addr, data_size, compact = UNDEF, 0, b""
    chunk_shape: tuple[int, ...] = ()
    chunk_index, single_nbytes, single_mask = 0, 0, 0
    filters: list[tuple[int, tuple[int, ...]]] = []
    for mtype, off, msize in msgs:
        d = content[off : off + msize]
        if mtype == _MSG_DATASPACE:
            shape = _parse_dataspace(d)
        elif mtype == _MSG_DATATYPE:
            dtype = _parse_datatype(d)
        elif mtype == _MSG_LAYOUT:
            ver = d[0]
            if ver not in (3, 4):
                raise HDF5Error(f"data layout v{ver}")
            layout_class = d[1]
            if layout_class == 0:
                csize = _u(d, 2, 2)
                compact = d[4 : 4 + csize]
            elif layout_class == 1:
                data_addr, data_size = struct.unpack_from("<QQ", d, 2)
            elif layout_class == 2 and ver == 3:
                ndims = d[2]  # stored as rank+1
                data_addr = struct.unpack_from("<Q", d, 3)[0]
                chunk_shape = tuple(
                    _u(d, 11 + 4 * i, 4) for i in range(ndims - 1)
                )
            elif layout_class == 2:  # ver == 4: libver-latest chunk indexes
                lay4_flags = d[2]
                ndims = d[3]  # rank+1, the last dim is the element size
                enc = d[4]
                dims = [_u(d, 5 + enc * i, enc) for i in range(ndims)]
                chunk_shape = tuple(dims[:-1])
                p = 5 + enc * ndims
                chunk_index = d[p]
                p += 1
                if chunk_index == 1:  # single chunk
                    if lay4_flags & 0x02:  # filtered single chunk
                        single_nbytes = _u(d, p, 8)
                        single_mask = _u(d, p + 8, 4)
                        p += 12
                elif chunk_index == 2:  # implicit: contiguous chunk grid
                    pass
                elif chunk_index == 3:  # fixed array
                    p += 1  # page bits (re-read from the FAHD header)
                else:
                    raise HDF5Error(
                        f"layout-v4 chunk index type {chunk_index} not supported "
                        "(extensible array / v2 B-tree need a growing dataset)"
                    )
                data_addr = struct.unpack_from("<Q", d, p)[0]
            else:
                raise HDF5Error(f"layout class {layout_class}")
        elif mtype == _MSG_FILTERS:
            ver = d[0]
            nf = d[1]
            p = 8 if ver == 1 else 2
            for _ in range(nf):
                fid = _u(d, p, 2)
                if ver == 2 and fid < 256:
                    # v2 descriptions of builtin filters (id < 256) omit the
                    # Name Length field and the name entirely: Flags is at
                    # p+2, Number of Client Data Values at p+4, values follow
                    # immediately with no odd-count padding.
                    nvals = _u(d, p + 4, 2)
                    p += 6
                    vals = tuple(_u(d, p + 4 * i, 4) for i in range(nvals))
                    p += 4 * nvals
                else:
                    # v1 (always) and v2 user-defined filters carry a name:
                    # fid(2) name_len(2) flags(2) nvals(2) name values
                    name_len = _u(d, p + 2, 2)
                    nvals = _u(d, p + 6, 2)
                    p = p + 8 + name_len
                    vals = tuple(_u(d, p + 4 * i, 4) for i in range(nvals))
                    p += 4 * nvals
                    if ver == 1 and nvals % 2 == 1:
                        p += 4  # v1 pads odd client-value counts
                filters.append((fid, vals))
    if shape is None or dtype is None or layout_class < 0:
        return None  # a subgroup or non-dataset object
    attrs = _collect_attrs(content, msgs)
    return H5Var(
        name=name,
        shape=shape,
        dtype=dtype,
        attrs=attrs,
        layout_class=layout_class,
        data_addr=data_addr,
        data_size=data_size,
        compact=compact,
        chunk_shape=chunk_shape,
        filters=tuple(filters),
        chunk_index=chunk_index,
        single_nbytes=single_nbytes,
        single_mask=single_mask,
    )


# ---------------------------------------------------------------------------
# Decoder adapter (S7 for NetCDF4 bytes)
# ---------------------------------------------------------------------------


def netcdf4_decoder(
    desc,
    data_var: str | None = None,
    time_var: str = "time",
    lat_var: str = "latitude",
    lon_var: str = "longitude",
):
    """Decoder for :func:`~zarr_climate_etl_ipfs_spark.sources.ingest.
    read_binary_gridded` over NetCDF4/HDF5 bytes — the same tall-row contract
    as ``netcdf3_decoder``, CF time units read from the time variable's
    attributes."""
    import pandas as pd

    from zarr_climate_etl_ipfs_spark.sources.ingest import tall_frame
    from zarr_climate_etl_ipfs_spark.sources.netcdf3 import _cf_origin_and_seconds

    def decode(path: str, content: bytes) -> pd.DataFrame:
        h5 = parse_hdf5(content)
        var = data_var or desc.data_var
        for required in (var, time_var, lat_var, lon_var):
            if required not in h5.variables:
                raise HDF5Error(f"{path}: variable {required!r} not in file")
        data = h5.read(var)
        if data.shape != (
            h5.variables[time_var].shape[0],
            h5.variables[lat_var].shape[0],
            h5.variables[lon_var].shape[0],
        ):
            raise HDF5Error(f"{path}: {var} is not (time, lat, lon)-shaped")
        times_raw = h5.read(time_var).astype("float64")
        units = h5.variables[time_var].attrs.get("units", "days since 1970-01-01")
        origin, secs = _cf_origin_and_seconds(str(units))
        times = origin + (times_raw * secs * 1e6).astype("timedelta64[us]")
        lats = h5.read(lat_var).astype("float64")
        lons = h5.read(lon_var).astype("float64")
        return tall_frame(desc, times, lats, lons, data)

    return decode
