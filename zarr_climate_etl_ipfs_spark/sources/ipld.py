"""Read-only IPFS/IPLD import path (S23/S24 literal).

The reference publishes each dataset as a Zarr store whose key→chunk mapping
lives in an IPLD DAG (utils/ipfs.py:42-93 ``ipfs_put``/``ipfs_get`` over a
node RPC; utils/store.py:427-453 delegates the mapping to an IPLD zarr
mutable-mapping), addressed by CID and optionally named via IPNS
(utils/ipfs.py:97-284). A migrating user's production data therefore lives
*behind* those CIDs. This module imports such a store WITHOUT an IPFS node,
through any stock HTTP **gateway** (the public path-gateway interface:
``GET /ipfs/<cid>`` with an ``Accept`` content-type, ``GET /ipns/<name>``
redirecting to the resolved ``/ipfs/<cid>`` path), using only the stdlib:

  - :func:`decode_dag_cbor` — from-scratch DAG-CBOR (RFC 8949 subset per the
    public DAG-CBOR spec: definite lengths, tag 42 = CID link).
  - :func:`cid_to_string` — binary CID → canonical string (CIDv1 base32
    lower / CIDv0 base58btc), from the public multiformats tables.
  - :func:`walk_ipld_map` — flatten a DAG of nested maps (and/or the public
    IPLD HashMap / HAMT node shape ``{"map": bytes, "data": [...]}``') into
    ``zarr_key -> bytes-or-CID``; walking only ever ENUMERATES, so no hash
    function is needed (the bitmap is a lookup accelerator we don't use).
  - :func:`resolve_ipns` — gateway redirect / ``X-Ipfs-Roots`` resolution.
  - :func:`ingest_ipld` — the one-call import: resolve (if IPNS), fetch the
    root node, walk it, fetch chunk blocks, and materialize a LOCAL zarr
    store via :func:`..zarr2.materialize_kerchunk_refs` — after which
    ``read_zarr_tall``/``ingest`` treat it like any other store.

Scale shape: the DAG holds the *index* (metadata + per-chunk links), never
the data inline beyond small metadata docs, so the walk is driver-side and
metadata-sized — the same contract as kerchunk refs. Chunk blocks fetch
through ``fetch`` (injectable), sequentially by default; a cluster-parallel
fetch belongs in ``distributed_fetch`` (sources/extractors.py) with the
gateway URL per block, which this module's ``refs`` output enables.

Error contract: every failure raises :class:`IpldError` naming the CID/key
and the gateway; constructing any fetching function WITHOUT a gateway raises
immediately (this container has no network — the fake-gateway pytest in
``tests/test_ipld.py`` is the validation surface, real gateways are the
user's runtime dependency, same injection philosophy as the kerchunk
``opener=`` seam).
"""

from __future__ import annotations

import base64
import json
import struct
from typing import Any, Callable
from urllib import error as _urlerror
from urllib import request as _urlrequest

from zarr_climate_etl_ipfs_spark.sources.zarr2 import materialize_kerchunk_refs


class IpldError(RuntimeError):
    """Named failure in the IPFS/IPLD import path."""


# ---------------------------------------------------------------------------
# CID string forms (public multiformats: multibase base32/base58btc)
# ---------------------------------------------------------------------------

_B32_ALPHABET = "abcdefghijklmnopqrstuvwxyz234567"
_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


class CID:
    """A parsed IPLD content identifier (just enough for gateway URLs)."""

    __slots__ = ("bytes",)

    def __init__(self, raw: bytes):
        self.bytes = bytes(raw)

    def __str__(self) -> str:
        return cid_to_string(self.bytes)

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"CID({self})"

    def __eq__(self, other: object) -> bool:
        # string-form equality: a CID parsed from binary CBOR and the same
        # CID parsed from dag-json text must compare equal
        return isinstance(other, CID) and str(other) == str(self)

    def __hash__(self) -> int:
        return hash(str(self))

    @property
    def codec(self) -> int | None:
        """The multicodec content-type code (0x55 raw, 0x71 dag-cbor, …),
        or None when unknowable — the walk dispatches on it so raw chunk
        blocks are never pointlessly fetched-and-DAG-decoded."""
        raw = self.bytes
        if len(raw) == 34 and raw[0] == 0x12 and raw[1] == 0x20:
            return 0x70  # CIDv0 is implicitly dag-pb
        if raw[:1] != b"\x01":
            return None
        n = shift = 0
        for b in raw[1:10]:
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7
        return None


def _base32_lower(data: bytes) -> str:
    """RFC 4648 base32, lowercase, no padding (the multibase 'b' body)."""
    bits = 0
    acc = 0
    out = []
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= 5:
            bits -= 5
            out.append(_B32_ALPHABET[(acc >> bits) & 0x1F])
    if bits:
        out.append(_B32_ALPHABET[(acc << (5 - bits)) & 0x1F])
    return "".join(out)


def _base58btc(data: bytes) -> str:
    """Bitcoin-alphabet base58 (CIDv0's textual form)."""
    n = int.from_bytes(data, "big")
    out = []
    while n:
        n, rem = divmod(n, 58)
        out.append(_B58_ALPHABET[rem])
    pad = 0
    for b in data:
        if b == 0:
            pad += 1
        else:
            break
    return "1" * pad + "".join(reversed(out))


def cid_to_string(raw: bytes) -> str:
    """Binary CID → canonical string.

    CIDv0 is a bare sha2-256 multihash (``0x12 0x20`` + 32 bytes) rendered
    base58btc; anything starting with a version varint 0x01 is CIDv1,
    rendered multibase base32-lower (prefix ``b``).
    """
    if len(raw) == 34 and raw[0] == 0x12 and raw[1] == 0x20:
        return _base58btc(raw)
    if raw[:1] == b"\x01":
        return "b" + _base32_lower(raw)
    raise IpldError(f"unsupported binary CID prefix {raw[:2].hex()!r}")


def make_cidv1(codec: int, digest: bytes) -> CID:
    """Build a CIDv1 from a codec code and a sha2-256 digest (test + tooling
    helper; codecs: 0x55 raw, 0x71 dag-cbor, 0x0129 dag-json)."""
    def varint(n: int) -> bytes:
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            out.append(b | (0x80 if n else 0))
            if not n:
                return bytes(out)

    return CID(b"\x01" + varint(codec) + b"\x12\x20" + digest)


# ---------------------------------------------------------------------------
# DAG-CBOR decoder (public spec: RFC 8949 subset, tag 42 = CID)
# ---------------------------------------------------------------------------


def decode_dag_cbor(data: bytes) -> Any:
    """Decode one DAG-CBOR document.

    Supports the full DAG-CBOR value space (the spec forbids indefinite
    lengths, non-42 tags, and non-64-bit floats, so decoding the subset IS
    decoding the format): ints, byte/text strings, arrays, string-keyed
    maps, tag 42 links (→ :class:`CID`; the spec requires an identity-
    multibase ``0x00`` prefix on the inner bytes), false/true/null, and
    float64. Raises :class:`IpldError` on malformed or trailing bytes.
    """
    value, end = _decode_item(data, 0)
    if end != len(data):
        raise IpldError(f"trailing bytes after DAG-CBOR document ({len(data) - end})")
    return value


def _read_uint(data: bytes, pos: int, info: int) -> tuple[int, int]:
    if info < 24:
        return info, pos
    if info == 24:
        return data[pos], pos + 1
    if info == 25:
        return int.from_bytes(data[pos : pos + 2], "big"), pos + 2
    if info == 26:
        return int.from_bytes(data[pos : pos + 4], "big"), pos + 4
    if info == 27:
        return int.from_bytes(data[pos : pos + 8], "big"), pos + 8
    raise IpldError(f"indefinite/reserved CBOR length (info={info}) is not DAG-CBOR")


def _decode_item(data: bytes, pos: int) -> tuple[Any, int]:
    try:
        initial = data[pos]
    except IndexError:
        raise IpldError("truncated DAG-CBOR document") from None
    major, info = initial >> 5, initial & 0x1F
    pos += 1
    if major == 0:  # unsigned int
        return _read_uint(data, pos, info)
    if major == 1:  # negative int
        n, pos = _read_uint(data, pos, info)
        return -1 - n, pos
    if major == 2:  # byte string
        n, pos = _read_uint(data, pos, info)
        if pos + n > len(data):
            raise IpldError("truncated byte string")
        return data[pos : pos + n], pos + n
    if major == 3:  # text string
        n, pos = _read_uint(data, pos, info)
        if pos + n > len(data):
            raise IpldError("truncated text string")
        return data[pos : pos + n].decode("utf-8"), pos + n
    if major == 4:  # array
        n, pos = _read_uint(data, pos, info)
        items = []
        for _ in range(n):
            v, pos = _decode_item(data, pos)
            items.append(v)
        return items, pos
    if major == 5:  # map
        n, pos = _read_uint(data, pos, info)
        out: dict[str, Any] = {}
        for _ in range(n):
            k, pos = _decode_item(data, pos)
            if not isinstance(k, str):
                raise IpldError("DAG-CBOR map keys must be text strings")
            out[k], pos = _decode_item(data, pos)
        return out, pos
    if major == 6:  # tag — DAG-CBOR allows only 42 (CID)
        tag, pos = _read_uint(data, pos, info)
        if tag != 42:
            raise IpldError(f"tag {tag} is not DAG-CBOR (only 42/CID allowed)")
        inner, pos = _decode_item(data, pos)
        if not isinstance(inner, bytes) or not inner.startswith(b"\x00"):
            raise IpldError("tag-42 CID must be an identity-prefixed byte string")
        return CID(inner[1:]), pos
    # major 7: simple values / floats
    if info == 20:
        return False, pos
    if info == 21:
        return True, pos
    if info == 22:
        return None, pos
    if info == 27:
        if pos + 8 > len(data):
            raise IpldError("truncated float64")
        return struct.unpack(">d", data[pos : pos + 8])[0], pos + 8
    raise IpldError(f"unsupported CBOR simple/float (info={info}) in DAG-CBOR")


def _dag_json_to_obj(doc: Any) -> Any:
    """Normalize a dag-json document (links as ``{"/": "cid"}``, bytes as
    ``{"/": {"bytes": b64}}``) to the same shapes the CBOR decoder emits —
    some gateways serve dag-json more readily than raw blocks."""
    if isinstance(doc, dict):
        if set(doc) == {"/"}:
            body = doc["/"]
            if isinstance(body, str):
                return _cid_from_string(body)
            if isinstance(body, dict) and set(body) == {"bytes"}:
                pad = "=" * (-len(body["bytes"]) % 4)
                return base64.b64decode(body["bytes"] + pad)
            raise IpldError(f"malformed dag-json link {doc!r}")
        return {k: _dag_json_to_obj(v) for k, v in doc.items()}
    if isinstance(doc, list):
        return [_dag_json_to_obj(v) for v in doc]
    return doc


class _StrCID(CID):
    """A CID known only by its string form (odd multibase from dag-json) —
    fetchable by string, not re-encodable to binary."""

    __slots__ = ("_s",)

    def __init__(self, s: str):
        super().__init__(b"")
        self._s = s

    def __str__(self) -> str:
        return self._s

    def __eq__(self, other: object) -> bool:
        return isinstance(other, CID) and str(other) == self._s

    def __hash__(self) -> int:
        return hash(self._s)


def _base32_decode(s: str) -> bytes:
    acc = bits = 0
    out = bytearray()
    for ch in s:
        acc = (acc << 5) | _B32_ALPHABET.index(ch)
        bits += 5
        if bits >= 8:
            bits -= 8
            out.append((acc >> bits) & 0xFF)
    return bytes(out)


def _base58_decode(s: str) -> bytes:
    n = 0
    for ch in s:
        n = n * 58 + _B58_ALPHABET.index(ch)
    body = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
    pad = len(s) - len(s.lstrip("1"))
    return b"\x00" * pad + body


def _cid_from_string(s: str) -> CID:
    """Parse the two canonical text forms back to binary (so the codec is
    known and the walk can dispatch); any other multibase stays a
    string-only CID that is still fetchable through the gateway."""
    try:
        if s.startswith("b"):
            return CID(_base32_decode(s[1:]))
        if s.startswith("Qm"):
            return CID(_base58_decode(s))
    except (ValueError, IndexError):
        pass
    return _StrCID(s)


# ---------------------------------------------------------------------------
# Gateway I/O
# ---------------------------------------------------------------------------

#: media types from the public gateway spec
_RAW = "application/vnd.ipld.raw"
_DAG_CBOR = "application/vnd.ipld.dag-cbor"
_DAG_JSON = "application/vnd.ipld.dag-json"


def _default_fetch(url: str, accept: str, timeout: float) -> tuple[bytes, str]:
    req = _urlrequest.Request(url, headers={"Accept": accept})
    try:
        with _urlrequest.urlopen(req, timeout=timeout) as resp:  # noqa: S310
            return resp.read(), resp.headers.get("Content-Type", "") or ""
    except _urlerror.HTTPError as exc:
        raise IpldError(f"gateway returned HTTP {exc.code} for {url}") from exc
    except (_urlerror.URLError, OSError, TimeoutError) as exc:
        raise IpldError(f"gateway unreachable at {url}: {exc}") from exc


def block_get(
    cid: CID | str,
    gateway: str | None,
    fetch: Callable[[str, str, float], tuple[bytes, str]] | None = None,
    timeout: float = 60.0,
) -> bytes:
    """Fetch one block's raw bytes: ``GET {gateway}/ipfs/{cid}`` with
    ``Accept: application/vnd.ipld.raw`` (trustless-gateway block request)."""
    if gateway is None:
        raise IpldError(
            "no IPFS gateway configured: pass gateway='https://<host>' (any "
            "stock HTTP path gateway); this import path never requires a "
            "local IPFS node"
        )
    fetch = fetch or _default_fetch
    body, _ctype = fetch(f"{gateway.rstrip('/')}/ipfs/{cid}", _RAW, timeout)
    return body


def dag_get(
    cid: CID | str,
    gateway: str | None,
    fetch: Callable[[str, str, float], tuple[bytes, str]] | None = None,
    timeout: float = 60.0,
) -> Any:
    """Fetch and decode one DAG node by CID.

    Asks for the raw block and decodes DAG-CBOR locally (the trustless
    path — bytes are exactly what the CID names); if the gateway instead
    answers with dag-json (some gateways re-encode on Accept mismatch, and
    a dag-json-codec CID decodes as JSON by definition), parses that."""
    if gateway is None:
        raise IpldError(
            "no IPFS gateway configured: pass gateway='https://<host>' (any "
            "stock HTTP path gateway); this import path never requires a "
            "local IPFS node"
        )
    fetch = fetch or _default_fetch
    body, ctype = fetch(
        f"{gateway.rstrip('/')}/ipfs/{cid}", f"{_RAW}, {_DAG_CBOR}", timeout
    )
    if _DAG_JSON in ctype or ctype.startswith("application/json"):
        try:
            return _dag_json_to_obj(json.loads(body))
        except (ValueError, UnicodeDecodeError) as exc:
            raise IpldError(f"cid {cid}: undecodable dag-json body: {exc}") from exc
    try:
        return decode_dag_cbor(body)
    except IpldError:
        # last resort: a plain-JSON body with a CBOR-less gateway
        try:
            return _dag_json_to_obj(json.loads(body))
        except (ValueError, UnicodeDecodeError):
            raise IpldError(
                f"cid {cid}: body is neither DAG-CBOR nor dag-json "
                f"(content-type {ctype!r})"
            ) from None


def resolve_ipns(
    name: str,
    gateway: str | None,
    fetch_headers: Callable[[str], dict[str, str]] | None = None,
    timeout: float = 60.0,
) -> str:
    """Resolve an IPNS name to its current CID through the gateway.

    ``GET {gateway}/ipns/{name}`` — a conforming path gateway either 30x-
    redirects to ``/ipfs/<cid>/…`` or answers directly with an
    ``X-Ipfs-Roots`` header naming the resolved root. Reference parity:
    utils/ipfs.py:97-118 ``ipns_resolve`` (node RPC ``/api/v0/name/resolve``
    → ``Path[6:]``); same output, no node required.
    """
    if gateway is None:
        raise IpldError(
            "no IPFS gateway configured: pass gateway='https://<host>' to "
            "resolve IPNS names without a local node"
        )
    url = f"{gateway.rstrip('/')}/ipns/{name}"
    if fetch_headers is None:
        class _NoRedirect(_urlrequest.HTTPRedirectHandler):
            def redirect_request(self, *a, **k):  # noqa: D102
                return None

        opener = _urlrequest.build_opener(_NoRedirect)

        def fetch_headers(u: str) -> dict[str, str]:
            try:
                with opener.open(
                    _urlrequest.Request(u, method="HEAD"), timeout=timeout
                ) as resp:
                    return dict(resp.headers)
            except _urlerror.HTTPError as exc:
                if exc.code in (301, 302, 303, 307, 308):
                    return dict(exc.headers)
                raise IpldError(f"gateway returned HTTP {exc.code} for {u}") from exc
            except (_urlerror.URLError, OSError, TimeoutError) as exc:
                raise IpldError(f"gateway unreachable at {u}: {exc}") from exc

    headers = {k.lower(): v for k, v in fetch_headers(url).items()}
    roots = headers.get("x-ipfs-roots")
    if roots:
        return roots.split(",")[0].strip()
    loc = headers.get("location", "")
    marker = "/ipfs/"
    if marker in loc:
        tail = loc.split(marker, 1)[1]
        return tail.split("/", 1)[0].split("?", 1)[0]
    raise IpldError(
        f"gateway did not resolve /ipns/{name}: no X-Ipfs-Roots header and no "
        f"/ipfs/ redirect (Location={loc!r})"
    )


# ---------------------------------------------------------------------------
# DAG → zarr-key refs
# ---------------------------------------------------------------------------


def walk_ipld_map(
    node: Any,
    node_fetch: Callable[[CID], Any],
    prefix: str = "",
    out: dict[str, Any] | None = None,
    _depth: int = 0,
) -> dict[str, Any]:
    """Flatten an IPLD map DAG into ``{zarr_key: bytes | CID}``.

    Two public shapes compose freely at any level:

    - **plain nested maps** — keys join with ``/`` (``{"precip":
      {"0.0.0": <link>}}`` → ``"precip/0.0.0"``); a leaf is inline bytes,
      an inline string (metadata docs), or a CID link to a raw block;
    - **IPLD HashMap / HAMT nodes** (the spec shape ``{"map": <bitmap
      bytes>, "data": [...]}``, with or without the root's
      ``hashAlg``/``bucketSize`` envelope) — ``data`` holds child links
      and/or buckets of ``[keybytes, value]`` entries. Enumeration never
      needs the hash function: the bitmap only accelerates point lookups,
      so walking every bucket yields every key exactly once.

    A linked MAP node (CID that fetches to a dict) recurses; a linked
    non-map stays a CID (i.e. a chunk block to range-fetch later).
    """
    if out is None:
        out = {}
    if _depth > 64:
        raise IpldError("IPLD map DAG exceeds depth 64 — refusing a likely cycle")
    if not isinstance(node, dict):
        raise IpldError(f"expected an IPLD map node, got {type(node).__name__}")
    if "data" in node and "map" in node:
        _walk_hamt_node(node, node_fetch, out, _depth)
        return out
    if "hamt" in node and isinstance(node["hamt"], (CID, dict)):
        # envelope form: {"hamt": <link-or-node>, ...metadata...}
        inner = node["hamt"]
        inner = node_fetch(inner) if isinstance(inner, CID) else inner
        walk_ipld_map(inner, node_fetch, prefix, out, _depth + 1)
        node = {k: v for k, v in node.items() if k != "hamt"}
    for key, val in node.items():
        if key in ("hashAlg", "bucketSize"):
            continue  # HashMap root envelope metadata
        full = f"{prefix}/{key}" if prefix else key
        _emit(full, val, node_fetch, out, _depth)
    return out


def _emit(
    key: str,
    val: Any,
    node_fetch: Callable[[CID], Any],
    out: dict[str, Any],
    depth: int,
) -> None:
    if isinstance(val, CID):
        codec = val.codec
        if codec in (0x71, 0x0129):  # dag-cbor / dag-json: a structural node
            fetched = node_fetch(val)
            if isinstance(fetched, dict):
                walk_ipld_map(fetched, node_fetch, key, out, depth + 1)
            else:
                raise IpldError(
                    f"key {key!r}: DAG node {val} is not a map "
                    f"({type(fetched).__name__})"
                )
        elif codec is not None:  # raw / dag-pb / …: a data block
            out[key] = val  # keep the link, fetch once during ingest
        else:
            # unknowable codec (odd multibase): probe, and treat an
            # undecodable body as a data block rather than failing the walk
            try:
                fetched = node_fetch(val)
            except IpldError:
                out[key] = val
                return
            if isinstance(fetched, dict):
                walk_ipld_map(fetched, node_fetch, key, out, depth + 1)
            else:
                out[key] = val
    elif isinstance(val, dict):
        walk_ipld_map(val, node_fetch, key, out, depth + 1)
    elif isinstance(val, (bytes, str)):
        out[key] = val.encode("utf-8") if isinstance(val, str) else val
    else:
        raise IpldError(f"key {key!r}: unsupported leaf type {type(val).__name__}")


def _walk_hamt_node(
    node: dict[str, Any],
    node_fetch: Callable[[CID], Any],
    out: dict[str, Any],
    depth: int,
) -> None:
    if depth > 64:
        raise IpldError("HAMT exceeds depth 64 — refusing a likely cycle")
    data = node.get("data")
    if not isinstance(data, list):
        raise IpldError("HAMT node's 'data' is not an array")
    for element in data:
        if isinstance(element, CID):
            child = node_fetch(element)
            if not isinstance(child, dict):
                raise IpldError("HAMT child link did not fetch to a map node")
            _walk_hamt_node(child, node_fetch, out, depth + 1)
        elif isinstance(element, list):
            for entry in element:
                if not (isinstance(entry, list) and len(entry) == 2):
                    raise IpldError("HAMT bucket entry is not a [key, value] pair")
                k, v = entry
                if isinstance(k, bytes):
                    k = k.decode("utf-8")
                if not isinstance(k, str):
                    raise IpldError("HAMT bucket key is not bytes/str")
                _emit(k, v, node_fetch, out, depth)
        elif isinstance(element, dict):
            # nested-node element (some encoders inline the child map)
            _walk_hamt_node(element, node_fetch, out, depth + 1)
        else:
            raise IpldError(
                f"HAMT data element of type {type(element).__name__} unsupported"
            )


# ---------------------------------------------------------------------------
# The one-call import
# ---------------------------------------------------------------------------


def ingest_ipld(
    root: str,
    dest: str,
    gateway: str | None = None,
    fetch: Callable[[str, str, float], tuple[bytes, str]] | None = None,
    timeout: float = 60.0,
    max_bytes: int = 1 << 31,
) -> str:
    """Import a Zarr-on-IPLD dataset into a local on-disk Zarr store.

    ``root`` is a CID string, an ``/ipfs/<cid>`` path, an ``/ipns/<name>``
    path, or a bare IPNS name prefixed ``ipns://`` — IPNS forms resolve
    first (reference utils/ipfs.py:97-118). The root node is fetched and
    walked into zarr-key refs; inline leaves land directly, linked chunk
    blocks fetch through the gateway; the result materializes via the
    kerchunk machinery so every existing reader (``read_zarr_tall``,
    ``GridStore.ingest_zarr``, ``sources.ingest``) opens it unchanged.

    ``max_bytes`` caps the total fetched payload (bomb guard — same
    philosophy as the media decoders' pixel caps): a DAG that claims more
    raises instead of filling the disk.
    """
    if root.startswith("ipns://"):
        root = resolve_ipns(root[len("ipns://"):], gateway, timeout=timeout)
    elif root.startswith("/ipns/"):
        root = resolve_ipns(root[len("/ipns/"):], gateway, timeout=timeout)
    elif root.startswith("/ipfs/"):
        root = root[len("/ipfs/"):]
    root = root.strip("/")

    node = dag_get(root, gateway, fetch=fetch, timeout=timeout)
    if not isinstance(node, dict):
        raise IpldError(
            f"root {root} is not an IPLD map node (got {type(node).__name__}) — "
            "expected a zarr key map or IPLD HashMap root"
        )

    def node_fetch(cid: CID) -> Any:
        return dag_get(cid, gateway, fetch=fetch, timeout=timeout)

    refs = walk_ipld_map(node, node_fetch)
    if not any(k.endswith((".zarray", "zarr.json")) for k in refs):
        raise IpldError(
            f"root {root} walked to {len(refs)} keys but none look like a "
            "zarr array metadata doc (.zarray / zarr.json) — not a published "
            "Zarr store"
        )
    budget = max_bytes
    inline: dict[str, str] = {}
    for key, val in refs.items():
        if isinstance(val, CID):
            val = block_get(val, gateway, fetch=fetch, timeout=timeout)
        budget -= len(val)
        if budget < 0:
            raise IpldError(
                f"IPLD import exceeds max_bytes={max_bytes} at key {key!r} — "
                "raise the cap explicitly for larger-than-default datasets"
            )
        inline[key] = "base64:" + base64.b64encode(val).decode("ascii")
    return materialize_kerchunk_refs(inline, dest)
