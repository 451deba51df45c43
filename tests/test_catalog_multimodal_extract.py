"""Tests: STAC-style catalog lifecycle, multimodal plumbing, extractors."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import _tall, daily
from zarr_climate_etl_ipfs_spark import multimodal
from zarr_climate_etl_ipfs_spark.plans.catalog import (
    StacCatalog,
    bbox_geometry,
    extent,
    union_extent,
)
from zarr_climate_etl_ipfs_spark.sources.extractors import (
    FTPExtractor,
    HTTPExtractor,
    RetryPolicy,
    distributed_fetch,
)

# -- catalog -----------------------------------------------------------------


def test_extents(initial_df, desc):
    bbox, (lo, hi) = extent(initial_df)
    assert bbox == [100.0, 10.0, 130.0, 40.0]
    assert lo.startswith("2021-09-16") and hi.startswith("2022-01-31")


def test_union_extent():
    assert union_extent([0, 0, 10, 10], [-5, 2, 8, 20]) == [-5, 0, 10, 20]


def test_bbox_geometry_closed_ring():
    g = bbox_geometry([0.0, 0.0, 1.0, 2.0])
    ring = g["coordinates"][0]
    assert ring[0] == ring[-1] and len(ring) == 5


def test_temporal_extent_union_widens_past_fractional_seconds(tmp_path, desc, initial_df, spark):
    """isoformat() includes microseconds only when nonzero, and '...00Z'
    sorts ABOVE '...00.500000Z' lexicographically — a string max() silently
    failed to widen the collection extent past a fractional-second endpoint
    (round-14 review catch). Union must compare chronologically."""
    import datetime as dt

    from zarr_climate_etl_ipfs_spark.plans.catalog import StacCatalog

    cat = StacCatalog(tmp_path / "stac")
    cat.create_or_update_collection(desc, initial_df)
    later = initial_df.withColumn(
        "time",
        F.lit(dt.datetime(2022, 1, 31, 0, 0, 0, 500000)).cast("timestamp"),
    )
    coll = cat.create_or_update_collection(desc, later)
    hi = coll["extent"]["temporal"]["interval"][0][1]
    assert hi == "2022-01-31T00:00:00.500000Z"  # widened chronologically


def test_catalog_lifecycle(tmp_path, desc, initial_df, spark):
    cat = StacCatalog(tmp_path / "stac")
    coll = cat.create_or_update_collection(desc, initial_df)
    assert coll["extent"]["spatial"]["bbox"] == [[100.0, 10.0, 130.0, 40.0]]

    item1 = cat.register_item(desc, initial_df, data_href="/data/v1")
    assert item1["id"] == "fake_obs-v1" and item1["links"] == []

    # re-publish with wider data → extent union + version chain
    wider = spark.createDataFrame(
        _tall(daily("2022-02-01", 3), seed=9), schema=desc.schema()
    ).withColumn("latitude", F.col("latitude") - 50.0)
    cat.create_or_update_collection(desc, wider)
    coll2 = cat.create_or_update_collection(desc, initial_df)
    assert coll2["extent"]["spatial"]["bbox"] == [[100.0, -40.0, 130.0, 40.0]]

    item2 = cat.register_item(desc, wider, data_href="/data/v2")
    assert item2["links"] == [{"rel": "prev", "href": "./v1.json"}]
    latest = cat.latest_item(desc.dataset_name)
    assert latest["id"] == "fake_obs-v2"
    history = cat.item_history(desc.dataset_name)
    assert [it["id"] for it in history] == ["fake_obs-v2", "fake_obs-v1"]


# -- multimodal --------------------------------------------------------------


def test_multimodal_feature_extraction(spark):
    payloads = [(1, b"aaaa"), (2, b"zzzzzzzz"), (3, b"")]
    df = spark.createDataFrame(payloads, "doc_id long, content binary")
    out = multimodal.extract_features(
        df, decoder=multimodal.deterministic_fake_decoder
    ).orderBy("doc_id").collect()
    assert [r["decode_ok"] for r in out] == [True, True, True]
    assert len(out[0]["feature"]) == 8
    # deterministic: same content → same feature
    again = multimodal.extract_features(
        df, decoder=multimodal.deterministic_fake_decoder
    ).orderBy("doc_id").collect()
    assert out[0]["feature"] == again[0]["feature"]


def test_multimodal_default_decoder_degrades_per_row(spark):
    """Round-5 contract: the default decoder is REAL (mediacodecs) — bytes
    it cannot dispatch degrade to decode_ok=false per row instead of
    killing the stage; external-codec formats name the missing library."""
    df = spark.createDataFrame(
        [(1, b"x"), (2, b"\xff\xd8\xff\xe0 jpeg-ish")], "doc_id long, content binary"
    )
    got = {r["doc_id"]: r for r in multimodal.extract_features(df).collect()}
    assert not got[1]["decode_ok"] and "unrecognized" in got[1]["error"]
    assert not got[2]["decode_ok"] and "JPEG" in got[2]["error"]


def test_multimodal_corrupt_payload_isolated(spark):
    def flaky(content: bytes, meta) -> np.ndarray:
        if content == b"bad":
            raise ValueError("corrupt blob")
        return np.ones(4, dtype=np.float32)

    df = spark.createDataFrame([(1, b"ok"), (2, b"bad")], "doc_id long, content binary")
    out = {r["doc_id"]: r for r in multimodal.extract_features(df, decoder=flaky).collect()}
    assert out[1]["decode_ok"] and out[1]["feature"] == [1.0] * 4
    assert not out[2]["decode_ok"] and "corrupt" in out[2]["error"]


def test_frame_deltas_exact_and_isolated(spark):
    """frame_deltas: exact mean-abs deltas between constant frames (the
    shot_boundaries catalog oracle's foundation), one row per consecutive
    pair, and per-row failure isolation on undecodable payloads."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import encode_gif_animation

    frames = np.stack([
        np.full((4, 3, 3), 10, dtype=np.uint8),
        np.full((4, 3, 3), 50, dtype=np.uint8),
        np.full((4, 3, 3), 45, dtype=np.uint8),
    ])
    good = encode_gif_animation(frames, delay_cs=5)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a gif"))],
        "doc_id long, content binary",
    )
    rows = {(r["doc_id"], r["frame_idx"]): r for r in multimodal.frame_deltas(df).collect()}
    assert rows[(1, 0)]["mean_abs_delta"] == 40.0
    assert rows[(1, 1)]["mean_abs_delta"] == 5.0
    assert rows[(2, None)]["decode_ok"] is False
    assert len([k for k in rows if k[0] == 1]) == 2  # n_frames - 1 pairs


def test_phash_invariance_and_isolation(spark):
    """phash_images: the 64-bit perceptual hash is invariant to positive
    scaling and constant offset (the property the image_phash_dedup
    oracle pins), distinct across rotations of a textured pattern, and
    per-row failure-isolated."""
    from zarr_climate_etl_ipfs_spark.mediacodecs import encode_png
    from zarr_climate_etl_ipfs_spark.multimodal import _phash_bits, phash_images

    y, x = np.mgrid[0:16, 0:16]
    pat = ((3 * y + 5 * x + (y * x) % 7) % 11).astype(np.int64)

    def png(o, a, off):
        img = (off + a * np.rot90(pat, o)).astype(np.uint8)
        return encode_png(np.dstack([img, img, img]))

    rows = [
        (0, bytearray(png(0, 1, 0))),
        (1, bytearray(png(0, 5, 90))),   # same orientation, scaled+shifted
        (2, bytearray(png(1, 2, 10))),
        (3, bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r["doc_id"]: r for r in phash_images(df).collect()}
    assert got[0]["phash"] == got[1]["phash"]          # invariance
    assert got[0]["phash"] != got[2]["phash"]          # orientation splits
    assert got[3]["decode_ok"] is False                # isolation
    # all four rotations are distinct (the oracle's 4-class assumption)
    assert len({_phash_bits(np.rot90(pat, o).astype(np.uint8)) for o in range(4)}) == 4


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, b"v")], "doc_id long, content binary")
    df = multimodal.attach_media_meta(df, "video", "mp4").withColumn(
        "media_meta",
        F.col("media_meta").withField("duration_ms", F.lit(3500).cast("long")),
    )
    frames = multimodal.frame_sample_plan(df, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000]


# -- extractors --------------------------------------------------------------


def test_http_get_links_filter():
    html = '<a href="f1.nc">x</a> <A HREF="f2.txt">y</A> <a id="z" href="f3.nc">'
    links = HTTPExtractor.get_links(html, lambda h: h.endswith(".nc"))
    assert links == {"f1.nc", "f3.nc"}


def test_ftp_find_pattern():
    listing = ["chirps_2003.nc", "chirps_2004.nc", "readme.txt"]
    assert FTPExtractor().find(listing, r"chirps_\d{4}\.nc") == [
        "chirps_2003.nc",
        "chirps_2004.nc",
    ]


class _MiniFTPServer:
    """Just enough RFC 959 to serve ftplib's anonymous binary RETR:
    220 greeting, USER/PASS, TYPE I, PASV, RETR, QUIT. Counts control
    connections so the fresh-connection-per-request contract
    (reference extractor.py:546-549) is assertable."""

    def __init__(self, files: dict[str, bytes]):
        import socket
        import threading

        self.files = files
        self.connections = 0
        self._sock = socket.socket()
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(4)
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _serve(self):
        import socket

        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            self.connections += 1
            try:
                self._session(conn, socket)
            except OSError:
                pass
            finally:
                conn.close()

    def _session(self, conn, socket):
        def send(line):
            conn.sendall(line.encode("latin-1") + b"\r\n")

        send("220 mini ftp ready")
        buf = b""
        data_listener = None
        while True:
            while b"\r\n" not in buf:
                chunk = conn.recv(4096)
                if not chunk:
                    return
                buf += chunk
            line, buf = buf.split(b"\r\n", 1)
            cmd, _, arg = line.decode("latin-1").partition(" ")
            cmd = cmd.upper()
            if cmd == "USER":
                send("331 anonymous ok, send pass")
            elif cmd == "PASS":
                send("230 logged in")
            elif cmd == "TYPE":
                send("200 type set")
            elif cmd == "PASV":
                data_listener = socket.socket()
                data_listener.bind(("127.0.0.1", 0))
                data_listener.listen(1)
                p = data_listener.getsockname()[1]
                send(f"227 Entering Passive Mode (127,0,0,1,{p >> 8},{p & 0xFF})")
            elif cmd == "RETR":
                payload = self.files.get(arg)
                if payload is None or data_listener is None:
                    send("550 no such file")
                    continue
                send("150 opening data connection")
                data, _ = data_listener.accept()
                data.sendall(payload)
                data.close()
                data_listener.close()
                data_listener = None
                send("226 transfer complete")
            elif cmd == "QUIT":
                send("221 bye")
                return
            else:
                send("502 not implemented")

    def close(self):
        self._stop.set()
        self._sock.close()


def test_ftp_request_downloads_binary(tmp_path):
    """S2 (reference extractor.py:508-591): anonymous login + binary RETR
    lands the exact bytes; each request opens a FRESH control connection."""
    payload = bytes(range(256)) * 5  # binary-unsafe under TYPE A — proves TYPE I
    srv = _MiniFTPServer({"pub/chirps_2003.nc": payload, "pub/b.nc": b"second"})
    try:
        ex = FTPExtractor(host=f"127.0.0.1:{srv.port}")
        dest = tmp_path / "sub" / "chirps_2003.nc"
        assert ex.request("pub/chirps_2003.nc", dest)
        assert dest.read_bytes() == payload
        # with no constructor host, the source's first segment is host:port
        ex2 = FTPExtractor()
        dest2 = tmp_path / "b.nc"
        assert ex2.request(f"127.0.0.1:{srv.port}/pub/b.nc", dest2)
        assert dest2.read_bytes() == b"second"
        assert srv.connections == 2  # one fresh connection per request
    finally:
        srv.close()


def test_ftp_request_missing_file_raises(tmp_path):
    import ftplib

    srv = _MiniFTPServer({})
    try:
        ex = FTPExtractor(host=f"127.0.0.1:{srv.port}")
        with pytest.raises(ftplib.error_perm):
            ex.request("pub/nope.nc", tmp_path / "nope.nc")
        # a failed RETR must NOT leave a zero-byte destination (or a
        # temp remnant) that a later existence check mistakes for a
        # completed download — round-13 advice; the reference has this flaw
        assert not (tmp_path / "nope.nc").exists()
        assert list(tmp_path.glob("*.part")) == []
    finally:
        srv.close()


def test_ftp_request_failure_preserves_prior_download(tmp_path):
    """Re-fetch failure must not truncate a previously completed file:
    the temp-then-rename contract means the old bytes survive."""
    import ftplib

    payload = b"good bytes"
    srv = _MiniFTPServer({"pub/a.nc": payload})
    try:
        ex = FTPExtractor(host=f"127.0.0.1:{srv.port}")
        dest = tmp_path / "a.nc"
        assert ex.request("pub/a.nc", dest)
        assert dest.read_bytes() == payload
        srv.files.clear()  # server loses the file; re-fetch now 550s
        with pytest.raises(ftplib.error_perm):
            ex.request("pub/a.nc", dest)
        assert dest.read_bytes() == payload  # prior download intact
        assert list(tmp_path.glob("*.part")) == []
    finally:
        srv.close()


def test_ftp_request_sweeps_stale_part_files(tmp_path):
    """A hard-killed process leaves its uniquely-suffixed .part behind (the
    in-process cleanup never ran); the next fetch of the same destination
    must sweep remnants older than the liveness threshold but leave a
    YOUNG sibling alone (it may belong to a live concurrent transfer) —
    r15 advice fix."""
    import os
    import time

    payload = b"fresh bytes"
    srv = _MiniFTPServer({"pub/a.nc": payload})
    try:
        ex = FTPExtractor(host=f"127.0.0.1:{srv.port}")
        dest = tmp_path / "a.nc"
        dest.parent.mkdir(parents=True, exist_ok=True)
        stale = dest.with_name("a.nc.9999.dead.part")
        stale.write_bytes(b"orphan")
        old = time.time() - 7200
        os.utime(stale, (old, old))
        live = dest.with_name("a.nc.8888.live.part")
        live.write_bytes(b"in flight")
        assert ex.request("pub/a.nc", dest)
        assert dest.read_bytes() == payload
        assert not stale.exists()  # swept
        assert live.exists()  # young sibling untouched
        # unrelated destinations' temps are never touched
        other = tmp_path / "b.nc.1.1.part"
        other.write_bytes(b"x")
        os.utime(other, (old, old))
        assert ex.request("pub/a.nc", dest)
        assert other.exists()
    finally:
        srv.close()


def test_retry_policy_delays():
    http = RetryPolicy()
    assert list(http.delays())[:3] == [1.0, 2.0, 4.0]
    s3 = RetryPolicy(tries=5, backoff=1.0, exponential=False)
    assert list(s3.delays()) == [1.0, 2.0, 3.0, 4.0, 5.0]
    capped = RetryPolicy(tries=4, max_sleep=2.5)
    assert list(capped.delays()) == [1.0, 2.0, 2.5, 2.5]


def test_s3_extractor_retries_then_raises(tmp_path):
    """S6: 5 tries, linear backoff, FileNotFoundError on exhaustion
    (reference extractor.py:312-397)."""
    from zarr_climate_etl_ipfs_spark.sources.extractors import S3Extractor

    calls = []

    def failing_fetch(src, dest):
        calls.append(src)
        raise ConnectionError("503")

    ex = S3Extractor(
        fetch_fn=failing_fetch,
        retry=RetryPolicy(tries=5, backoff=30.0, exponential=False, max_sleep=0.0),
    )
    with pytest.raises(FileNotFoundError, match="too many"):
        ex.request("s3://bucket/key.nc", tmp_path / "key.nc")
    assert len(calls) == 5
    # default (un-injected) policy carries the reference's linear 30 s ramp
    assert list(S3Extractor(fetch_fn=failing_fetch).retry.delays()) == [
        30.0, 60.0, 90.0, 120.0, 150.0,
    ]


def test_s3_extractor_success_and_path_validation(tmp_path):
    from zarr_climate_etl_ipfs_spark.sources.extractors import S3Extractor

    def ok_fetch(src, dest):
        dest.parent.mkdir(parents=True, exist_ok=True)
        dest.write_bytes(b"data")

    ex = S3Extractor(fetch_fn=ok_fetch)
    assert ex.request("s3://bucket/key.nc", tmp_path / "key.nc")
    assert (tmp_path / "key.nc").read_bytes() == b"data"
    with pytest.raises(ValueError, match="not an S3 path"):
        ex.request("http://bucket/key.nc", tmp_path / "x")


def test_extractor_scheme_dispatch():
    from zarr_climate_etl_ipfs_spark.sources.extractors import (
        S3Extractor,
        extractor_for,
    )

    assert isinstance(extractor_for("s3://b/k"), S3Extractor)
    assert isinstance(extractor_for("https://h/p"), HTTPExtractor)
    assert isinstance(extractor_for("ftp://h/p"), FTPExtractor)
    with pytest.raises(ValueError, match="no extractor"):
        extractor_for("gopher://h/p")


def test_distributed_fetch_with_fake(spark, tmp_path):
    def fake_fetcher(url: str, dest: str) -> str:
        if "bad" in url:
            raise ConnectionError("host unreachable")
        return f"{dest}/{url.split('/')[-1]}"

    urls = ["http://x/a.nc", "http://x/bad.nc", "http://x/c.nc"]
    out = {r["url"]: r for r in distributed_fetch(spark, urls, str(tmp_path), fake_fetcher).collect()}
    assert out["http://x/a.nc"]["ok"] and out["http://x/a.nc"]["path"].endswith("a.nc")
    assert not out["http://x/bad.nc"]["ok"] and "unreachable" in out["http://x/bad.nc"]["error"]
