"""Driver-side extractors — acquisition stays thin Python outside the engine
core (SURVEY.md §2.1 S1-S6, §7 step 5; reference utils/extractor.py).

The reference runs HTTP/FTP/S3 downloads in an 8-thread pool with retry
policies (extractor.py:34, 144-171, 334, 376-394). Those semantics port
directly; what changes at cluster scale is *where* the fetch runs:
:func:`distributed_fetch` ships the URL list to executors
(spark.range-over-urls → mapInPandas), so a 1M-file backfill downloads with
cluster parallelism instead of one machine's 8 threads.

Network libraries (requests) are import-gated: this container is offline, so
construction works and ``.request`` raises a clear error without the dep.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from pathlib import Path

try:  # pragma: no cover - environment-dependent
    import urllib.request as _urllib

    _HAVE_URLLIB = True
except Exception:  # pragma: no cover
    _HAVE_URLLIB = False

from concurrent.futures import ThreadPoolExecutor


@dataclass
class RetryPolicy:
    """HTTP: 8 retries, exponential backoff, retry on 5xx
    (extractor.py:144-171); S3: 5 tries, linear backoff (:376-394).

    ``max_sleep`` caps each computed delay — production keeps the real
    backoff (None = uncapped); tests inject a small cap instead of the
    library hard-coding one."""

    tries: int = 8
    backoff: float = 1.0
    exponential: bool = True
    retry_statuses: tuple[int, ...] = (500, 502, 503, 504)
    max_sleep: float | None = None

    def delays(self) -> Iterator[float]:
        for i in range(self.tries):
            d = self.backoff * (2**i) if self.exponential else self.backoff * (i + 1)
            yield d if self.max_sleep is None else min(d, self.max_sleep)


@dataclass
class Extractor:
    """Base pool semantics: run requests over a batch in a thread pool,
    all-success boolean (extractor.py:49-112)."""

    concurrency_limit: int = 8
    retry: RetryPolicy = field(default_factory=RetryPolicy)

    def request(self, source: str, destination: Path) -> bool:  # pragma: no cover
        raise NotImplementedError

    def pool(self, batch: list[tuple[str, Path]]) -> bool:
        with ThreadPoolExecutor(max_workers=self.concurrency_limit) as ex:
            results = list(ex.map(lambda sd: self.request(*sd), batch))
        return all(results)


class HTTPExtractor(Extractor):
    """S3/S4: session download with retry/backoff (extractor.py:258-309)."""

    def request(self, source: str, destination: Path) -> bool:
        if not _HAVE_URLLIB:  # pragma: no cover
            raise NotImplementedError("no HTTP stack available in this environment")
        err: Exception | None = None
        for delay in self.retry.delays():
            try:
                with _urllib.urlopen(source, timeout=30) as resp:  # noqa: S310
                    destination.parent.mkdir(parents=True, exist_ok=True)
                    destination.write_bytes(resp.read())
                return True
            except Exception as e:  # noqa: BLE001
                err = e
                time.sleep(delay)
        raise ConnectionError(f"download failed after {self.retry.tries} tries: {err}")

    @staticmethod
    def get_links(html: str, filter_func: Callable[[str], bool] = lambda _: True) -> set[str]:
        """S3: parse <a href> links from an index page (extractor.py:203-256).
        Takes the page text (fetching is a .request call) — pure function,
        testable offline."""
        hrefs = set(re.findall(r'<a\s+[^>]*href="([^"]+)"', html, flags=re.IGNORECASE))
        return {h for h in hrefs if filter_func(h)}


class S3Extractor(Extractor):
    """S6: S3 remote extract (extractor.py:312-397). Reference semantics:
    the path must be ``s3://`` (ValueError otherwise), the fetch is retried
    ``tries`` times with *linear* backoff (attempt × 30 s), and exhaustion
    raises FileNotFoundError. The per-file payload hook (the reference's
    ``kerchunkify``) is injectable — here it defaults to a boto3 download,
    import-gated since this container has no boto3/network."""

    def __init__(self, fetch_fn: Callable[[str, Path], None] | None = None, **kw):
        kw.setdefault(
            "retry", RetryPolicy(tries=5, backoff=30.0, exponential=False)
        )
        super().__init__(**kw)
        self._fetch_fn = fetch_fn

    def _default_fetch(self, source: str, destination: Path) -> None:  # pragma: no cover
        try:
            import boto3  # noqa: PLC0415 — deliberate late import
        except ImportError as e:
            raise NotImplementedError("boto3 not available; inject fetch_fn") from e
        bucket, _, key = source[len("s3://") :].partition("/")
        destination.parent.mkdir(parents=True, exist_ok=True)
        boto3.client("s3").download_file(bucket, key, str(destination))

    def request(self, source: str, destination: Path) -> bool:
        if not source.lower().startswith("s3://"):
            raise ValueError(f"given path {source} is not an S3 path")
        fetch = self._fetch_fn or self._default_fetch
        err: Exception | None = None
        for delay in self.retry.delays():
            try:
                fetch(source, destination)
                return True
            except Exception as e:  # noqa: BLE001
                err = e
                time.sleep(delay)
        raise FileNotFoundError(
            f"too many ({self.retry.tries}) failed download attempts from server: {err}"
        )


def extractor_for(url: str, **kw) -> Extractor:
    """Scheme dispatch: pick the extractor class the reference would
    (http(s) → session downloads, s3:// → remote extract, ftp:// → FTP)."""
    lower = url.lower()
    if lower.startswith("s3://"):
        return S3Extractor(**kw)
    if lower.startswith("ftp://"):
        return FTPExtractor(**kw)
    if lower.startswith(("http://", "https://")):
        return HTTPExtractor(**kw)
    raise ValueError(f"no extractor for URL scheme: {url}")


class FTPExtractor(Extractor):
    """S1/S2: regex listing + per-request fresh connection
    (extractor.py:508-591). Import-gated on ftplib at call time."""

    host: str = ""

    def __init__(self, host: str = "", **kw):
        super().__init__(**kw)
        self.host = host

    def find(self, listing: list[str], pattern: str) -> list[str]:
        """Pattern-match a directory listing (S1) — pure part, offline-testable."""
        rx = re.compile(pattern)
        return sorted(name for name in listing if rx.search(name))

    def request(self, source: str, destination: Path) -> bool:
        """S2: anonymous binary RETR. A FRESH connection per request — the
        reference opens a separate ftplib.FTP per download so concurrent
        fetches don't serialize on one control channel
        (extractor.py:546-549).

        Host resolution (explicit): when the extractor
        carries a ``host``, the WHOLE source is the RETR path (the
        reference's shape — host on the manager, sources are paths); embed
        ``host[:port]/path`` in the source only on a host-less extractor.
        The optional ``:port`` suffix supports non-21 servers and local
        test stubs; IPv4/hostnames only — bracket-less IPv6 literals pass
        through un-split (``[host]:port`` IPv6 syntax is not parsed)."""
        import ftplib  # noqa: PLC0415 — deliberate late import

        if self.host:
            host, path = self.host, source
        else:
            host, _, path = source.partition("/")
        port = 21
        if host.count(":") == 1:  # a lone colon is host:port; "::1" is IPv6
            h, _, port_s = host.partition(":")
            try:
                port = int(port_s)
                host = h
            except ValueError:
                pass  # not a port — leave the host string intact
        ftp = ftplib.FTP(timeout=30)
        # Download to a sibling temp path and rename only after RETR
        # succeeds: a failed transfer (550, timeout) must not leave a
        # zero-byte file at the destination that a later existence check
        # mistakes for a completed download (the reference has this flaw;
        # extractor.py:546-549 writes direct).
        # The suffix is unique per process+object so CONCURRENT fetches of
        # the same destination (speculative/retried tasks — the class this
        # extractor's fresh-connection contract is designed for) cannot
        # cross-delete or interleave each other's temp file; last rename
        # wins atomically.
        import os  # noqa: PLC0415
        import time  # noqa: PLC0415

        tmp = destination.with_name(
            f"{destination.name}.{os.getpid()}.{id(self):x}.part"
        )
        try:
            ftp.connect(host, port)
            ftp.login()
            destination.parent.mkdir(parents=True, exist_ok=True)
            # Sweep stale sibling temp files before starting: the unique
            # suffix means a HARD-killed process (the speculative-task
            # class the suffix targets) leaves its .part behind forever —
            # the in-process except-cleanup never runs. Anything older
            # than an hour cannot belong to a live transfer of this file;
            # a concurrent LIVE fetch's temp is younger and survives.
            cutoff = time.time() - 3600.0
            for stale in destination.parent.glob(f"{destination.name}.*.part"):
                if stale != tmp:
                    try:
                        if stale.stat().st_mtime < cutoff:
                            stale.unlink()
                    except OSError:
                        pass  # raced with another sweeper / live writer
            with tmp.open("wb") as f:
                ftp.retrbinary(f"RETR {path}", f.write)
            tmp.replace(destination)
        except BaseException:
            tmp.unlink(missing_ok=True)
            raise
        finally:
            ftp.close()
        return True


def distributed_fetch(spark, urls: list[str], dest_dir: str, fetcher=None):
    """Cluster-parallel fetch: the 100 TB replacement for the driver thread
    pool. URLs become a DataFrame; each executor task downloads its slice.
    Returns (url, ok, error) rows. ``fetcher(url, dest_dir) -> str`` is
    injectable for testing."""
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    if fetcher is None:
        def fetcher(url: str, dest: str) -> str:  # pragma: no cover
            out = Path(dest) / Path(url).name
            HTTPExtractor().request(url, out)
            return str(out)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                try:
                    path = fetcher(url, dest_dir)
                    rows.append((url, True, path, None))
                except Exception as e:  # noqa: BLE001
                    rows.append((url, False, None, str(e)[:200]))
            yield pd.DataFrame(rows, columns=["url", "ok", "path", "error"])

    df = spark.createDataFrame([(u,) for u in urls], "url string").repartition(
        max(1, min(len(urls), 64))
    )
    return df.mapInPandas(
        kernel, schema="url string, ok boolean, path string, error string"
    )
