"""GridStore — the publish/write path (SURVEY.md §2.1 S11-S17, §3.3).

The reference writes Zarr with three update modes (utils/publish.py:240-397):
initial (mode="w"), append (append_dim=time), and region-insert
(region={time: slice}). Here the store is a time-bucket-partitioned parquet
table with a **manifest log** — a minimal Delta-style commit protocol:

  - data files are immutable; every write lands new files via a staging
    directory and then commits a manifest (the list of live files);
  - initial  → manifest v1 = the new files          (write_initial_zarr)
  - append   → manifest vN = vN-1 + new files        (append_to_dataset)
  - insert   → rewritten buckets' files replace the old ones *in the
    manifest only* — the old files stay on disk       (insert_into_dataset)
  - readers resolve a manifest and read exactly its files, so a version is
    readable forever until :meth:`vacuum` reclaims unreferenced files. This
    is the Spark-native mapping of the reference's IPFS-CID time travel
    (S12, zarr_hash_to_dataset, utils/transform.py:541-558): manifest
    version ↔ CID, latest version ↔ IPNS pointer. The analogy stops at the
    digests: each manifest pins this store's file bytes for
    :meth:`verify_integrity`, but parquet-java's bytes for the same rows
    vary with the JVM's history, so a digest is not a cross-run content
    address.

Commit atomicity: the manifest file is written once, last; a crash mid-write
leaves orphan data files (vacuumable) but never a half-visible table. The
commit point is a **put-if-absent** hard link of a writer-unique temp file
onto ``v{N}.json``, where N is one past the version the writer READ when it
built its file list (optimistic concurrency) — if a concurrent writer
already committed N, the link raises and the loser gets a commit-conflict
:class:`StoreError` with its staged files unlinked (mutual exclusion
on the version counter, the Delta-protocol property a plain rename lacks:
POSIX rename silently overwrites, so two racing writers would both "succeed"
and the second would clobber the first — and re-reading the counter at
commit time would be just as lossy, landing a stale snapshot's file list on
top of the winner's at N+1). The reference's ``update_in_progress`` flag protocol
(publish.py:153-180) is kept as informational properties for parity.

One commit protocol: the version discovery and manifest read
(:func:`latest_version`, :func:`read_manifest`), the put-if-absent commit
(:func:`commit_manifest`) and the staged partitioned write
(:func:`stage_partitioned`) are module functions with two users — GridStore
and the persisted IVF index (operators/similarity.py ``*_ivf_index``), whose
cell-partitioned inverted lists commit through the same manifest log.

One write path: like the reference's guarded ``to_zarr`` wrapper (S16,
publish.py:124-180), every write — initial, append, insert, update, compact,
restore — goes through one bracket, :meth:`GridStore._publish` (flag on →
observe → stage → empty guard → commit → conflict retry → flag off), and
every data read through :meth:`GridStore._read`. The bracket casts the new
rows to the descriptor's schema, so every data file holds exactly the types
the reader declares (an open then infers nothing). The NetCDF4 and GRIB2
exports share one bucket-grid sink (sources/sink.py) and supply only their
encoders.

Scale design: partition grain (descriptor.time_bucket) is the analog of the
Zarr time-chunk spec (chirps.py:26-28). A bucket holds one calendar unit of
cells; at CHIRPS-0.05 scale (2000×7200 grid, daily) a "month" bucket is
~430M cells ≈ 1.7 GB float32 → a handful of ~128 MB parquet files after the
pre-write repartition, matching the reference's 100-200 MB chunk target
(docs/etl_developers_manual.md:137). Sort-within-partitions by (lat, lon)
gives row-group min/max stats → lat/lon predicate pushdown approximates
Z-order locality. Manifest-level bucket pruning (``time_sliced``) plays the
role of Delta data skipping.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import uuid
import warnings
from collections.abc import Mapping
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.config import BUCKET_FMT, DatasetDescriptor, strftime_fmt
from zarr_climate_etl_ipfs_spark.operators.updates import validate_update
from zarr_climate_etl_ipfs_spark.sources.ingest import _evaluated_once

_BUCKET_COL = "time_bucket"


def _sha256_file(p: Path) -> str:
    h = hashlib.sha256()
    with open(p, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _content_digest(file_digests: dict[str, str]) -> str:
    """Digest over the sorted (path, digest) pairs: the manifest's Merkle
    link to its entire file set."""
    h = hashlib.sha256()
    for f in sorted(file_digests):
        h.update(f.encode())
        h.update(file_digests[f].encode())
    return h.hexdigest()


class StoreError(RuntimeError):
    pass


def _bucket_of(relpath: str) -> str:
    """Partition value from a relative file path 'time_bucket=X/part-…'."""
    head = relpath.split("/", 1)[0]
    return head.split("=", 1)[1] if "=" in head else ""


# -- the commit protocol: GridStore and the persisted IVF index
#    (operators/similarity.py) both read, stage and commit through these -----


def latest_version(manifest_dir: Path) -> int:
    """Highest committed ``v{N}.json`` under ``manifest_dir``; 0 for none."""
    if not manifest_dir.exists():
        return 0
    return max((int(p.stem[1:]) for p in manifest_dir.glob("v*.json")), default=0)


def read_manifest(manifest_dir: Path, version: int | None = None) -> dict[str, Any]:
    """Manifest ``version`` (default: the latest); StoreError if absent."""
    v = latest_version(manifest_dir) if version is None else version
    p = manifest_dir / f"v{v}.json"
    if v == 0 or not p.exists():
        raise StoreError(f"no manifest v{v} at {manifest_dir}")
    return json.loads(p.read_text())


def commit_manifest(manifest_dir: Path, manifest: dict[str, Any]) -> None:
    """Commit ``manifest`` as ``v{manifest['version']}.json``: the put-if-
    absent commit point. A writer-unique temp file is hard-linked onto the
    slot; os.link is atomic and raises if the slot exists, giving mutual
    exclusion on the version counter (a rename would silently overwrite a
    racing commit). The loser gets a commit-conflict StoreError."""
    v = manifest["version"]
    manifest_dir.mkdir(parents=True, exist_ok=True)
    # writer-unique temp name: two racing writers that both computed
    # version v must not share a staging file either, or one could
    # hard-link the OTHER's content into the commit slot
    tmp = manifest_dir / f".v{v}.{os.getpid()}.{uuid.uuid4().hex[:8]}.json.tmp"
    tmp.write_text(json.dumps(manifest, indent=2))
    try:
        os.link(tmp, manifest_dir / f"v{v}.json")
    except FileExistsError:
        raise StoreError(
            f"commit conflict: manifest v{v} already exists — a concurrent "
            "writer won this version; re-read the latest version and retry"
        ) from None
    finally:
        tmp.unlink(missing_ok=True)


def stage_partitioned(
    df: DataFrame, root: Path, data_path: Path, part_col: str, **options: str
) -> list[str]:
    """Write ``df`` partitioned by ``part_col`` into a writer-unique staging
    dir under ``root``, move the part files into the live partition dirs
    under ``data_path`` (unique job-scoped names — no collisions) and
    return their ``data_path``-relative paths. Files become *live* only
    when a manifest commits them. The staging dir is writer-unique: a
    shared path would let one concurrent writer rmtree the other's
    in-flight part files (the sibling race to the commit conflict)."""
    staging = root / f"_staging-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").options(**options).partitionBy(part_col).parquet(
        str(staging)
    )
    moved: list[str] = []
    for part_dir in staging.glob(f"{part_col}=*"):
        dst_dir = data_path / part_dir.name
        dst_dir.mkdir(parents=True, exist_ok=True)
        for f in part_dir.glob("*.parquet"):
            f.rename(dst_dir / f.name)
            moved.append(f"{part_dir.name}/{f.name}")
    shutil.rmtree(staging)
    return moved


class GridStore:
    """One published dataset at ``root/<dataset_name>/``: immutable parquet
    files + ``_meta/`` (manifests/v*.json, properties.json)."""

    def __init__(
        self,
        root: str | Path,
        desc: DatasetDescriptor,
        spark: SparkSession,
        compression: str = "zstd",
    ):
        self.desc = desc
        self.spark = spark
        self.root = Path(root) / desc.dataset_name
        self.data_path = self.root / "data"
        self.meta_path = self.root / "_meta"
        self.manifest_path = self.meta_path / "manifests"
        # F14 (metadata.py:803-818): the Blosc-or-none choice becomes the
        # parquet codec option; "uncompressed" is the IPFS-dedup analog.
        self.compression = compression

    # -- manifest log --------------------------------------------------------

    def current_version(self) -> int:
        return latest_version(self.manifest_path)

    def manifest(self, version: int | None = None) -> dict[str, Any]:
        return read_manifest(self.manifest_path, version)

    def _commit(
        self,
        action: str,
        files: list[str],
        rng: Mapping[str, Any],
        update_props: bool = True,
        base_version: int | None = None,
        prev_end: Any = None,
    ) -> int:
        """Commit ``files`` as version ``base_version + 1``.

        ``prev_end`` overrides the ``update_previous_end_date`` property
        (default: the observed range's ``hi``). Mixed insert+append
        updates pass the APPEND leg's max here so the property lands in
        the same ``set_properties`` write as the rest of the commit
        metadata — patching it afterwards left a crash window where the
        whole-batch max (which can exceed the append leg's max when a
        backfill append sits below an overwritten time) survived as
        exactly the stale anchor the override exists to prevent.

        ``rng`` carries the update's ``lo``/``hi``/``n`` (time range + row
        count). Writers collect it via :meth:`_observe_rng` piggybacked on
        the staging write — computing it here with a ``df.agg`` would cost
        one extra Spark action per commit, re-executing the writer's whole
        input subtree.

        ``base_version`` is the version the WRITER READ when it built the
        file list (optimistic concurrency, the Delta protocol's conflict
        rule): committing against a re-read of ``current_version()`` would
        let a writer whose snapshot went stale mid-write land v(N+2) on top
        of vN's file list, silently dropping v(N+1)'s data — the put-if-
        absent link below only arbitrates writers that computed the SAME
        version. Callers that read no prior state (initial write) pass
        None and race for whatever slot is next.
        """
        base = self.current_version() if base_version is None else base_version
        v = base + 1
        manifest = {
            "version": v,
            "action": action,
            "committed_utc": dt.datetime.now(dt.timezone.utc).isoformat(),
            "files": sorted(files),
            # integrity pins (S23): every live file is pinned by digest, and
            # the manifest digest commits to the whole file set — a Merkle
            # link that verify_integrity checks. The digests hash this
            # store's file bytes, not the rows: the same rows written after
            # a different JVM history hash differently, so they are no
            # cross-run content address. Carried-over files reuse the prior
            # manifest's digests (no rehash of unchanged data).
            "file_digests": self._digests(files, base),
            "time_start": str(rng["lo"]),
            "time_end": str(rng["hi"]),
            "rows": rng["n"],
        }
        manifest["content_digest"] = _content_digest(manifest["file_digests"])
        commit_manifest(self.manifest_path, manifest)
        if update_props:  # maintenance actions (compact) aren't data updates
            self.set_properties(
                update_date_range=[str(rng["lo"]), str(rng["hi"])],
                update_previous_end_date=str(
                    rng["hi"] if prev_end is None else prev_end
                ),
            )
        return v

    def _digests(self, files: list[str], prev_version: int) -> dict[str, str]:
        """sha256 per live file, reusing the previous manifest's entries for
        files it already pinned (immutable files never need rehashing)."""
        prior: dict[str, str] = {}
        if prev_version > 0:
            try:
                prior = self.manifest(prev_version).get("file_digests", {})
            except StoreError:
                prior = {}
        out: dict[str, str] = {}
        for f in sorted(files):
            out[f] = prior.get(f) or _sha256_file(self.data_path / f)
        return out

    def verify_integrity(self, version: int | None = None) -> None:
        """Recompute every pinned digest and compare — the content-addressed
        read guarantee IPFS gives for free, enforced here explicitly.
        Raises StoreError naming the first corrupted/missing file."""
        m = self.manifest(version)
        digests = m.get("file_digests", {})
        for f in m["files"]:
            p = self.data_path / f
            if not p.exists():
                raise StoreError(f"integrity: missing data file {f}")
            want = digests.get(f)
            if want and _sha256_file(p) != want:
                raise StoreError(f"integrity: content mismatch for {f}")
        if digests and m.get("content_digest") != _content_digest(digests):
            raise StoreError("integrity: manifest content digest mismatch")

    def versions(self) -> list[dict[str, Any]]:
        """Version log, oldest first (Delta history / IPNS chain analog)."""
        if not self.manifest_path.exists():
            return []
        out = []
        for p in sorted(self.manifest_path.glob("v*.json"), key=lambda p: int(p.stem[1:])):
            m = json.loads(p.read_text())
            e = {k: m[k] for k in ("version", "action", "time_start", "time_end", "rows")}
            if "committed_utc" in m:
                e["committed_utc"] = m["committed_utc"]
            out.append(e)
        return out

    def version_as_of(self, when: dt.datetime) -> int:
        """Delta ``timestampAsOf``: the latest version whose commit landed
        at or before ``when`` (naive datetimes are taken as UTC). Manifests
        written before the ``committed_utc`` field existed fall back to
        their manifest file's mtime — an approximation that survives file
        copies poorly, so old stores should prefer ``version=``."""
        if when.tzinfo is None:
            when = when.replace(tzinfo=dt.timezone.utc)
        best: int | None = None
        for e in self.versions():
            ts = e.get("committed_utc")
            if ts is not None:
                t = dt.datetime.fromisoformat(ts)
            else:
                p = self.manifest_path / f"v{e['version']}.json"
                t = dt.datetime.fromtimestamp(p.stat().st_mtime, dt.timezone.utc)
            if t <= when and (best is None or e["version"] > best):
                best = e["version"]
        if best is None:
            raise StoreError(f"no version committed at or before {when.isoformat()}")
        return best

    # -- open / existence (S11, S12) ----------------------------------------

    def has_existing(self) -> bool:
        return self.current_version() > 0

    def dataset(
        self, version: int | None = None, as_of: dt.datetime | None = None
    ) -> DataFrame:
        """Open the table at a version (default: latest) — S11, and S12's
        CID time travel when ``version`` is given. ``as_of`` resolves a
        wall-clock commit time to a version instead (Delta's
        ``timestampAsOf`` twin; mutually exclusive with ``version``)."""
        if as_of is not None:
            if version is not None:
                raise StoreError("dataset: pass version= or as_of=, not both")
            version = self.version_as_of(as_of)
        return self._read(self.manifest(version)["files"])

    def _read(self, files: list[str]) -> DataFrame:
        """The one data-file reader: manifest-relative ``files`` as a frame
        without the partition column. It declares the descriptor's schema
        (``time_bucket`` as a string partition), which :meth:`_publish`
        enforces, so an open reads no file footer and runs no Spark job.
        The listing stays on the driver up to Spark's
        ``parallelPartitionDiscovery.threshold`` (32 paths); above it, an
        uncompacted store's open still launches a listing job. No files →
        an empty frame of the same schema."""
        if not files:
            return self.spark.createDataFrame([], self.desc.schema())
        paths = [str(self.data_path / f) for f in files]
        schema = self.desc.schema().add(_BUCKET_COL, "string")
        df = (
            self.spark.read.schema(schema)
            .option("basePath", str(self.data_path))
            .parquet(*paths)
        )
        return df.drop(_BUCKET_COL)

    def time_sliced(self, start: dt.datetime, end: dt.datetime) -> DataFrame:
        """P1 time-slice with manifest-level bucket pruning: only files whose
        bucket overlaps [start, end] are even listed — the Delta-data-skipping
        analog of the reference's binary file search (O4/Q7)."""
        td = self.desc.time_dim
        py_fmt = strftime_fmt(BUCKET_FMT[self.desc.time_bucket])
        lo, hi = start.strftime(py_fmt), end.strftime(py_fmt)
        files = [f for f in self.manifest()["files"] if lo <= _bucket_of(f) <= hi]
        return self._read(files).filter(F.col(td).between(F.lit(start), F.lit(end)))

    def restore(self, version: int) -> int:
        """Delta RESTORE analog, completing the versioning triad with
        time travel (S12) and :meth:`diff`: re-commit an earlier version's
        exact file list as a NEW version — a forward-history rollback, so
        the mistake and its correction are both in the log (nothing is
        rewritten; the old files are immutable and simply referenced
        again). Restorable only while the target's files survive
        :meth:`vacuum`; a reclaimed version raises a named error rather
        than committing a manifest with dangling references."""
        m = self.manifest(version)
        cur = self.current_version()
        if version == cur:
            return cur
        missing = [f for f in m["files"] if not (self.data_path / f).exists()]
        if missing:
            raise StoreError(
                f"restore: {len(missing)} file(s) of v{version} were vacuumed "
                f"(first: {missing[0]}); the version is no longer restorable"
            )
        v = self._publish("restore", list(m["files"]), base=cur)
        # The pre-commit existence check above races a concurrent
        # vacuum(retention=0) (TOCTOU): a reclaim can land between check and
        # commit, leaving the just-committed manifest with dangling
        # references. Windowed vacuums (the 7-day default) can't hit this —
        # the target's files were live moments ago — so re-verify only after
        # the commit and fail loudly rather than return a broken version.
        gone = [f for f in m["files"] if not (self.data_path / f).exists()]
        if gone:
            raise StoreError(
                f"restore: committed v{v} but a concurrent vacuum reclaimed "
                f"{len(gone)} of its file(s) (first: {gone[0]}); v{v} is "
                f"dangling — restore a surviving version to recover"
            )
        return v

    def diff(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Cell-level change feed between two versions (the Delta
        change-data-feed readout on top of S12 time travel): one row per
        grid cell that was ``added``, ``removed`` or ``changed`` between
        ``from_version`` and ``to_version`` (default: latest), with the
        old and new values side by side.

        Scale shape: the two manifests are compared FIRST — only buckets
        whose file SET differs are read at all (manifest-level pruning, the
        same trick time_sliced uses), so an append-only update diffs at the
        cost of the appended buckets, never the archive. Within changed
        buckets a full-outer join on the dim key decides the change kind;
        a compaction (same data, new files) scans its rewritten buckets and
        correctly yields zero rows — the manifest prune is an
        over-approximation the join refines. NULL-value transitions count
        as changes (null-safe equality); values equal under ``<=>`` drop
        out."""
        m_old = self.manifest(from_version)
        m_new = self.manifest(to_version)
        by_bucket_old: dict[str, set] = {}
        by_bucket_new: dict[str, set] = {}
        for f in m_old["files"]:
            by_bucket_old.setdefault(_bucket_of(f), set()).add(f)
        for f in m_new["files"]:
            by_bucket_new.setdefault(_bucket_of(f), set()).add(f)
        changed_buckets = {
            b
            for b in by_bucket_old.keys() | by_bucket_new.keys()
            if by_bucket_old.get(b) != by_bucket_new.get(b)
        }
        var, dims = self.desc.data_var, self.desc.dims

        def changed(m: dict[str, Any]) -> DataFrame:
            return self._read([f for f in m["files"] if _bucket_of(f) in changed_buckets])

        old = changed(m_old).select(
            *dims,
            F.col(var).alias("old_value"),
            F.lit(True).alias("_has_old"),
        )
        new = changed(m_new).select(
            *dims,
            F.col(var).alias("new_value"),
            F.lit(True).alias("_has_new"),
        )
        change = (
            F.when(F.col("_has_old").isNull(), F.lit("added"))
            .when(F.col("_has_new").isNull(), F.lit("removed"))
            .when(~F.col("old_value").eqNullSafe(F.col("new_value")), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
        )
        return (
            old.join(new, on=dims, how="full_outer")
            .withColumn("change", change)
            .filter(F.col("change") != "unchanged")
            .select(*dims, "old_value", "new_value", "change")
        )

    # -- write modes (S13-S16) ----------------------------------------------

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        fmt = BUCKET_FMT[self.desc.time_bucket]
        return df.withColumn(_BUCKET_COL, F.date_format(F.col(self.desc.time_dim), fmt))

    def _layout(self, df: DataFrame) -> DataFrame:
        """Pre-write layout: one shuffle keyed by bucket (the storage grain),
        rows sorted inside each file for row-group min-max locality — the
        repartition+sortWithinPartitions analog of the reference's pre-write
        ``.chunk(requested_dask_chunks)`` (publish.py:251-256).

        Spatial sort key: the Morton/Z-order index when both lat and lon are
        present (row groups then bound *both* coordinates, so either-axis
        predicates prune — operators/scale.zorder_index), else plain column
        order."""
        if "latitude" in df.columns and "longitude" in df.columns:
            from zarr_climate_etl_ipfs_spark.operators.scale import zorder_index

            return (
                df.withColumn("_z", zorder_index("latitude", "longitude"))
                .repartition(F.col(_BUCKET_COL))
                .sortWithinPartitions(_BUCKET_COL, "_z", self.desc.time_dim)
                .drop("_z")
            )
        return df.repartition(F.col(_BUCKET_COL)).sortWithinPartitions(
            _BUCKET_COL, self.desc.time_dim
        )

    def _observe_rng(self, df: DataFrame) -> tuple[DataFrame, Observation]:
        """Attach a CollectMetrics node recording the frame's time range and
        row count. The metrics materialize with whatever action executes the
        returned frame (here: the staging write), so :meth:`_commit` gets its
        manifest scalars without a second pass over the writer's input."""
        td = self.desc.time_dim
        obs = Observation()
        return (
            df.observe(
                obs,
                F.min(td).alias("lo"),
                F.max(td).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ),
            obs,
        )

    def _rng_of(self, df: DataFrame) -> dict[str, Any]:
        """One-action fallback for commits with no staging write (restore)."""
        td = self.desc.time_dim
        r = df.agg(
            F.min(td).alias("lo"), F.max(td).alias("hi"), F.count("*").alias("n")
        ).first()
        return {"lo": r["lo"], "hi": r["hi"], "n": r["n"]}

    def _stage_files(self, df: DataFrame) -> list[str]:
        """Lay df out by bucket and stage it (:func:`stage_partitioned`)."""
        out = self._layout(self._with_bucket(df))
        return stage_partitioned(
            out, self.root, self.data_path, _BUCKET_COL, compression=self.compression
        )

    def _publish(
        self,
        action: str,
        keep: list[str],
        new: DataFrame | None = None,
        carry: DataFrame | None = None,
        base: int | None = None,
        append_only: bool = False,
        retries: int = 0,
        **commit_kw: Any,
    ) -> int | None:
        """The one write path, the reference's guarded ``to_zarr`` (S16,
        publish.py:124-180): flag on → observe → stage → empty guard →
        commit → conflict retry → flag off. The flag clears even on failure
        (a stuck True would wedge every later update's guard). Returns the
        committed version, or None for a skipped empty input.

        ``keep``: live files carried over unchanged. ``new``: the update's
        rows, cast to the descriptor's schema (the types :meth:`_read`
        declares) and observed for the manifest's time range and row count;
        None stages nothing and re-commits ``keep`` (restore). ``carry``: rows
        restaged with ``new`` but not counted (an insert's surviving bucket
        rows). ``base``: the version the caller read (None for an initial
        write, which races for the next slot).

        Empty guard, from the input alone: staging no files raises when the
        commit would list no files at all (an empty manifest bricks the
        store: has_existing() True, nothing to read), else warns and skips
        (``obs.get`` would raise on metrics that never materialized).

        Only :meth:`append` passes ``retries``: its staged files stay valid
        whatever a racing writer committed, so a lost race re-reads the
        latest manifest as ``keep`` and recommits without restaging. A
        commit that finally fails unlinks the files this call staged (no
        manifest references them), as the IVF index's commit does."""
        self._flag_update(True, append_only)
        try:
            files: list[str] = []
            if new is None:
                rng = self._rng_of(self._read(keep))
            else:
                observed, obs = self._observe_rng(
                    new.select(*(F.col(f.name).cast(f.dataType) for f in self.desc.schema()))
                )
                files = self._stage_files(
                    observed if carry is None else carry.unionByName(observed)
                )
                if not files:
                    msg = f"{action}: input produced no data files (empty DataFrame?)"
                    if not keep:
                        raise StoreError(f"{msg} — refusing to commit an empty manifest")
                    warnings.warn(f"{msg} — skipping commit", stacklevel=3)
                    return None
                rng = obs.get
            for attempt in range(retries + 1):
                try:
                    return self._commit(
                        action, keep + files, rng, base_version=base, **commit_kw
                    )
                except StoreError:
                    if attempt == retries:
                        for f in files:
                            (self.data_path / f).unlink(missing_ok=True)
                        raise
                    m = self.manifest()  # re-read the winner's file list
                    keep, base = m["files"], m["version"]
        finally:
            self._flag_update(False, append_only)

    def write_initial(self, df: DataFrame) -> None:
        """S13: full (re)publish — a fresh manifest referencing only the new
        files; prior versions stay readable until vacuum. An empty input
        raises StoreError instead of committing an empty manifest."""
        self._publish("initial", [], df)

    def append(self, df: DataFrame, max_retries: int = 3) -> None:
        """S14: blind extend along the time dim (update_is_append_only=True),
        with no validation — :meth:`update` is the validated path.

        Commit conflicts auto-resolve, Delta-style: an append's staged
        files stay valid whatever a concurrent writer committed, so losing
        the version race just means re-reading the latest manifest and
        recombining — the data files are NOT restaged. (An :meth:`insert`
        can't do this: its rewritten buckets were computed against the
        snapshot it read, so a racing commit is a true conflict there.)
        Raises the final commit-conflict StoreError after ``max_retries``
        losses — pathological contention should be visible, not looped on
        forever. An empty batch warns and commits nothing."""
        m = self.manifest()
        self._publish(
            "append", m["files"], df, base=m["version"], append_only=True,
            retries=max_retries,
        )

    def insert(self, df: DataFrame) -> None:
        """S15: overwrite existing time steps in place — only the buckets
        containing replaced steps are rewritten; untouched rows in those
        buckets are carried over via an anti-join on the time key. The old
        bucket files leave the manifest but stay on disk (time travel).
        The key collect and the staging write read one evaluation of ``df``
        (:func:`~.ingest._evaluated_once`); the rewrite commits against the
        snapshot read first, so a commit that lands meanwhile conflicts."""
        m = self.manifest()
        with _evaluated_once(df):
            update = self._with_bucket(df.select(*self.desc.schema().fieldNames()))
            # ONE collect serves both the replaced time keys (a literal anti
            # predicate in the carry-over rewrite — a key-FRAME anti-join would
            # re-execute its store-scan + distinct subtree inside the staging
            # write job) and the touched bucket set. Bounded by construction:
            # an update batch's distinct time steps are small (operators/
            # updates.py module docstring).
            pairs = update.select(self.desc.time_dim, _BUCKET_COL).distinct().collect()
            times = sorted({r[0] for r in pairs if r[0] is not None})
            touched = {r[1] for r in pairs if r[1] is not None}
            self._rewrite_touched(m, df, times, touched, action="insert")

    def _rewrite_touched(
        self,
        m: dict[str, Any],
        df: DataFrame,
        anti_times,
        touched: set,
        action: str,
        **publish_kw: Any,
    ) -> None:
        """Carry-over rewrite against the snapshot manifest ``m``, the one
        commit of :meth:`insert` and of every :meth:`update`: restage each
        touched bucket's rows minus the replaced times together with ``df``
        (the new rows — only they are observed for the manifest range and
        row count) and commit them with the untouched files as version
        ``m["version"] + 1``; ``publish_kw`` goes to :meth:`_publish`. No
        touched bucket (an append) reads no carry and keeps every file. The
        replaced times (those in the touched buckets) are a literal NOT-IN
        (``anti_times`` is the bounded collected key list — a key-FRAME
        broadcast anti-join would re-execute its store-scan + distinct
        subtree inside the staging write job); NULL-time rows survive,
        matching left_anti's non-matching-row semantics. No conflict retry:
        the legs were planned against ``m`` — a racing commit is a true
        conflict the caller must re-plan against (Delta parity)."""
        carry = None
        if touched:
            td = self.desc.time_dim
            carry = self._read([f for f in m["files"] if _bucket_of(f) in touched]).filter(
                F.coalesce(~F.col(td).isin(list(anti_times)), F.lit(True))
            )
        self._publish(
            action,
            [f for f in m["files"] if _bucket_of(f) not in touched],
            df,
            carry=carry,
            base=m["version"],
            **publish_kw,
        )

    def update(self, df: DataFrame, dry_run: bool = False) -> dict[str, int]:
        """The parse orchestration (publish.py:265-397 ``update_zarr``):
        split update keys into inserts/appends (J1), run the Q5 guards,
        honor allow_overwrite (publish.py:287-294), then write both legs in
        one commit. ``dry_run`` validates and returns the leg counts
        without writing (S16).

        One snapshot: like the reference, which splits, checks and writes
        both legs against the one dataset it opened, ``update`` reads the
        manifest once; validation reads that version's times and the one
        commit (:meth:`_rewrite_touched`) lands as the next version. A
        commit by any other writer in between — an update, append, insert,
        compact or restore — is a commit-conflict StoreError with no rows
        written; re-run ``update`` to validate against the new version.

        The validated rows are the written rows: validation, leg routing
        and the staging write read one evaluation of ``df``, held for the
        call (:func:`~.ingest._evaluated_once`). A lazy source —
        ``read_binary_gridded``'s decoder — runs once per call, and one
        that changes between Spark actions cannot slip unvalidated rows
        into the commit (barring a lost cache block, which Spark
        recomputes from the source).
        """
        with _evaluated_once(df):
            desc = self.desc
            td = desc.time_dim
            m = self.manifest()
            existing_times = self._read(m["files"]).select(td).distinct()
            update_times = df.select(td).distinct()
            val = validate_update(
                existing_times,
                update_times,
                desc.expected_delta,
                time_dim=td,
                dataset_start=desc.dataset_start_date,
                cadence_bounds=desc.update_cadence_bounds,
                # the insert legs' touched-bucket set rides the validator's
                # single aggregation — collecting it separately cost one more
                # driver action per update
                insert_bucket_fmt=BUCKET_FMT[desc.time_bucket],
                # the insert key TIMES ride the same aggregation, so leg
                # routing below is a literal predicate on the input frame —
                # broadcast semi/anti-joins against the split key frames
                # would re-execute their store-scan + distinct + join
                # subtrees inside each staging write job. Bounded by construction (an
                # update batch's distinct steps are small — same argument as
                # insert_buckets), so the literal IN list stays plan-cheap.
                collect_insert_times=True,
            )
            if not val.ok:
                raise StoreError("; ".join(val.errors))
            # Split sizes come from the validation pass — counting the semi/anti
            # joins here would cost two more driver actions for numbers the
            # validator's single aggregation already produced.
            n_ins = val.n_inserts
            n_app = val.n_appends
            leg = df
            if n_ins and not desc.allow_overwrite:
                # warn-and-skip semantics (publish.py:287-293) — the reference
                # WARNS here (self.warn), and a silent skip is a data-loss
                # footgun for callers who forgot the flag (an overwrite leg
                # would vanish with no signal while the append leg lands)
                warnings.warn(
                    f"update: skipping {n_ins} overwrite key(s) that already exist — "
                    "allow_overwrite is not set on the descriptor; only the append "
                    "leg (if any) will be written",
                    stacklevel=2,
                )
                leg = df.filter(~F.col(td).isin(list(val.insert_times)))
                n_ins = 0
            counts = {"inserts": n_ins, "appends": n_app}
            if dry_run or not (n_ins or n_app):
                return counts
            # Leg routing: every row of df is one leg or the other (its
            # distinct times ARE the update key set), so the written frame is
            # df minus any skipped insert times; a single-leg update drops
            # NULL-time rows, a mixed one keeps them. One commit for both legs
            # (the reference's update_zarr is a single write + publish,
            # publish.py:265-397): they stage in one write job, and the insert
            # times and buckets come from the validator — insert() would
            # collect the same (time, bucket) pairs again, one more Spark
            # action. An append touches no bucket, reads no carry and keeps
            # every file.
            #
            # ``update_previous_end_date`` is anchored on ``last_append``
            # (the append leg's max, None for a pure insert) inside the
            # commit's own property write: a mixed commit's observed range
            # spans BOTH legs, and with ``cadence_bounds`` set an irregular
            # backfill append can end below an overwritten existing time —
            # cadence anchoring must keep reading the append leg's max, not
            # the whole-batch max. Threading it through ``_commit`` (instead
            # of a second ``set_properties`` after it) leaves no crash
            # window where the whole-batch max persists.
            self._rewrite_touched(
                m,
                leg if n_ins and n_app else leg.filter(F.col(td).isNotNull()),
                val.insert_times,
                set(val.insert_buckets) if n_ins else set(),
                action="update" if n_ins and n_app else "insert" if n_ins else "append",
                prev_end=val.last_append,
                append_only=not n_ins,
            )
            return counts

    def compact(self, max_files_per_bucket: int = 1) -> dict[str, int]:
        """Small-file compaction (Delta OPTIMIZE analog). Every append/insert
        commit adds at least one file per touched bucket, so long-lived
        incremental datasets accumulate many small files — the #1 read-path
        tax at scale (per-file open cost, tiny row groups defeat min-max
        pruning). Rewrite any bucket whose live file count exceeds the
        target into freshly Z-order-sorted consolidated files and commit a
        new manifest; prior versions stay readable until :meth:`vacuum`.

        Returns {bucket: n_files_rewritten} for the compacted buckets.
        """
        m = self.manifest()
        by_bucket: dict[str, list[str]] = {}
        for f in m["files"]:
            by_bucket.setdefault(_bucket_of(f), []).append(f)
        crowded = {
            b: fs for b, fs in by_bucket.items() if len(fs) > max_files_per_bucket
        }
        if not crowded:
            return {}
        self._publish(
            "compact",
            [f for f in m["files"] if _bucket_of(f) not in crowded],
            self._read([f for fs in crowded.values() for f in fs]),
            base=m["version"],
            update_props=False,
        )
        return {b: len(fs) for b, fs in crowded.items()}

    def vacuum(self, retention: dt.timedelta = dt.timedelta(days=7)) -> int:
        """Delete unreferenced data files older than ``retention`` — after
        which only versions whose files all survive stay readable (Delta
        VACUUM analog, including its retention window). Returns the number
        of files removed.

        The retention window is concurrency protection, not a convenience:
        a concurrent writer moves its data files into the live partition
        dirs BEFORE its manifest commit (see :meth:`_stage_files`), so an
        unwindowed vacuum racing that writer would delete its staged-but-
        uncommitted files and leave the subsequent commit pointing at
        nothing — silent data loss with every gate green. Files younger
        than the window are never touched, exactly like Delta's
        ``deletedFileRetentionDuration``. Pass ``timedelta(0)`` only when
        single-writer operation is guaranteed (tests, offline compaction).
        """
        cutoff = dt.datetime.now().timestamp() - retention.total_seconds()
        live = set(self.manifest()["files"])
        removed = 0
        for part_dir in self.data_path.glob(f"{_BUCKET_COL}=*"):
            for f in part_dir.glob("*.parquet"):
                rel = f"{part_dir.name}/{f.name}"
                if rel not in live and f.stat().st_mtime <= cutoff:
                    f.unlink()
                    removed += 1
            if not any(part_dir.iterdir()):
                part_dir.rmdir()
        # retire manifests that now reference deleted files; keep any old
        # version whose file set fully survived the retention window (it
        # stays time-travelable until its files age out)
        cur = self.current_version()
        for p in sorted(self.manifest_path.glob("v*.json")):
            v = int(p.stem[1:])
            if v >= cur:
                continue
            m = json.loads(p.read_text())
            if any(not (self.data_path / f).exists() for f in m["files"]):
                p.unlink()
        return removed

    # -- metadata (S16/S17, M7) ---------------------------------------------

    def _props_file(self) -> Path:
        return self.meta_path / "properties.json"

    def properties(self) -> dict[str, Any]:
        if self._props_file().exists():
            return json.loads(self._props_file().read_text())
        return {}

    def set_properties(self, **props: Any) -> None:
        """S17 metadata-only write (store.py:397-414): patch properties in
        place without touching data. Dict values are JSON-serialized and None
        becomes "" — the attr-sanitation rule from metadata.py:820-833."""
        cur = self.properties()
        for k, v in props.items():
            if isinstance(v, dict):
                v = json.dumps(v, sort_keys=True)
            if v is None:
                v = ""
            cur[k] = v
        self.meta_path.mkdir(parents=True, exist_ok=True)
        # temp + atomic rename: properties are informational last-writer-wins
        # metadata, but an in-place write_text lets a concurrent reader see a
        # truncated file (JSONDecodeError) — rename makes reads all-or-nothing
        tmp = self.meta_path / f".properties.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
        tmp.write_text(json.dumps(cur, indent=2, sort_keys=True, default=str))
        tmp.rename(self._props_file())

    # -- per-column encoding gardening (M6) ----------------------------------

    #: the reference's whitelisted encoding fields (metadata.py:20-45) —
    #: xarray-side + zarr-side names, kept verbatim so a migrator's existing
    #: gardening calls keep their validation behavior
    COLUMN_ENCODING_FIELDS: tuple[str, ...] = (
        "dtype", "scale_factor", "add_offset", "_FillValue", "missing_value",
        "chunksizes", "zlib", "complevel", "shuffle", "fletcher32",
        "contiguous", "units", "calendar",
        "chunks", "compressor", "filters", "order", "fill_value",
        "object_codec", "dimension_separator",
    )

    def column_encodings(self) -> dict[str, dict[str, Any]]:
        """Per-coordinate-column encoding metadata (the .zarray/.zattrs
        analog), stored inside the table properties."""
        raw = self.properties().get("column_encodings", "{}")
        return json.loads(raw) if isinstance(raw, str) else raw

    def update_column_encoding(self, column: str, update_key: dict[str, Any]) -> None:
        """M6 gardening (metadata.py:835-870): insert/update one encoding
        key on a coordinate column."""
        self._modify_column_encoding(column, update_key=update_key, remove_key=None)

    def remove_column_encoding(self, column: str, remove_key: str) -> None:
        """M6 gardening (metadata.py:853-867): drop one encoding key from a
        coordinate column."""
        self._modify_column_encoding(column, update_key=None, remove_key=remove_key)

    def _modify_column_encoding(
        self,
        column: str,
        update_key: dict[str, Any] | None = None,
        remove_key: str | None = None,
    ) -> None:
        """The reference's _modify_array_encoding rules (metadata.py:869-946),
        minus the physical rewrite: in the tall-parquet model a coordinate
        column's encoding is table metadata, so gardening is a metadata-only
        commit instead of a delete-recreate of the array. The guard rails are
        kept verbatim: no-op calls error, keys must be whitelisted, and only
        coordinate dimensions may be gardened — data-variable changes mean a
        re-parse (write_initial), exactly as the reference insists."""
        if not any([update_key, remove_key]):
            raise ValueError("no changes to the column encoding were specified")
        if update_key:
            bad = [k for k in update_key if k not in self.COLUMN_ENCODING_FIELDS]
            if bad:
                raise ValueError(f"invalid key {bad[0]} for column encoding")
        if column not in self.desc.dims:
            raise ValueError(
                f"target column {column} is not in this dataset's list of "
                f"coordinate dimensions: {self.desc.dims}; data-variable "
                "encodings require a re-parse"
            )
        encodings = self.column_encodings()
        enc = dict(encodings.get(column, {}))
        if update_key:
            enc.update(update_key)
        if remove_key:
            enc.pop(remove_key, None)
        encodings[column] = enc
        self.set_properties(column_encodings=encodings)

    def _flag_update(self, in_progress: bool, append_only: bool) -> None:
        self.set_properties(
            update_in_progress=in_progress, update_is_append_only=append_only
        )

    # -- Zarr v2 interop ------------------------------------------------------

    def export_zarr(
        self,
        path: str | Path,
        chunks: tuple[int, ...] | None = None,
        compressor: dict[str, Any] | None = None,
        filters: list[dict[str, Any]] | None = None,
        version: int | None = None,
        overwrite: bool = False,
        zarr_format: int = 2,
        codecs: list[dict[str, Any]] | None = None,
    ) -> dict[str, Any]:
        """Publish this store's dataset (any ``version``) as a real Zarr v2
        group — the output surface the reference's ``to_zarr`` /
        ``write_initial_zarr`` produce (publish.py:124-180, 240-261), so a
        downstream xarray/zarr consumer keeps working after a migration.
        ``zarr_format=3`` publishes zarr-python 3's default format instead
        (v3 ``codecs`` pipeline, sharding included, via write_zarr_tall).
        NULL data cells and absent grid cells both land on the NaN
        ``fill_value`` — exactly the missing-data representation a
        reference-published zarr uses (transform.py:341-369). ``filters``
        passes through to the data variable's chunk pipeline: with
        ``[{"id": "xchacha20poly1305", "key_hash": ...}]`` this is the
        reference's ENCRYPTED publish (metadata.py:711-717 wiring of
        EncryptionFilter), chunk-ciphertext-compatible."""
        from zarr_climate_etl_ipfs_spark.sources.zarr2 import write_zarr_tall

        return write_zarr_tall(
            self.dataset(version),
            str(path),
            self.desc.data_var,
            self.desc.dims,
            chunks=chunks,
            compressor=compressor,
            filters=filters,
            fill_value=float("nan"),
            overwrite=overwrite,
            attrs={"dataset_name": self.desc.dataset_name},
            zarr_format=zarr_format,
            codecs=codecs,
        )

    def export_netcdf4(
        self,
        path: str | Path,
        version: int | None = None,
        compress: int | None = 5,
        overwrite: bool = False,
    ) -> dict[str, Any]:
        """Distributed NetCDF4 export: ONE ``.nc`` file per time bucket,
        each written executor-side by the pure-numpy HDF5 writer
        (sources/hdf5write.py) — the sharded-collection shape every
        at-scale NetCDF archive uses (and the shape the ingest side's
        ``read_binary_gridded``/``netcdf4_decoder`` consumes, so the
        export round-trips through this engine too).

        Scale design: the shared bucket-grid sink
        (sources/sink.write_bucket_grids) — ONE shuffle keyed on the time
        bucket, the store's own partition grain; this method supplies only
        the HDF5 encoder."""
        from zarr_climate_etl_ipfs_spark.sources.hdf5write import write_hdf5
        from zarr_climate_etl_ipfs_spark.sources.sink import claim_dir, write_bucket_grids

        desc = self.desc
        var, td, dims = desc.data_var, desc.time_dim, desc.dims
        spatial = dims[1:]
        claim_dir(str(path), overwrite, StoreError)

        def encoder_for(axes):
            def encode(tvals, grid):
                secs = tvals.astype("datetime64[s]").astype("int64").astype("float64")
                variables = {
                    td: ((td,), secs, {"units": "seconds since 1970-01-01"}),
                    var: (tuple(dims), grid, {"dataset_name": desc.dataset_name}),
                }
                for d in spatial:
                    variables[d] = ((d,), axes[d], {})
                blob = write_hdf5(
                    variables,
                    global_attrs={"dataset_name": desc.dataset_name},
                    chunks={var: (1, *(len(axes[d]) for d in spatial))},
                    compress=compress,
                )
                return blob, len(tvals), 0

            return encode

        stats = write_bucket_grids(
            self.dataset(version), str(path), var, td, spatial,
            BUCKET_FMT[desc.time_bucket], "nc", encoder_for,
        )
        return {k: stats[k] for k in ("files", "bytes", "rows")}

    def export_grib2(
        self,
        path: str | Path,
        version: int | None = None,
        template: int = 0,
        bits_per_value: int = 16,
        decimal_scale: int = 2,
        discipline: int = 0,
        parameter: tuple[int, int] = (0, 0),
        level_type: int = 1,
        level: int = 0,
        overwrite: bool = False,
    ) -> dict[str, Any]:
        """Distributed GRIB2 export — one ``.grib2`` file per time bucket,
        one message per time step, written executor-side by the pure-numpy
        writer (sources/grib2.py write_grib2; ``template`` picks the data
        representation: 0 simple, 2/3 complex, 41 PNG, 42 CCSDS/AEC). This
        completes the publish matrix next to export_zarr/export_netcdf4 —
        GRIB is the distribution format the reference's ETLs consume
        (utils/transform.py grib handling), so a store published this way
        feeds any reference-style pipeline AND re-ingests through this
        engine's own read_binary_gridded + grib2_decoder.

        Same bucket-grid sink as export_netcdf4. GRIB constraints enforced with
        clear errors: exactly two spatial dims, axes evenly spaced and
        on-grid at GRIB's microdegree resolution (section 3 stores only
        endpoints + increments). Encoding is lossy at ``decimal_scale``
        like any real GRIB product; all-missing time slices are skipped
        (a GRIB message cannot carry zero present points) and counted in
        the returned manifest. Delegates to grib2.write_grib2_sharded —
        the same sink the grib2_publish_roundtrip catalog query drives."""
        from zarr_climate_etl_ipfs_spark.sources.grib2 import (
            GRIB2Error,
            write_grib2_sharded,
        )
        from zarr_climate_etl_ipfs_spark.sources.sink import claim_dir

        desc = self.desc
        spatial = desc.dims[1:]
        if len(spatial) != 2:
            raise GRIB2Error(
                f"GRIB2 export needs exactly (time, lat, lon); descriptor "
                f"{desc.dataset_name!r} has spatial dims {spatial}"
            )
        lat_dim = next(
            (d for d in spatial if d.lower().startswith("lat")), spatial[0]
        )
        lon_dim = next(d for d in spatial if d != lat_dim)

        claim_dir(str(path), overwrite, StoreError)
        return write_grib2_sharded(
            self.dataset(version),
            str(path),
            desc.data_var,
            desc.time_dim,
            lat_dim,
            lon_dim,
            bucket_fmt=BUCKET_FMT[desc.time_bucket],
            template=template,
            bits_per_value=bits_per_value,
            decimal_scale=decimal_scale,
            discipline=discipline,
            parameter=parameter,
            level_type=level_type,
            level=level,
        )

    def ingest_zarr(self, path: str | Path, var: str | None = None) -> None:
        """Migrate OFF a published Zarr v2 store in one step: open it
        distributed (S10/S11), canonicalize to the declared schema — fill
        cells arrive masked to NULL (F6), dtypes enforced — and take it as
        this store's initial write (S13). Dim arrays must carry the
        descriptor's dim names (true for any reference-published store with
        xarray ``_ARRAY_DIMENSIONS``); rename upstream otherwise."""
        from zarr_climate_etl_ipfs_spark.sources.ingest import canonicalize
        from zarr_climate_etl_ipfs_spark.sources.zarr2 import read_zarr_tall

        df = read_zarr_tall(self.spark, str(path), var=var, mask_fill=True)
        df = canonicalize(df, self.desc, source_var=df.columns[-1])
        self.write_initial(df)

    def destroy(self) -> None:
        if self.root.exists():
            shutil.rmtree(self.root)
