"""etl_daily: the reference's parse loop on a seeded provider feed, and the
user reads of the store it publishes.

Set-up (repeated, median = setup_s): generate the corpus and publish the
NetCDF3 history: read_binary_gridded -> canonicalize -> check_dtype ->
GridStore.write_initial -> STAC collection + item.

Then passes, one operation at a time. A pass is two days of the feed and
their readers: two daily GRIB2 batches, each decode -> GridStore.update ->
post_parse_quality_check -> STAC collection + item and each followed by the
fixed read mix of analytics.py on the updated, uncompacted store. The first
batch re-issues provisional days (a mixed insert+append update that
rewrites month buckets), the second appends one day. The update cycles are
the "heavy" operations and the reads the "light" ones, so a change to the
read path shows in light_pass_s and one to the write path in pass_s
without it. An untimed warm-up comes first: the feed's first batch, an
append, so the timed pass does not pay the session's first update (up to
twice a warm one). A run times one pass (longer than the run's usual
``--seconds``) and counts each read's faster run, which is the second: a
read's first run in a session compiles its plan's code.

After the loop: compact and verify_integrity, then check the store against
the generator's grid. Small batches keep the data tiny on purpose: the fixed
per-operation costs (Spark jobs per update, Python worker start-up, driver
round trips, STAC extent scans over the whole store) dominate, as they do in
a daily feed.
"""

from __future__ import annotations

import time
from collections import Counter

from zarr_climate_etl_ipfs_spark.operators.qc import check_dtype, post_parse_quality_check
from zarr_climate_etl_ipfs_spark.operators.updates import validate_update
from zarr_climate_etl_ipfs_spark.plans.catalog import StacCatalog
from zarr_climate_etl_ipfs_spark.sources.grib2 import grib2_decoder
from zarr_climate_etl_ipfs_spark.sources.ingest import canonicalize, read_binary_gridded
from zarr_climate_etl_ipfs_spark.sources.netcdf3 import netcdf3_decoder

import analytics
import grid
from common import SETUP_REPS, median, span_median

NY, NX = 24, 24
#: January and half of February (two NetCDF3 files): a mixed batch rewrites
#: February's bucket, the next append adds a second file to it, the reads
#: find more than one file in that bucket and compaction has work to do
HISTORY_DAYS = 45
N_BATCHES = 60  # more than a run can apply
MIXED_EVERY = 2  # a pass pairs a mixed batch with the append after it


def noop_sink(df) -> None:
    """Force a lazy frame through its whole plan without keeping a result."""
    df.write.format("noop").mode("overwrite").save()


def stac_publish(ctx, store, cat, desc) -> None:
    with ctx.tracer.span("stac.publish"):
        ds = store.dataset()
        cat.create_or_update_collection(desc, ds)
        cat.register_item(desc, ds, data_href=str(store.data_path))


def publish(ctx, corpus, store, cat, desc) -> None:
    tr = ctx.tracer
    raw = read_binary_gridded(
        ctx.spark,
        str(corpus.history_files[0].parent / "*.nc"),
        desc,
        decoder=netcdf3_decoder(desc, data_var="precipitation"),
    )
    canon = canonicalize(raw, desc, source_var="precipitation")
    with tr.span("qc.check_dtype"):
        check_dtype(canon, desc)
    with tr.span("store.write_initial"):
        store.write_initial(canon)
    stac_publish(ctx, store, cat, desc)


def run(ctx, res) -> None:
    from zarr_climate_etl_ipfs_spark.sources.store import GridStore

    spark, tr = ctx.spark, ctx.tracer
    desc = grid.descriptor("etl_daily")
    publish_s = []
    for rep in range(SETUP_REPS):
        d = ctx.dir / f"setup{rep}"
        t0 = time.perf_counter()
        corpus = grid.make_grid_corpus(
            d / "corpus", ctx.seed, NY, NX, HISTORY_DAYS, N_BATCHES, MIXED_EVERY
        )
        store = GridStore(d / "store", desc, spark)
        cat = StacCatalog(d / "stac")
        t1 = time.perf_counter()
        with tr.span("etl.publish"):
            publish(ctx, corpus, store, cat, desc)
        publish_s.append(time.perf_counter() - t1)
        res.setup_s.append(time.perf_counter() - t0)
    res.info["corpus"] = corpus.fingerprint()
    res.info["publish_cells_per_s"] = corpus.history_cells() / median(publish_s)
    ctx.etl = {"corpus": corpus, "store": store, "publish_s": publish_s}
    applied = []

    def frame(b):
        raw = read_binary_gridded(spark, str(b.path), desc, decoder=grib2_decoder(desc))
        return canonicalize(raw, desc)

    def probe(b):
        def go():
            canon = frame(b)
            with tr.span("ingest.decode"):
                noop_sink(canon)
            with tr.span("updates.validate"):
                validate_update(
                    store.dataset().select(desc.time_dim),
                    canon.select(desc.time_dim),
                    desc.expected_delta,
                    time_dim=desc.time_dim,
                    dataset_start=desc.dataset_start_date,
                    cadence_bounds=desc.update_cadence_bounds,
                    insert_bucket_fmt="yyyy-MM",
                    collect_insert_times=True,
                )

        return go

    def cycle(b):
        def go():
            canon = frame(b)
            with tr.span("store.update"):
                counts = store.update(canon)
            applied.append(b)
            with tr.span("qc.post_parse"):
                post_parse_quality_check(canon, store.dataset(), desc)
            stac_publish(ctx, store, cat, desc)
            return counts

        return go

    def counts_ok(b):
        return lambda counts: counts == {"inserts": len(b.days) - 1, "appends": 1}

    q = analytics.Queries(ctx, corpus, store, applied, ctx.seed)

    def update(b):
        return ("heavy", "mixed" if b.mixed else "append", cycle(b), counts_ok(b), probe(b))

    def passes():
        bs = corpus.batches
        yield [update(bs[0])]  # the warm-up: the feed's first batch, an append
        for k in range(1, len(bs) - 1, MIXED_EVERY):
            yield [update(bs[k])] + q.ops() + [update(bs[k + 1])] + q.ops()

    ctx.loop(passes(), res, warmup=1)

    # maintenance and the end-state checks, outside the timed loop
    t_post = time.perf_counter()
    n = len(applied)
    res.check(applied == corpus.batches[:n], "batches applied in order")
    res.check(len(store.versions()) == 1 + n, "one version per publish and batch")
    res.check(len(cat.item_history(desc.dataset_name)) == 1 + n, "one STAC item per version")
    ctx.etl["pre_compact"] = store.manifest()
    with tr.span("store.compact"):
        store.compact()
    with tr.span("store.verify"):
        store.verify_integrity()
    res.check(True, "verify_integrity")
    pdf = store.dataset().toPandas()
    expected = corpus.expected(n)
    res.check(grid.grid_matches(pdf, corpus, expected, grid.GRIB_TOLERANCE), "store equals the generated grid")
    # self-test: the same check must reject a store with one wrong cell
    bad = pdf.copy()
    k = int(bad["precip"].first_valid_index())
    bad.loc[k, "precip"] = bad.loc[k, "precip"] + 1.0
    res.check(not grid.grid_matches(bad, corpus, expected, grid.GRIB_TOLERANCE), "check rejects a corrupted cell")
    bad = res.outputs["point_series"].copy()
    bad.loc[0, "precip"] = 1e6
    res.check(not q.check_point_series(bad), "check rejects a corrupted read")
    res.info["batches_applied"] = n
    res.info["post_wall_s"] = time.perf_counter() - t_post


def _file_bytes(store, files) -> int:
    return sum((store.data_path / f).stat().st_size for f in files)


def layers(ctx, res) -> None:
    tr, st = ctx.tracer, ctx.etl
    store, corpus = st["store"], st["corpus"]
    L = res.layers
    decodes = tr.named("ingest.decode")
    n_dec = max(1, len(decodes))
    L["ingest.decode_s"] = (span_median(tr, "ingest.decode"), "s")
    applied = corpus.batches[: res.info["batches_applied"]]
    L["ingest.cells"] = (median(b.values.size for b in applied), "count")
    L["ingest.bytes_in"] = (median(b.path.stat().st_size for b in applied), "B")
    L["ingest.python_init_s"] = (tr.counter(decodes, "python_init_s") / n_dec, "s")
    L["ingest.python_compute_s"] = (tr.counter(decodes, "python_compute_s") / n_dec, "s")
    L["ingest.arrow_bytes"] = (
        (tr.counter(decodes, "arrow_sent_bytes") + tr.counter(decodes, "arrow_recv_bytes")) / n_dec,
        "B",
    )
    L["updates.validate_s"] = (span_median(tr, "updates.validate"), "s")
    L["store.write_initial_s"] = (span_median(tr, "store.write_initial"), "s")
    L["etl.publish_cells_per_s"] = (res.info["publish_cells_per_s"], "cells/s")
    L["store.update_s"] = (span_median(tr, "store.update"), "s")
    L["store.jobs_per_update"] = (span_median(tr, "store.update", "jobs"), "count")
    # manifests and files, read from outside the program
    added, written, per_user = [], [], []
    for i, b in enumerate(applied, start=2):
        new = set(store.manifest(i)["files"]) - set(store.manifest(i - 1)["files"])
        added.append(len(new))
        nbytes = _file_bytes(store, new)
        written.append(nbytes)
        per_user.append(nbytes / b.path.stat().st_size)
    L["store.files_added_per_update"] = (median(added), "count")
    L["store.bytes_written_per_user_byte"] = (median(per_user), "ratio")
    L["store.digest_bytes_per_update"] = (median(written), "B")
    pre = st["pre_compact"]
    post = store.manifest()
    L["store.compact_s"] = (span_median(tr, "store.compact"), "s")
    L["store.compact_bytes_rewritten"] = (_file_bytes(store, set(post["files"]) - set(pre["files"])), "B")
    L["store.verify_s"] = (span_median(tr, "store.verify"), "s")
    buckets = Counter(f.split("/")[0] for f in pre["files"])
    L["store.files_per_bucket"] = (len(pre["files"]) / len(buckets), "count")
    L["store.bytes_live_per_cell"] = (_file_bytes(store, pre["files"]) / max(1, pre["rows"]), "B")
    L["qc.check_dtype_s"] = (span_median(tr, "qc.check_dtype"), "s")
    L["qc.post_parse_s"] = (span_median(tr, "qc.post_parse"), "s")
    L["stac.publish_s"] = (span_median(tr, "stac.publish"), "s")
    L["stac.jobs_per_publish"] = (span_median(tr, "stac.publish", "jobs"), "count")
    analytics.layers(tr, len(pre["files"]), L)
