"""End-to-end harvest orchestration (SURVEY §2 S33, §3.1).

Phases mirror GleanerClient.Run (cmd/root.go:71-171) with a lake
checkpoint after each phase so a killed run resumes (north rule):

  Phase 0  orgs        — per-source org N-Quads, overwritten per run
  Phase 1  frontier    — seed lists → normalized/robots-filtered
                         frontier, checkpointed
  Phase 2  harvest     — fetch ⋈ extract → fixups → dedup →
                         documents/prov/url_seen/metrics appends

Each phase records a snapshot; ``resume`` skips phases whose
snapshot for this run_id already exists.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.prov import org_nquads
from ..operators import harvest as hv
from ..operators.frontier import build_frontier, schedule_fetches
from ..session import local_frame
from ..sources.config import GleanerConfig, Source, SummonerConfig
from .lake import Lake


@dataclass
class HarvestResult:
    run_id: str
    new_documents: int = 0
    prov_records: int = 0
    frontier_size: int = 0
    fetched: int = 0
    extracted: int = 0
    urls_blocked: int = 0
    urls_capped: int = 0
    errors: list[str] = field(default_factory=list)
    timings: dict = field(default_factory=dict)


def run_harvest(
    spark: SparkSession,
    lake: Lake,
    sources: list[Source],
    pages: DataFrame | None,
    sitemap_bodies: dict[str, str],
    robots_bodies: dict[str, str],
    summoner: SummonerConfig | None = None,
    bucket: str = "gleaner",
    run_id: str = "run-1",
    run_date: str = "2024-01-01",
    rude: bool = False,
    global_strict: bool = False,
    resume: bool = False,
    broadcast_frontier_max_rows: int = 500_000,
    context_maps: dict[str, dict] | None = None,
    fetch_mode: str = "pages",
    live_url_rewrite=None,
    live_timeout_s: float = 30.0,
    live_keep_fetched: bool = False,
    live_renderer=None,
    url_blocked_hosts: tuple[str, ...] = (),
    url_blocked_words: tuple[str, ...] = (),
    max_urls_per_host: int | None = None,
) -> HarvestResult:
    """``fetch_mode``: "pages" resolves S15 via the pages-table join
    (input_hint corpus path; ``pages`` required); "live" fetches the
    scheduled frontier over HTTP per lane (operators/livefetch.py;
    ``pages`` may be None, ``live_url_rewrite`` maps logical URLs to
    the socket dialed — fixture servers, mirrors).

    Live fetches are STAGED to a ``fetched_pages`` lake checkpoint
    before extraction, never consumed lazily: a lazy fetch inside the
    extraction lineage would re-dial hosts whenever Spark recomputes a
    lost or evicted partition (politeness violation + duplicate load),
    and a phase-2 crash would re-crawl everything on resume. With the
    stage, extraction retries hit parquet, and ``resume=True`` after a
    crash continues from the staged bodies without re-touching any
    host. The stage is pruned after a successful run unless
    ``live_keep_fetched`` (bodies are the corpus — double storage)."""
    res = HarvestResult(run_id=run_id)
    t0 = time.time()
    # driver-side install too: org N-Quads expansion (phase 0) runs
    # on the driver (org.go:54-55 passes contextmaps to JLD2nq);
    # executors get the maps via the stage closure. Unconditional so
    # a mapless run resets a previous run's installs in-process.
    from ..core.fixups import apply_context_maps

    apply_context_maps(context_maps)

    def phase_done(table: str) -> bool:
        # scan the WHOLE manifest, never just the head: with runs
        # interleaved (r1 resumed after r2 committed), a head-only
        # check misreads r1's completed phase as missing and re-runs
        # it — durably duplicating frontier rows, flipping the orgs
        # head back to the older run, and double-appending prov
        return bool(resume) and any(
            s["run_id"] == run_id for s in lake.table(table).snapshots()
        )

    # ---- Phase 0: orgs (root.go:159; overwrite-per-run, org.go:81) ----
    if not phase_done("orgs"):
        org_rows = []
        for s in sources:
            try:
                org_rows.append((s.name, org_nquads(s.name, s.url, s.pid)))
            except ValueError as e:
                res.errors.append(str(e))
        if org_rows:
            lake.table("orgs").append_local(
                [{"source_name": n, "nquads": q} for n, q in org_rows],
                run_id=run_id,
            )
    res.timings["orgs"] = time.time() - t0

    # ---- Phase 1: frontier (checkpoint 1) ----
    t1 = time.time()
    from pyspark.sql import Observation

    if phase_done("frontier"):
        frontier = lake.table("frontier").read(spark)
        frontier = frontier.filter(F.col("run_id") == run_id).drop("run_id")
        res.frontier_size = frontier.count()
    else:
        frontier, errors = build_frontier(
            spark, sources, sitemap_bodies, robots_bodies, summoner, rude=rude
        )
        res.errors.extend(errors)
        # opt-in URL blocklist (C4/RefinedWeb hygiene), applied BEFORE
        # politeness scheduling so blocked URLs never consume a fetch
        # lane or delay budget; map-side, so it fuses into the
        # frontier stage. Defaults empty = reference-parity untouched.
        bobs = None
        if url_blocked_hosts or url_blocked_words:
            from ..operators.urlfilter import filter_urls

            bobs = Observation()
            frontier = frontier.observe(bobs, F.count(F.lit(1)).alias("n"))
            frontier = filter_urls(
                frontier,
                blocked_hosts=url_blocked_hosts,
                blocked_words=url_blocked_words,
            )
        frontier = schedule_fetches(frontier, scalable=True)
        # opt-in per-host URL cap (heavy-tail control at CC scale: a
        # 50M-URL host would otherwise monopolize its lane's politeness
        # budget for months). fetch_seq is the host's crawl-order rank,
        # so the cap keeps exactly the FIRST N URLs in sitemap order —
        # the same prefix the reference would have fetched when stopped
        # at N — as a map-side filter on the already-computed rank.
        cobs = None
        if max_urls_per_host is not None:
            cobs = Observation()
            frontier = frontier.observe(cobs, F.count(F.lit(1)).alias("n"))
            frontier = frontier.filter(F.col("fetch_seq") < max_urls_per_host)
        # the row count rides the checkpoint write via an Observation —
        # no separate count job (small-cluster efficiency is made of
        # removed fixed-cost jobs)
        fobs = Observation()
        lake.table("frontier").append(
            frontier.withColumn("run_id", F.lit(run_id)).observe(
                fobs, F.count(F.lit(1)).alias("n")
            ),
            run_id=run_id,
        )
        res.frontier_size = int(fobs.get["n"])
        after_block = int(cobs.get["n"]) if cobs is not None else res.frontier_size
        if cobs is not None:
            res.urls_capped = after_block - res.frontier_size
        if bobs is not None:
            res.urls_blocked = int(bobs.get["n"]) - after_block
        frontier = lake.table("frontier").read(spark)
        frontier = frontier.filter(F.col("run_id") == run_id).drop("run_id")
    res.timings["frontier"] = time.time() - t1

    # ---- Phase 2: fetch/extract/process/dedup/sink (checkpoint 2) ----
    t2 = time.time()

    def _mark(label: str, since: list) -> None:
        res.timings[f"phase2.{label}"] = time.time() - since[0]
        since[0] = time.time()

    # phase-2 completion is its OWN marker table, appended after the
    # LAST phase-2 write (prov): keying the skip on the documents
    # snapshot alone left a hole where a crash after the documents
    # append but before prov/metrics made resume skip the phase and
    # lose the run's prov/metrics forever. phase_done scans the whole
    # manifest — a head-only check would misread a run that committed
    # before a newer run as torn, and the rollback below would then
    # destroy its published data.
    if not phase_done("phase2_commit"):
        if resume:
            # torn-run recovery: drop THIS run's partial phase-2
            # snapshots so the re-run starts from the pre-run table
            # state (manifest-only; data dirs left for gc). Without
            # this, the re-run would dedup against the half-committed
            # documents (adding 0) and then double-append prov. The
            # sketch checkpoint is rolled back too: once the torn
            # documents snapshot is gone, the PREVIOUS checkpoint's
            # covers_snapshot_id matches the table head again and
            # re-validates. Staged live fetches are deliberately NOT
            # rolled back — resuming without re-dialing hosts is the
            # point of the stage.
            for tname in ("documents", "prov", "metrics", hv.SKETCH_TABLE):
                t = lake.table(tname)
                for s in t.snapshots():
                    if s["run_id"] == run_id:
                        t.drop_snapshot(s["snapshot_id"])
        _t = [time.time()]
        # html flows through the fused stage exactly once and is never
        # cached: the (lightweight) fused output carries sentinel rows
        # + page_bytes so metrics need no second pass over the join.
        # A known-small frontier slice broadcasts (checkpoint count
        # from phase 1) so the html column never shuffles at all.
        # F.broadcast bypasses autoBroadcastJoinThreshold, so the cap
        # must stay well inside driver/executor memory: 500k rows of
        # (url, host, schedule) is ~50 MB serialized; beyond that the
        # shuffled-hash path (one exchange per side) is the safe plan.
        if fetch_mode == "live":
            from ..operators.livefetch import CONTRACT_COLS, live_fetch_pages

            ft = lake.table("fetched_pages")
            if not phase_done("fetched_pages"):
                live = live_fetch_pages(
                    frontier,
                    accept_by_source={
                        s.name: s.accept_content_type for s in sources
                    },
                    url_rewrite=live_url_rewrite,
                    timeout_s=live_timeout_s,
                    # S30 in live mode: 0-doc pages re-render through the
                    # CDP swap-point (operators/livefetch.cdp_renderer or
                    # a custom callable); None disables the fallback
                    headless_wait_by_source={
                        s.name: s.headless_wait for s in sources
                    },
                    renderer=live_renderer,
                )
                # ONE pass over the wire, durably staged before any
                # extraction lineage can demand a recompute (see
                # docstring); failure count rides the write job
                live_obs = Observation()
                live = live.observe(
                    live_obs,
                    F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failed"),
                )
                # files_per_partition=0: fetch tasks are (host, lane)
                # groups, and a host maps to one source, so the direct
                # write is already ~1 file per (task, source) — a
                # compaction shuffle would move every fetched BODY a
                # second time (and put the staged Observation below an
                # AQE stage boundary, see documents_append)
                ft.append(
                    live.withColumn("run_id", F.lit(run_id)),
                    run_id=run_id, partition_by=["source_name"],
                    files_per_partition=0,
                )
                n_failed = int(live_obs.get["failed"] or 0)
                staged = _staged_fetches(spark, ft, run_id)
            else:  # crashed after staging: resume WITHOUT re-crawling
                staged = _staged_fetches(spark, ft, run_id)
                n_failed = staged.filter(~F.col("ok")).count()
            if n_failed:
                res.errors.append(f"live_fetch: {n_failed} transport failures")
            _mark("live_stage", _t)
            # only transport errors drop a URL; any HTTP status with a
            # body flows to extraction (acquire.go:146-157 quirk)
            fetched = staged.filter(F.col("ok")).select(*CONTRACT_COLS)
        else:
            fetched = hv.fetch_pages(
                frontier, pages,
                broadcast_frontier=0 < res.frontier_size <= broadcast_frontier_max_rows,
            )
        # Cluster width trades files against tasks: per source it is
        # both the max sink files AND the max dedup/write tasks, so size
        # it to the cores a source's share of the run deserves — a
        # single-source harvest gets full parallelism, a 10^3-source
        # crawl stays at 4 files/source. The prov sink uses the same
        # width.
        cfiles = max(4, -(-spark.sparkContext.defaultParallelism
                          // max(1, len(sources))))
        with hv.processed_pages(fetched, sources, global_strict,
                                context_maps) as processed:
            _mark("plan", _t)
            docs = hv.append_new_documents(spark, lake, processed, run_id,
                                           cfiles)
            res.new_documents = docs.new_rows
            _mark("documents_append", _t)
            snap = docs.snapshot
            # zero-new-row appends never entered the manifest (the lake
            # refuses dataless snapshots), so there is nothing to retract
            sketch_thread = None
            sketch_err: list[BaseException] = []
            sketch_bg_s = [0.0]
            if res.new_documents > 0:
                snap_dir = f"{lake.table('documents').dir}/{snap['data_dir']}"
                snap_keys = spark.read.parquet(snap_dir).select(
                    F.concat_ws("/", "source_name", "unique_id").alias("seen_key")
                )
                # the authoritative key set is only needed on the rebuild
                # path when the table PREDATES this run (the incremental
                # counter may understate it); on a fresh lake the new keys
                # ARE the table — skip the extra full-table count job
                all_keys = None
                if docs.had_documents:
                    all_keys = lake.table("documents").read(spark).select(
                        F.concat_ws("/", "source_name", "unique_id").alias("seen_key")
                    )

                # the sketch checkpoint shares no state with the metrics
                # or prov writes (own jobs, own table dir, own manifest),
                # so its bloom-build job overlaps them on a driver thread
                # — local[32] and a real cluster both schedule concurrent
                # jobs fine, and the phase's crash contract is unchanged:
                # the join below re-raises BEFORE the commit marker, and
                # a sketch that lands against a later-rolled-back
                # snapshot is refused by load_seen_sketch's lineage guard
                # (covers_snapshot_id must equal the table head).
                def _ckpt_sketch() -> None:
                    t0 = time.time()
                    try:
                        hv.checkpoint_seen_sketch(
                            spark, lake, snap_keys, docs.prior_sketch,
                            res.new_documents, run_id,
                            all_keys=all_keys,
                            covers_snapshot_id=snap["snapshot_id"],
                        )
                    except BaseException as e:  # noqa: BLE001 - re-raised at join
                        sketch_err.append(e)
                    finally:
                        sketch_bg_s[0] = time.time() - t0

                import threading

                sketch_thread = threading.Thread(
                    target=_ckpt_sketch, name="seen-sketch", daemon=True
                )
                sketch_thread.start()
            _mark("snap_plan", _t)

            # metrics: one aggregation over the cached fused output (the
            # sentinel rows make zero-doc pages visible); tiny rows land
            # via a driver-side pyarrow write
            metrics = hv.metrics_from_processed(processed, run_id)
            mrows = metrics.collect()
            _mark("metrics_collect", _t)
            res.fetched = sum(r["fetched"] or 0 for r in mrows)
            res.extracted = sum(r["extracted"] or 0 for r in mrows)
            if mrows:
                lake.table("metrics").append_local(
                    [r.asDict() for r in mrows], run_id=run_id
                )
            _mark("metrics", _t)

            # prov: one row per processed doc, so the count comes free
            res.prov_records = res.extracted
            if res.prov_records:
                hv.append_prov(lake, processed, sources, bucket, run_date,
                               run_id, cfiles)
            _mark("prov", _t)

            # join the overlapped sketch checkpoint before the marker:
            # a sketch failure must keep the run torn (resume rolls the
            # phase back) rather than commit with a stale seen set.
            # snap_count reports the residual wall-clock wait here (the
            # bloom build's own duration is phase2.sketch_bg).
            if sketch_thread is not None:
                sketch_thread.join()
                if sketch_err:
                    raise sketch_err[0]
                res.timings["phase2.sketch_bg"] = sketch_bg_s[0]
            _mark("snap_count", _t)

            # the commit marker is the LAST durable write of the phase:
            # everything before it re-runs cleanly after a crash (torn
            # snapshots rolled back above), everything after it is
            # idempotent cleanup
            lake.table("phase2_commit").append_local(
                [{
                    "new_documents": res.new_documents,
                    "fetched": res.fetched,
                    "extracted": res.extracted,
                    # the keep decision rides the marker so a later resume
                    # honors the ORIGINAL run's choice even if the caller
                    # forgets the flag (kept staged bodies are the corpus)
                    "keep_fetched": bool(live_keep_fetched),
                }],
                run_id=run_id,
            )
    else:
        # resume of an ALREADY-COMMITTED run: the marker durably
        # recorded the real counts — report those instead of zeros
        # (ADVICE r4: a caller that crashed between the marker and
        # the staged-fetch prune, then resumed, otherwise sees a
        # successful harvest reported as 0 fetched / 0 extracted)
        for row in _phase2_marker_rows(lake, run_id):
            if row.get("_unreadable"):
                continue
            res.new_documents = int(row.get("new_documents") or 0)
            res.fetched = int(row.get("fetched") or 0)
            res.extracted = int(row.get("extracted") or 0)
            res.prov_records = res.extracted

    # phase 2 committed (this run or a previous resumed one): the
    # staged bodies have served their crash-recovery purpose — drop
    # them from the manifest unless asked to keep (data dirs are left
    # for gc, lake.py contract). OUTSIDE the phase-2 block so a crash
    # between the commit marker and this prune still gets cleaned up
    # by the next resume instead of leaking the staged corpus forever.
    # The keep decision honors the MARKER too: a resume of a
    # completed run that staged with live_keep_fetched=True must not
    # retract the kept corpus just because the resuming caller used
    # the default flag.
    if (fetch_mode == "live" and not live_keep_fetched
            and not _marker_keeps_fetched(lake, run_id)):
        ft = lake.table("fetched_pages")
        for s in ft.snapshots():
            if s["run_id"] == run_id:
                ft.drop_snapshot(s["snapshot_id"])
    res.timings["harvest"] = time.time() - t2
    res.timings["total"] = time.time() - t0
    return res


def _phase2_marker_rows(lake: Lake, run_id: str) -> list[dict]:
    """All phase-2 commit marker rows for this run (driver-written
    single-file parquet). An unreadable/corrupt marker file yields a
    sentinel ``{"_unreadable": True}`` row instead of being silently
    dropped — the caller decides how to fail, and for destructive
    decisions (pruning staged bodies) it must fail CLOSED."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    rows: list[dict] = []
    t = lake.table("phase2_commit")
    for s in t.snapshots():
        if s["run_id"] != run_id:
            continue
        for f in _glob.glob(_os.path.join(t.dir, s["data_dir"], "*.parquet")):
            try:
                rows.extend(_pq.read_table(f).to_pylist())
            except Exception:  # noqa: BLE001 - surfaced as a sentinel row
                rows.append({"_unreadable": True})
    return rows


def _marker_keeps_fetched(lake: Lake, run_id: str) -> bool:
    """True if any phase-2 commit marker for this run recorded
    keep_fetched — the durable record of the original invocation's
    choice. Fails CLOSED (ADVICE r4): a marker file for this run_id
    that exists but can't be read means the original run's choice is
    unknown, so the prune must not retract bodies the run may have
    explicitly asked to keep as its corpus."""
    return any(
        row.get("keep_fetched") or row.get("_unreadable")
        for row in _phase2_marker_rows(lake, run_id)
    )


def _staged_fetches(spark: SparkSession, ft, run_id: str) -> DataFrame:
    """This run's staged live fetches — empty frame (not None) when
    the stage wrote zero rows: a frontier whose every URL was
    robots-blocked produces a dataless append the lake refuses to
    publish, and ``ft.read`` then returns None, which must not crash
    the .filter chain."""
    df = ft.read(spark)
    if df is None:
        from ..operators.livefetch import LIVE_FETCH_SCHEMA
        from pyspark.sql import types as T

        schema = T.StructType(
            list(LIVE_FETCH_SCHEMA.fields)
            + [T.StructField("run_id", T.StringType())]
        )
        return local_frame(spark, [], schema)
    return df.filter(F.col("run_id") == run_id)


def read_documents(spark: SparkSession, lake: Lake) -> DataFrame | None:
    return lake.table("documents").read(spark)


def harvest_from_config(spark: SparkSession, lake: Lake, cfg: GleanerConfig,
                        pages: DataFrame, sitemap_bodies: dict[str, str],
                        robots_bodies: dict[str, str], **kw) -> HarvestResult:
    """CLI-equivalent entry (root.go:71-171)."""
    return run_harvest(
        spark, lake, cfg.sources, pages, sitemap_bodies, robots_bodies,
        summoner=cfg.summoner, bucket=cfg.bucket, rude=cfg.rude,
        global_strict=cfg.context_strict, context_maps=cfg.context_maps,
        **kw,
    )
