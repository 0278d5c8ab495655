"""The traced run: per-layer metrics for one workload.

Iterations alternate untraced and traced (same session, Spark event
log on). Layer values are medians over the traced iterations;
``trace.overhead_s`` is the traced minus the untraced median wall
time. ``core.*`` values come from single-threaded kernel timings on
the driver over a seeded sample of the workload's own inputs.
"""

from __future__ import annotations

import os
import random
import statistics
import time

LAKE_TABLES = ("orgs", "frontier", "documents", "prov", "metrics", "phase2_commit",
               "url_seen_sketch", "dup_exact", "dup_near", "dup_clusters", "corpus")

# name -> unit, in report order; every traced run reports all of them
# (0 where the workload does not reach the layer)
PER_LAYER = {
    "core.extract.us_per_page": "us",
    "core.extract.mb_per_s": "MB/s",
    "core.fixups.us_per_doc": "us",
    "core.identifier.us_per_doc": "us",
    "core.prov.us_per_doc": "us",
    "core.sitemap.us_per_url": "us",
    "core.robots.us_per_url": "us",
    "plans.pipeline.frontier_s": "s",
    "operators.frontier.urls": "count",
    "operators.frontier.robots_blocked": "count",
    "plans.pipeline.phase2_s": "s",
    "operators.harvest.new_ratio": "ratio",
    "operators.harvest.docs_per_page": "ratio",
    "operators.harvest.load_seen_sketch_s": "s",
    "operators.harvest.checkpoint_seen_sketch_s": "s",
    **{f"plans.lake.append_s.{t}": "s" for t in LAKE_TABLES},
    "plans.lake.files_written": "count",
    "plans.lake.bytes_written": "bytes",
    "plans.lake.manifest_reads": "count",
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.batch_s_max": "s",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "operators.urlindex.build_s": "s",
    "operators.webgraph.rank_s": "s",
    "operators.webgraph.pages_scans": "count",
    "operators.recrawl.select_s": "s",
    "plans.docdedup.dedup_s": "s",
    "plans.docdedup.near_pairs": "count",
    "plans.corpus.build_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "trace.cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}

# span name -> per-layer metric holding its total time per iteration
SPAN_METRICS = {
    "operators.harvest.load_seen_sketch": "operators.harvest.load_seen_sketch_s",
    "operators.harvest.checkpoint_seen_sketch": "operators.harvest.checkpoint_seen_sketch_s",
    "operators.urlindex.build": "operators.urlindex.build_s",
    "operators.webgraph.rank": "operators.webgraph.rank_s",
    "operators.recrawl.select": "operators.recrawl.select_s",
    "plans.docdedup.dedup": "plans.docdedup.dedup_s",
    "plans.corpus.build": "plans.corpus.build_s",
}


def traced_run(w, seconds: float, run_iterations):
    from spans import Tracer, read_event_log, spark_metrics

    log_dir = os.path.join(os.path.dirname(w.work), "eventlog")
    tracer = Tracer(w.spark)
    tracer.install()
    plain, traced = [], []
    start = time.perf_counter()
    try:
        # pairs of one untraced and one traced call; no pair is started
        # that would end after ``seconds``
        while not traced or (time.perf_counter() - start) * (1 + 1 / len(traced)) <= seconds:
            plain += run_iterations(w, 0, None, f"u{len(plain)}-", min_iterations=1)
            traced += run_iterations(w, 0, tracer, f"t{len(traced)}-", min_iterations=1)
    finally:
        tracer.uninstall()
    windows = {it.ctx_i: (it.t0, it.t1) for it in traced}
    engine = spark_metrics(read_event_log(log_dir), windows)
    kernels = kernel_metrics(w)

    rows = []
    for it in traced:
        i = it.ctx_i
        v = {k: 0.0 for k in PER_LAYER}
        v.update(kernels)
        v.update(it.outcome.layer)
        spans = tracer.span_totals(i)
        for name, total in spans.items():
            if name in SPAN_METRICS:
                v[SPAN_METRICS[name]] = total
            elif name.startswith(("plans.lake.append.", "plans.lake.append_local.")):
                v[f"plans.lake.append_s.{name.rsplit('.', 1)[1]}"] += total
        v["plans.lake.files_written"] = it.lake_files
        v["plans.lake.bytes_written"] = it.lake_bytes
        v["plans.lake.manifest_reads"] = tracer.counts.get((i, "plans.lake.manifest_reads"), 0)
        e = engine[i]
        for k in ("spark.jobs", "spark.tasks", "spark.executor_cpu_s", "spark.jvm_gc_s",
                  "spark.shuffle_write_mb", "spark.spill_mb", "spark.task_skew"):
            v[k] = e[k]
        v["operators.webgraph.pages_scans"] = sum(
            1 for span in e["stages_with_input"].values() if span == "operators.webgraph.rank")
        v["trace.cpu_s"] = it.cpu_s
        v["trace.unattributed_s"] = it.wall_s - tracer.covered_s(i, w.root_span)
        rows.append(v)
    metrics = {
        k: {"value": statistics.median(r[k] for r in rows), "unit": unit}
        for k, unit in PER_LAYER.items()
    }
    metrics["trace.overhead_s"]["value"] = (
        statistics.median(i.wall_s for i in traced) - statistics.median(i.wall_s for i in plain))
    return plain + traced, metrics


def _per_item_us(fn, items, min_s: float = 0.05, reps: int = 5) -> float:
    """Median over ``reps`` repetitions of the mean time per item of
    ``fn(item)``, each repetition looping the items for ``min_s``."""
    if not items:
        return 0.0
    samples = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            for x in items:
                fn(x)
            n += len(items)
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        samples.append(dt / n * 1e6)
    return statistics.median(samples)


def kernel_metrics(w) -> dict:
    """Single-threaded timings of the ``core`` kernels over a seeded
    sample of the workload's pages, documents, robots and sitemaps."""
    from gleaner_spark.core.extract import EARTHCUBE_AGENT, find_jsonld_in_page
    from gleaner_spark.core.fixups import process_json_text
    from gleaner_spark.core.identifier import generate_identifier
    from gleaner_spark.core.prov import prov_graph
    from gleaner_spark.core.robots import robots_allowed
    from gleaner_spark.core.sitemap import parse_sitemap

    import gen

    crawl = w.crawl
    rng = random.Random(w.seed)
    sample = rng.sample(crawl.pages, min(100, len(crawl.pages)))
    ct = "text/html; charset=utf-8"
    pages = [(p.url, crawl.html(p).encode()) for p in sample]
    docs = [(crawl.source(p.source), p.url, d) for p in sample for d in p.docs(crawl.source(p.source))]
    robots = crawl.robots()
    urls = [(p.url, robots[crawl.source(p.source).host]) for p in sample
            if crawl.source(p.source).host in robots]
    sitemaps = list(crawl.sitemaps().values())
    n_urls = sum(x.count("<loc>") for x in sitemaps)

    out = {}
    us = _per_item_us(lambda p: find_jsonld_in_page(p[0], ct, p[1]), pages)
    out["core.extract.us_per_page"] = us
    out["core.extract.mb_per_s"] = (sum(len(b) for _, b in pages) / len(pages)) / us
    out["core.fixups.us_per_doc"] = _per_item_us(lambda d: process_json_text(d[2].raw), docs)
    out["core.identifier.us_per_doc"] = _per_item_us(
        lambda d: generate_identifier(
            d[0].identifier_type,
            [gen.IDENTIFIER_PATH] if d[0].identifier_type == "identifiersha" else [],
            d[2].fixed),
        docs)
    out["core.prov.us_per_doc"] = _per_item_us(
        lambda d: prov_graph("gleaner", d[0].name, d[2].unique_id, d[1],
                             domain=d[0].host, date="2024-01-01"),
        docs)
    out["core.robots.us_per_url"] = _per_item_us(
        lambda u: robots_allowed(u[0], u[1], EARTHCUBE_AGENT), urls)
    out["core.sitemap.us_per_url"] = _per_item_us(parse_sitemap, sitemaps) * len(sitemaps) / n_urls
    return out
