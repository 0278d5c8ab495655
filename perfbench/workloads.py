"""The workloads: inputs, untimed set-up, the timed entry point,
and the checks against the generator's known answers.

Each workload is driven as

    w.setup()                 # inputs and lake seeding, no Spark (set-up)
    w.warmup()                # untimed warm-up on the session (set-up)
    ctx = w.prepare(i)        # fresh per-iteration state (untimed)
    out = w.run(ctx, tracer)  # the public entry point (timed)
    w.check(ctx, out)         # known-answer checks (untimed)
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
from contextlib import nullcontext
from dataclasses import dataclass, field, replace
from functools import cached_property

import pyarrow as pa
import pyarrow.parquet as pq

import gen

PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("content_type", pa.string()),
])


def pages_table(cols: dict) -> pa.Table:
    utc = [t.replace(tzinfo=dt.timezone.utc) for t in cols["warc_ts"]]
    return pa.table(dict(cols, warc_ts=utc), schema=PAGES_ARROW)


def write_pages(path: str, cols: dict, files: int = 4) -> None:
    """The pages table as ``files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pages_table(cols)
    n = table.num_rows
    step = -(-n // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


def program_sources(crawl: gen.Crawl):
    from gleaner_spark.sources.config import Source

    return [
        Source(
            name=s.name, url=s.sitemap_url, source_type="sitemap",
            pid=f"https://pid.bench.example/{s.name}",
            proper_name=f"Bench organization {s.name}", domain=s.host,
            identifier_type=s.identifier_type,
            identifier_path=gen.IDENTIFIER_PATH if s.identifier_type == "identifiersha" else "",
        )
        for s in crawl.sources
    ]


def stored_documents(lake_root: str, run_prefix: str) -> dict:
    """(source_name, unique_id) -> list of stored jsonld texts, read with
    pyarrow from the documents snapshots whose run_id starts with
    ``run_prefix`` (the lake's manifest is plain JSON)."""
    tdir = os.path.join(lake_root, "documents")
    manifest = os.path.join(tdir, "_snapshots.json")
    out: dict = {}
    if not os.path.exists(manifest):
        return out
    with open(manifest) as f:
        snaps = json.load(f)
    for s in snaps:
        if not s["run_id"].startswith(run_prefix):
            continue
        for dirpath, _dirs, files in os.walk(os.path.join(tdir, s["data_dir"])):
            src = os.path.basename(dirpath).partition("source_name=")[2]
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                t = pq.read_table(os.path.join(dirpath, name), columns=["jsonld", "unique_id"])
                for doc, uid in zip(t.column("jsonld").to_pylist(),
                                    t.column("unique_id").to_pylist()):
                    out.setdefault((src, uid), []).append(doc)
    return out


def write_documents_lake(lake_root: str, crawl: gen.Crawl, run_id: str = "seed") -> None:
    """A lake whose documents table holds the crawl's known documents,
    written directly in the lake's layout (a ``snap-<id>`` directory
    partitioned by source_name plus a ``_snapshots.json`` entry)."""
    import hashlib
    import time
    import uuid

    rows: dict[str, dict[str, list]] = {}
    seen = set()
    ts = gen.EPOCH.replace(tzinfo=dt.timezone.utc)
    for p in crawl.fetched_pages():
        src = crawl.source(p.source)
        for d in p.docs(src):
            if (p.source, d.unique_id) in seen:
                continue
            seen.add((p.source, d.unique_id))
            by_id = src.identifier_type == "identifiersha"
            ident = d.fixed.split('"value":"', 1)[1].split('"', 1)[0]
            cols = rows.setdefault(p.source, {k: [] for k in (
                "url", "sha", "sha256", "jsonld", "identifier_type", "unique_id",
                "matched_path", "matched_string", "fetched_ts")})
            cols["url"].append(p.url)
            cols["sha"].append(gen.sha1_hex(d.fixed))
            cols["sha256"].append(hashlib.sha256(d.fixed.encode()).hexdigest())
            cols["jsonld"].append(d.fixed)
            cols["identifier_type"].append(src.identifier_type)
            cols["unique_id"].append(d.unique_id)
            cols["matched_path"].append(gen.IDENTIFIER_PATH if by_id else "")
            cols["matched_string"].append(ident if by_id else "")
            cols["fetched_ts"].append(ts)
    snap = uuid.uuid4().hex[:12]
    tdir = os.path.join(lake_root, "documents")
    for src, cols in rows.items():
        part = os.path.join(tdir, f"snap-{snap}", f"source_name={src}")
        os.makedirs(part)
        table = pa.table(cols).cast(pa.schema(
            [(k, pa.timestamp("us", tz="UTC") if k == "fetched_ts" else pa.string())
             for k in cols]))
        pq.write_table(table, os.path.join(part, "part-00000.parquet"))
    with open(os.path.join(tdir, "_snapshots.json"), "w") as f:
        json.dump([{"snapshot_id": snap, "parent": None, "run_id": run_id,
                    "ts": time.time(), "data_dir": f"snap-{snap}", "rows": len(seen)}], f)


def compare_documents(stored: dict, expected: dict) -> tuple[int, int, list[str]]:
    """(checked, identical, problems): every expected document must be
    stored once under its UniqueId with identical bytes, and nothing
    else may be stored."""
    problems = []
    identical = 0
    for key, text in expected.items():
        got = stored.get(key)
        if got is not None and len(got) == 1 and got[0] == text:
            identical += 1
    extra = len(set(stored) - set(expected))
    if extra:
        problems.append(f"{extra} stored documents not expected")
    dup = sum(1 for v in stored.values() if len(v) > 1)
    if dup:
        problems.append(f"{dup} documents stored more than once")
    if identical != len(expected):
        problems.append(f"{len(expected) - identical} of {len(expected)} documents differ or are missing")
    return len(expected), identical, problems


@dataclass
class Outcome:
    units: int                 # work units the timed call completed
    doc_bytes: int             # JSON-LD bytes extracted or read
    checked: int = 0
    identical: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer values from the run


class Workload:
    name = ""
    root_span = ""
    iterations = 3  # timed iterations at least, whatever --seconds says
    pages_dir = "pages"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    @cached_property
    def pages_df(self):
        """The pages table ``setup`` wrote, read with the session."""
        return self.spark.read.parquet(os.path.join(self.work, self.pages_dir))

    def prepare(self, i) -> dict:
        return {"i": i, "lake": os.path.join(self.work, f"lake-{i}")}

    def cleanup(self, ctx: dict) -> None:
        shutil.rmtree(ctx["lake"], ignore_errors=True)


class HarvestCC(Workload):
    """Cold-lake ``run_harvest`` of Common-Crawl-sized pages."""

    name = "harvest_cc"
    root_span = "plans.pipeline.run_harvest"
    spec = gen.Spec(n_sources=4, n_pages=400, page_bytes=100_000, doctype_share=0.5,
                    links_per_page=12, desc_words=120, unlisted_share=0.1)
    warmup_pages = 60

    def setup(self) -> None:
        crawl = self.crawl = gen.generate(self.spec, self.seed)
        write_pages(os.path.join(self.work, self.pages_dir), crawl.page_rows())
        self.sources = program_sources(crawl)
        self.sitemaps, self.robots = crawl.sitemaps(), crawl.robots()
        self.expected = crawl.expected_docs()
        extracted = crawl.extracted_docs()
        self.n_fetched = len(crawl.fetched_pages())
        self.n_extracted = len(extracted)
        self.doc_bytes = sum(len(d.raw.encode()) for d in extracted)
        self.n_listed = sum(1 for p in crawl.pages if p.listed)
        self.n_blocked = sum(1 for p in crawl.pages if p.listed and p.blocked)

    def warmup(self) -> None:
        """One harvest of a small crawl of the same shape: it loads and
        compiles the same code as the full one at a fraction of the
        cost."""
        self.pages_df  # lists the pages files and reads their schema, untimed
        small = gen.generate(replace(self.spec, n_pages=self.warmup_pages), self.seed + 1)
        path = os.path.join(self.work, "warmup-pages")
        write_pages(path, small.page_rows())
        ctx = self.prepare("w0")
        self.run(ctx, args=(program_sources(small), self.spark.read.parquet(path),
                            small.sitemaps(), small.robots()))
        self.cleanup(ctx)

    def run(self, ctx: dict, tracer=None, args=None) -> dict:
        from gleaner_spark.plans.lake import Lake
        from gleaner_spark.plans.pipeline import run_harvest

        sources, pages_df, sitemaps, robots = args or (
            self.sources, self.pages_df, self.sitemaps, self.robots)
        with tracer.span(self.root_span) if tracer else nullcontext():
            res = run_harvest(self.spark, Lake(ctx["lake"]), sources, pages_df,
                              sitemaps, robots, run_id=f"r{ctx['i']}")
        return {"res": res}

    def check(self, ctx: dict, out: dict) -> Outcome:
        res = out["res"]
        o = Outcome(units=res.fetched + res.extracted, doc_bytes=self.doc_bytes)
        want = {"fetched": self.n_fetched, "extracted": self.n_extracted,
                "new_documents": len(self.expected), "prov_records": self.n_extracted,
                "frontier_size": self.n_listed - self.n_blocked}
        for k, v in want.items():
            if getattr(res, k) != v:
                o.problems.append(f"{k}: {getattr(res, k)} != {v}")
        if res.errors:
            o.problems.append(f"errors: {res.errors[:3]}")
        stored = stored_documents(ctx["lake"], f"r{ctx['i']}")
        o.checked, o.identical, probs = compare_documents(stored, self.expected)
        o.problems += probs
        o.layer = {
            "plans.pipeline.frontier_s": res.timings.get("frontier", 0.0),
            "plans.pipeline.phase2_s": res.timings.get("harvest", 0.0),
            "operators.frontier.urls": res.frontier_size,
            "operators.frontier.robots_blocked": self.n_listed - res.frontier_size,
            "operators.harvest.new_ratio": res.new_documents / max(1, res.extracted),
            "operators.harvest.docs_per_page": res.extracted / max(1, res.fetched),
        }
        return o


class StreamRefresh(Workload):
    """``incremental_harvest`` to completion over page drops, against a
    lake that already holds the first capture's documents."""

    name = "stream_refresh"
    root_span = "streaming.incremental_harvest"
    spec = gen.Spec(n_sources=6, n_pages=300, links_per_page=2, desc_words=40)
    drops = 1
    pages_per_drop = 60
    warmup_pages = 20
    recapture_share = 0.25

    def setup(self) -> None:
        crawl = gen.generate(self.spec, self.seed)
        self.seed_lake = os.path.join(self.work, "seed-lake")
        write_documents_lake(self.seed_lake, crawl)
        self.crawl = crawl
        rng = random.Random(self.seed)
        # recaptures are one-document pages, so every drop holds the
        # same number of documents the anti-join must drop
        old = [p for p in crawl.fetched_pages() if len(p.doc_specs) == 1]
        n_old = int(self.pages_per_drop * self.recapture_share)
        all_pages = []
        for d in range(self.drops + 1):
            fresh = gen.new_pages(crawl, self.seed, self.pages_per_drop - n_old,
                                  start=d * self.pages_per_drop, days=40 + d)
            again = [gen.Page(p.source, p.url, True, False, p.doc_specs,
                              p.warc_ts + (40 + d) * gen.DAY)
                     for p in rng.sample(old, n_old)]
            if d == self.drops:  # the warm-up stream's own, smaller drop
                fresh, again = fresh[:self.warmup_pages], again[:self.warmup_pages // 4]
            pages = sorted(fresh + again, key=lambda p: p.warc_ts)
            sub = "drops" if d < self.drops else "warmup-drops"
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
            pq.write_table(pages_table(crawl.page_rows(pages)),
                           os.path.join(self.work, sub, f"drop-{d:03d}.parquet"))
            if d < self.drops:
                all_pages += pages
        self.drop_dir = os.path.join(self.work, "drops")
        seen = set(crawl.expected_docs())
        docs = crawl.expected_docs(all_pages)
        self.expected = {k: v for k, v in docs.items() if k not in seen}
        extracted = crawl.extracted_docs(all_pages)
        self.n_pages = len(all_pages)
        self.n_extracted = len(extracted)
        self.doc_bytes = sum(len(d.raw.encode()) for d in extracted)

    def prepare(self, i) -> dict:
        ctx = super().prepare(i)
        shutil.copytree(self.seed_lake, ctx["lake"])
        ctx["ckpt"] = os.path.join(self.work, f"ckpt-{i}")
        return ctx

    def cleanup(self, ctx: dict) -> None:
        super().cleanup(ctx)
        shutil.rmtree(ctx["ckpt"], ignore_errors=True)

    def warmup(self) -> None:
        """One stream over a single drop of its own."""
        ctx = self.prepare("w0")
        self.run(ctx, drop_dir=os.path.join(self.work, "warmup-drops"))
        self.cleanup(ctx)

    def run(self, ctx: dict, tracer=None, drop_dir=None) -> dict:
        from gleaner_spark.plans.lake import Lake
        from gleaner_spark.streaming.incremental import incremental_harvest

        with tracer.span(self.root_span) if tracer else nullcontext():
            q = incremental_harvest(
                self.spark, Lake(ctx["lake"]), program_sources(self.crawl),
                drop_dir or self.drop_dir, ctx["ckpt"], robots_bodies=self.crawl.robots(),
                max_files_per_trigger=1,
            )
            q.awaitTermination()
        return {"exception": q.exception(), "progress": q.recentProgress}

    def check(self, ctx: dict, out: dict) -> Outcome:
        o = Outcome(units=self.n_pages + self.n_extracted, doc_bytes=self.doc_bytes)
        if out["exception"] is not None:
            o.problems.append(f"stream failed: {out['exception']}")
        stored = stored_documents(ctx["lake"], "stream-")
        o.checked, o.identical, probs = compare_documents(stored, self.expected)
        o.problems += probs
        prov = _table_rows(ctx["lake"], "prov", "stream-")
        if prov != self.n_extracted:
            o.problems.append(f"prov rows: {prov} != {self.n_extracted}")
        batches = [p for p in out["progress"] if p.get("numInputRows", 0) > 0]
        if len(batches) != self.drops:
            o.problems.append(f"micro-batches: {len(batches)} != {self.drops}")
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in batches]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in batches]
        o.layer = {
            "streaming.batches": len(batches),
            "streaming.batch_s_p50": _median(trig),
            "streaming.batch_s_max": max(trig, default=0.0),
            "streaming.add_batch_s": sum(add),
            "streaming.trigger_overhead_s": sum(trig) - sum(add),
            "operators.harvest.new_ratio": len(stored) / max(1, self.n_extracted),
            "operators.harvest.docs_per_page": self.n_extracted / max(1, self.n_pages),
        }
        return o


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _table_rows(lake_root: str, table: str, run_prefix: str) -> int:
    tdir = os.path.join(lake_root, table)
    manifest = os.path.join(tdir, "_snapshots.json")
    if not os.path.exists(manifest):
        return 0
    with open(manifest) as f:
        snaps = json.load(f)
    n = 0
    for s in snaps:
        if s["run_id"].startswith(run_prefix):
            n += _parquet_rows(os.path.join(tdir, s["data_dir"]))
    return n


def _parquet_rows(path: str) -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(dirpath, name)).metadata.num_rows
    return n


class PostHarvest(Workload):
    """The post-harvest CLI chain over a harvested lake and a
    multi-capture pages table."""

    name = "postharvest"
    root_span = "postharvest.chain"
    pages_dir = "pages-all"
    spec = gen.Spec(n_sources=8, n_pages=150, links_per_page=6, desc_words=150,
                    near_dup_share=0.08)
    captures = 3
    change_share = 0.3
    budget = 50
    rank_iterations = 2

    def setup(self) -> None:
        crawl = gen.generate(self.spec, self.seed)
        caps = [crawl]
        for c in range(1, self.captures):
            caps.append(gen.recapture(caps[-1], self.seed + c, self.change_share, days=10 * c))
        rows = {k: [] for k in PAGES_ARROW.names}
        for cap in caps:
            for k, v in cap.page_rows().items():
                rows[k] += v
        write_pages(os.path.join(self.work, self.pages_dir), rows)
        self.seed_lake = os.path.join(self.work, "seed-lake")
        write_documents_lake(self.seed_lake, crawl)
        self.crawl = crawl
        self.expected = crawl.expected_docs()
        self.n_captures = len(rows["url"])
        self.n_urls = len(set(rows["url"]))
        self.now_ts = int((caps[-1].pages[-1].warc_ts + gen.DAY).replace(
            tzinfo=dt.timezone.utc).timestamp())
        by_doc_id = {f"{src}\x1f{uid}": text for (src, uid), text in self.expected.items()}
        self.near_pairs = gen.near_pairs(by_doc_id)
        # the corpus keeps the smallest doc_id of each near-duplicate
        # cluster, with its bytes unchanged (no e-mail or IP address to
        # redact in generated text)
        self.keepers = {i: by_doc_id[i]
                        for i in gen.cluster_keepers(by_doc_id, self.near_pairs)}
        self.doc_bytes = sum(len(v.encode()) for v in self.expected.values())
        self.n_hosts = _graph_hosts(crawl)

    def prepare(self, i) -> dict:
        ctx = super().prepare(i)
        shutil.copytree(self.seed_lake, ctx["lake"])
        return ctx

    def warmup(self) -> None:
        ctx = self.prepare("w0")
        self.run(ctx)
        self.cleanup(ctx)

    def run(self, ctx: dict, tracer=None, sink=None) -> dict:
        from pyspark.sql import functions as F

        from gleaner_spark.operators.recrawl import (
            recrawl_priority,
            select_recrawl,
            weight_by_host_rank,
        )
        from gleaner_spark.operators.urlindex import build_capture_index
        from gleaner_spark.operators.webgraph import page_rank_pipeline
        from gleaner_spark.plans.corpus import run_corpus_build
        from gleaner_spark.plans.docdedup import run_corpus_dedup
        from gleaner_spark.plans.lake import Lake

        spark = self.spark
        sink = sink or write_parquet
        span = (lambda n: tracer.span(n)) if tracer else (lambda n: nullcontext())
        out_dir = os.path.join(ctx["lake"], "bench_out")
        lake = Lake(ctx["lake"])
        run_id = f"post-{ctx['i']}"
        with span(self.root_span):
            with span("operators.urlindex.build"):
                # the index CLI's per-capture layout: range-partitioned
                # and sorted by (surt_key, ts)
                idx = build_capture_index(self.pages_df)
                idx = idx.repartitionByRange("surt_key", "ts").sortWithinPartitions(
                    "surt_key", "ts")
                sink("index", idx, f"{out_dir}/index")
            with span("operators.webgraph.rank"):
                sink("ranks", page_rank_pipeline(self.pages_df, iterations=self.rank_iterations),
                     f"{out_dir}/ranks")
            with span("operators.recrawl.select"):
                pri = recrawl_priority(spark.read.parquet(f"{out_dir}/index"),
                                       now_ts=self.now_ts)
                ranks = spark.read.parquet(f"{out_dir}/ranks").select(
                    F.concat_ws(",", F.reverse(F.split(F.col("host"), r"\."))).alias(
                        "host_key"),
                    "rank",
                )
                pri = weight_by_host_rank(pri, ranks, strip_ports=True)
                sel = select_recrawl(pri, self.budget, priority_col="weighted_priority")
                sink("schedule", sel, f"{out_dir}/schedule")
            with span("plans.docdedup.dedup"):
                dedup = run_corpus_dedup(spark, lake, run_id=run_id)
            with span("plans.corpus.build"):
                corpus = run_corpus_build(spark, lake, run_id=run_id)
        return {"out": out_dir, "dedup": dedup, "corpus": corpus}

    def check(self, ctx: dict, out: dict) -> Outcome:
        """Counts of every step, the exact near-duplicate pairs with
        their shingle counts, each document's one cluster assignment,
        and the corpus the chain built: every keeper once, with the
        known bytes, and no other document."""
        o = Outcome(units=self.n_captures + len(self.expected), doc_bytes=self.doc_bytes)
        d, c = out["dedup"], out["corpus"]
        n_docs, n_pairs = len(self.expected), len(self.near_pairs)
        want = {
            "index rows": (_parquet_rows(f"{out['out']}/index"), self.n_captures),
            "ranked hosts": (_parquet_rows(f"{out['out']}/ranks"), self.n_hosts),
            "scheduled urls": (_parquet_rows(f"{out['out']}/schedule"),
                               min(self.budget, self.n_urls)),
            "dedup documents": (d["documents"], n_docs),
            "exact groups": (d["exact_groups"], 0),
            "near pairs": (d["near_pairs"], n_pairs),
            "clusters": (d["clusters"], len(self.keepers)),
            "corpus documents": (c["corpus_docs"], len(self.keepers)),
        }
        for k, (got, exp) in want.items():
            if got != exp:
                o.problems.append(f"{k}: {got} != {exp}")
        near = _table_columns(ctx["lake"], "dup_near", ["id_a", "id_b", "inter", "uni"])
        if set(zip(*near)) != self.near_pairs:
            o.problems.append("near pairs or their shingle counts differ")
        src, uid = _table_columns(ctx["lake"], "dup_clusters", ["id_source", "id_unique_id"])
        assigned = sorted(zip(src, uid))
        if assigned != sorted(self.expected):
            o.problems.append("dup_clusters does not assign every document exactly once")
        ids, texts = _table_columns(ctx["lake"], "corpus", ["doc_id", "text"])
        stored: dict = {}
        for doc_id, text in zip(ids, texts):
            stored.setdefault(doc_id, []).append(text)
        o.checked, o.identical, probs = compare_documents(stored, self.keepers)
        o.problems += [f"corpus: {p}" for p in probs]
        o.layer = {"plans.docdedup.near_pairs": d["near_pairs"]}
        return o


def _table_columns(lake_root: str, table: str, columns: list[str]) -> list[list]:
    """Columns of every snapshot of a lake table, read with pyarrow."""
    tdir = os.path.join(lake_root, table)
    out = [[] for _ in columns]
    for dirpath, _dirs, files in os.walk(tdir):
        for name in files:
            if name.endswith(".parquet"):
                t = pq.read_table(os.path.join(dirpath, name), columns=columns)
                for k, col in enumerate(columns):
                    out[k] += t.column(col).to_pylist()
    return out


def _graph_hosts(crawl: gen.Crawl) -> int:
    from urllib.parse import urlsplit

    hosts = set()
    for p in crawl.pages:
        a = urlsplit(p.url).hostname
        for href in crawl.links.get(p.url, ()):
            b = urlsplit(href).hostname
            if a != b:
                hosts.update((a, b))
    return len(hosts)


def write_parquet(step: str, df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


WORKLOADS = {w.name: w for w in (HarvestCC, StreamRefresh, PostHarvest)}
