"""spark-submit entry point (SURVEY §2 S33; cmd/root.go:174-238).

Mirrors the reference CLI surface — ``--cfg`` / ``--source`` /
``--mode`` / ``--bucket`` / ``--setup`` / ``--rude`` — with the
object-store flags replaced by lake/pages paths (the Iceberg-style
lake stands in for MinIO, the pages table for live HTTP per
BASELINE.json input_hint). Ship it to a cluster as:

    spark-submit --py-files gleaner_spark.zip -m gleaner_spark \\
        --cfg config.yaml --pages s3://bucket/pages \\
        --lake s3://bucket/lake --seeds seeds.json

``seeds.json`` maps seed URLs to fetched bodies:
``{"sitemaps": {url: xml, ...}, "robots": {url: body, ...}}`` —
the frontier builder consumes bodies, so a live deployment replaces
this file with an HTTP prefetch of the (tiny) seed list.

Post-harvest corpus dedup (beyond-reference LLM-pipeline surface):

    python -m gleaner_spark dedup --lake s3://bucket/lake \\
        [--threshold 80 --minhash-k 16 --bands 4 --rows 4 --ngram 3]

Further subcommands (all beyond-reference): ``corpus`` (training-
corpus build), ``vacuum`` (lake GC), ``index`` (SURT/CDX capture
index build + host/url queries + CDXJ export), ``graph`` (host
webgraph: edges, PageRank, anchor-text corpus), ``recrawl``
(change-rate recrawl schedule over a per-capture index, optionally
host-rank weighted), ``classify`` (per-document quality scorecard
for gate calibration).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from .plans.lake import Lake
from .plans.pipeline import harvest_from_config
from .session import build_session, local_frame
from .sources.config import load_config


def _ship_package(spark) -> None:
    """Self-ship the package to executors (the --py-files equivalent,
    so ``python -m gleaner_spark`` works without packaging first;
    harmless when spark-submit already shipped a zip). Idempotent per
    SparkContext: Spark rejects re-adding a same-named file whose
    bytes changed, so a second CLI call on a long-lived session would
    otherwise fail if any package file was touched in between — the
    executors already hold a working copy from the first ship."""
    import os
    import shutil
    import tempfile

    import gleaner_spark

    sc = spark.sparkContext
    if getattr(sc, "_gleaner_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(gleaner_spark.__file__))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(prefix="gleaner-pyfiles-"), "gleaner_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir="gleaner_spark",
    )
    sc.addPyFile(zip_path)
    sc._gleaner_pkg_shipped = True


def _dedup_main(argv: list[str]) -> int:
    """``python -m gleaner_spark dedup --lake <path>``: exact + LSH
    near-dup + connected-component cluster assignment over an
    already-harvested lake's documents (the LLM-pipeline composition;
    plans/docdedup.py). Appends dup_exact / dup_near / dup_clusters
    snapshots and prints a JSON summary."""
    ap = argparse.ArgumentParser(prog="gleaner_spark dedup")
    ap.add_argument("--lake", required=True, help="harvested lake root")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--threshold", type=int, default=80,
                    help="near-dup Jaccard percent (default 80)")
    ap.add_argument("--minhash-k", type=int, default=16)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--rows", type=int, default=4)
    ap.add_argument("--ngram", type=int, default=3)
    ap.add_argument("--keeper", default="min_id",
                    choices=("min_id", "quality"),
                    help="cluster keeper rule: min_id (harvest-dedup "
                         "parity) or quality (highest q_score member, "
                         "ties -> min id)")
    ap.add_argument("--method", default="minhash",
                    choices=("minhash", "embedding"),
                    help="near-dup pair method: shingle-Jaccard MinHash "
                         "LSH, or hashed-TF cosine via the grid kernel "
                         "(--threshold is then cosine*100)")
    ap.add_argument("--dim", type=int, default=64,
                    help="hashed-TF embedding width for "
                         "--method embedding")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from .plans.docdedup import run_corpus_dedup

    spark = build_session("gleaner-dedup", master=args.master)
    _ship_package(spark)
    out = run_corpus_dedup(
        spark, Lake(args.lake),
        run_id=args.run_id or f"dedup-{int(time.time())}",
        k=args.minhash_k, bands=args.bands, rows=args.rows,
        n=args.ngram, threshold_pct=args.threshold, keeper=args.keeper,
        method=args.method, dim=args.dim,
    )
    print(json.dumps(out))
    return 0


def _corpus_main(argv: list[str]) -> int:
    """``python -m gleaner_spark corpus --lake <path>``: build the
    training corpus from a harvested lake — keeper filter from
    dup_clusters (running the dedup plan first if absent), PII scrub,
    deterministic split assignment, concat-then-chunk sequence packing
    — and append it as a ``corpus`` snapshot (plans/corpus.py). Prints
    a JSON summary."""
    ap = argparse.ArgumentParser(prog="gleaner_spark corpus")
    ap.add_argument("--lake", required=True, help="harvested lake root")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--capacity", type=int, default=4096,
                    help="sequence capacity in chars (default 4096)")
    ap.add_argument("--seed", default="", help="split-assignment salt")
    ap.add_argument("--eval", dest="eval_path", default=None,
                    help="parquet of benchmark docs (text column) to "
                         "decontaminate against (broadcast n-gram "
                         "semi-join; omit to skip)")
    ap.add_argument("--decontam-n", type=int, default=13,
                    help="decontamination n-gram width (default 13, "
                         "the GPT-3/PaLM convention)")
    ap.add_argument("--weights", default=None,
                    help="per-source mixing weights 'srcA=2.5,srcB=0.3' "
                         "(floor(w) copies + deterministic fractional "
                         "keep; unlisted sources weight 1)")
    ap.add_argument("--token-budget", type=int, default=None,
                    help="keep the maximal hash-order prefix of the "
                         "mixed corpus with <= this many tokens "
                         "(counted per --budget-tokenizer)")
    ap.add_argument("--budget-tokenizer", default="ws",
                    choices=("ws", "bpe"),
                    help="token counter for --token-budget: ws = "
                         "whitespace words, bpe = GPT-2-style "
                         "pre-tokenizer (model-token-shaped budgets)")
    ap.add_argument("--shards", type=int, default=None,
                    help="training-order shuffle: assign each packed "
                         "sequence a (shard, shard_pos) over this many "
                         "shards")
    ap.add_argument("--keeper", default="min_id",
                    choices=("min_id", "quality"),
                    help="cluster keeper rule when the corpus build "
                         "auto-runs dedup (an existing dup_clusters "
                         "table is reused as-is)")
    ap.add_argument("--span-k", type=int, default=None,
                    help="remove k-token spans duplicated across "
                         "keeper documents (Lee et al. span dedup; "
                         "omit to skip)")
    ap.add_argument("--min-quality", type=float, default=None,
                    help="drop keeper documents whose composite "
                         "q_score (0-100) falls below this before any "
                         "other corpus stage")
    ap.add_argument("--max-nll", type=float, default=None,
                    help="CCNet-style LM gate: drop keeper documents "
                         "whose average unigram NLL under the keeper "
                         "corpus's own distribution exceeds this")
    ap.add_argument("--nb-seed", dest="nb_seed_path", default=None,
                    help="parquet of curated seed docs (text column): "
                         "train a two-class NB classifier (seed vs "
                         "this corpus) and gate on --min-nb")
    ap.add_argument("--min-nb", type=float, default=None,
                    help="keep keeper documents whose mean NB "
                         "log-likelihood ratio vs the --nb-seed "
                         "class is at least this (0 = neutral)")
    ap.add_argument("--langs", default=None,
                    help="comma-separated language allowlist "
                         "(en,de,es,fr,zh,unknown): keep keepers "
                         "whose DETECTED language matches "
                         "(CCNet-style language split)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if (args.nb_seed_path is None) != (args.min_nb is None):
        ap.error("--nb-seed and --min-nb must be given together")
    langs = (
        tuple(p.strip() for p in args.langs.split(",") if p.strip())
        if args.langs else None
    )
    if langs:
        from .operators.textops import LANG_CODES

        bad = [p for p in langs if p not in LANG_CODES]
        if bad:
            # predicted_lang only ever emits these codes — anything
            # else would silently build an empty corpus
            ap.error(f"--langs values {bad} not in {sorted(LANG_CODES)}")
    weights = None
    if args.weights:
        weights = {}
        for part in args.weights.split(","):
            k, _, v = part.partition("=")
            if not _ or not k:
                ap.error(f"--weights entry {part!r} is not name=value")
            weights[k.strip()] = float(v)

    from .plans.corpus import run_corpus_build

    spark = build_session("gleaner-corpus", master=args.master)
    _ship_package(spark)
    out = run_corpus_build(
        spark, Lake(args.lake),
        run_id=args.run_id or f"corpus-{int(time.time())}",
        capacity=args.capacity, seed=args.seed,
        eval_path=args.eval_path, decontam_n=args.decontam_n,
        weights=weights, token_budget=args.token_budget,
        budget_tokenizer=args.budget_tokenizer,
        n_shards=args.shards, keeper=args.keeper, span_k=args.span_k,
        min_quality=args.min_quality, max_nll=args.max_nll,
        nb_seed_path=args.nb_seed_path, min_nb=args.min_nb,
        langs=langs,
    )
    print(json.dumps(out))
    return 0


def _index_main(argv: list[str]) -> int:
    """``python -m gleaner_spark index --pages <path> --out <dir>``:
    build the SURT-keyed CDX-style capture index (operators/
    urlindex.build_url_index) over a pages table — parquet or a
    WARC/WET archive directory — and write it range-partitioned and
    sorted by surt_key, the cc-index file layout (all captures of a
    host and its subpaths land adjacent, so a host-prefix query
    touches one or two files). Prints a JSON summary."""
    ap = argparse.ArgumentParser(prog="gleaner_spark index")
    ap.add_argument("--pages", default=None,
                    help="pages table path (parquet) or WARC dir; "
                         "omit to only query an existing --out index")
    ap.add_argument("--pages-format", default="parquet",
                    choices=("parquet", "warc"))
    ap.add_argument("--out", required=True, help="index parquet dir")
    ap.add_argument("--url-col", default="url")
    ap.add_argument("--ts-col", default="warc_ts")
    ap.add_argument("--files", type=int, default=0,
                    help="output file count (0 = one per shuffle "
                         "partition)")
    ap.add_argument("--per-capture", action="store_true",
                    help="one row per capture (the cc-index/CDXJ "
                         "granularity, with a SHA-1 digest) instead "
                         "of per-key aggregation")
    ap.add_argument("--format", dest="out_format", default="parquet",
                    choices=("parquet", "cdxj"),
                    help="cdxj = sorted '<surt> <ts> <json>' text "
                         "lines (implies --per-capture)")
    ap.add_argument("--query-host", default=None,
                    help="after building (or over an existing index): "
                         "print rows for this host and its subdomains "
                         "as JSON lines (pushdown range scan)")
    ap.add_argument("--query-url", default=None,
                    help="print the single index row for this exact "
                         "URL (SURT point lookup)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if args.pages is None and not (args.query_host or args.query_url):
        ap.error("--pages is required unless --query-host/--query-url")

    from .operators.urlindex import (
        build_capture_index,
        build_url_index,
        lookup_host,
        surt_key_py,
        to_cdxj_lines,
    )

    spark = build_session("gleaner-index", master=args.master)
    _ship_package(spark)
    summary: dict = {"out": args.out}
    if args.pages is not None:
        if args.pages_format == "warc":
            from .sources.warc import combine_warc_wet, read_warc

            pages = combine_warc_wet(read_warc(spark, args.pages))
        else:
            pages = spark.read.parquet(args.pages)
        per_capture = args.per_capture or args.out_format == "cdxj"
        if per_capture:
            idx = build_capture_index(
                pages, url_col=args.url_col, ts_col=args.ts_col
            )
            sort_cols = ["surt_key", "ts"]
        else:
            idx = build_url_index(
                pages, url_col=args.url_col, ts_col=args.ts_col
            )
            sort_cols = ["surt_key"]
        if args.files > 0:
            idx = idx.repartitionByRange(args.files, *sort_cols)
        else:
            idx = idx.repartitionByRange(*sort_cols)
        idx = idx.sortWithinPartitions(*sort_cols)
        if args.out_format == "cdxj":
            to_cdxj_lines(idx).write.mode("overwrite").text(args.out)
            summary["index_rows"] = spark.read.text(args.out).count()
        else:
            idx.write.mode("overwrite").parquet(args.out)
            summary["index_rows"] = spark.read.parquet(args.out).count()
    if args.query_host or args.query_url:
        index_df = spark.read.parquet(args.out)
        if args.query_host:
            hits = lookup_host(index_df, args.query_host)
        else:
            key = surt_key_py(args.query_url)
            hits = index_df.filter(index_df["surt_key"] == key) \
                if key is not None else index_df.limit(0)
        rows = [r.asDict() for r in hits.orderBy("surt_key").collect()]
        for r in rows:
            print(json.dumps(r, default=str))
        summary["query_hits"] = len(rows)
    print(json.dumps(summary))
    return 0


def _graph_main(argv: list[str]) -> int:
    """``python -m gleaner_spark graph --pages <path> --out <dir>``:
    build the host-level webgraph (operators/webgraph.py) from a
    pages table or WARC dir — weighted edges, PageRank, and
    optionally the anchor-text corpus — written as parquet subdirs
    ``edges/``, ``ranks/``, and (with --anchors) ``anchors/``."""
    ap = argparse.ArgumentParser(prog="gleaner_spark graph")
    ap.add_argument("--pages", required=True,
                    help="pages table path (parquet) or WARC dir")
    ap.add_argument("--pages-format", default="parquet",
                    choices=("parquet", "warc"))
    ap.add_argument("--out", required=True, help="output root dir")
    ap.add_argument("--iterations", type=int, default=5)
    ap.add_argument("--anchors", action="store_true",
                    help="also write the anchor-text corpus")
    ap.add_argument("--domains", action="store_true",
                    help="also write the domain-level edge list")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from .operators.webgraph import (
        domain_link_graph,
        extract_anchor_texts,
        extract_links,
        host_link_graph,
        host_rank,
    )

    spark = build_session("gleaner-graph", master=args.master)
    _ship_package(spark)
    if args.pages_format == "warc":
        from .sources.warc import combine_warc_wet, read_warc

        pages = combine_warc_wet(read_warc(spark, args.pages))
    else:
        pages = spark.read.parquet(args.pages)
    edges = host_link_graph(extract_links(pages))
    edges.write.mode("overwrite").parquet(f"{args.out}/edges")
    edges = spark.read.parquet(f"{args.out}/edges")  # rank reads the
    # written edges, not the extraction lineage (K iterations would
    # otherwise re-scan the page table K times)
    ranks = host_rank(edges, iterations=args.iterations)
    ranks.write.mode("overwrite").parquet(f"{args.out}/ranks")
    summary = {
        "out": args.out,
        "edges": spark.read.parquet(f"{args.out}/edges").count(),
        "hosts": spark.read.parquet(f"{args.out}/ranks").count(),
    }
    if args.anchors:
        extract_anchor_texts(pages).write.mode("overwrite").parquet(
            f"{args.out}/anchors"
        )
        summary["anchors"] = spark.read.parquet(f"{args.out}/anchors").count()
    if args.domains:
        domain_link_graph(edges).write.mode("overwrite").parquet(
            f"{args.out}/domain_edges"
        )
        summary["domain_edges"] = spark.read.parquet(
            f"{args.out}/domain_edges"
        ).count()
    print(json.dumps(summary))
    return 0


def _vacuum_main(argv: list[str]) -> int:
    """``python -m gleaner_spark vacuum --lake <path>``: delete
    snap-* data dirs no manifest references (left by drop_snapshot/
    rollback_to/refused appends — Lake.vacuum docstring). Pure
    driver-side filesystem walk; no Spark session. Prints a JSON
    summary of removed dirs per table."""
    ap = argparse.ArgumentParser(prog="gleaner_spark vacuum")
    ap.add_argument("--lake", required=True, help="lake root to vacuum")
    ap.add_argument("--min-age-s", type=float, default=3600.0,
                    help="only sweep dirs older than this (default 1h; "
                         "guards in-flight appends)")
    args = ap.parse_args(argv)
    removed = Lake(args.lake).vacuum(min_age_s=args.min_age_s)
    print(json.dumps({"lake": args.lake, "removed": removed}))
    return 0


def _classify_main(argv: list[str]) -> int:
    """``python -m gleaner_spark classify --lake <path>``: compute the
    per-document quality scorecard (plans/scorecard.py — q_* features,
    language id, whitespace + BPE-ish token counts, Gopher repetition
    signals, unigram-NLL, optional NB seed-classifier score) and
    append it as a ``doc_scores`` snapshot (or ``--out`` parquet).
    Gate thresholds for the corpus build are then a SQL query over
    this narrow table. Prints a JSON summary with headline means."""
    ap = argparse.ArgumentParser(prog="gleaner_spark classify")
    ap.add_argument("--lake", required=True, help="harvested lake root")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--nb-seed", dest="nb_seed_path", default=None,
                    help="curated seed parquet (text column): also "
                         "score seed-vs-corpus NB log-likelihood "
                         "ratios")
    ap.add_argument("--out", default=None,
                    help="write plain parquet here instead of "
                         "appending a doc_scores snapshot")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from .plans.scorecard import run_scorecard

    spark = build_session("gleaner-classify", master=args.master)
    _ship_package(spark)
    out = run_scorecard(
        spark, Lake(args.lake),
        run_id=args.run_id or f"classify-{int(time.time())}",
        nb_seed_path=args.nb_seed_path, out_path=args.out,
    )
    print(json.dumps(out))
    return 0


def _recrawl_main(argv: list[str]) -> int:
    """``python -m gleaner_spark recrawl --index <path> --now <ts>
    --budget <n>``: rank every known URL by expected missed changes
    (operators/recrawl.py — change rate estimated from capture-index
    digest history x staleness) and emit the top-``budget`` recrawl
    schedule. ``--index`` is a per-capture index (``index
    --per-capture`` parquet output, or CDXJ with --index-format
    cdxj); ``--ranks`` optionally weights priorities by a host-rank
    frame (``graph`` output with host_key/rank columns). With
    ``--out`` the schedule lands as parquet; otherwise the top rows
    print as JSON lines. Prints a JSON summary either way."""
    from pyspark.sql import functions as _F

    ap = argparse.ArgumentParser(prog="gleaner_spark recrawl")
    ap.add_argument("--index", default=None,
                    help="per-capture index: parquet dir or CDXJ dir")
    ap.add_argument("--index-format", default="parquet",
                    choices=("parquet", "cdxj"))
    ap.add_argument("--lake", default=None,
                    help="read the per-capture index from this lake's "
                         "url_index table instead (the streaming "
                         "harvest's maintain_index sink)")
    ap.add_argument("--now", type=int, required=True,
                    help="scheduling instant (epoch seconds; explicit "
                         "so runs are reproducible)")
    ap.add_argument("--budget", type=int, required=True,
                    help="number of URLs to select")
    ap.add_argument("--prior-span-s", type=int, default=30 * 24 * 3600,
                    help="Laplace prior span for the change-rate "
                         "estimator (default 30 days)")
    ap.add_argument("--per-host-cap", type=int, default=None,
                    help="bound any single host's share of the budget "
                         "(politeness-aware schedules; a lane "
                         "serializes per host)")
    ap.add_argument("--delay", type=float, default=1.0,
                    help="per-host crawl-delay seconds for the ETA "
                         "estimate in the summary (default 1.0)")
    ap.add_argument("--delays", default=None,
                    help="optional parquet of per-host crawl-delays "
                         "(host_key, delay_s) — e.g. parsed robots "
                         "budgets; absent hosts take --delay")
    ap.add_argument("--robots", dest="robots_path", default=None,
                    help="optional seeds.json whose 'robots' bodies "
                         "supply per-host Crawl-delay budgets for "
                         "the ETA (parsed with the harvest's robots "
                         "semantics; overrides --delays)")
    ap.add_argument("--sitemaps", dest="sitemaps_path", default=None,
                    help="optional seeds.json whose 'sitemaps' bodies "
                         "supply <lastmod> claims: URLs whose claimed "
                         "modification postdates their last capture "
                         "jump the queue ahead of every estimate")
    ap.add_argument("--threads", type=int, default=1,
                    help="politeness threads per host for the ETA "
                         "estimate (default 1)")
    ap.add_argument("--ranks", default=None,
                    help="optional host-rank parquet (host_key, rank) "
                         "to weight priorities by host importance")
    ap.add_argument("--out", default=None, help="schedule parquet dir")
    ap.add_argument("--print-limit", type=int, default=20,
                    help="rows printed as JSON lines when --out is "
                         "omitted")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from .operators.recrawl import (
        recrawl_priority,
        schedule_eta,
        select_recrawl,
        weight_by_host_rank,
    )
    from .operators.urlindex import read_cdxj

    if (args.index is None) == (args.lake is None):
        ap.error("exactly one of --index / --lake is required")
    spark = build_session("gleaner-recrawl", master=args.master)
    _ship_package(spark)
    if args.lake:
        idx = Lake(args.lake).table("url_index").read(spark)
        if idx is None:
            print(json.dumps({"error": "lake has no url_index table"}))
            return 1
    elif args.index_format == "cdxj":
        idx = read_cdxj(spark, args.index)
    else:
        idx = spark.read.parquet(args.index)
    pri = recrawl_priority(idx, now_ts=args.now,
                           prior_span_s=args.prior_span_s)
    pcol = "priority"
    if args.ranks:
        ranks = spark.read.parquet(args.ranks)
        from_graph = "host" in ranks.columns and "host_key" not in ranks.columns
        if from_graph:
            # graph CLI output keys on the plain host name; the index
            # keys on the SURT host (reversed labels) — convert, and
            # strip_ports so ported SURT keys still match their host's
            # rank (graph hosts never carry ports)
            ranks = ranks.select(
                _F.concat_ws(
                    ",", _F.reverse(_F.split(_F.col("host"), r"\."))
                ).alias("host_key"),
                "rank",
            )
        pri = weight_by_host_rank(pri, ranks, strip_ports=from_graph)
        pcol = "weighted_priority"
    if args.sitemaps_path:
        from .operators.recrawl import boost_by_lastmod, claims_from_sitemaps

        with open(args.sitemaps_path) as f:
            sm_bodies = json.load(f).get("sitemaps", {})
        claims = claims_from_sitemaps(sm_bodies)
        if claims:
            claims_df = local_frame(
                spark, claims, "surt_key string, lastmod_ts long"
            )
            # known-stale URLs first, then by whichever priority col
            # is active — the boost carries the rank-weighted column
            # (9-decimal rounding) when --ranks was given, so rank
            # ordering survives WITHIN the stale set too
            pri = boost_by_lastmod(
                pri, claims_df, priority_col=pcol,
                decimals=9 if pcol == "weighted_priority" else 6,
            )
            pcol = "boosted_priority"
    # the priority frame feeds three jobs (selection, ETA,
    # known_urls); persist so the index scan + history window run once
    pri = pri.persist()
    try:
        sel = select_recrawl(pri, args.budget, priority_col=pcol,
                             per_host_cap=args.per_host_cap)
        summary: dict = {"now": args.now, "budget": args.budget,
                         "priority_col": pcol}
        if args.out:
            sel.write.mode("overwrite").parquet(args.out)
            summary["out"] = args.out
            sel = spark.read.parquet(args.out)
        else:
            sel = sel.persist()
            for r in sel.limit(args.print_limit).collect():
                print(json.dumps(r.asDict(), default=str))
        # the TRUE selection size, not the printed-row count
        summary["selected"] = sel.count()
        # politeness reality check: the schedule's wall-clock is its
        # worst host's serial lane, not its row count
        if args.robots_path:
            from .operators.recrawl import delays_from_robots

            with open(args.robots_path) as f:
                robots_bodies = json.load(f).get("robots", {})
            rows = delays_from_robots(robots_bodies)
            delays_df = (
                local_frame(
                    spark, rows, "host_key string, delay_s double"
                ) if rows else None
            )
        elif args.delays:
            delays_df = spark.read.parquet(args.delays)
        else:
            delays_df = None
        eta = schedule_eta(sel, default_delay_s=args.delay,
                           delays=delays_df, threads=args.threads)
        worst = eta.orderBy(
            _F.col("eta_s").desc(), "host_key"
        ).limit(1).collect()
        if worst:
            summary["eta_s"] = float(worst[0]["eta_s"])
            summary["bottleneck_host"] = worst[0]["host_key"]
        summary["known_urls"] = pri.count()
    finally:
        pri.unpersist()
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "dedup":
        return _dedup_main(argv[1:])
    if argv and argv[0] == "corpus":
        return _corpus_main(argv[1:])
    if argv and argv[0] == "vacuum":
        return _vacuum_main(argv[1:])
    if argv and argv[0] == "index":
        return _index_main(argv[1:])
    if argv and argv[0] == "graph":
        return _graph_main(argv[1:])
    if argv and argv[0] == "recrawl":
        return _recrawl_main(argv[1:])
    if argv and argv[0] == "classify":
        return _classify_main(argv[1:])
    ap = argparse.ArgumentParser(prog="gleaner_spark")
    ap.add_argument("--cfg", required=True, help="YAML config (gleanerConfig.go:35-49)")
    ap.add_argument("--pages", required=True, help="pages table path (parquet/Iceberg)")
    ap.add_argument("--pages-format", default="parquet",
                    choices=("parquet", "warc"),
                    help="pages input: parquet table, or a directory of "
                         "WARC/WET archives (Common-Crawl layout; "
                         "sources/warc.py — response html + conversion "
                         "text merged per capture)")
    ap.add_argument("--lake", required=True, help="lake root for documents/prov/orgs/frontier/metrics")
    ap.add_argument("--seeds", required=True, help="JSON of prefetched sitemap/robots bodies")
    ap.add_argument("--source", default="", help="restrict to one source name (root.go:80-110)")
    ap.add_argument("--mode", default="local",
                    help="reference default 'local' (root.go:232); only 'diff' "
                         "changes behavior and is fatal-unsupported (resources.go:73-75)")
    ap.add_argument("--bucket", default="", help="URN namespace override (prov.go:133)")
    ap.add_argument("--setup", action="store_true", help="create lake tables if missing (minio.go:48-71)")
    ap.add_argument("--rude", action="store_true", help="ignore robots.txt (resources.go:46-49)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--resume", action="store_true", help="skip phases already checkpointed for this run-id")
    ap.add_argument("--block-hosts", default="",
                    help="comma-separated host blocklist (exact or "
                         "dot-suffix) applied to the frontier before "
                         "politeness scheduling")
    ap.add_argument("--block-words", default="",
                    help="comma-separated path/query keyword blocklist "
                         "for frontier URLs")
    ap.add_argument("--max-urls-per-host", type=int, default=None,
                    help="cap each host's frontier at its first N "
                         "sitemap-order URLs (heavy-tail control)")
    ap.add_argument("--master", default=None, help="override master (default: spark-submit's)")
    args = ap.parse_args(argv)

    if args.mode == "diff":
        # reference parity: log.Fatal at resources.go:73-75
        print("mode diff is not supported", file=sys.stderr)
        return 1
    if args.rude and not args.source:
        # reference parity: cmd/root.go:106-109
        print("rude is only valid when --source is also specified", file=sys.stderr)
        return 1

    cfg = load_config(args.cfg)
    if args.source:
        cfg.sources = [s for s in cfg.sources if s.name == args.source]
        if not cfg.sources:
            print(f"no source named {args.source!r} in {args.cfg}", file=sys.stderr)
            return 1
    if args.bucket:
        cfg.bucket = args.bucket
    if args.rude:
        cfg.rude = True

    with open(args.seeds) as f:
        seeds = json.load(f)

    spark = build_session("gleaner-spark", master=args.master)
    _ship_package(spark)
    lake = Lake(args.lake)
    if args.setup:
        for t in ("documents", "prov", "orgs", "frontier", "metrics"):
            lake.table(t)  # CREATE TABLE IF NOT EXISTS equivalent
    if args.pages_format == "warc":
        from .sources.warc import combine_warc_wet, read_warc

        pages = combine_warc_wet(read_warc(spark, args.pages))
    else:
        pages = spark.read.parquet(args.pages)

    run_id = args.run_id or f"run-{int(time.time())}"
    res = harvest_from_config(
        spark, lake, cfg, pages,
        seeds.get("sitemaps", {}), seeds.get("robots", {}),
        run_id=run_id, resume=args.resume,
        url_blocked_hosts=tuple(
            h.strip() for h in args.block_hosts.split(",") if h.strip()
        ),
        url_blocked_words=tuple(
            w.strip() for w in args.block_words.split(",") if w.strip()
        ),
        max_urls_per_host=args.max_urls_per_host,
    )
    print(json.dumps({
        "run_id": res.run_id,
        "frontier_size": res.frontier_size,
        "urls_blocked": res.urls_blocked,
        "urls_capped": res.urls_capped,
        "fetched": res.fetched,
        "extracted": res.extracted,
        "new_documents": res.new_documents,
        "prov_records": res.prov_records,
        "errors": res.errors,
        "timings": {k: round(v, 3) for k, v in res.timings.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
