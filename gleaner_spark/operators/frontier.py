"""URL frontier construction (SURVEY §2 S6-S13, §3.2).

Re-expresses ResourceURLs (/root/reference/internal/summoner/acquire/
resources.go:24-122) as DataFrame stages:

    sources ──filter(active,headless,type)──► sitemap docs
            ──mapInPandas XML parse──► sitemap_entries (position kept)
            ──trim/regexp_replace + robots anti-filter──► frontier

Design notes for the 10^10-URL scale point:

- sitemap XML bodies are parsed on executors (``mapInPandas``), one
  task per sitemap — a 50k-URL sitemap is one Arrow batch, thousands
  of sitemaps parallelize across the cluster.
- the robots rule set is a *small* per-host table → broadcast to a
  vectorized pandas UDF with a per-executor parsed-group cache; the
  filter is the anti-join semantics of resources.go:162-165 without
  shuffling the frontier.
- ``position`` pins Gleaner's implicit sitemap document order so the
  politeness scheduler can reproduce the reference crawl order.
- ``url_hash`` (xxhash64 for partition bucketing + sha1 hex for
  identity) is computed once here; production tables bucket on it.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import robots as rb
from ..core import sitemap as sm
from ..core.extract import EARTHCUBE_AGENT
from ..session import local_frame
from ..sources.config import Source, SummonerConfig
from .urlfilter import url_block_reason

SITEMAP_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("source_name", T.StringType()),
        T.StructField("sitemap_url", T.StringType()),
        T.StructField("sitemap_seq", T.IntegerType()),
        T.StructField("loc", T.StringType()),
        T.StructField("lastmod", T.StringType()),
        T.StructField("changefreq", T.StringType()),
        T.StructField("priority", T.FloatType()),
        T.StructField("doc_pos", T.IntegerType()),
    ]
)


def resolve_sitemap_docs(
    sources: list[Source],
    sitemap_bodies: dict[str, str],
    robots_bodies: dict[str, str],
    headless: bool = False,
) -> tuple[list[tuple[str, str, int, str]], list[str]]:
    """Driver-side seed resolution (tiny): per active source of type
    sitemap/robots, the list of (source_name, sitemap_url, seq, xml).
    robots-type sources walk the robots Sitemap: entries
    (resources.go:81-115); sitemap indexes are expanded
    (resources.go:129-153). Returns (docs, errors)."""
    docs: list[tuple[str, str, int, str]] = []
    errors: list[str] = []

    def expand(source_name: str, sitemap_url: str) -> None:
        xml = sitemap_bodies.get(sitemap_url)
        if xml is None:
            errors.append(f"{source_name}: sitemap not reachable: {sitemap_url}")
            return
        try:
            children = sm.parse_sitemap_index(xml)
        except sm.SitemapParseError as e:
            errors.append(f"{source_name}: {e}")
            return
        if not children:
            docs.append((source_name, sitemap_url, len(docs), xml))
            return
        for child in children:
            cxml = sitemap_bodies.get(child)
            if cxml is None:
                errors.append(f"{source_name}: dead sitemap index child: {child}")
                continue
            docs.append((source_name, child, len(docs), cxml))

    for s in sources:
        if not s.active or s.headless != headless:
            continue
        if s.source_type == "sitemap":
            expand(s.name, s.url)
        elif s.source_type == "robots":
            body = robots_bodies.get(s.url) or robots_bodies.get(s.domain)
            if body is None:
                errors.append(f"{s.name}: robots.txt not reachable: {s.url}")
                continue
            for sitemap_url in rb.parse_robots_txt(body).sitemaps:
                expand(s.name, sitemap_url)
    return docs, errors


def _map_sitemap_docs(spark: SparkSession, docs: list[tuple[str, str, int, str]],
                      parse_doc, schema: T.StructType) -> DataFrame:
    """One task per sitemap doc, and no Python job to ship the docs:
    the XML bodies go out as ONE broadcast (torrent, cached per
    executor) and each task reads its doc by index from a
    ``spark.range``. Task-embedded payloads would ride every task of
    every pass that re-runs the parse (the frontier's count pass
    does), and a ``parallelize``-built relation runs an extra Python
    task per scan. Parse parallelism == number of sitemap docs
    (at CC scale, thousands; the spec caps one doc at 50k URLs so a
    task is bounded). ``parse_doc(doc, out)`` appends one doc's rows
    to ``out``, a dict of column lists keyed by ``schema``'s fields."""
    docs = docs or []
    bdocs = spark.sparkContext.broadcast(docs)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_docs = bdocs.value
        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for i in pdf["id"]:
                parse_doc(all_docs[int(i)], out)
            yield pd.DataFrame(out)

    idx_df = spark.range(len(docs), numPartitions=max(len(docs), 1))
    return idx_df.mapInPandas(parse, schema)


def sitemap_entries_df(spark: SparkSession, docs: list[tuple[str, str, int, str]]) -> DataFrame:
    """Executor-side XML parse preserving document order, one task per
    sitemap doc (``_map_sitemap_docs``)."""

    def parse_doc(doc: tuple[str, str, int, str], out: dict[str, list]) -> None:
        source_name, sitemap_url, sitemap_seq, xml = doc
        try:
            urls = sm.parse_sitemap(xml)
        except sm.SitemapParseError:
            return  # MultiError semantics: log & continue
        for pos, u in enumerate(urls):
            out["source_name"].append(source_name)
            out["sitemap_url"].append(sitemap_url)
            out["sitemap_seq"].append(sitemap_seq)
            out["loc"].append(u.loc)
            out["lastmod"].append(u.lastmod)
            out["changefreq"].append(u.changefreq)
            out["priority"].append(u.priority)
            out["doc_pos"].append(pos)

    return _map_sitemap_docs(spark, docs, parse_doc, SITEMAP_ENTRY_SCHEMA)


def _robots_filter_udf(robots_by_host: dict[str, str]):
    """Vectorized robots evaluator. Broadcast-sized rule table; parsed
    groups cached per executor (ldproc-style context cache,
    SURVEY §4)."""
    _cache: dict[str, rb.Group | None] = {}

    @F.pandas_udf(T.BooleanType())
    def allowed(urls: pd.Series, hosts: pd.Series) -> pd.Series:
        out = []
        for url, host in zip(urls, hosts):
            grp = _cache.get(host, False)
            if grp is False:
                body = robots_by_host.get(host)
                grp = rb.parse_robots_txt(body).find_group(EARTHCUBE_AGENT) if body else None
                _cache[host] = grp
            out.append(True if grp is None else grp.test(url))
        return pd.Series(out)

    return allowed


def _host_of(url: str) -> str | None:
    """scheme://host of a URL — the frontier/streaming host key.

    Deliberately MORE tolerant than ``F.parse_url('HOST')`` (java.net.
    URI): hosts java rejects (underscores, stray percent signs — both
    occur in real crawl frontiers) are kept rather than nulled,
    because a NULL host would bypass the robots anti-filter and
    host-keyed politeness entirely — the unsafe direction for a
    crawler. Also lowercases the scheme (urlsplit semantics) where
    parse_url preserves its case; robots/domain keys are config-owned
    lowercase strings. Userinfo and ports are stripped like
    parse_url. The fused-vs-unfused pin test covers the shapes where
    the two agree; these divergences are documented behavior, not
    drift."""
    import urllib.parse as up

    try:
        p = up.urlsplit(url)
    except ValueError:
        return None
    if not p.scheme or not p.netloc:
        return None
    host = p.netloc.rsplit("@", 1)[-1]
    if ":" in host and not host.endswith("]"):
        host = host.rsplit(":", 1)[0]
    return f"{p.scheme}://{host}" if host else None


FRONTIER_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("source_name", T.StringType()),
        T.StructField("sitemap_seq", T.IntegerType()),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("lr", T.IntegerType()),  # rank among survivors, 1-based
    ]
)


def _frontier_entries_df(spark: SparkSession, docs: list[tuple[str, str, int, str]],
                         robots_bodies: dict[str, str] | None) -> DataFrame:
    """Fused parse → normalize (S10) → robots anti-filter (S11) →
    within-doc survivor rank, all in the ONE per-sitemap parse task.

    The unfused operators (``sitemap_entries_df`` + the S10 column
    expressions + ``_robots_filter_udf``) stay as the unit-testable
    building blocks and oracle contracts; the frontier build uses this
    fused stage because each extra Python stage is a full Arrow round
    trip of the frontier and the plain per-source rank window was an
    unbounded single-task sort (a 10^8-URL source at CC scale). Here
    the task sees one whole sitemap doc (≤50k URLs by spec), so the
    local rank is free; the global position is the rank plus a
    cumulative per-doc offset (``build_frontier``). Row-identical to
    the unfused chain (pinned by test)."""
    robots_by_host = robots_bodies or {}
    _groups: dict[str, rb.Group | None] = {}

    def _allowed(url: str, host: str | None) -> bool:
        if not robots_by_host:
            return True
        grp = _groups.get(host, False)
        if grp is False:
            body = robots_by_host.get(host)
            grp = rb.parse_robots_txt(body).find_group(EARTHCUBE_AGENT) if body else None
            _groups[host] = grp
        return True if grp is None else grp.test(url)

    def parse_doc(doc: tuple[str, str, int, str], out: dict[str, list]) -> None:
        source_name, _sitemap_url, sitemap_seq, xml = doc
        try:
            urls = sm.parse_sitemap(xml)
        except sm.SitemapParseError:
            return  # MultiError semantics: log & continue
        lr = 0
        for u in urls:
            # S10 via the SHARED normalizer — recrawl claims key on
            # the same function, so the two can never diverge on what
            # a loc normalizes to
            norm = sm.normalize_loc(u.loc)
            if not norm:
                continue
            host = _host_of(norm)
            if not _allowed(norm, host):
                continue
            lr += 1
            out["source_name"].append(source_name)
            out["sitemap_seq"].append(sitemap_seq)
            out["url"].append(norm)
            out["host"].append(host)
            out["lr"].append(lr)

    return _map_sitemap_docs(spark, docs, parse_doc, FRONTIER_ENTRY_SCHEMA)


FRONTIER_COLUMNS = (
    "host", "source_name", "url", "url_hash", "url_sha", "position",
    "state", "attempt", "threads", "delay_ms",
    "fetch_seq", "lane", "scheduled_offset_ms",
)
RANK_OFFSETS_SCHEMA = (
    "source_name string, sitemap_seq int, host string, "
    "pos_off long not null, seq_off long not null"
)


def _rank_offsets(counts) -> list[tuple]:
    """Both rank offsets from the count pass's rows (source_name,
    sitemap_seq, host, n = robots survivors, k = blocklist survivors),
    one row per (doc, host) that keeps any row:

    - ``pos_off``: survivors in the source's earlier docs (running sum
      of ``n`` over ``sitemap_seq``), so position = pos_off + lr;
    - ``seq_off``: the host's kept rows in earlier (source_name,
      sitemap_seq) docs (running sum of ``k``), so fetch_seq = seq_off
      + the row's rank among its host's kept rows in the doc.

    A NULL host is one host, as it is one partition of the plain
    ``Window.partitionBy("host")``. Python orders ``str`` by code
    point, which is Spark's UTF-8 byte order."""
    doc_n: dict[tuple[str, int], int] = defaultdict(int)
    for r in counts:
        doc_n[(r["source_name"], r["sitemap_seq"])] += r["n"]
    pos_off, source_run = {}, defaultdict(int)
    for doc in sorted(doc_n):
        pos_off[doc] = source_run[doc[0]]
        source_run[doc[0]] += doc_n[doc]
    rows, host_run = [], defaultdict(int)
    for r in sorted(counts, key=lambda r: (r["source_name"], r["sitemap_seq"])):
        if r["k"]:
            doc = (r["source_name"], r["sitemap_seq"])
            rows.append((*doc, r["host"], pos_off[doc], host_run[r["host"]]))
            host_run[r["host"]] += r["k"]
    return rows


def build_frontier(
    spark: SparkSession,
    sources: list[Source],
    sitemap_bodies: dict[str, str],
    robots_bodies: dict[str, str],
    summoner: SummonerConfig | None = None,
    rude: bool = False,
    headless: bool = False,
    *,
    blocked_hosts: tuple[str, ...] = (),
    blocked_words: tuple[str, ...] = (),
    blocked: Observation | None = None,
) -> tuple[DataFrame, list[str]]:
    """The scheduled frontier table, ``FRONTIER_COLUMNS``: host,
    source_name, url, url_hash, url_sha, position, state, attempt
    (SURVEY §1.2), the per-source politeness columns threads/delay_ms
    (S12/S13 semantics incl. units quirk) and ``schedule_fetches``'
    columns fetch_seq, lane, scheduled_offset_ms (S13).

    ``blocked_hosts``/``blocked_words`` are the opt-in URL blocklist
    of ``operators.urlfilter.filter_urls`` (default empty = reference
    parity), applied after position is assigned (positions keep their
    gaps) and before scheduling, so a blocked URL never takes a fetch
    lane or delay budget. ``blocked``, if given, counts the dropped
    rows (metric ``n``) when the frontier is consumed.

    Plan shape: the fused parse (one Python stage) runs twice and
    nothing persists the frontier.

    1. Count pass: per (source_name, sitemap_seq, host), the robots
       survivors ``n`` and blocklist survivors ``k``, collected. That
       is docs × hosts rows, and a doc holds ≤50k URLs by spec.
    2. The driver turns the counts into both rank offsets
       (``_rank_offsets``), shipped as ONE local relation.
    3. Write pass: position = in-task rank + doc offset; fetch_seq =
       host offset + row_number within (host, source_name,
       sitemap_seq) by in-task rank. The salt block is the sitemap
       doc, already the bound on one parse task, so a 10^8-URL host
       never lands in one window task; the window is the phase's only
       exchange. In-task rank order is position order, so ties cannot
       straddle docs, and fetch_seq equals the plain window's.

    Joining an offsets aggregate back to the frontier instead re-runs
    the parse under each join, and exchange reuse cannot merge them:
    the self-join's right side gets fresh attribute ids."""
    summoner = summoner or SummonerConfig()
    docs, errors = resolve_sitemap_docs(sources, sitemap_bodies, robots_bodies, headless)
    entries = _frontier_entries_df(
        spark, docs, None if rude else robots_bodies
    )
    keep = F.lit(True)
    if blocked_hosts or blocked_words:
        keep = url_block_reason("url", blocked_hosts, blocked_words).isNull()
    entries = entries.withColumn("_keep", keep)

    counts = (
        entries.groupBy("source_name", "sitemap_seq", "host")
        .agg(F.count("*").alias("n"), F.count_if("_keep").alias("k"))
        .collect()
    )
    offsets = local_frame(spark, _rank_offsets(counts), RANK_OFFSETS_SCHEMA)

    # politeness resolution (S12/S13) — tiny per-source table, broadcast later
    politeness = {}
    for s in sources:
        grp = None
        if not rude:
            body = robots_bodies.get(s.domain)
            if body is not None:
                grp = rb.parse_robots_txt(body).find_group(EARTHCUBE_AGENT)
        source_delay = s.delay_ms
        if grp is not None:
            # overrideCrawlDelayFromRobots units quirk: max(seconds, ms)
            source_delay = rb.resolve_crawl_delay_ms(grp.crawl_delay, summoner.delay_ms)
        threads, delay = effective_politeness(summoner.threads, summoner.delay_ms, source_delay)
        politeness[s.name] = (threads, delay)
    pol_df = local_frame(
        spark, [(k, v[0], v[1]) for k, v in politeness.items()],
        "source_name string, threads int, delay_ms long",
    )

    if blocked is not None:
        entries = entries.observe(blocked, F.count_if(~F.col("_keep")).alias("n"))
    w = Window.partitionBy("host", "source_name", "sitemap_seq").orderBy("lr")
    frontier = (
        entries.filter(F.col("_keep"))
        .withColumn("_rn", F.row_number().over(w))
        .transform(_join_null_safe, offsets, ["source_name", "sitemap_seq", "host"])
        .withColumn("position", (F.col("pos_off") + F.col("lr")).cast("long"))
        # long, not int: a 10^10-URL frontier can put >2^31 URLs
        # behind one host (see schedule_fetches)
        .withColumn(
            "fetch_seq", (F.col("seq_off") + F.col("_rn") - F.lit(1)).cast("long")
        )
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("url_sha", F.sha1(F.col("url")))
        .withColumn("state", F.lit("pending"))
        .withColumn("attempt", F.lit(0))
        .join(F.broadcast(pol_df), "source_name", "left")
        .transform(_with_lanes)
    )
    return frontier.select(*FRONTIER_COLUMNS), errors


def effective_politeness(global_threads: int, global_delay_ms: int,
                         source_delay_ms: int) -> tuple[int, int]:
    """getConfig thread/delay policy (acquire.go:55-106): any nonzero
    delay forces a single fetch lane; a larger source-specific delay
    overrides the global one."""
    tc, delay = global_threads, global_delay_ms
    if delay != 0 or tc == 0:
        tc = 1
    if source_delay_ms != 0 and source_delay_ms > delay:
        delay = source_delay_ms
        tc = 1
    return tc, delay


def _join_null_safe(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """``left.join(F.broadcast(right), keys)``, except that a NULL key
    matches a NULL key: the plain equi-join drops every row with one.
    Same columns, in the same order: keys, left's others, right's
    others."""
    rest = [c for c in right.columns if c not in keys]
    r = right.select(*[F.col(k).alias(f"_r_{k}") for k in keys], *rest)
    cond = [F.col(k).eqNullSafe(F.col(f"_r_{k}")) for k in keys]
    return left.join(F.broadcast(r), cond).select(
        *keys, *[c for c in left.columns if c not in keys], *rest
    )


def block_salted_rank(df: DataFrame, part_cols: list[str],
                      blk_cols: list[str], order_cols: list[str],
                      out_col: str = "rank") -> DataFrame:
    """0-based global rank per ``part_cols``, ordered by
    (``blk_cols``, ``order_cols``), WITHOUT the single-task
    whole-partition sort of a plain window: row_number runs inside
    (part, blk) groups — bounded by block size regardless of
    partition-value skew — and a cumulative per-block offset from a
    tiny count table (broadcast) shifts the local ranks into the
    global order. Row-for-row identical to
    ``row_number().over(Window.partitionBy(part).orderBy(blk, order))
    - 1``, NULL keys included (they sort first, as in the plain
    window), which is what the equivalence tests pin.

    Correctness requirement on the caller: any tie in ``order_cols``
    must land in one block (blk derived from a prefix of the order
    keys satisfies this)."""
    w_local = Window.partitionBy(*part_cols, *blk_cols).orderBy(*order_cols)
    local = df.withColumn("_lr", F.row_number().over(w_local) - F.lit(1))
    counts = df.groupBy(*part_cols, *blk_cols).agg(F.count("*").alias("_cnt"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy(*blk_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).drop("_cnt")
    return (
        _join_null_safe(local, offsets, part_cols + blk_cols)
        .withColumn(out_col, (F.col("_off") + F.col("_lr")).cast("long"))
        .drop("_lr", "_off")
    )


def _with_lanes(df: DataFrame) -> DataFrame:
    """lane and scheduled_offset_ms from fetch_seq (S13): delay>0 ⇒
    one lane per host in sitemap order (reference: threads=1 + sleep,
    acquire.go:71-73,210); delay==0 ⇒ `threads` parallel lanes
    round-robin by fetch_seq."""
    lanes = F.when(F.col("delay_ms") > 0, F.lit(1)).otherwise(
        F.greatest(F.col("threads"), F.lit(1))
    )
    return df.withColumn(
        "lane", F.pmod(F.col("fetch_seq"), lanes).cast("int")
    ).withColumn(
        "scheduled_offset_ms",
        (F.floor(F.col("fetch_seq") / lanes) * F.col("delay_ms")).cast("long"),
    )


def schedule_fetches(frontier: DataFrame) -> DataFrame:
    """Politeness scheduler (S13): deterministic per-host fetch order
    + a simulated clock offset (``_with_lanes``).

    Returns frontier + (fetch_seq, lane, scheduled_offset_ms). Live
    fetching consumes this schedule in ``operators.livefetch``; the
    streaming-state variant is ``streaming.stateful``.

    This plain ``Window.partitionBy(host)`` puts a 50M-URL host into
    ONE task. ``build_frontier`` therefore ranks per sitemap doc;
    this function is the reference it is pinned against."""
    # source_name tiebreak: hosts serving several sources have no
    # reference-defined cross-source order (each source crawls in its
    # own goroutine) — pick the deterministic one
    w = Window.partitionBy("host").orderBy("source_name", "position")
    # long, not int: a 10^10-URL frontier can put >2^31 URLs behind
    # one host, and an int32 fetch_seq would wrap negative and reverse
    # the politeness crawl order
    seq = (F.row_number().over(w) - F.lit(1)).cast("long")
    return _with_lanes(frontier.withColumn("fetch_seq", seq))
