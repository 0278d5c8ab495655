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

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import robots as rb
from ..core import sitemap as sm
from ..core.extract import EARTHCUBE_AGENT
from ..session import local_frame
from ..sources.config import Source, SummonerConfig

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


def sitemap_entries_df(spark: SparkSession, docs: list[tuple[str, str, int, str]]) -> DataFrame:
    """Executor-side XML parse preserving document order.

    One sitemap doc per RDD slice, so the (multi-MB) XML bodies go
    driver→executor exactly once — the old ``repartition`` guaranteed
    the same one-doc-per-task spread but paid a full shuffle of the
    XML blobs to get it (profiled at sf0.1: the exchange was ~15% of
    the frontier phase). Parse parallelism == number of sitemap docs
    by construction (at CC scale, thousands; the spec caps one doc at
    50k URLs so a task is bounded)."""
    schema = "source_name string, sitemap_url string, sitemap_seq int, xml string"
    doc_df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs or [], max(len(docs), 1)), schema
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in SITEMAP_ENTRY_SCHEMA.fieldNames()}
            for _, row in pdf.iterrows():
                try:
                    urls = sm.parse_sitemap(row["xml"])
                except sm.SitemapParseError:
                    continue  # MultiError semantics: log & continue
                for pos, u in enumerate(urls):
                    out["source_name"].append(row["source_name"])
                    out["sitemap_url"].append(row["sitemap_url"])
                    out["sitemap_seq"].append(row["sitemap_seq"])
                    out["loc"].append(u.loc)
                    out["lastmod"].append(u.lastmod)
                    out["changefreq"].append(u.changefreq)
                    out["priority"].append(u.priority)
                    out["doc_pos"].append(pos)
            yield pd.DataFrame(out)

    return doc_df.mapInPandas(parse, SITEMAP_ENTRY_SCHEMA)


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
        T.StructField("lr", T.IntegerType()),   # rank among survivors, 1-based
        T.StructField("cnt", T.IntegerType()),  # survivors in this doc
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
    local rank and the survivor count are free; the global position is
    the rank plus a cumulative per-doc offset from a tiny broadcast
    table. Row-identical to the unfused chain (pinned by test)."""
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

    # the XML bodies ship as ONE broadcast (torrent, cached per
    # executor) instead of riding every task of every branch — the
    # offsets subquery and the main query each re-run this stage, so
    # task-embedded payloads would ship the corpus twice per action
    bdocs = spark.sparkContext.broadcast(docs or [])

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_docs = bdocs.value
        for pdf in batches:
            out = {k: [] for k in FRONTIER_ENTRY_SCHEMA.fieldNames()}
            for i in pdf["id"]:
                source_name, _sitemap_url, sitemap_seq, xml = all_docs[int(i)]
                try:
                    urls = sm.parse_sitemap(xml)
                except sm.SitemapParseError:
                    continue  # MultiError semantics: log & continue
                start = len(out["url"])
                lr = 0
                for u in urls:
                    # S10 via the SHARED normalizer — recrawl claims
                    # key on the same function, so the two can never
                    # diverge on what a loc normalizes to
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
                    out["cnt"].append(0)
                out["cnt"][start:] = [lr] * (len(out["url"]) - start)
            yield pd.DataFrame(out)

    idx_df = spark.range(len(docs or []), numPartitions=max(len(docs or []), 1))
    return idx_df.mapInPandas(parse, FRONTIER_ENTRY_SCHEMA)


def build_frontier(
    spark: SparkSession,
    sources: list[Source],
    sitemap_bodies: dict[str, str],
    robots_bodies: dict[str, str],
    summoner: SummonerConfig | None = None,
    rude: bool = False,
    headless: bool = False,
) -> tuple[DataFrame, list[str]]:
    """frontier table: source_name, url, host, url_hash, url_sha,
    position, state, attempt (SURVEY §1.2). Plus per-source politeness
    columns threads/delay_ms (S12/S13 semantics incl. units quirk).

    Plan shape (profiled, VERDICT r3 #8): ONE Python stage (the fused
    parse task), no full-frontier exchange at all — position comes
    from the in-task survivor rank plus broadcast per-doc offsets;
    hashing/state/politeness are JVM column expressions. The offsets
    branch re-runs the (cheap, bounded) parse on the tiny count
    projection rather than caching the frontier — at CC scale a
    second 50k-URL XML parse per sitemap is noise next to an extra
    persist of a 10^10-row frontier."""
    summoner = summoner or SummonerConfig()
    docs, errors = resolve_sitemap_docs(sources, sitemap_bodies, robots_bodies, headless)
    entries = _frontier_entries_df(
        spark, docs, None if rude else robots_bodies
    )

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

    # global position = within-doc survivor rank + cumulative per-doc
    # offset (tiny: one row per sitemap doc, broadcast)
    counts = entries.groupBy("source_name", "sitemap_seq").agg(
        F.max("cnt").alias("cnt")
    )
    w_off = (
        Window.partitionBy("source_name")
        .orderBy("sitemap_seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).drop("cnt")
    frontier = (
        entries.join(F.broadcast(offsets), ["source_name", "sitemap_seq"])
        .withColumn("position", (F.col("off") + F.col("lr")).cast("long"))
        .drop("lr", "cnt", "off")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("url_sha", F.sha1(F.col("url")))
        .withColumn("state", F.lit("pending"))
        .withColumn("attempt", F.lit(0))
        .join(F.broadcast(pol_df), "source_name", "left")
        .select(
            "source_name", "url", "host", "url_hash", "url_sha", "position",
            "state", "attempt", "threads", "delay_ms",
        )
    )
    return frontier, errors


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


SALT_BLOCK = 50_000  # one sitemap file's worth (docs/archive/sitemaps.md:52)


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
    - 1``, which is what the equivalence tests pin.

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
        local.join(F.broadcast(offsets), part_cols + blk_cols)
        .withColumn(out_col, (F.col("_off") + F.col("_lr")).cast("long"))
        .drop("_lr", "_off")
    )


def schedule_fetches(frontier: DataFrame, scalable: bool = False,
                     block: int = SALT_BLOCK) -> DataFrame:
    """Politeness scheduler (S13): deterministic per-host fetch order
    + a simulated clock offset. delay>0 ⇒ one lane per host in
    sitemap order (reference: threads=1 + sleep, acquire.go:71-73,210);
    delay==0 ⇒ `threads` parallel lanes round-robin by position.

    Returns frontier + (lane, fetch_seq, scheduled_offset_ms). Live
    fetching consumes this schedule in ``operators.livefetch``; the
    streaming-state variant is ``streaming.stateful``.

    ``scalable=True`` is the heavy-tail path (north rule): a plain
    ``Window.partitionBy(host)`` puts a 50M-URL host into ONE task.
    Instead the rank is computed in two phases salted by *position
    block* (range salt, one sitemap file's worth of URLs): a local
    row_number within (host, source, block) — bounded at ``block``
    rows per window partition regardless of host size — plus a
    cumulative block offset from a tiny per-block count table. The
    result is row-for-row identical to the plain window (pinned by
    test)."""
    lanes = F.when(F.col("delay_ms") > 0, F.lit(1)).otherwise(
        F.greatest(F.col("threads"), F.lit(1))
    )
    if not scalable:
        # source_name tiebreak: hosts serving several sources have no
        # reference-defined cross-source order (each source crawls in
        # its own goroutine) — pick the deterministic one
        w = Window.partitionBy("host").orderBy("source_name", "position")
        # long, not int: a 10^10-URL frontier can put >2^31 URLs behind
        # one host, and an int32 fetch_seq would wrap negative and
        # reverse the politeness crawl order
        seq = (F.row_number().over(w) - F.lit(1)).cast("long")
        df = frontier.withColumn("fetch_seq", seq)
    else:
        blk = F.floor((F.col("position") - 1) / F.lit(block)).alias("blk")
        salted = frontier.withColumn("blk", blk)
        # blk is derived from position, so order ties are impossible
        # across blocks; rank per host over (source_name, blk,
        # position) == the plain window's (source_name, position)
        df = block_salted_rank(
            salted, ["host"], ["source_name", "blk"], ["position"],
            out_col="fetch_seq",
        ).drop("blk")
    df = df.withColumn("lane", F.pmod(F.col("fetch_seq"), lanes).cast("int"))
    df = df.withColumn(
        "scheduled_offset_ms",
        (F.floor(F.col("fetch_seq") / lanes) * F.col("delay_ms")).cast("long"),
    )
    return df
