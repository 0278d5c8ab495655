"""Change-rate-driven recrawl scheduling over capture-index history.

A crawler with a fixed fetch budget must decide WHICH known URLs to
re-fetch each cycle. The standard answer (Cho & Garcia-Molina,
"Effective Page Refresh Policies for Web Crawlers") is to estimate a
per-URL change rate from the observed capture history and spend the
budget on the URLs with the most expected missed changes. The
reference has no such operator (it re-fetches whatever the sitemap
lists every run — `/root/reference/internal/summoner/acquire/
resources.go` rebuilds the full URL list each invocation); this is
beyond-reference crawl surface in the same family as
operators/urlindex.py, and it is the half of the north-rule
"politeness priority queue" that decides admission (what enters the
frontier) rather than order (operators/frontier.py's politeness
lanes, which schedule whatever was admitted).

Estimator — pinned, deterministic, engine-portable:

- a *change* is a capture whose digest differs from the immediately
  preceding capture of the same surt_key (captures ordered by
  (ts, digest) so equal-timestamp rows have a total order); NULL
  digests never count as changes in either direction;
- change_rate = (n_changes + 1) / (span + prior_span_s) where span =
  last_ts - first_ts in seconds. The +1/+prior is a Laplace-style
  prior: a never-observed-to-change URL still has a small positive
  rate (so it is eventually re-checked), and a URL seen only once
  (span 0) gets exactly the prior rate 1/prior_span_s instead of a
  division by zero;
- priority = change_rate * age, age = max(now_ts - last_ts, 0): the
  expected number of changes missed since the last capture — the
  quantity a budget-constrained scheduler should greedily maximize.

Scale shape: change counting is one hash exchange on surt_key
followed by a per-key lag window — the partition key is the
highest-cardinality column in the system (one group per URL) and
group size is bounded by the number of crawl cycles (~10²), so the
local sorts are bounded-task by construction and there is no skew
hazard. Priority/selection are map-side arithmetic; the budget cut
is orderBy(...).limit(budget) which Spark executes as
TakeOrderedAndProject (per-partition top-N merged on the driver —
no global sort materialization). No UDFs, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def change_stats(capture_index: DataFrame) -> DataFrame:
    """Per-key capture-history summary from a per-capture index
    (build_capture_index / read_cdxj granularity: one row per capture
    with surt_key, ts, digest): (surt_key, n_captures, n_changes,
    first_ts, last_ts[, url]). ``n_changes`` counts digest
    transitions in (ts, digest) order; ts values cast to epoch
    seconds (longs pass through). When the index carries a ``url``
    column, the bytewise-min original URL rides along as the
    fetchable address of the key (deterministic under parallelism —
    the build_url_index sample rule), so a schedule row is directly
    actionable without a join back to the index. NULL surt_keys
    (junk URLs) are dropped — they identify no fetchable page.
    Captures with an unparseable (NULL) ts — e.g. malformed CDXJ
    lines — still count toward n_captures and order deterministically
    first within their key; first_ts/last_ts aggregate over the
    parseable captures only, and a key with NO parseable ts gets
    NULL first/last (downstream: NULL priority, sorted out of the
    budget cut — pinned)."""
    w = Window.partitionBy("surt_key").orderBy(
        F.col("_ts").asc_nulls_first(), F.col("digest").asc_nulls_first()
    )
    prev = F.lag("digest").over(w)
    chg = (
        prev.isNotNull() & F.col("digest").isNotNull()
        & (F.col("digest") != prev)
    ).cast("long")
    has_url = "url" in capture_index.columns
    cols = ["surt_key", F.col("ts").cast("long").alias("_ts"), "digest"]
    aggs = [
        F.count(F.lit(1)).alias("n_captures"),
        F.sum("_chg").alias("n_changes"),
        F.min("_ts").alias("first_ts"),
        F.max("_ts").alias("last_ts"),
    ]
    if has_url:
        cols.append("url")
        aggs.append(F.min("url").alias("url"))
    return (
        capture_index.filter(F.col("surt_key").isNotNull())
        .select(*cols)
        .withColumn("_chg", chg)
        .groupBy("surt_key")
        .agg(*aggs)
    )


def recrawl_priority(capture_index: DataFrame, now_ts: int,
                     prior_span_s: int = 30 * 24 * 3600,
                     decimals: int = 6) -> DataFrame:
    """Score every known URL for recrawl at time ``now_ts`` (epoch
    seconds — passed in, never read from the clock, so runs are
    reproducible): (surt_key, host_key, n_captures, n_changes,
    last_ts, priority) with priority = round(change_rate * age,
    decimals) per the module-docstring estimator. ``host_key`` (the
    surt host prefix) rides along so host-level signals — a
    webgraph.host_rank frame, a politeness budget — join without
    re-parsing the key."""
    stats = change_stats(capture_index)
    rate = (F.col("n_changes").cast("double") + 1.0) / (
        (F.col("last_ts") - F.col("first_ts")).cast("double")
        + float(prior_span_s)
    )
    age = F.greatest(F.lit(int(now_ts)) - F.col("last_ts"), F.lit(0))
    out = [
        "surt_key",
        F.substring_index("surt_key", ")", 1).alias("host_key"),
        "n_captures", "n_changes", "last_ts",
        F.round(rate * age.cast("double"), decimals).alias("priority"),
    ]
    if "url" in stats.columns:
        out.insert(1, "url")
    return stats.select(*out)


def weight_by_host_rank(priorities: DataFrame, ranks: DataFrame,
                        decimals: int = 9,
                        strip_ports: bool = False) -> DataFrame:
    """Fold a host-importance signal (webgraph.host_rank output keyed
    the same way: (host_key, rank)) into recrawl priorities:
    weighted_priority = round(priority * rank, decimals), so the
    budget prefers fresh-AND-important pages (the crawl-ordering
    prior CC-style pipelines derive from the host webgraph). Hosts
    absent from the rank frame take the minimum observed rank — the
    pessimistic-but-nonzero floor, so an unranked host is demoted,
    never silently dropped or zeroed out of the schedule. An EMPTY
    rank frame degrades to weight 1.0 everywhere (unweighted), not
    to an all-NULL column that would scramble the budget cut.

    ``strip_ports=True`` joins on the port-stripped host key: SURT
    index keys KEEP non-default ports (``net,example,cdn:8080`` is a
    different server) but webgraph-derived rank frames key on plain
    hostnames with no port, so a ported host would otherwise never
    match its own rank and silently take the floor.

    One broadcast-size agg row (min rank) + one hash join against the
    rank frame (tiny next to the priority frame — hosts, not URLs —
    so AQE broadcasts it at real scale)."""
    floor = ranks.agg(F.min("rank").alias("_floor"))
    keep = [c for c in priorities.columns if c != "host_key"]
    jk = (
        F.regexp_replace(F.col("host_key"), r":[0-9]+$", "")
        if strip_ports else F.col("host_key")
    )
    return (
        priorities.withColumn("_rk", jk)
        .join(
            # one row per key: a duplicated host_key in a caller's rank
            # frame would otherwise fan out the left join and put the
            # same URL in the budget cut twice; keep the max rank
            ranks.groupBy(F.col("host_key").alias("_rk"))
            .agg(F.max("rank").alias("rank")),
            "_rk", "left",
        )
        .crossJoin(F.broadcast(floor))
        .select(
            "host_key", *keep,
            F.round(
                F.col("priority")
                * F.coalesce("rank", "_floor", F.lit(1.0)), decimals
            ).alias("weighted_priority"),
        )
    )


def select_recrawl(priorities: DataFrame, budget: int,
                   priority_col: str = "priority",
                   per_host_cap: int | None = None) -> DataFrame:
    """The budget cut: the ``budget`` highest-priority URLs, totally
    ordered by (priority desc, surt_key asc) so the selected SET is
    deterministic and partition-invariant even across rounded-priority
    ties. Spark plans orderBy+limit as TakeOrderedAndProject —
    per-partition top-N, merged once — so a 10^9-row priority frame
    never globally sorts.

    ``per_host_cap`` bounds any single host's share of the budget
    BEFORE the global cut (a schedule that spends its whole budget on
    one giant host is useless under that host's politeness budget —
    the lane serializes; the frontier's max_urls_per_host is the same
    control one stage earlier). Each host keeps only its
    ``per_host_cap`` best URLs under the same total order. The
    row_number window prunes as WindowGroupLimit (per-partition
    partial top-k per host before the host shuffle — the ann_lsh
    pinned shape), so a 10^7-URL host never sorts whole in one
    task."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if per_host_cap is not None:
        if per_host_cap < 1:
            raise ValueError(
                f"per_host_cap must be >= 1, got {per_host_cap}"
            )
        w = Window.partitionBy("host_key").orderBy(
            F.col(priority_col).desc(), F.col("surt_key").asc()
        )
        priorities = (
            priorities.withColumn("_hr", F.row_number().over(w))
            .filter(F.col("_hr") <= per_host_cap)
            .drop("_hr")
        )
    return priorities.orderBy(
        F.col(priority_col).desc(), F.col("surt_key").asc()
    ).limit(budget)


def boost_by_lastmod(priorities: DataFrame, claims: DataFrame,
                     boost: float = float(2 ** 21),
                     decimals: int = 6,
                     priority_col: str = "priority") -> DataFrame:
    """Fold sitemap ``<lastmod>`` claims into recrawl priorities: a
    URL whose publisher-declared modification time postdates its last
    capture is KNOWN stale — no estimation needed — so it jumps the
    queue ahead of every estimated priority. The reference's sitemap
    parser extracts lastmod (core/sitemap.SitemapURL, sitemap.go) but
    nothing consumes it; this is where a scheduler actually uses it.

    ``claims`` is (surt_key, lastmod_ts) epoch seconds; duplicate
    claims per key collapse to their max. Output adds
    ``lastmod_stale`` (boolean; NULL-claim keys are false — absence
    of a claim proves nothing) and ``boosted_priority`` =
    round(priority_col + boost, decimals) when stale else the
    unboosted value — feeding ``boosted_priority`` to select_recrawl
    takes all known-stale URLs first, then fills the remaining budget
    by estimate. ``priority_col`` lets a rank-weighted column carry
    the boost so ordering WITHIN the stale set stays whatever the
    caller chose.

    The default boost is 2^21: it must dwarf the priority scale but
    NOT be so large that adding it quantizes the fraction away — at
    10^12 the double ulp is ~1.2e-4 and every rounded priority below
    that collapses to the same boosted value, silently degrading
    in-stale-set order to the surt_key tiebreak. 2^21 (~2.1e6) keeps
    ulp at 4.7e-10 (finer than the 9-decimal rank-weighted rounding)
    while exceeding the default estimator's bound (priority ≤
    n_captures × now_ts / prior_span_s ≈ 770 × captures for the
    30-day prior). Callers shrinking ``prior_span_s`` toward seconds
    must raise ``boost`` to match — the bound scales inversely.
    One partial-agg exchange on the claims (tiny: one row per LISTED
    key) plus a co-partitioned join."""
    best = claims.groupBy("surt_key").agg(
        F.max(F.col("lastmod_ts").cast("long")).alias("_lm")
    )
    stale = F.coalesce(
        F.col("_lm") > F.col("last_ts"), F.lit(False)
    )
    return (
        priorities.join(best, "surt_key", "left")
        .withColumn("lastmod_stale", stale)
        .withColumn(
            "boosted_priority",
            F.when(
                F.col("lastmod_stale"),
                F.round(
                    F.col(priority_col) + F.lit(float(boost)), decimals
                ),
            ).otherwise(F.col(priority_col)),
        )
        .drop("_lm")
    )


def claims_from_sitemaps(sitemap_bodies: dict[str, str]) -> list[tuple[str, int]]:
    """Driver-side: harvest sitemap seed bodies → (surt_key,
    lastmod_epoch) claims for boost_by_lastmod. Entries without a
    parseable W3C lastmod are skipped (no claim). Same seeds-scale
    argument as schedule_to_seeds/delays_from_robots."""
    from datetime import datetime, timezone

    from ..core.sitemap import SitemapParseError, normalize_loc, parse_sitemap
    from .urlindex import surt_key_py

    out: list[tuple[str, int]] = []
    for body in sitemap_bodies.values():
        try:
            entries = parse_sitemap(body)
        except SitemapParseError:
            continue  # S34 posture: log-and-continue
        for e in entries:
            if not e.lastmod:
                continue
            raw = e.lastmod.strip().replace("Z", "+00:00")
            try:
                dt = datetime.fromisoformat(raw)
            except ValueError:
                continue
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            # the frontier normalizes every loc (S10) before it is
            # crawled/indexed — claims must key on the SAME form or a
            # space/newline-bearing loc would never match its capture
            key = surt_key_py(normalize_loc(e.loc))
            if key is not None:
                out.append((key, int(dt.timestamp())))
    return out


def delays_from_robots(robots_bodies: dict[str, str],
                       agent: str | None = None) -> list[tuple[str, float]]:
    """Per-host crawl-delay budgets for schedule_eta, extracted from
    the same robots bodies the harvest seeds carry: (host_key,
    delay_s) tuples keyed the SURT way (surt_key_py host prefix, so
    they join recrawl_priority output directly). Hosts whose robots
    group for ``agent`` (default: the reference's crawler agent)
    declares no Crawl-delay are omitted — they take the ETA's
    default. Driver-side by design: robots bodies are the seeds-file
    object (one small body per host), the same scale argument as
    schedule_to_seeds."""
    from ..core.extract import EARTHCUBE_AGENT
    from ..core.robots import parse_robots_txt
    from .urlindex import surt_key_py

    agent = agent or EARTHCUBE_AGENT
    best: dict[str, float] = {}
    for host, body in robots_bodies.items():
        if not body:
            continue
        key = surt_key_py(host if "://" in host else f"https://{host}")
        if key is None:
            continue
        group = parse_robots_txt(body).find_group(agent)
        if group is not None and group.crawl_delay > 0:
            hk = key.split(")")[0]
            # two entries can collapse to one SURT host (www./default
            # port); keep the max delay — the polite direction — so
            # the delays frame never carries duplicate keys that
            # would fan out schedule_eta's join
            best[hk] = max(best.get(hk, 0.0), float(group.crawl_delay))
    return sorted(best.items())


def schedule_to_seeds(urls: list[str], source_name: str = "recrawl",
                      domain: str = "", sitemap_url: str | None = None):
    """Close the crawl lifecycle loop: turn a selected recrawl
    schedule (its URL samples, in schedule order) into the harvest
    CLI's seed shape — one synthetic sitemap source whose XML lists
    exactly the scheduled URLs — so crawl → index → schedule →
    re-crawl runs through the existing, parity-pinned pipeline with
    no new frontier machinery. Returns ``(Source, sitemap_bodies)``
    ready for ``run_harvest``/``seeds.json``.

    Driver-side by design: the seeds object is the pipeline's
    seed-list input (bodies broadcast to the fused frontier parse),
    and the budget bounds this conversion by construction — a
    10^6-URL schedule renders to a few tens of MB of XML, the same
    order as a real site's sitemap set. Politeness still applies
    per HOST inside the pipeline, so one synthetic source spanning
    many hosts keeps correct lane behavior."""
    from xml.sax.saxutils import escape

    from ..sources.config import Source

    sm_url = sitemap_url or f"https://{source_name}.invalid/sitemap.xml"
    # escape() is load-bearing: query-string URLs ('?b=2&a=1' — the
    # index's own canonical shape) contain '&', which unescaped makes
    # the XML unparseable and the frontier builder drop the WHOLE
    # sitemap (log-and-continue), i.e. a silently empty re-crawl
    entries = "\n".join(f"  <url><loc>{escape(u)}</loc></url>" for u in urls)
    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        f"{entries}\n</urlset>\n"
    )
    src = Source(
        name=source_name,
        url=sm_url,
        source_type="sitemap",
        domain=domain or source_name,
        pid=f"https://pid.invalid/{source_name}",
        proper_name=source_name,
    )
    return src, {sm_url: xml}


def schedule_eta(schedule: DataFrame, default_delay_s: float = 1.0,
                 delays: DataFrame | None = None,
                 threads: int = 1) -> DataFrame:
    """Politeness-aware completion estimate per host: a host's lane
    serializes (one fetch per crawl-delay per politeness thread), so
    a schedule's wall-clock is its WORST host, not its row count /
    cluster size — the quantity to inspect before launching a crawl
    no amount of executors can finish sooner. Returns (host_key,
    n_urls, delay_s, eta_s) with eta_s = ceil(n_urls / threads) *
    delay_s; the schedule's overall ETA is ``max(eta_s)`` and the
    argmax host is the bottleneck (exactly the S13 politeness model:
    ``threads`` parallel lanes per host, ``delay`` seconds between
    fetches on a lane — operators/frontier.schedule_fetches).

    ``delays`` optionally supplies per-host crawl-delays (host_key,
    delay_s) — e.g. parsed robots crawl-delay budgets; absent hosts
    take ``default_delay_s``. One partial-agg exchange on host_key
    plus a broadcast-size join against the delay frame."""
    if threads < 1:
        raise ValueError(f"threads must be >= 1, got {threads}")
    per_host = schedule.groupBy("host_key").agg(
        F.count(F.lit(1)).alias("n_urls")
    )
    if delays is not None:
        per_host = per_host.join(
            delays.select("host_key", "delay_s"), "host_key", "left"
        ).withColumn(
            "delay_s", F.coalesce("delay_s", F.lit(float(default_delay_s)))
        )
    else:
        per_host = per_host.withColumn(
            "delay_s", F.lit(float(default_delay_s))
        )
    return per_host.select(
        "host_key", "n_urls", "delay_s",
        (F.ceil(F.col("n_urls") / float(max(threads, 1)))
         * F.col("delay_s")).alias("eta_s"),
    )
