"""Host-level webgraph over a crawl: link extraction from page HTML,
host→host edge aggregation, and weighted PageRank — the companion
artifact Common Crawl publishes alongside every crawl (its host- and
domain-level webgraphs) and the standard centrality signal a corpus
pipeline uses for quality weighting (e.g. harmonic-centrality /
PageRank seeding of crawl frontiers, OPIC-style prioritization).

The reference harvests JSON-LD from curated sitemaps and never looks
at anchors (no link extraction anywhere in
/root/reference/internal/summoner); this is beyond-reference surface
like operators/urlindex.py.

Engine-portable semantics (every step replayed verbatim by the
driver's DuckDB oracle):

- links: double-quoted ``href="…"`` attribute values in the raw
  HTML (regexp_extract_all — the same extraction both engines run);
  only absolute ``http(s)://`` targets enter the host graph
  (relative-URL resolution needs a per-page base and contributes no
  new hosts, the graph's unit).
- hosts: lowercased authority minus userinfo, one trailing dot, any
  port, one leading ``www.`` label — a host is a server identity,
  so unlike the SURT key (an address), default and non-default
  ports collapse.
- edges: (src_host, dst_host, n_links) with self-links dropped;
  n_links counts every anchor, so the graph is weighted.
- rank: damping 0.85, uniform init 1/N over the hosts appearing in
  the graph, ``rank = (1-d)/N + d·Σ_in rank_src·w/out_w`` per
  iteration; dangling mass is not redistributed (the standard
  simplification — deterministic, and both engines agree exactly).

Scale shape: extraction is codegen regexp + explode (zero Python);
the edge build is one hash exchange with map-side partial counts;
each PageRank iteration is one join on src_host + one partial-agg
exchange on dst_host, with the rank frame persisted and lineage cut
per round (the operators/components.py pattern) so K iterations stay
K bounded jobs. At CC scale (~10^8 hosts) the rank frame is tiny
next to the page table — the expensive pass is the one extraction
scan, which is the same scan the harvest already does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HREF_RE = r'href="([^"]*)"'
_AUTH_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def link_host(url_col: Column) -> Column:
    """Host identity of an absolute URL column (see module
    docstring); NULL for non-absolute values."""
    u = F.lower(url_col)
    auth = F.regexp_extract(u, _AUTH_RE, 1)
    host = F.regexp_replace(auth, "^[^@]*@", "")
    host = F.regexp_replace(host, r"\.$", "")
    host = F.regexp_replace(host, ":[0-9]+$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    return F.when(auth == "", F.lit(None).cast("string")).otherwise(host)


def extract_links(
    df: DataFrame, html_col: str = "html", url_col: str = "url",
) -> DataFrame:
    """(src_url, href) per double-quoted href attribute in the HTML.
    Binary html decodes as UTF-8 (the pages-table convention);
    pages with no anchors contribute nothing (explode, not
    explode_outer — absent rows, not null rows)."""
    html = F.col(html_col).cast("string")
    return df.select(
        F.col(url_col).alias("src_url"),
        F.explode(F.regexp_extract_all(html, F.lit(_HREF_RE), F.lit(1))).alias("href"),
    )


_ANCHOR_RE = r'<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_anchor_texts(
    df: DataFrame, html_col: str = "html", url_col: str = "url",
) -> DataFrame:
    """(src_url, href, anchor) per ``<a href="…">text</a>`` element —
    the anchor-text corpus (link text is a training/relevance signal:
    it describes the TARGET page, which is why search and LLM
    pipelines mine it). Flat-text anchors only (``[^<]*`` — an anchor
    wrapping nested tags is skipped, documented), same double-quote
    convention as :func:`extract_links`. Two regexp_extract_all
    passes zipped positionally — all codegen, zero Python."""
    html = F.col(html_col).cast("string")
    hrefs = F.regexp_extract_all(html, F.lit(_ANCHOR_RE), F.lit(1)).alias("href")
    texts = F.regexp_extract_all(html, F.lit(_ANCHOR_RE), F.lit(2)).alias("anchor")
    z = F.explode(F.arrays_zip(hrefs, texts)).alias("z")
    return df.select(F.col(url_col).alias("src_url"), z).select(
        "src_url", F.col("z.href").alias("href"),
        F.col("z.anchor").alias("anchor"),
    )


def host_link_graph(links: DataFrame) -> DataFrame:
    """Weighted host→host edges from (src_url, href) pairs: absolute
    targets only, self-edges dropped, one partial-agg exchange."""
    e = links.select(
        link_host(F.col("src_url")).alias("src_host"),
        link_host(F.col("href")).alias("dst_host"),
    )
    return (
        e.filter(
            F.col("src_host").isNotNull()
            & F.col("dst_host").isNotNull()
            & (F.col("src_host") != F.col("dst_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


# second-level labels that take a third label when the TLD is a
# 2-letter country code (co.uk, com.au, go.jp, …). A PSL-lite
# heuristic, deliberately tiny and engine-portable; a production
# deployment swaps in the full Public Suffix List here.
_SLD = ("co", "com", "net", "org", "gov", "edu", "ac", "or", "ne", "go")


def registered_domain(host_col: Column) -> Column:
    """Registered domain of a host: its last two labels, or last
    three when the TLD is 2 letters and the second level is a known
    shared label (``example.co.uk`` → ``example.co.uk``, not
    ``co.uk``). Hosts with one label pass through unchanged."""
    labels = F.split(host_col, r"\.")
    n = F.size(labels)
    tld = F.element_at(labels, -1)
    sld = F.element_at(labels, -2)
    dom2 = F.concat_ws(".", sld, tld)
    dom3 = F.concat_ws(".", F.element_at(labels, -3), sld, tld)
    return (
        F.when(n <= 1, host_col)
        .when(
            (n >= 3) & (F.length(tld) == 2) & sld.isin(*_SLD), dom3
        )
        .otherwise(dom2)
    )


def domain_link_graph(host_edges: DataFrame) -> DataFrame:
    """Domain-level webgraph from host-level edges (CC publishes
    both): hosts map to registered domains, intra-domain edges drop,
    weights re-aggregate. One partial-agg exchange over the already-
    aggregated host edges — never the raw links."""
    e = host_edges.select(
        registered_domain(F.col("src_host")).alias("src_domain"),
        registered_domain(F.col("dst_host")).alias("dst_domain"),
        "n_links",
    )
    return (
        e.filter(F.col("src_domain") != F.col("dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(F.sum("n_links").alias("n_links"))
    )


def host_rank(
    edges: DataFrame, iterations: int = 5, damping: float = 0.85,
    round_digits: int = 6,
) -> DataFrame:
    """Weighted PageRank over a host edge list → (host, rank).
    Fixed-iteration, deterministic, and bit-agreed with the DuckDB
    oracle at ``round_digits`` (the repo's cross-engine float rule).
    Each iteration: contributions = rank·w/out_w joined src-side,
    summed dst-side; persisted + count()ed so lineage stays one
    round deep."""
    # lineage truncated per round with eager localCheckpoint — the
    # operators/components.py pattern (no persist bookkeeping to
    # leak; on a real cluster with flaky executors set a checkpoint
    # dir and swap in .checkpoint()). ``edges`` first: callers pass
    # the un-materialized link extraction, which hosts, outdeg and
    # every round would otherwise re-run over the pages.
    edges = edges.localCheckpoint(eager=True)
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    ).localCheckpoint(eager=True)
    n = hosts.count()
    if n == 0:
        return hosts.select("host", F.lit(0.0).alias("rank"))
    outdeg = (
        edges.groupBy("src_host")
        .agg(F.sum("n_links").alias("out_w"))
    ).localCheckpoint(eager=True)
    base = (1.0 - damping) / n
    ranks = hosts.select("host", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contrib = (
            edges.join(ranks, edges["src_host"] == ranks["host"])
            .join(outdeg, "src_host")
            .select(
                F.col("dst_host").alias("host"),
                (F.col("rank") * F.col("n_links") / F.col("out_w")).alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            hosts.join(contrib, "host", "left")
            .select(
                "host",
                (F.lit(base) + F.lit(damping)
                 * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
            )
        ).localCheckpoint(eager=True)
    return ranks.select("host", F.round("rank", round_digits).alias("rank"))


def page_rank_pipeline(
    pages: DataFrame, html_col: str = "html", url_col: str = "url",
    iterations: int = 5,
) -> DataFrame:
    """pages → links → host graph → PageRank, the one-call form."""
    return host_rank(
        host_link_graph(extract_links(pages, html_col, url_col)),
        iterations=iterations,
    )
