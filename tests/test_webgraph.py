"""Webgraph operators (operators/webgraph.py): link extraction,
host-graph semantics, and PageRank pinned against an in-test pure
Python reference implementation."""

import pytest
from pyspark.sql import functions as F

from gleaner_spark.operators.webgraph import (
    extract_links,
    host_link_graph,
    host_rank,
    page_rank_pipeline,
)


class TestExtraction:
    def test_href_extraction_and_graph(self, spark):
        pages = spark.createDataFrame(
            [
                # two absolute links, one relative (dropped at graph
                # stage), one single-quoted (never extracted), one
                # self-link (dropped)
                ("https://www.a.example/p",
                 '<a href="https://b.example/x">l</a>'
                 '<a href="https://B.example:8080/y">l</a>'
                 '<a href="/rel">r</a>'
                 "<a href='https://c.example/sq'>s</a>"
                 '<a href="https://a.example/self">s</a>'),
                ("https://b.example/q",
                 '<img href="https://a.example/i">'),   # attr on any tag
                ("https://d.example/empty", "no links here"),
            ],
            "url string, html string",
        )
        links = extract_links(pages).collect()
        assert len(links) == 5  # 4 from page 1 + 1 from page 2
        g = {(r["src_host"], r["dst_host"]): r["n_links"]
             for r in host_link_graph(extract_links(pages)).collect()}
        # b.example twice from a (port collapses), self/relative gone
        assert g == {("a.example", "b.example"): 2,
                     ("b.example", "a.example"): 1}

    def test_anchor_texts(self, spark):
        from gleaner_spark.operators.webgraph import extract_anchor_texts

        pages = spark.createDataFrame(
            [("https://a.example/p",
              '<a class="x" href="https://b.example/1">first link</a>'
              '<a href="/rel">relative ok here</a>'
              '<a href="https://c.example/2"><b>nested skipped</b></a>'
              "<a href='https://d.example/3'>single-quoted skipped</a>")],
            "url string, html string",
        )
        got = {(r["href"], r["anchor"])
               for r in extract_anchor_texts(pages).collect()}
        assert got == {("https://b.example/1", "first link"),
                       ("/rel", "relative ok here")}

    def test_binary_html_decodes(self, spark):
        pages = spark.createDataFrame(
            [("https://a.example/p", b'<a href="https://b.example/x">')],
            "url string, html binary",
        )
        assert extract_links(pages).collect()[0]["href"] == "https://b.example/x"


class TestDomainGraph:
    def test_registered_domain_heuristic(self, spark):
        from gleaner_spark.operators.webgraph import registered_domain

        hosts = ["a.example.org", "example.org", "a.b.example.co.uk",
                 "shop.example.com.au", "localhost", "x.localhost",
                 "a.example.com.net",   # 3-letter TLD: 2-label rule
                 "go.jp"]               # the shared label IS the domain
        df = spark.createDataFrame([(h,) for h in hosts], "host string")
        got = {r["host"]: r["dom"] for r in df.select(
            "host", registered_domain(F.col("host")).alias("dom")
        ).collect()}
        assert got == {
            "a.example.org": "example.org",
            "example.org": "example.org",
            "a.b.example.co.uk": "example.co.uk",
            "shop.example.com.au": "example.com.au",
            "localhost": "localhost",
            "x.localhost": "x.localhost",
            "a.example.com.net": "com.net",
            "go.jp": "go.jp",
        }

    def test_domain_link_graph_collapses_and_reweights(self, spark):
        from gleaner_spark.operators.webgraph import domain_link_graph

        edges = spark.createDataFrame(
            [("a.example.org", "b.shop.example.org", 2),   # intra-domain
             ("a.example.org", "x.other.net", 3),
             ("b.example.org", "y.other.net", 4)],         # same domain pair
            "src_host string, dst_host string, n_links long",
        )
        got = {(r["src_domain"], r["dst_domain"]): r["n_links"]
               for r in domain_link_graph(edges).collect()}
        assert got == {("example.org", "other.net"): 7}


def _py_pagerank(edges, iterations=5, damping=0.85):
    """Pure-Python weighted PageRank, same semantics as host_rank."""
    hosts = sorted({h for e in edges for h in e[:2]})
    n = len(hosts)
    out_w = {}
    for s, d, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    rank = {h: 1.0 / n for h in hosts}
    for _ in range(iterations):
        contrib = {h: 0.0 for h in hosts}
        for s, d, w in edges:
            contrib[d] += rank[s] * w / out_w[s]
        rank = {h: (1 - damping) / n + damping * contrib[h] for h in hosts}
    return {h: round(r, 6) for h, r in rank.items()}


class TestPageRank:
    def test_matches_python_reference(self, spark):
        edges = [("a", "b", 2), ("b", "a", 1), ("a", "c", 1),
                 ("c", "b", 3), ("d", "a", 1)]  # d is never linked to
        df = spark.createDataFrame(
            edges, "src_host string, dst_host string, n_links long"
        )
        got = {r["host"]: r["rank"] for r in host_rank(df).collect()}
        exp = _py_pagerank(edges)
        assert got == exp
        # sanity: conservation-ish — b (heavily linked) outranks d
        assert got["b"] > got["d"]

    def test_iteration_count_matters_and_empty_graph(self, spark):
        edges = [("a", "b", 1), ("b", "a", 1)]
        df = spark.createDataFrame(
            edges, "src_host string, dst_host string, n_links long"
        )
        r1 = {r["host"]: r["rank"] for r in host_rank(df, iterations=1).collect()}
        assert r1 == _py_pagerank(edges, iterations=1)
        empty = df.filter("n_links < 0")
        assert host_rank(empty).collect() == []

    def test_cli_graph_subcommand(self, spark, tmp_path, capsys):
        import json

        from gleaner_spark.__main__ import main

        pq = str(tmp_path / "pages")
        spark.createDataFrame(
            [(f"https://h{i % 4}.example/p{i}",
              f'<a href="https://h{(i + 1) % 4}.example/x">to next</a>')
             for i in range(16)],
            "url string, html string",
        ).write.parquet(pq)
        out = str(tmp_path / "g")
        assert main(["graph", "--pages", pq, "--out", out,
                     "--anchors", "--domains"]) == 0
        s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert s["edges"] == 4 and s["hosts"] == 4 and s["anchors"] == 16
        # hN.example is already a 2-label registered domain, so the
        # ring survives 1:1 at domain level
        assert s["domain_edges"] == 4
        ranks = {r["host"]: r["rank"]
                 for r in spark.read.parquet(out + "/ranks").collect()}
        assert ranks["h0.example"] == pytest.approx(0.25, abs=1e-6)
        anchors = spark.read.parquet(out + "/anchors").collect()
        assert all(r["anchor"] == "to next" for r in anchors)

    def test_pipeline_end_to_end(self, spark):
        pages = spark.createDataFrame(
            [(f"https://h{i % 4}.example/p{i}",
              f'<a href="https://h{(i + 1) % 4}.example/x">n</a>')
             for i in range(16)],
            "url string, html string",
        )
        got = {r["host"]: r["rank"]
               for r in page_rank_pipeline(pages).collect()}
        # symmetric ring of 4 hosts: uniform ranks
        assert len(got) == 4
        assert len(set(got.values())) == 1
        assert got["h0.example"] == pytest.approx(0.25, abs=1e-6)

    def test_link_extraction_runs_once_per_page(self, spark):
        """host_rank materializes ``edges`` once: whatever produces the
        html runs once per page, not again for the host list, the
        out-degrees and every round."""
        import pandas as pd

        evals = spark.sparkContext.accumulator(0)

        @F.pandas_udf("string")
        def html(ids: pd.Series) -> pd.Series:
            evals.add(len(ids))
            return ids.map(lambda i: f'<a href="https://h{(i + 1) % 7}.example/x">n</a>')

        n_pages = 200
        pages = spark.range(n_pages).select(
            F.format_string("https://h%d.example/p%d", F.col("id") % 7,
                            F.col("id")).alias("url"),
            html("id").alias("html"),
        )
        ranks = page_rank_pipeline(pages, iterations=2).collect()
        assert evals.value == n_pages
        assert len(ranks) == 7

