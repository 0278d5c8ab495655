"""Change-rate recrawl scheduling (operators/recrawl.py).

Semantics pinned against hand-computed histories and a pure-python
estimator twin; determinism pinned across repartitioning; the budget
cut pinned as TakeOrderedAndProject (no global sort)."""

from __future__ import annotations

import math

import pytest

from gleaner_spark.operators.recrawl import (
    change_stats,
    recrawl_priority,
    select_recrawl,
    weight_by_host_rank,
)

PRIOR = 30 * 24 * 3600


def _caps(spark, rows):
    return spark.createDataFrame(
        rows, "surt_key string, ts long, digest string"
    )


class TestChangeStats:
    def test_transitions_counted_in_ts_order(self, spark):
        """d1->d1->d2->d1 is two changes; a never-changing key is
        zero; a single capture is zero."""
        df = _caps(spark, [
            ("org,a)/x", 100, "d1"), ("org,a)/x", 200, "d1"),
            ("org,a)/x", 300, "d2"), ("org,a)/x", 400, "d1"),
            ("org,b)/y", 100, "dz"), ("org,b)/y", 900, "dz"),
            ("org,c)/z", 500, "dq"),
        ])
        got = {r["surt_key"]: r for r in change_stats(df).collect()}
        assert got["org,a)/x"]["n_changes"] == 2
        assert got["org,a)/x"]["n_captures"] == 4
        assert (got["org,a)/x"]["first_ts"], got["org,a)/x"]["last_ts"]) == (100, 400)
        assert got["org,b)/y"]["n_changes"] == 0
        assert got["org,c)/z"]["n_changes"] == 0

    def test_null_digests_never_count_as_changes(self, spark):
        """NULL digest rows (e.g. a CDXJ line without a digest field)
        are incomparable: neither entering nor leaving NULL is a
        change."""
        df = _caps(spark, [
            ("org,a)/x", 100, "d1"), ("org,a)/x", 200, None),
            ("org,a)/x", 300, "d1"), ("org,a)/x", 400, "d2"),
        ])
        got = change_stats(df).collect()[0]
        # the only comparable adjacent pair is (d1@300, d2@400)
        assert got["n_changes"] == 1

    def test_equal_ts_ties_total_order_and_reshard_invariance(self, spark):
        """Two captures at the same ts order by digest (pinned total
        order), so the change count is partition-invariant."""
        rows = [("org,a)/x", 100, "dB"), ("org,a)/x", 100, "dA"),
                ("org,a)/x", 200, "dA")]
        a = change_stats(_caps(spark, rows)).collect()[0]
        b = change_stats(_caps(spark, rows).repartition(7)).collect()[0]
        # order is (dA@100, dB@100, dA@200): two transitions
        assert a["n_changes"] == b["n_changes"] == 2

    def test_null_surt_keys_dropped(self, spark):
        df = _caps(spark, [(None, 100, "d1"), ("org,a)/x", 100, "d1")])
        assert change_stats(df).count() == 1


class TestRecrawlPriority:
    def test_estimator_closed_form(self, spark):
        """priority = (changes+1)/(span+prior) * age, rounded —
        checked against the closed form for a changing, a static,
        and a single-capture key."""
        df = _caps(spark, [
            ("org,a)/x", 1000, "d1"), ("org,a)/x", 2000, "d2"),
            ("org,b)/y", 1000, "dz"), ("org,b)/y", 5000, "dz"),
            ("org,c)/z", 4000, "dq"),
        ])
        now = 10_000
        got = {r["surt_key"]: r for r in recrawl_priority(df, now).collect()}
        assert got["org,a)/x"]["priority"] == round(
            (1 + 1) / (1000 + PRIOR) * (now - 2000), 6)
        assert got["org,b)/y"]["priority"] == round(
            (0 + 1) / (4000 + PRIOR) * (now - 5000), 6)
        # single capture: span 0 -> pure prior rate
        assert got["org,c)/z"]["priority"] == round(
            1 / PRIOR * (now - 4000), 6)
        assert got["org,a)/x"]["host_key"] == "org,a"

    def test_fresher_equals_lower_priority_and_age_floor(self, spark):
        """Same history, later last capture -> lower priority; a
        capture from the future clamps age to 0."""
        df = _caps(spark, [
            ("org,a)/x", 0, "d1"), ("org,a)/x", 100, "d2"),
            ("org,b)/y", 0, "d1"), ("org,b)/y", 9000, "d2"),
            ("org,f)/future", 99_999, "d1"),
        ])
        got = {r["surt_key"]: r for r in recrawl_priority(df, 10_000).collect()}
        assert got["org,a)/x"]["priority"] > got["org,b)/y"]["priority"]
        assert got["org,f)/future"]["priority"] == 0.0

    def test_python_twin_on_random_histories(self, spark):
        """Differential vs a pure-python estimator over a seeded
        random capture matrix (100 keys x up to 12 captures)."""
        import random

        rng = random.Random(42)
        rows, want = [], {}
        for k in range(100):
            key = f"org,h{k % 9})/p/{k}"
            caps = sorted(
                (rng.randrange(0, 10_000), f"d{rng.randrange(3)}")
                for _ in range(rng.randrange(1, 13))
            )
            rows += [(key, ts, dg) for ts, dg in caps]
            # python twin: same (ts, digest) total order
            caps.sort()
            changes = sum(
                1 for i in range(1, len(caps)) if caps[i][1] != caps[i - 1][1]
            )
            span = caps[-1][0] - caps[0][0]
            age = max(20_000 - caps[-1][0], 0)
            want[key] = round((changes + 1) / (span + PRIOR) * age, 6)
        got = {
            r["surt_key"]: r["priority"]
            for r in recrawl_priority(_caps(spark, rows), 20_000).collect()
        }
        assert got == want


class TestSelectAndWeight:
    def test_budget_cut_deterministic_and_no_global_sort(self, spark):
        df = _caps(spark, [
            (f"org,a)/p/{i}", 100 * (i % 7), f"d{i % 2}") for i in range(50)
        ])
        pri = recrawl_priority(df, 10_000)
        top = select_recrawl(pri, 10)
        rows = top.collect()
        assert len(rows) == 10
        # set is the true top-10 under (priority desc, surt_key asc)
        all_rows = sorted(
            pri.collect(), key=lambda r: (-r["priority"], r["surt_key"])
        )
        assert [r["surt_key"] for r in rows] == [
            r["surt_key"] for r in all_rows[:10]
        ]
        plan = top._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan
        with pytest.raises(ValueError, match="budget"):
            select_recrawl(pri, -1)

    def test_per_host_cap_bounds_any_hosts_share(self, spark):
        """One hot host would otherwise fill the whole budget; the cap
        keeps its k best and lets other hosts in. The window prunes as
        WindowGroupLimit (partial per-host top-k before the shuffle)."""
        rows = [
            # host org,hot: 20 fast-changing URLs (2 changes each)
            (f"org,hot)/p/{i}", ts, d)
            for i in range(20)
            for ts, d in ((100, "d1"), (200, "d2"), (300, "d3"))
        ] + [
            # host org,slow: 5 URLs with 1 change each
            (f"org,slow)/p/{i}", ts, d)
            for i in range(5)
            for ts, d in ((100, "d1"), (200, "d2"))
        ]
        pri = recrawl_priority(_caps(spark, rows), 10_000)
        uncapped = select_recrawl(pri, 10)
        assert {r["host_key"] for r in uncapped.collect()} == {"org,hot"}
        capped = select_recrawl(pri, 10, per_host_cap=6)
        got = capped.collect()
        hosts = [r["host_key"] for r in got]
        assert hosts.count("org,hot") == 6
        assert hosts.count("org,slow") == 4
        # the hot host's kept URLs are its 6 best under the total order
        hot_all = sorted(
            (r for r in pri.collect() if r["host_key"] == "org,hot"),
            key=lambda r: (-r["priority"], r["surt_key"]),
        )
        assert {r["surt_key"] for r in got if r["host_key"] == "org,hot"} \
            == {r["surt_key"] for r in hot_all[:6]}
        plan = select_recrawl(
            pri, 10, per_host_cap=6
        )._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan
        with pytest.raises(ValueError, match="per_host_cap"):
            select_recrawl(pri, 10, per_host_cap=0)

    def test_rank_weighting_and_min_floor(self, spark):
        """Ranked hosts scale by their rank; a host missing from the
        rank frame takes the minimum observed rank, never zero."""
        df = _caps(spark, [
            ("org,big)/x", 1000, "d1"), ("org,big)/x", 2000, "d2"),
            ("org,small)/y", 1000, "d1"), ("org,small)/y", 2000, "d2"),
            ("org,unranked)/z", 1000, "d1"), ("org,unranked)/z", 2000, "d2"),
        ])
        ranks = spark.createDataFrame(
            [("org,big", 0.6), ("org,small", 0.1)], "host_key string, rank double"
        )
        pri = recrawl_priority(df, 10_000)
        got = {
            r["surt_key"]: r
            for r in weight_by_host_rank(pri, ranks).collect()
        }
        base = got["org,big)/x"]["priority"]
        assert got["org,big)/x"]["weighted_priority"] == round(base * 0.6, 9)
        assert got["org,small)/y"]["weighted_priority"] == round(base * 0.1, 9)
        # unranked host: floored at min(rank) = 0.1, not dropped/zeroed
        assert got["org,unranked)/z"]["weighted_priority"] == round(base * 0.1, 9)

    def test_duplicate_rank_rows_do_not_duplicate_urls(self, spark):
        """A rank frame with repeated host_key rows (e.g. a --ranks
        parquet concatenated from two runs) must not fan out the left
        join: each URL stays one row, weighted by the max rank."""
        df = _caps(spark, [
            ("org,big)/x", 1000, "d1"), ("org,big)/x", 2000, "d2"),
            ("org,big)/w", 1000, "d1"),
            ("org,small)/y", 1000, "d1"), ("org,small)/y", 2000, "d2"),
        ])
        ranks = spark.createDataFrame(
            [("org,big", 0.6), ("org,big", 0.4), ("org,big", 0.6),
             ("org,small", 0.1)],
            "host_key string, rank double",
        )
        pri = recrawl_priority(df, 10_000)
        rows = weight_by_host_rank(pri, ranks).collect()
        assert sorted(r["surt_key"] for r in rows) == [
            "org,big)/w", "org,big)/x", "org,small)/y"
        ]
        got = {r["surt_key"]: r for r in rows}
        base = got["org,big)/x"]["priority"]
        assert got["org,big)/x"]["weighted_priority"] == round(base * 0.6, 9)

    def test_composes_with_capture_index(self, spark):
        """End-to-end over build_capture_index output: pages ->
        per-capture index -> priorities (the production wiring)."""
        from gleaner_spark.operators.urlindex import build_capture_index

        pages = spark.createDataFrame(
            [("https://example.org/a", 1000, b"v1"),
             ("https://example.org/a", 2000, b"v2"),
             ("https://example.org/b", 1500, b"w1")],
            "url string, warc_ts long, html binary",
        )
        idx = build_capture_index(pages)
        got = {r["surt_key"]: r for r in recrawl_priority(idx, 10_000).collect()}
        assert got["org,example)/a"]["n_changes"] == 1
        assert got["org,example)/b"]["n_changes"] == 0
        assert got["org,example)/a"]["priority"] > 0
        # the schedule row is directly fetchable: the index's url
        # column rides through as the bytewise-min original URL
        assert got["org,example)/a"]["url"] == "https://example.org/a"

    def test_url_sample_optional_and_survives_rank_weighting(self, spark):
        """A url-less index (the oracle's synthetic shape) yields no
        url column; with urls present, weight_by_host_rank keeps the
        sample beside weighted_priority."""
        bare = _caps(spark, [("org,a)/x", 100, "d1")])
        assert "url" not in recrawl_priority(bare, 10_000).columns
        with_url = spark.createDataFrame(
            [("org,a)/x", 100, "d1", "https://a.org/x?b=1"),
             ("org,a)/x", 200, "d2", "https://a.org/x")],
            "surt_key string, ts long, digest string, url string",
        )
        ranks = spark.createDataFrame(
            [("org,a", 0.5)], "host_key string, rank double"
        )
        row = weight_by_host_rank(
            recrawl_priority(with_url, 10_000), ranks
        ).collect()[0]
        assert row["url"] == "https://a.org/x"
        assert row["weighted_priority"] == round(row["priority"] * 0.5, 9)


class TestScheduleEta:
    def test_eta_math_delays_and_threads(self, spark):
        from gleaner_spark.operators.recrawl import schedule_eta

        sched = spark.createDataFrame(
            [("org,a", f"org,a)/p/{i}") for i in range(10)]
            + [("org,b", f"org,b)/p/{i}") for i in range(3)],
            "host_key string, surt_key string",
        )
        got = {r["host_key"]: r for r in schedule_eta(sched, 2.0).collect()}
        assert got["org,a"]["eta_s"] == 20.0  # 10 urls x 2s serial
        assert got["org,b"]["eta_s"] == 6.0
        # per-host delays override; missing hosts take the default
        delays = spark.createDataFrame(
            [("org,a", 5.0)], "host_key string, delay_s double"
        )
        got = {
            r["host_key"]: r
            for r in schedule_eta(sched, 2.0, delays=delays).collect()
        }
        assert got["org,a"]["eta_s"] == 50.0
        assert got["org,b"]["eta_s"] == 6.0
        # politeness threads divide the lane: ceil(10/3) * 2s
        got = {
            r["host_key"]: r
            for r in schedule_eta(sched, 2.0, threads=3).collect()
        }
        assert got["org,a"]["eta_s"] == 8.0
        assert got["org,b"]["eta_s"] == 2.0


class TestMalformedHistory:
    def test_null_ts_captures_and_all_null_keys(self, spark):
        """Malformed-CDXJ shapes: a NULL-ts capture still counts and
        orders deterministically first; a key with NO parseable ts
        yields NULL priority and sorts out of the budget cut instead
        of poisoning it."""
        df = spark.createDataFrame(
            [("org,a)/x", None, "d0"), ("org,a)/x", 100, "d1"),
             ("org,a)/x", 200, "d2"),
             ("org,bad)/y", None, "d1"), ("org,bad)/y", None, "d2"),
             ("org,c)/z", 100, "d1"), ("org,c)/z", 200, "d2")],
            "surt_key string, ts long, digest string",
        )
        stats = {r["surt_key"]: r for r in change_stats(df).collect()}
        a = stats["org,a)/x"]
        assert a["n_captures"] == 3
        assert (a["first_ts"], a["last_ts"]) == (100, 200)
        assert a["n_changes"] == 2  # d0(null ts, first) -> d1 -> d2
        assert stats["org,bad)/y"]["first_ts"] is None
        pri = recrawl_priority(df, 10_000)
        got = {r["surt_key"]: r["priority"] for r in pri.collect()}
        assert got["org,bad)/y"] is None
        # the budget cut never selects the NULL-priority key while
        # real keys remain
        top = [r["surt_key"] for r in select_recrawl(pri, 2).collect()]
        assert "org,bad)/y" not in top and len(top) == 2

    def test_empty_rank_frame_degrades_to_unweighted(self, spark):
        ranks = spark.createDataFrame([], "host_key string, rank double")
        df = _caps(spark, [("org,a)/x", 100, "d1"), ("org,a)/x", 200, "d2")])
        row = weight_by_host_rank(recrawl_priority(df, 10_000), ranks) \
            .collect()[0]
        assert row["weighted_priority"] == row["priority"]


class TestReviewFixes:
    def test_schedule_to_seeds_escapes_query_urls(self, spark):
        """URLs with '&' (the index's own canonical query shape) must
        survive the XML round trip — unescaped they make the whole
        sitemap unparseable and the re-crawl silently empty."""
        from gleaner_spark.core.sitemap import parse_sitemap
        from gleaner_spark.operators.recrawl import schedule_to_seeds

        urls = ["https://a.org/x?b=2&a=1", "https://a.org/<odd>",
                "https://a.org/plain"]
        src, bodies = schedule_to_seeds(urls)
        ((sm_url, xml),) = bodies.items()
        assert src.url == sm_url
        parsed = parse_sitemap(xml)
        assert [u.loc for u in parsed] == urls

    def test_rank_weighting_strip_ports_matches_ported_hosts(self, spark):
        """SURT keys keep non-default ports; webgraph ranks never
        carry them. strip_ports=True joins the ported host to its
        rank instead of silently flooring it."""
        df = _caps(spark, [
            ("net,example,cdn:8080)/x", 100, "d1"),
            ("net,example,cdn:8080)/x", 200, "d2"),
            ("org,small)/y", 100, "d1"), ("org,small)/y", 200, "d2"),
        ])
        ranks = spark.createDataFrame(
            [("net,example,cdn", 0.9), ("org,small", 0.1)],
            "host_key string, rank double",
        )
        pri = recrawl_priority(df, 10_000)
        plain = {
            r["surt_key"]: r
            for r in weight_by_host_rank(pri, ranks).collect()
        }
        # without stripping, the ported host misses and takes the floor
        base = plain["net,example,cdn:8080)/x"]["priority"]
        assert plain["net,example,cdn:8080)/x"]["weighted_priority"] \
            == round(base * 0.1, 9)
        stripped = {
            r["surt_key"]: r
            for r in weight_by_host_rank(pri, ranks, strip_ports=True)
            .collect()
        }
        assert stripped["net,example,cdn:8080)/x"]["weighted_priority"] \
            == round(base * 0.9, 9)
        # host_key in the output stays the true (ported) key
        assert stripped["net,example,cdn:8080)/x"]["host_key"] \
            == "net,example,cdn:8080"


class TestDelaysFromRobots:
    def test_crawl_delays_keyed_surt_and_agent_resolved(self, spark):
        """Robots bodies → (SURT host_key, delay_s): the agent's group
        wins over '*', zero/absent delays are omitted, host keys join
        recrawl output directly (www./default-port collapse)."""
        from gleaner_spark.operators.recrawl import (
            delays_from_robots,
            schedule_eta,
        )

        bodies = {
            "https://www.slow.example.org": (
                "User-agent: *\nCrawl-delay: 10\n"
            ),
            "https://fast.example.org": (
                "User-agent: *\nCrawl-delay: 9\n"
                "User-agent: EarthCube_DataBot\nCrawl-delay: 2\n"
            ),
            "https://nodelay.example.org": "User-agent: *\nDisallow: /x\n",
            "plain.example.org:443": "User-agent: *\nCrawl-delay: 3\n",
        }
        got = dict(delays_from_robots(bodies))
        # www. and default :443 collapse like the index keys
        assert got == {
            "org,example,slow": 10.0,
            "org,example,fast": 2.0,   # agent group beats '*'
            "org,example,plain": 3.0,
        }
        # and they join schedule_eta's host_key directly
        sched = spark.createDataFrame(
            [("org,example,slow", "org,example,slow)/a"),
             ("org,example,other", "org,example,other)/b")],
            "host_key string, surt_key string",
        )
        delays = spark.createDataFrame(
            list(got.items()), "host_key string, delay_s double"
        )
        eta = {r["host_key"]: r["eta_s"]
               for r in schedule_eta(sched, 1.0, delays=delays).collect()}
        assert eta["org,example,slow"] == 10.0
        assert eta["org,example,other"] == 1.0


class TestLastmodBoost:
    def test_known_stale_jumps_the_queue(self, spark):
        """A sitemap lastmod newer than the last capture marks the URL
        known-stale: it is selected ahead of every estimated priority;
        claims at-or-before the capture (or absent) change nothing."""
        from gleaner_spark.operators.recrawl import boost_by_lastmod

        df = _caps(spark, [
            # hot: 2 changes, high estimate
            ("org,a)/hot", 100, "d1"), ("org,a)/hot", 200, "d2"),
            ("org,a)/hot", 300, "d3"),
            # quiet: no changes, low estimate — but the publisher
            # claims it changed after the last capture
            ("org,a)/quiet", 100, "dz"), ("org,a)/quiet", 300, "dz"),
            # claimed-but-older: lastmod before the last capture
            ("org,a)/old", 100, "dq"), ("org,a)/old", 300, "dq"),
        ])
        pri = recrawl_priority(df, 10_000)
        claims = spark.createDataFrame(
            [("org,a)/quiet", 5000), ("org,a)/old", 200),
             ("org,a)/quiet", 400)],  # duplicate claim: max wins
            "surt_key string, lastmod_ts long",
        )
        boosted = boost_by_lastmod(pri, claims)
        got = {r["surt_key"]: r for r in boosted.collect()}
        assert got["org,a)/quiet"]["lastmod_stale"] is True
        assert got["org,a)/old"]["lastmod_stale"] is False
        assert got["org,a)/hot"]["lastmod_stale"] is False
        assert got["org,a)/quiet"]["boosted_priority"] > 2e6
        assert got["org,a)/old"]["boosted_priority"] \
            == got["org,a)/old"]["priority"]
        top = select_recrawl(boosted, 1, priority_col="boosted_priority") \
            .collect()
        assert top[0]["surt_key"] == "org,a)/quiet"

    def test_claims_from_sitemaps_parses_w3c_lastmod(self, spark):
        from gleaner_spark.operators.recrawl import claims_from_sitemaps

        xml = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
            "  <url><loc>https://a.org/date</loc>"
            "<lastmod>2024-01-02</lastmod></url>\n"
            "  <url><loc>https://a.org/datetime</loc>"
            "<lastmod>2024-01-02T03:04:05Z</lastmod></url>\n"
            "  <url><loc>https://a.org/none</loc></url>\n"
            "  <url><loc>https://a.org/junk</loc>"
            "<lastmod>yesterday-ish</lastmod></url>\n"
            "</urlset>\n"
        )
        got = dict(claims_from_sitemaps({"sm": xml, "broken": "<not-xml"}))
        assert got["org,a)/date"] == 1704153600       # 2024-01-02 UTC
        assert got["org,a)/datetime"] == 1704164645
        assert "org,a)/none" not in got and "org,a)/junk" not in got


class TestSecondReviewFixes:
    def test_claims_key_on_normalized_locs(self, spark):
        """Sitemap locs are S10-normalized before crawling/indexing;
        claims must key on the same form or a space/newline-bearing
        loc never matches its capture."""
        from gleaner_spark.operators.recrawl import claims_from_sitemaps

        xml = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
            "  <url><loc>  https://a.org/my page\n</loc>"
            "<lastmod>2024-01-02</lastmod></url>\n"
            "</urlset>\n"
        )
        got = dict(claims_from_sitemaps({"sm": xml}))
        assert list(got) == ["org,a)/mypage"]

    def test_robots_delays_dedupe_collapsed_hosts(self, spark):
        """www. and bare host collapse to one SURT key: the delays
        list carries ONE row per key (max delay — the polite
        direction), so schedule_eta's join never fans out."""
        from gleaner_spark.operators.recrawl import delays_from_robots

        bodies = {
            "https://www.x.org": "User-agent: *\nCrawl-delay: 5\n",
            "https://x.org": "User-agent: *\nCrawl-delay: 2\n",
        }
        got = delays_from_robots(bodies)
        assert got == [("org,x", 5.0)]


class TestBoostPrecision:
    def test_boost_preserves_tiny_priority_distinctions(self, spark):
        """The boost magnitude must not quantize ordering inside the
        stale set: two stale URLs whose priorities differ at the
        1e-4 scale (routine for rank-weighted values) keep their
        order through the boost. At the old 1e12 boost the double
        ulp (~1.2e-4) collapsed both to the same value."""
        from gleaner_spark.operators.recrawl import boost_by_lastmod

        pri = spark.createDataFrame(
            [("org,a)/hi", "org,a", 1, 0, 100, 0.000213),
             ("org,z)/lo", "org,z", 1, 0, 100, 0.000101)],
            "surt_key string, host_key string, n_captures long, "
            "n_changes long, last_ts long, priority double",
        )
        claims = spark.createDataFrame(
            [("org,a)/hi", 5000), ("org,z)/lo", 5000)],
            "surt_key string, lastmod_ts long",
        )
        got = {r["surt_key"]: r["boosted_priority"]
               for r in boost_by_lastmod(pri, claims).collect()}
        assert got["org,a)/hi"] > got["org,z)/lo"]
        # surt_key order would have picked org,a anyway — pin the
        # inverse layout too (hi priority on the LATER-sorting key)
        pri2 = spark.createDataFrame(
            [("org,z)/hi", "org,z", 1, 0, 100, 0.000213),
             ("org,a)/lo", "org,a", 1, 0, 100, 0.000101)],
            "surt_key string, host_key string, n_captures long, "
            "n_changes long, last_ts long, priority double",
        )
        claims2 = spark.createDataFrame(
            [("org,z)/hi", 5000), ("org,a)/lo", 5000)],
            "surt_key string, lastmod_ts long",
        )
        top = select_recrawl(
            boost_by_lastmod(pri2, claims2), 1,
            priority_col="boosted_priority",
        ).collect()
        assert top[0]["surt_key"] == "org,z)/hi"

    def test_priority_col_param_carries_weighted_column(self, spark):
        """boost_by_lastmod(priority_col=...) boosts the named column
        — the operator-level form of the --ranks x --sitemaps CLI
        composition."""
        from gleaner_spark.operators.recrawl import boost_by_lastmod

        pri = spark.createDataFrame(
            [("org,a)/x", "org,a", 1, 0, 100, 2.0, 0.2)],
            "surt_key string, host_key string, n_captures long, "
            "n_changes long, last_ts long, priority double, "
            "weighted_priority double",
        )
        claims = spark.createDataFrame(
            [("org,a)/x", 5000)], "surt_key string, lastmod_ts long"
        )
        row = boost_by_lastmod(
            pri, claims, priority_col="weighted_priority", decimals=9
        ).collect()[0]
        assert row["boosted_priority"] == round(0.2 + 2 ** 21, 9)
