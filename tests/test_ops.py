"""Unit tests for the training-data operators + politeness pacing +
sketch + streaming plumbing."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today", "en"),
        (1, "the quick brown fox jumps over the lazy dog today", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat today", "en"),  # near dup
        (3, "der schnelle braune fuchs springt und das ist gut so", "de"),
        (4, "completely different content about spark partitions and shuffles", "en"),
        (5, "the quick brown fox jumps over the lazy dog yesterday", "en"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestDedup:
    def test_exact(self, docs):
        from gleaner_spark.operators.dedup import exact_duplicates

        got = exact_duplicates(docs).collect()
        assert len(got) == 1
        assert got[0]["keeper_id"] == 0 and got[0]["n_dups"] == 2

    def test_ngram_jaccard(self, docs):
        from gleaner_spark.operators.dedup import ngram_jaccard_pairs

        pairs = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(docs, threshold_pct=60).collect()
        }
        assert (0, 1) in pairs  # identical
        assert (0, 2) in pairs or (0, 5) in pairs  # near dups
        assert not any(4 in p for p in pairs)

    def test_minhash_lsh_finds_exact_pair(self, docs):
        from gleaner_spark.operators.dedup import minhash_lsh_dedup

        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_dedup(docs, threshold_pct=90).collect()
        }
        assert (0, 1) in pairs
        assert not any(4 in p or 3 in p for p in pairs)

    def test_simhash_duplicates_groups_colliding_signatures(self, docs):
        from gleaner_spark.operators.dedup import simhash_duplicates

        got = simhash_duplicates(docs).collect()
        # docs 0 and 1 are byte-identical → identical signatures
        assert any(r["keeper_id"] == 0 and r["n_dups"] >= 2 for r in got)

    def test_minhash_signatures_wrapper_matches_two_step(self, docs):
        from gleaner_spark.operators.dedup import (
            minhash_signatures,
            shingle_hashes,
            signatures_from_hashes,
        )

        direct = {tuple(r) for r in minhash_signatures(docs, k=8).collect()}
        two_step = {
            tuple(r)
            for r in signatures_from_hashes(shingle_hashes(docs, "doc_id", "text", 3), 8).collect()
        }
        assert direct == two_step and len(direct) == 6

    def test_simhash_identical_docs_collide(self, docs):
        from gleaner_spark.operators.dedup import simhash

        sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
        assert sigs[0] == sigs[1]
        assert sigs[0] != sigs[4]
        # near-dup → small hamming distance
        ham = bin(sigs[0] ^ sigs[2]).count("1")
        assert ham <= 8

    def test_kmeans_centroids_deterministic_clusters(self, spark):
        import numpy as np

        from gleaner_spark.operators.ann import kmeans_centroids

        rows = [
            (0, [1.0, 0.0]), (1, [0.98, 0.02]), (2, [0.99, 0.01]),
            (3, [0.0, 1.0]), (4, [0.02, 0.98]), (5, [0.01, 0.99]),
        ]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        c1 = kmeans_centroids(e, n_centroids=2, iters=3)
        c2 = kmeans_centroids(e, n_centroids=2, iters=3)
        assert np.array_equal(c1, c2)  # bit-deterministic (oracle contract)
        assert c1.shape == (2, 2)
        # one centroid per axis-aligned cluster
        dominant = sorted(int(np.argmax(row)) for row in c1)
        assert dominant == [0, 1]

    def test_embedding_neardup(self, spark):
        from gleaner_spark.operators.dedup import embedding_near_duplicates

        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.04, 0.0]),  # near dup of 0
            (2, [0.0, 1.0, 0.0]),
        ]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(e, threshold=0.95).collect()}
        assert pairs == {(0, 1)}


class TestANN:
    def test_brute_force_matches_manual(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        vecs = rng.randn(30, 8).astype("float32")
        rows = [(i, vecs[i].tolist()) for i in range(30)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        from gleaner_spark.operators.ann import brute_force_topk

        got = brute_force_topk(e, e.filter(F.col("vec_id") < 3), k=2).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r["nbr_id"])
        # numpy oracle
        def cos(a, b):
            a, b = a.astype("float64"), b.astype("float64")
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

        for qid in range(3):
            sims = sorted(
                ((cos(vecs[qid], vecs[j]), -j) for j in range(30) if j != qid),
                reverse=True,
            )
            expected = [-s[1] for s in sims[:2]]
            assert by_q[qid] == expected

    def test_lsh_recall_vs_brute_force(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        base = rng.randn(40, 16).astype("float32")
        # plant near-dups so top-1 is meaningful
        base[20:25] = base[:5] + rng.randn(5, 16).astype("float32") * 0.05
        rows = [(i, base[i].tolist()) for i in range(40)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        from gleaner_spark.operators.ann import brute_force_topk, lsh_topk

        bf = {
            r["query_id"]: r["nbr_id"]
            for r in brute_force_topk(e, e, k=1).collect()
        }
        lsh = {
            r["query_id"]: r["nbr_id"]
            for r in lsh_topk(e, k=1, n_planes=4, dim=16).collect()
        }
        planted = list(range(5)) + list(range(20, 25))
        hits = sum(1 for q in planted if lsh.get(q) == bf[q])
        assert hits >= 6  # LSH recalls most planted near-dups


class TestTextOps:
    def test_langid(self, docs):
        from gleaner_spark.operators.textops import language_id

        got = {r["doc_id"]: r["predicted_lang"] for r in language_id(docs).collect()}
        assert got[0] == "en" and got[3] == "de"

    def test_quality_and_tokens(self, docs):
        from gleaner_spark.operators.textops import quality_scores, token_stats

        q = {r["doc_id"]: r for r in quality_scores(docs).collect()}
        assert q[0]["q_tokens"] == 10
        assert q[0]["q_stopwords"] >= 2
        t = {r["doc_id"]: r for r in token_stats(docs).collect()}
        assert t[0]["n_tokens"] == 10
        assert t[0]["n_distinct_tokens"] == 9  # 'the' twice

    def test_fingerprint_deterministic(self, docs, spark):
        from gleaner_spark.operators.textops import fingerprints

        f1 = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
        f2 = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
        assert f1 == f2
        assert f1[0] == f1[1] and f1[0] != f1[4]

    def test_repetition_stats(self, spark):
        from gleaner_spark.operators.textops import repetition_stats

        df = spark.createDataFrame(
            [
                (1, "spam spam spam spam ham"),      # top=4/5, dup 2-grams
                (2, "all tokens here are distinct"),  # no repetition
                (3, "ab ab ab"),                      # 2-gram 'ab ab' ×2
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        assert (got[1]["n_tokens"], got[1]["top_token_count"]) == (5, 4)
        # "spam spam" appears 3× among 4 bigrams -> 2 distinct
        assert (got[1]["n_2grams"], got[1]["uniq_2grams"]) == (4, 2)
        assert (got[1]["n_3grams"], got[1]["uniq_3grams"]) == (3, 2)
        assert (got[2]["top_token_count"], got[2]["uniq_2grams"]) == (1, 4)
        assert (got[3]["n_2grams"], got[3]["uniq_2grams"]) == (2, 1)

    def test_repetition_filter_and_plan(self, spark):
        from gleaner_spark.operators.textops import repetition_filter

        df = spark.createDataFrame(
            [
                (1, "spam spam spam spam ham"),
                (2, "all tokens here are quite distinct indeed"),
                (3, "xy"),  # 1 token = 100% top-token share: dropped
            ],
            "doc_id long, text string",
        )
        kept = {r["doc_id"] for r in
                repetition_filter(df, max_top_token_pct=30).collect()}
        assert kept == {2}
        # a doc too short for 2-grams passes the 2-gram bar (nothing
        # repeats) as long as its top-token share clears its own bar
        one = spark.createDataFrame([(4, "xy")], "doc_id long, text string")
        assert repetition_filter(one, max_top_token_pct=100).count() == 1
        # pure per-row filter: no exchange, no UDF stage
        plan = (
            repetition_filter(df)._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan

    def test_top_token_count_edges(self, spark):
        from gleaner_spark.operators.textops import repetition_stats

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "\tb a b\t"), (4, None),
             (5, "z y z y y x")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: (r["n_tokens"], r["top_token_count"])
               for r in repetition_stats(df).collect()}
        # "" splits to [""]; the tabs are not trimmed, so row 3 splits
        # to ["", "b", "a", "b", ""]; NULL text has no tokens to count
        assert got == {1: (1, 1), 2: (1, 1), 3: (5, 2), 4: (None, 0),
                       5: (6, 3)}


    def test_remove_boilerplate(self, spark):
        from gleaner_spark.operators.textops import remove_boilerplate

        # 'nav' in 3/4 docs (df 0.75 > 0.5 drops it); 'rare'/'body'
        # survive; doc 4 is ALL boilerplate; order must be preserved
        df = spark.createDataFrame(
            [
                (1, "nav body rare nav tail"),
                (2, "nav body"),
                (3, "nav"),
                (4, "solo words here"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["id"]: (r["clean_text"], r["n_kept"])
            for r in remove_boilerplate(df, max_df_frac=0.5).collect()
        }
        assert got[1] == ("body rare tail", 3)
        assert got[2] == ("body", 1)
        assert got[3] == ("", 0)  # all-boilerplate doc still present
        assert got[4] == ("solo words here", 3)

    def test_redact_pii_masks_and_matches_duckdb(self, spark):
        import duckdb

        from gleaner_spark.operators.textops import redact_pii

        texts = [
            "contact john.doe+spam@sub.example.co.uk today",
            "server at 192.168.0.1 and 10.0.0.255, port 80",
            "no pii here at all",
            "mixed: a@b.io then 8.8.8.8 done",
            "not-an-ip 999.999 and half@domain (no tld)",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r["doc_id"]: r["redacted_text"] for r in redact_pii(df).collect()}
        assert got[0] == "contact <EMAIL> today"
        assert got[1] == "server at <IP> and <IP>, port 80"
        assert got[2] == texts[2]
        assert got[3] == "mixed: <EMAIL> then <IP> done"
        # differential vs RE2 on strings that actually contain PII
        # (the corpus oracle only proves the no-match path)
        con = duckdb.connect()
        for i, t in enumerate(texts):
            want = con.sql(
                r"""SELECT regexp_replace(regexp_replace($1,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                  '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')""",
                params=[t],
            ).fetchone()[0]
            assert got[i] == want, (t, got[i], want)

    def test_remove_boilerplate_line_mode(self, spark):
        from gleaner_spark.operators.textops import remove_boilerplate

        # the real-crawl shape: delimiter='\n', the cookie banner
        # repeats across pages while content lines are unique
        banner = "accept all cookies"
        df = spark.createDataFrame(
            [
                (1, f"{banner}\nunique article one\nend one"),
                (2, f"{banner}\nanother story two"),
                (3, f"{banner}\nthird text"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["id"]: r["clean_text"]
            for r in remove_boilerplate(df, delimiter="\n", max_df_frac=0.9).collect()
        }
        assert got[1] == "unique article one\nend one"
        assert got[2] == "another story two"
        assert got[3] == "third text"


def _lambda_bodies(df) -> list[str]:
    """The SQL of every lambda body in ``df``'s top projection."""
    jexprs = df._jdf.queryExecution().analyzed().expressions()
    out, todo = [], [jexprs.apply(i) for i in range(jexprs.size())]
    while todo:
        e = todo.pop()
        if e.nodeName() == "LambdaFunction":
            out.append(e.function().sql())
        kids = e.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


class TestWordShingles:
    TEXTS = ["", "   ", "\t", "a\tb c", "\ta b\t", "a", "a b", None,
             "x y x y x", "one two  three   four"]

    def _shingles(self, spark, n):
        from gleaner_spark.functions.text import word_shingles

        df = spark.createDataFrame(list(enumerate(self.TEXTS)), "i int, t string")
        rows = df.select("i", word_shingles(F.col("t"), n).alias("s")).collect()
        return [r.s for r in sorted(rows)]

    def test_bigrams(self, spark):
        # F.trim strips spaces only: a tab splits off an empty token
        assert self._shingles(spark, 2) == [
            [], [], [" "], ["a b", "b c"], [" a", "a b", "b "], [], ["a b"],
            [], ["x y", "y x", "x y", "y x"],
            ["one two", "two three", "three four"],
        ]

    def test_trigrams(self, spark):
        assert self._shingles(spark, 3) == [
            [], [], [], ["a b c"], [" a b", "a b "], [], [], [],
            ["x y x", "y x y", "x y x"],
            ["one two three", "two three four"],
        ]

    def test_no_lambda_resplits_the_text(self, spark):
        """A lambda re-evaluates what it captures once per element, so
        a split inside a lambda body splits each document once per
        token (quadratic in its length)."""
        from gleaner_spark.functions.text import word_shingles
        from gleaner_spark.operators.textops import repetition_stats

        df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
        for n in (1, 2, 3):
            bodies = _lambda_bodies(df.select(word_shingles(F.col("text"), n)))
            assert bodies and not any("split(" in b for b in bodies), bodies
        bodies = _lambda_bodies(repetition_stats(df))
        assert bodies and not any("split(" in b for b in bodies), bodies


class TestSampling:
    def test_split_disjoint_exhaustive_deterministic(self, spark):
        from gleaner_spark.operators.sampling import assign_splits

        df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"]: r["split"] for r in assign_splits(df).collect()}
        b = {
            r["doc_id"]: r["split"]
            for r in assign_splits(df.repartition(13)).collect()
        }
        assert a == b  # membership survives re-sharding
        assert set(a.values()) <= {"train", "valid", "test"}
        assert len(a) == 1000
        n_train = sum(1 for v in a.values() if v == "train")
        assert n_train > 900  # ~98% of 1000

    def test_split_seed_decorrelates(self, spark):
        from gleaner_spark.operators.sampling import assign_splits

        df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"]: r["split"]
             for r in assign_splits(df, splits=(("x", 50), ("y", 50))).collect()}
        c = {r["doc_id"]: r["split"]
             for r in assign_splits(df, splits=(("x", 50), ("y", 50)),
                                    seed="s2").collect()}
        moved = sum(1 for k in a if a[k] != c[k])
        assert 100 < moved < 400  # ~half move under a new seed

    def test_split_bad_weights_raise(self, spark):
        import pytest as _pytest

        from gleaner_spark.operators.sampling import assign_splits

        df = spark.range(0, 10).withColumnRenamed("id", "doc_id")
        with _pytest.raises(ValueError, match="sum to 100"):
            assign_splits(df, splits=(("a", 60), ("b", 60)))

    def test_token_budget_prefix_nesting_and_reshard(self, spark):
        """Budget samples must NEST (the 2k-token sample ⊂ the
        5k-token sample), be re-shard invariant, and equal the
        brute-force prefix in (bucket, id) order."""
        from gleaner_spark.operators.sampling import _bucket, sample_token_budget

        df = spark.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range(1 + i % 17))) for i in range(400)],
            "doc_id long, text string",
        )
        small = {r["doc_id"] for r in sample_token_budget(df, 2000).collect()}
        big = {r["doc_id"] for r in sample_token_budget(df, 5000).collect()}
        assert small < big
        resharded = {
            r["doc_id"]
            for r in sample_token_budget(df.repartition(13), 5000).collect()
        }
        assert resharded == big
        # brute-force prefix oracle
        import pyspark.sql.functions as F

        rows = df.select(
            "doc_id", _bucket("doc_id", "", 1_000_000).alias("b"),
            F.size(F.split(F.trim("text"), r"\s+")).alias("n"),
        ).collect()
        want, cum = set(), 0
        for r in sorted(rows, key=lambda r: (r["b"], r["doc_id"])):
            cum += r["n"]
            if cum > 5000:
                break
            want.add(r["doc_id"])
        assert big == want

    def test_token_budget_edges_and_plan(self, spark):
        """budget 0 → empty; budget ≥ total → everything; negative
        raises; the fully-kept-blocks side is a map-side range filter
        (its plan has no Exchange and no window sort)."""
        import pytest as _pytest

        from gleaner_spark.operators.sampling import sample_token_budget

        df = spark.createDataFrame(
            [(i, "a b c") for i in range(100)], "doc_id long, text string"
        )
        assert sample_token_budget(df, 0).count() == 0
        assert sample_token_budget(df, 300).count() == 100
        assert sample_token_budget(df, 10**9).count() == 100
        with _pytest.raises(ValueError, match=">= 0"):
            sample_token_budget(df, -1)
        # a budget cutting mid-corpus: the union's full-block branch
        # must stay exchange-free (one Window allowed, on the single
        # straddling block only)
        plan = (
            sample_token_budget(df, 150)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Window") <= 1, plan
        # exchanges: at most the one feeding the boundary block's
        # window — never a full-corpus sort
        assert plan.count("Exchange") <= 1, plan

    def test_shuffle_shards_deterministic_dense_decorrelated(self, spark):
        """Shard + position reproduce under re-sharding; positions are
        dense 0..k-1 per shard; the order is decorrelated from doc_id
        (it's a shuffle, not a sort-by-id)."""
        from gleaner_spark.operators.sampling import shuffle_shards

        df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
        a = {(r["doc_id"]): (r["shard"], r["shard_pos"])
             for r in shuffle_shards(df, 4).collect()}
        b = {(r["doc_id"]): (r["shard"], r["shard_pos"])
             for r in shuffle_shards(df.repartition(11), 4).collect()}
        assert a == b
        by_shard: dict[int, list[int]] = {}
        for doc_id, (s, p) in a.items():
            by_shard.setdefault(s, []).append(p)
        assert set(by_shard) == {0, 1, 2, 3}
        for s, ps in by_shard.items():
            assert sorted(ps) == list(range(len(ps)))
        # decorrelation: within shard 0, position order must not be
        # doc_id order (a md5 shuffle of 70+ items sorting itself is
        # astronomically unlikely)
        s0 = sorted(
            (p, d) for d, (s, p) in a.items() if s == 0
        )
        ids_in_order = [d for _, d in s0]
        assert ids_in_order != sorted(ids_in_order)

    def test_shuffle_shards_plan_and_edges(self, spark):
        """One exchange (hash on shard), per-shard local sort — never
        a global single-task ordering; n_shards=1 degenerates cleanly;
        bad n_shards raises."""
        import pytest as _pytest

        from gleaner_spark.operators.sampling import shuffle_shards

        df = spark.range(0, 50).withColumnRenamed("id", "doc_id")
        out = shuffle_shards(df, 8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "hashpartitioning(shard" in plan, plan
        one = shuffle_shards(df, 1).collect()
        assert {r["shard"] for r in one} == {0}
        assert sorted(r["shard_pos"] for r in one) == list(range(50))
        with _pytest.raises(ValueError, match=">= 1"):
            shuffle_shards(df, 0)

    def test_resample_sources_integer_weights(self, spark):
        from gleaner_spark.operators.sampling import resample_sources

        df = spark.createDataFrame(
            [(i, ["a", "b", "c"][i % 3]) for i in range(30)],
            "doc_id long, source string",
        )
        out = resample_sources(df, {"a": 2.0, "b": 0.0}).collect()
        got = {}
        for r in out:
            got.setdefault((r["doc_id"], r["source"]), []).append(r["copy"])
        # a ×2 (copies 0,1), b dropped, c default ×1
        for (doc_id, src), copies in got.items():
            want = {"a": [0, 1], "c": [0]}[src]
            assert sorted(copies) == want, (doc_id, src, copies)
        assert all(src != "b" for _, src in got)
        assert len(got) == 20  # 10 a-docs + 10 c-docs

    def test_resample_sources_fractional_deterministic(self, spark):
        from gleaner_spark.operators.sampling import resample_sources

        df = spark.createDataFrame(
            [(i, "a") for i in range(1000)], "doc_id long, source string"
        )
        a = sorted(
            (r["doc_id"], r["copy"])
            for r in resample_sources(df, {"a": 1.5}).collect()
        )
        b = sorted(
            (r["doc_id"], r["copy"])
            for r in resample_sources(df.repartition(13), {"a": 1.5}).collect()
        )
        assert a == b  # copy membership survives re-sharding
        assert 1400 < len(a) < 1600  # E = 1.5 per doc
        # map-side only: no exchange, no UDF stage
        plan = (
            resample_sources(df, {"a": 1.5})
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan

    def test_resample_sources_bad_weight_raises(self, spark):
        import pytest as _pytest

        from gleaner_spark.operators.sampling import resample_sources

        df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
        with _pytest.raises(ValueError, match=">= 0"):
            resample_sources(df, {"a": -0.5}).collect()

    def test_pack_sequences(self, spark):
        from gleaner_spark.operators.sampling import pack_sequences

        # one shard, sizes 3,4,5,2 with capacity 6: cum_before =
        # 0,3,7,12 -> seqs 0,0,1,2 at offsets 0,3,1,0 (doc 2 straddles
        # the 6-boundary and is labeled by where it STARTS)
        df = spark.createDataFrame(
            [(1, "s", 3), (2, "s", 4), (3, "s", 5), (4, "s", 2)],
            "doc_id long, source string, n_tokens long",
        )
        got = {
            r["doc_id"]: (r["seq_id"], r["seq_offset"])
            for r in pack_sequences(df, 6).collect()
        }
        assert got == {1: (0, 0), 2: (0, 3), 3: (1, 1), 4: (2, 0)}
        # partitioning-invariant (the window orders within shard)
        got2 = {
            r["doc_id"]: (r["seq_id"], r["seq_offset"])
            for r in pack_sequences(df.repartition(5), 6).collect()
        }
        assert got2 == got

    def test_hash_sample_stable_and_nested(self, spark):
        from gleaner_spark.operators.sampling import hash_sample

        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        s10 = {r["doc_id"] for r in hash_sample(df, 0.1).collect()}
        s10b = {r["doc_id"] for r in hash_sample(df.repartition(7), 0.1).collect()}
        assert s10 == s10b
        # smaller fractions are SUBSETS of larger ones (same hash axis)
        s05 = {r["doc_id"] for r in hash_sample(df, 0.05).collect()}
        assert s05 <= s10
        assert 100 < len(s10) < 320  # ~200 of 2000


class TestSketch:
    def test_bloom_roundtrip(self, spark):
        from gleaner_spark.operators.sketch import BloomSketch, build_bloom, might_contain_udf

        df = spark.range(0, 500).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
        sk = build_bloom(df, "k", expected=500, fpp=0.01)
        assert all(sk.might_contain(f"key-{i}") for i in range(500))
        fp = sum(1 for i in range(500, 2500) if sk.might_contain(f"key-{i}"))
        assert fp < 100  # ~1% fpp target, generous bound
        # serialization roundtrip
        sk2 = BloomSketch.from_bytes(sk.to_bytes())
        assert sk2.might_contain("key-42") and sk2.k == sk.k
        # vectorized UDF path
        udf = might_contain_udf(spark, sk)
        got = (
            spark.range(0, 1000)
            .select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
            .withColumn("m", udf(F.col("k")))
            .groupBy("m").count().collect()
        )
        counts = {r["m"]: r["count"] for r in got}
        assert counts[True] >= 500


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        from gleaner_spark.operators.multimodal import (
            FEATURE_DIM, extract_features, frame_sample_plan, synthetic_media,
        )

        media = synthetic_media(spark, 30)
        feats = extract_features(media).collect()
        assert len(feats) == 30
        assert all(len(r["feature"]) == FEATURE_DIM for r in feats)
        assert all(len(r["payload_sha"]) == 40 for r in feats)
        # deterministic
        feats2 = extract_features(media).collect()
        assert {r["media_id"]: r["feature"] for r in feats} == {
            r["media_id"]: r["feature"] for r in feats2
        }
        plan = frame_sample_plan(media, every_ms=1000)
        row = plan.groupBy("media_id").count().collect()
        assert row  # videos produce frame rows

    def test_multimodal_features_query_without_arrow(self, spark):
        """Queries must also run with Arrow off: on that path pandas
        None-bearing int lists (float64 NaN) are rejected by the
        IntegerType/LongType media columns."""
        import __spark_entry__ as m

        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            rows = m.queries()["multimodal_features"](spark, None).collect()
        finally:
            spark.conf.set(key, prev)
        assert len(rows) == 64
        assert all(len(r["feature_q"].split(",")) == 16 for r in rows)

    @staticmethod
    def _tiny_png(pixels: bytes = bytes([0, 64, 128, 255])) -> bytes:
        """Hand-rolled 2x2 grayscale PNG (stdlib only) so the real
        decode path is exercisable wherever PIL exists."""
        import struct
        import zlib

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2x2, 8-bit gray
        raw = b"\x00" + pixels[0:2] + b"\x00" + pixels[2:4]  # filter-0 scanlines
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def test_codec_swap_point(self):
        """VERDICT r2 #8: decode path behind an import guard — stub
        contract unchanged, auto falls back on undecodable bytes, and
        where PIL exists the real decoder produces pixel-derived
        features from a hand-crafted PNG."""
        import numpy as np
        import pytest as _pytest

        from gleaner_spark.operators import multimodal as mm

        garbage = b"not an image at all"
        assert np.array_equal(
            mm.decode_feature(garbage, "auto"), mm._decode_image_stub(garbage)
        )
        assert np.array_equal(
            mm.decode_feature(garbage, "stub"), mm._decode_image_stub(garbage)
        )
        if not mm.HAS_PIL:
            with _pytest.raises(RuntimeError, match="PIL"):
                mm.decode_feature(garbage, "pil")
            _pytest.skip("PIL not installed in this sandbox — stub paths verified")
        png = self._tiny_png()
        real = mm.decode_feature(png, "pil")
        # first 4 features are the 2x2 pixels resized 4x4 → mean-ish
        # values in [0,1]; must differ from the digest stub
        assert not np.array_equal(real, mm._decode_image_stub(png))
        assert real.min() >= 0.0 and real.max() <= 1.0

    @staticmethod
    def _tiny_wav(amplitude: float = 0.5, n_frames: int = 1600,
                  loud_half: bool = True) -> bytes:
        """16-bit mono PCM WAV (stdlib only): silence in the first
        half, a constant-amplitude square tone in the second, so the
        RMS bins have a known step shape."""
        import io
        import struct
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(16000)
            half = n_frames // 2
            val = int(amplitude * 32767)
            frames = [0] * half + [val if loud_half else 0] * (n_frames - half)
            w.writeframes(struct.pack(f"<{n_frames}h", *frames))
        return buf.getvalue()

    def test_audio_codec_real_path(self):
        """VERDICT r3 #5: the audio swap-point decodes for real via the
        always-available stdlib ``wave`` fallback — RMS bins reflect
        the signal (silent half ≈ 0, loud half ≈ amplitude), and
        ``auto`` routes audio payloads through it."""
        import numpy as np

        from gleaner_spark.operators import multimodal as mm

        wav = self._tiny_wav(amplitude=0.5)
        feat = mm.decode_feature(wav, "auto", kind="audio")
        assert not np.array_equal(feat, mm._decode_image_stub(wav))
        half = mm.FEATURE_DIM // 2
        assert np.allclose(feat[:half], 0.0, atol=1e-4)  # silent half
        assert np.allclose(feat[half:], 0.5, atol=1e-2)  # square tone RMS
        # forced codec: same result; undecodable bytes fall to the stub
        assert np.array_equal(feat, mm.decode_feature(wav, "wav", kind="audio"))
        garbage = b"RIFFnot really a wav"
        assert np.array_equal(
            mm.decode_feature(garbage, "auto", kind="audio"),
            mm._decode_image_stub(garbage),
        )

    def test_video_codec_guard(self):
        """Video mirrors the PIL pattern: forced codec raises when
        PyAV is absent; auto falls back to the stub."""
        import numpy as np
        import pytest as _pytest

        from gleaner_spark.operators import multimodal as mm

        payload = b"\x00\x00\x00\x18ftypmp42 not a real mp4"
        if not mm.HAS_AV:
            with _pytest.raises(RuntimeError, match="av"):
                mm.decode_feature(payload, "av", kind="video")
            assert np.array_equal(
                mm.decode_feature(payload, "auto", kind="video"),
                mm._decode_image_stub(payload),
            )
        else:  # pragma: no cover - sandbox has no PyAV
            feat = mm.decode_feature(payload, "auto", kind="video")
            assert feat.size == mm.FEATURE_DIM

    def test_mixed_kind_auto_batch(self, spark):
        """extract_features(codec='auto') routes each row by its kind
        column in one Arrow batch: audio rows that decode get RMS
        features, image/video rows (no PIL/PyAV here) get the stub —
        and the stub contract (codec='stub') is unchanged."""
        from pyspark.sql import Row

        from gleaner_spark.operators import multimodal as mm

        wav = self._tiny_wav()
        rows = [
            Row(media_id=0, kind="audio", payload=bytearray(wav),
                mime="audio/wav", width=None, height=None, duration_ms=100),
            Row(media_id=1, kind="image", payload=bytearray(b"png-ish"),
                mime="image/png", width=2, height=2, duration_ms=None),
            Row(media_id=2, kind="video", payload=bytearray(b"mp4-ish"),
                mime="video/mp4", width=None, height=None, duration_ms=1000),
        ]
        media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        got = {r["media_id"]: r for r in mm.extract_features(media, codec="auto").collect()}
        assert got[0]["feature"] != mm._decode_image_stub(wav).tolist()
        assert got[1]["feature"] == mm._decode_image_stub(b"png-ish").tolist()
        if not mm.HAS_AV:
            assert got[2]["feature"] == mm._decode_image_stub(b"mp4-ish").tolist()
        stub = {r["media_id"]: r for r in mm.extract_features(media).collect()}
        assert stub[0]["feature"] == mm._decode_image_stub(wav).tolist()


class TestStreaming:
    def test_incremental_harvest_available_now(self, spark, tmp_lake):
        import os
        import tempfile

        from gleaner_spark.plans.lake import Lake
        from gleaner_spark.sources import corpus
        from gleaner_spark.streaming.incremental import incremental_harvest

        stream_dir = tempfile.mkdtemp(prefix="gleaner-stream-")
        ckpt = tempfile.mkdtemp(prefix="gleaner-ckpt-")
        corpus.build_pages(spark, 40, partitions=2).write.mode("append").parquet(stream_dir)
        lake = Lake(tmp_lake)
        q = incremental_harvest(
            spark, lake, corpus.build_sources(), stream_dir, ckpt
        )
        q.awaitTermination(120)
        docs = lake.table("documents").read(spark)
        assert docs is not None and docs.count() > 0
        n1 = docs.count()
        # second drop: same pages again → no new docs (url_seen dedup)
        corpus.build_pages(spark, 40, partitions=2).write.mode("append").parquet(stream_dir)
        q2 = incremental_harvest(
            spark, lake, corpus.build_sources(), stream_dir, ckpt
        )
        q2.awaitTermination(120)
        assert lake.table("documents").read(spark).count() == n1

    def test_uri_invalid_urls_do_not_kill_microbatch(self, spark, tmp_lake):
        """Host attribution must never throw on URI-invalid page URLs
        ('{', '|', spaces all occur in real WARC frontiers): F.parse_url
        raises [INVALID_URL] and would terminate the streaming query
        with the whole micro-batch; the pandas _host_of path keys what
        it can and NULLs the rest (dropped by the source inner join)."""
        import os
        import tempfile

        from gleaner_spark.plans.lake import Lake
        from gleaner_spark.sources import corpus
        from gleaner_spark.streaming.incremental import incremental_harvest

        stream_dir = tempfile.mkdtemp(prefix="gleaner-badurl-")
        ckpt = tempfile.mkdtemp(prefix="gleaner-badurl-ckpt-")
        good = corpus.build_pages(spark, 20, partitions=1)
        ts = corpus._EPOCH
        bad_rows = [
            ("https://geo0.example.org/items/a{b}", ts, b"<html></html>",
             None, "en", "text/html"),
            ("https://geo0.example.org/x |y", ts, b"<html></html>",
             None, "en", "text/html"),
            ("not a url at all", ts, b"<html></html>",
             None, "en", "text/html"),
        ]
        bad = spark.createDataFrame(bad_rows, corpus.PAGES_SCHEMA)
        good.unionByName(bad).repartition(1).write.mode("append").parquet(stream_dir)
        lake = Lake(tmp_lake)
        q = incremental_harvest(
            spark, lake, corpus.build_sources(), stream_dir, ckpt
        )
        q.awaitTermination(120)  # would raise INVALID_URL pre-fix
        assert q.exception() is None
        docs = lake.table("documents").read(spark)
        assert docs.count() > 0  # the valid pages still harvested
        stored = {r["url"] for r in docs.select("url").collect()}
        assert "not a url at all" not in stored


class TestJvmHashCompletion:
    def test_jvm_hashes_byte_equal_to_reference_python(self, spark):
        """The deferred JVM-side F.sha1/F.sha2 completion must match
        the reference-exact hashlib path (process_json +
        generate_identifier) byte-for-byte, including non-ASCII text
        (UTF-8 on both sides) and identifiersha sources whose
        unique_id is NOT the content hash."""
        from gleaner_spark.core import fixups as fx
        from gleaner_spark.core import identifier as ident
        from gleaner_spark.operators import harvest as hv
        from gleaner_spark.sources.config import Source

        docs = [
            ("jsrc", '{"@context":"http://schema.org/","@type":"Dataset","@id":"x1","name":"café — résumé 中文"}'),
            ("jsrc", '{"@context":"http://schema.org/","@type":"Dataset","@id":"x2"}'),
            ("isrc", '{"@context":"http://schema.org/","@type":"Dataset","identifier":"doi:10.1/abç"}'),
            ("isrc", '{"@context":"http://schema.org/","@type":"Dataset","nope":1}'),  # fallback → jsonsha
        ]
        sources = [
            Source(name="jsrc", url="https://h/x"),
            Source(name="isrc", url="https://h/y",
                   identifier_type=ident.IDENTIFIER_SHA,
                   identifier_path="$.identifier"),
        ]
        rows = [(s, f"https://h/{i}", i, i, d, False)
                for i, (s, d) in enumerate(docs)]
        extracted = spark.createDataFrame(rows, hv.EXTRACTED_SCHEMA)
        got = {r["url"]: r for r in hv.process_documents(extracted, sources).collect()}
        opts = {"jsrc": ("https", ident.JSON_SHA, []),
                "isrc": ("https", ident.IDENTIFIER_SHA, ["$.identifier"])}
        for i, (sname, d) in enumerate(docs):
            fix_opt, id_type, id_paths = opts[sname]
            fixed, sha = fx.process_json(d, fix_opt)
            expect = ident.generate_identifier(id_type, id_paths, fixed)
            r = got[f"https://h/{i}"]
            assert r["fixed_jsonld"] == fixed
            assert r["sha"] == sha
            assert r["sha256"] == fx.sha256_hex(fixed)
            assert r["unique_id"] == expect.unique_id
            assert r["identifier_type"] == expect.identifier_type
            assert r["matched_path"] == expect.matched_path
            assert r["matched_string"] == expect.matched_string


class TestFusedExtractProcess:
    def test_fused_equals_unfused(self, spark):
        from gleaner_spark.operators import harvest as hv
        from gleaner_spark.operators.frontier import build_frontier, schedule_fetches
        from gleaner_spark.sources import corpus

        n = 400
        pages = corpus.build_pages(spark, n, partitions=4)
        sources = corpus.build_sources()
        frontier, _ = build_frontier(
            spark, sources, corpus.build_sitemaps(n), corpus.build_robots(), None
        )
        frontier = schedule_fetches(frontier)
        fetched = hv.fetch_pages(frontier, pages)
        hw = {s.name: s.headless_wait for s in sources}
        unfused = hv.process_documents(
            hv.extract_documents(fetched, hw), sources, False
        )
        fused = hv.extract_and_process(fetched, sources, hw, False)
        key = ["url", "doc_idx"]
        a = {tuple(r[k] for k in key): r.asDict() for r in unfused.collect()}
        frows = fused.collect()
        b = {
            tuple(r[k] for k in key): {
                k2: v for k2, v in r.asDict().items()
                if k2 not in ("page_bytes", "page_first")
            }
            for r in frows if r["doc_idx"] >= 0
        }
        assert a == b and len(a) > 0
        # sentinel rows cover exactly the zero-doc pages, once each
        sentinels = [r for r in frows if r["doc_idx"] == -1]
        doc_urls = {r["url"] for r in frows if r["doc_idx"] >= 0}
        assert all(r["url"] not in doc_urls for r in sentinels)
        assert len({r["url"] for r in sentinels}) == len(sentinels)
        # page_bytes counts each page exactly once
        fetched_pages = fetched.count()
        assert len(doc_urls) + len(sentinels) == fetched_pages
        total_bytes = sum(r["page_bytes"] for r in frows)
        import pyspark.sql.functions as F
        assert total_bytes == fetched.select(F.sum(F.length("html"))).first()[0]

    def test_emit_raw_false_nulls_only_the_raw_column(self, spark):
        """The pipeline path (emit_raw=False) must differ from the
        default fused output ONLY in the raw ``jsonld`` column being
        null — same schema, same rows, same hashes/identifiers."""
        from gleaner_spark.operators import harvest as hv
        from gleaner_spark.sources import corpus
        import pyspark.sql.functions as F

        n = 120
        pages = corpus.build_pages(spark, n, partitions=2)
        sources = corpus.build_sources()
        frontier = pages.select(
            "url",
            F.lit("src0").alias("source_name"),
            F.lit(1).cast("long").alias("position"),
        )
        fetched = hv.fetch_pages(frontier, pages, broadcast_frontier=True)
        hw = {s.name: s.headless_wait for s in sources}
        full = hv.extract_and_process(fetched, sources, hw, False)
        lean = hv.extract_and_process(fetched, sources, hw, False,
                                      emit_raw=False)
        assert full.schema == lean.schema
        key = ["url", "doc_idx"]
        a = {tuple(r[k] for k in key): r.asDict() for r in full.collect()}
        b = {tuple(r[k] for k in key): r.asDict() for r in lean.collect()}
        assert a.keys() == b.keys() and len(a) > 0
        saw_doc = False
        for k, row in b.items():
            assert row["jsonld"] is None
            if row["doc_idx"] >= 0:
                saw_doc = True
                assert row["fixed_jsonld"] == a[k]["fixed_jsonld"] != ""
            assert {k2: v for k2, v in row.items() if k2 != "jsonld"} == \
                   {k2: v for k2, v in a[k].items() if k2 != "jsonld"}
        assert saw_doc


class TestIvf:
    def test_ivf_recall_vs_brute_force(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        base = rng.randn(40, 16).astype("float32")
        base[20:25] = base[:5] + rng.randn(5, 16).astype("float32") * 0.05
        rows = [(i, base[i].tolist()) for i in range(40)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        from gleaner_spark.operators.ann import brute_force_topk, ivf_topk

        bf = {
            r["query_id"]: r["nbr_id"]
            for r in brute_force_topk(e, e, k=1).collect()
        }
        ivf = {
            r["query_id"]: r["nbr_id"]
            for r in ivf_topk(e, k=1, n_centroids=4, n_probe=2, iters=2).collect()
        }
        planted = list(range(5)) + list(range(20, 25))
        hits = sum(1 for q in planted if ivf.get(q) == bf[q])
        assert hits >= 8  # multi-probe IVF recalls planted near-dups

    def test_ivf_deterministic(self, spark):
        rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(30)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        from gleaner_spark.operators.ann import ivf_topk

        a = sorted(map(tuple, ivf_topk(e, k=2, n_centroids=4, iters=1).collect()))
        b = sorted(map(tuple, ivf_topk(e, k=2, n_centroids=4, iters=1).collect()))
        assert a == b and len(a) > 0

    def test_ivf_partition_invariant(self, spark):
        """The per-iteration 9-decimal centroid rounding makes k-means
        invariant to partition count (partial-sum addition order):
        the same input must produce the identical top-k whether the
        base is 2 or 16 partitions — i.e. on local[2] or a 1000-
        executor cluster — which is also what lets the DuckDB oracle
        replay the Lloyd iterations exactly."""
        import numpy as np

        from gleaner_spark.operators.ann import ivf_topk

        rng = np.random.RandomState(3)
        rows = [(i, rng.randn(12).tolist()) for i in range(64)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        a = sorted(map(tuple, ivf_topk(
            e.repartition(2), k=2, n_centroids=4, n_probe=2, iters=2).collect()))
        b = sorted(map(tuple, ivf_topk(
            e.repartition(16), k=2, n_centroids=4, n_probe=2, iters=2).collect()))
        assert a == b and len(a) > 0

    def test_ivf_hot_cell_salting_bounds_cells_same_result(self, spark):
        """VERDICT r2 #7: a 10x-skewed synthetic (one tight blob owns
        ~90% of vectors → one hot k-means cell) must (a) return the
        exact same top-k with the guard on (salting replicates probes,
        never drops candidates) and (b) bound the per-(cluster, sub)
        base-side group so no single rerank task carries the whole hot
        cell."""
        import numpy as np

        from gleaner_spark.operators import ann

        rng = np.random.RandomState(11)
        hot = rng.randn(1, 16) + np.array([[10.0] * 16])
        rows = []
        for i in range(180):  # hot blob: tiny spread around one point
            rows.append((i, (hot[0] + rng.randn(16) * 0.01).astype("float64").tolist()))
        for i in range(180, 200):  # the rest scatter
            rows.append((i, rng.randn(16).tolist()))
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        unguarded = sorted(map(tuple, ann.ivf_topk(
            e, k=2, n_centroids=4, n_probe=2, iters=2).collect()))
        guarded = sorted(map(tuple, ann.ivf_topk(
            e, k=2, n_centroids=4, n_probe=2, iters=2, max_cell_size=50).collect()))
        assert guarded == unguarded and len(guarded) > 0

        # inspect the salted join sides directly: every (cluster, sub)
        # base group must be ≤ ceil-split of the cap (hash salting is
        # uneven, allow 2x headroom, but far below the 180-row hot cell)
        from pyspark.sql import functions as F

        base0 = e.select(F.col("vec_id").alias("vid"), ann._as_double(F.col("embedding")).alias("v"))
        cents, cached = ann._kmeans_on(base0, 4, 2)
        probed = ann.assign_clusters(cached, cents, id_col="vid", vec_col="v",
                                     n_probe=2, out_col="probes")
        base, probes = ann._salted_cells(probed, 2, 50)
        sizes = base.groupBy("cluster", "sub").count().collect()
        cached.unpersist()
        assert max(r["count"] for r in sizes) <= 100
        assert len({(r["cluster"], r["sub"]) for r in sizes}) > 4  # hot cell split


def _urlset(locs):
    body = "".join(f"<url><loc>{loc}</loc></url>" for loc in locs)
    return (
        '<?xml version="1.0"?><urlset '
        'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{body}</urlset>"
    )


def _multi_doc_world():
    """Two sources sharing one host, one of them over a 4-doc sitemap
    index (plus a malformed doc) that also lists a second host, a
    robots-disallowed URL and a hostless loc (NULL host); the sources
    differ in lanes and delay."""
    from gleaner_spark.sources.config import Source, SummonerConfig

    big, small = "https://big.example.org", "https://small.example.org"
    children = [f"{big}/a{d}.xml" for d in range(4)] + [f"{big}/broken.xml"]
    sitemaps = {
        f"{big}/a-index.xml": (
            '<?xml version="1.0"?><sitemapindex '
            'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + "".join(f"<sitemap><loc>{c}</loc></sitemap>" for c in children)
            + "</sitemapindex>"
        ),
        f"{big}/broken.xml": "<urlset><url><loc>oops",
        f"{big}/b.xml": _urlset([f"{big}/b/{i}" for i in range(12)]),
    }
    for d in range(4):
        locs = [f"{small if i % 3 == 0 else big}/a{d}/{i}" for i in range(9)]
        if d == 1:
            locs.insert(2, "relative/2")
        if d == 2:
            locs.insert(0, f"{big}/private/x")
        sitemaps[f"{big}/a{d}.xml"] = _urlset(locs)
    sources = [
        Source(name="srcA", url=f"{big}/a-index.xml", domain=big),
        Source(name="srcB", url=f"{big}/b.xml", domain=small, delay_ms=100),
    ]
    robots = {big: "User-agent: *\nDisallow: /private/\n"}
    return sources, sitemaps, robots, SummonerConfig(threads=3, delay_ms=0)


class TestScheduledFrontier:
    """build_frontier's schedule — per-doc rank plus collected offsets,
    blocklist fused — against the plain chain build_frontier →
    filter_urls → schedule_fetches (one Window.partitionBy(host))."""

    @pytest.mark.parametrize("block", [
        {},
        {"blocked_hosts": ("small.example.org",), "blocked_words": ("/4",)},
    ])
    def test_scheduled_build_matches_plain_chain(self, spark, block):
        from pyspark.sql import Observation

        from gleaner_spark.operators.frontier import (
            FRONTIER_COLUMNS, build_frontier, schedule_fetches,
        )
        from gleaner_spark.operators.urlfilter import filter_urls

        sources, sitemaps, robots, summoner = _multi_doc_world()
        plain, errs = build_frontier(spark, sources, sitemaps, robots, summoner)
        listed = plain.count()
        if block:
            plain = filter_urls(plain, **block)
        want = {(r["source_name"], r["url"]): r.asDict()
                for r in schedule_fetches(plain).collect()}

        obs = Observation()
        fused, errs2 = build_frontier(
            spark, sources, sitemaps, robots, summoner, blocked=obs, **block
        )
        assert fused.columns == list(FRONTIER_COLUMNS)
        got = {(r["source_name"], r["url"]): r.asDict() for r in fused.collect()}
        assert errs == errs2 == []
        assert got == want
        assert obs.get["n"] == listed - len(want)
        if block:
            assert len(want) < listed
        else:
            # the hostless loc keeps its position and is one host
            assert len(want) == listed == 49
            assert got[("srcA", "relative/2")]["host"] is None
            assert got[("srcA", "relative/2")]["fetch_seq"] == 0

    def test_fetch_seq_contiguous_per_host_across_docs_and_sources(self, spark):
        from gleaner_spark.operators.frontier import build_frontier

        sources, sitemaps, robots, summoner = _multi_doc_world()
        fused, _ = build_frontier(spark, sources, sitemaps, robots, summoner)
        rows = [r for r in fused.collect()
                if r["host"] == "https://big.example.org"]
        by_seq = sorted(rows, key=lambda r: r["fetch_seq"])
        assert [r["fetch_seq"] for r in by_seq] == list(range(len(rows)))
        # crawl order: source name, then sitemap position
        assert by_seq == sorted(rows, key=lambda r: (r["source_name"], r["position"]))
        for r in rows:
            if r["source_name"] == "srcB":  # delay pacing: one lane
                assert r["lane"] == 0
                assert r["scheduled_offset_ms"] == 100 * r["fetch_seq"]
            else:
                assert r["lane"] == r["fetch_seq"] % 3
                assert r["scheduled_offset_ms"] == 0


class TestFusedFrontier:
    def test_fused_build_matches_unfused_chain(self, spark):
        """build_frontier's fused parse+normalize+robots+rank stage is
        row-identical (incl. position) to the unfused operator chain —
        the S7/S10/S11 building blocks + the plain per-source window —
        over multi-sitemap sources, dirty whitespace, empty locs,
        robots-disallowed urls and a malformed sitemap doc."""
        from pyspark.sql import Window

        from gleaner_spark.core.extract import EARTHCUBE_AGENT  # noqa: F401
        from gleaner_spark.operators.frontier import (
            _robots_filter_udf, build_frontier, resolve_sitemap_docs,
            sitemap_entries_df,
        )
        from gleaner_spark.sources.config import Source

        host = "https://fused.example.org"

        def urlset(locs):
            body = "".join(f"<url><loc>{loc}</loc></url>" for loc in locs)
            return (
                '<?xml version="1.0"?><urlset '
                'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                f"{body}</urlset>"
            )

        sitemaps = {
            f"{host}/index.xml": (
                '<?xml version="1.0"?><sitemapindex '
                'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                f"<sitemap><loc>{host}/a.xml</loc></sitemap>"
                f"<sitemap><loc>{host}/broken.xml</loc></sitemap>"
                f"<sitemap><loc>{host}/b.xml</loc></sitemap>"
                "</sitemapindex>"
            ),
            f"{host}/a.xml": urlset(
                [f"  {host}/items/a{i}\n " for i in range(7)]
                + ["   ", f"{host}/private/blocked"]
            ),
            f"{host}/broken.xml": "<urlset><url><loc>oops",  # parse error
            f"{host}/b.xml": urlset([f"{host}/items/b{i}" for i in range(5)]),
        }
        robots = {host: "User-agent: *\nDisallow: /private/\n"}
        sources = [Source(name="s", url=f"{host}/index.xml", domain=host)]

        fused, errs = build_frontier(spark, sources, sitemaps, robots)
        # a malformed sitemap doc is skipped executor-side (MultiError
        # log-and-continue), not surfaced as a driver error
        assert errs == []

        # unfused reference chain
        docs, _ = resolve_sitemap_docs(sources, sitemaps, robots)
        entries = sitemap_entries_df(spark, docs)
        norm = (
            entries.withColumn(
                "url", F.regexp_replace(F.trim(F.col("loc")), "[ \n]", "")
            )
            .filter(F.length("url") > 0)
            .withColumn(
                "host",
                F.concat(F.parse_url("url", F.lit("PROTOCOL")), F.lit("://"),
                         F.parse_url("url", F.lit("HOST"))),
            )
        )
        norm = norm.filter(_robots_filter_udf(robots)(F.col("url"), F.col("host")))
        w = Window.partitionBy("source_name").orderBy("sitemap_seq", "doc_pos")
        ref = norm.withColumn("position", F.row_number().over(w).cast("long"))

        got = {(r["source_name"], r["url"]): (r["position"], r["host"])
               for r in fused.collect()}
        want = {(r["source_name"], r["url"]): (r["position"], r["host"])
                for r in ref.collect()}
        assert got == want and len(got) == 12  # 7 a-urls + 5 b-urls

    def test_sitemap_entries_ship_docs_without_a_python_job(self, spark):
        """sitemap_entries_df reads its docs the way the fused parse
        does, from a spark.range plus one broadcast: no
        parallelize-built (LogicalRDD / ExistingRDD) leaf."""
        from gleaner_spark.core import sitemap as sm
        from gleaner_spark.operators.frontier import (
            resolve_sitemap_docs, sitemap_entries_df,
        )
        from gleaner_spark.sources import corpus

        docs, _ = resolve_sitemap_docs(
            corpus.build_sources(), corpus.build_sitemaps(40), corpus.build_robots()
        )
        entries = sitemap_entries_df(spark, docs)
        qe = entries._jdf.queryExecution()
        seq = qe.optimizedPlan().collectLeaves()
        assert [seq.apply(i).nodeName() for i in range(seq.size())] == ["Range"]
        assert "ExistingRDD" not in qe.executedPlan().toString()
        assert entries.count() == sum(len(sm.parse_sitemap(d[3])) for d in docs)

    def test_frontier_phase_parses_each_doc_at_most_twice(
        self, spark, tmp_lake, monkeypatch
    ):
        """Plan pin over every SQL execution of run_harvest's frontier
        phase (count pass, the lake append, the read-back), blocklist
        and cap on: the fused parse (MapInPandas) runs at most twice in
        total, never beneath a BroadcastExchange (an offsets table
        built from the frontier re-runs the parse under its join), and
        robots stays fused into it. The run stops where phase 2 starts."""
        from gleaner_spark.operators import harvest as hv
        from gleaner_spark.plans.lake import Lake
        from gleaner_spark.plans.pipeline import run_harvest
        from gleaner_spark.sources import corpus

        class PhaseOneDone(Exception):
            pass

        def stop(*_a, **_k):
            raise PhaseOneDone

        monkeypatch.setattr(hv, "fetch_pages", stop)
        lake = Lake(tmp_lake)

        def phase_one():
            with pytest.raises(PhaseOneDone):
                run_harvest(
                    spark, lake, corpus.build_sources(), None,
                    corpus.build_sitemaps(200), corpus.build_robots(),
                    url_blocked_words=("/api/",), max_urls_per_host=20,
                )

        plans = _final_plans(spark, phase_one)
        assert lake.table("frontier").read(spark).count() > 0
        names = [n for p in plans for n in p[0].values()]
        assert names.count("MapInPandas") <= 2, names
        assert "ArrowEvalPython" not in names  # robots fused into parse
        for nodes, children in plans:
            for nid, name in nodes.items():
                if name == "BroadcastExchange":
                    below = _descendants(nid, children)
                    assert all(nodes[c] != "MapInPandas" for c in below), nodes


def _final_plans(spark, run) -> list[tuple[dict, dict]]:
    """(node id -> name, node id -> child ids) of the physical plan of
    every SQL execution ``run()`` starts, read from the SQL status
    store: after an AQE execution that is its final plan alone (an
    ``executedPlan`` string also prints the initial plan, doubling
    every count); reused exchanges show their subtree again."""
    from collections import defaultdict

    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids() -> set[int]:
        seq = store.executionsList()
        return {seq.apply(i).executionId() for i in range(seq.size())}

    before = execution_ids()
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = []
    for eid in sorted(execution_ids() - before):
        graph = store.planGraph(eid)
        seq = graph.allNodes()
        nodes = {seq.apply(i).id(): seq.apply(i).name() for i in range(seq.size())}
        children = defaultdict(list)
        edges = graph.edges()
        for i in range(edges.size()):
            children[edges.apply(i).toId()].append(edges.apply(i).fromId())
        plans.append((nodes, children))
    assert plans
    return plans


def _descendants(nid, children) -> set:
    out, todo = set(), list(children[nid])
    while todo:
        c = todo.pop()
        if c not in out:
            out.add(c)
            todo.extend(children[c])
    return out


class TestCuckooSketch:
    def test_add_contains_remove(self):
        from gleaner_spark.operators.sketch import CuckooSketch

        ck = CuckooSketch.empty(expected=1000)
        keys = [f"url/{i}" for i in range(800)]
        assert all(ck.add(k) for k in keys)
        assert all(ck.contains(k) for k in keys)
        fp = sum(1 for i in range(5000) if ck.contains(f"absent/{i}"))
        assert fp < 5000 * 0.05
        # deletable: the recrawl-after-delete repair path
        for k in keys[:100]:
            assert ck.remove(k)
        assert sum(1 for k in keys[:100] if ck.contains(k)) < 10  # fp only
        assert all(ck.contains(k) for k in keys[100:])

    def test_roundtrip(self):
        from gleaner_spark.operators.sketch import CuckooSketch

        ck = CuckooSketch.empty(expected=100)
        ck.add("x")
        ck2 = CuckooSketch.from_bytes(ck.to_bytes())
        assert ck2.contains("x") and not ck2.contains("y")


def test_bloom_build_is_vectorized_fast():
    """VERDICT r1 #6: no per-key python hashing — 1M keys must ingest
    in seconds (hashes precomputed, numpy bit-setting only)."""
    import time

    import numpy as np

    from gleaner_spark.operators.sketch import BloomSketch

    sk = BloomSketch.empty(expected=2_000_000, fpp=0.01, n_shards=4)
    h = np.random.default_rng(7).integers(-2**63, 2**63 - 1, size=1_000_000, dtype=np.int64)
    # min-of-3: the first pass page-faults the freshly allocated
    # bitset and this shared host bursts (a python-loop regression
    # would be minutes, never under the bar even warm)
    dt = min(
        [(lambda t0: (sk.add_hashed(h), time.time() - t0)[1])(time.time())
         for _ in range(3)]
    )
    assert dt < 10.0  # ≥ 10^5 keys/s even on a loaded host; typ. >10^6
    assert bool(sk.contains_hashed(h[:1000]).all())


class TestEmbeddingDedupScaleShape:
    def test_no_driver_collect_of_embeddings(self, spark):
        """VERDICT r1 #3a: the near-dup operator must be fully
        distributed — constructing AND executing it must never pull
        the embedding table through DataFrame.collect."""
        import numpy as np
        from pyspark.sql import DataFrame

        from gleaner_spark.operators.dedup import embedding_near_duplicates

        rng = np.random.RandomState(3)
        base = rng.randn(200, 8).astype("float32")
        base[100:110] = base[:10] + rng.randn(10, 8).astype("float32") * 0.01
        e = spark.createDataFrame(
            [(i, base[i].tolist()) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        orig = DataFrame.collect
        def boom(self, *a, **kw):
            raise AssertionError("driver-side collect in embedding dedup")
        DataFrame.collect = boom
        try:
            out = embedding_near_duplicates(e, threshold=0.98)
            n = out.count()
        finally:
            DataFrame.collect = orig
        assert n >= 10  # the planted near-identical pairs

    def test_grid_tiling_matches_bruteforce_pairs(self, spark):
        import numpy as np

        from gleaner_spark.operators.dedup import embedding_near_duplicates

        rng = np.random.RandomState(5)
        base = rng.randn(80, 8).astype("float32")
        e = spark.createDataFrame(
            [(i, base[i].tolist()) for i in range(80)],
            "vec_id long, embedding array<float>",
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_duplicates(e, threshold=0.5, n_blocks=5).collect()
        }
        m = base.astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ m.T
        exp = {
            (i, j)
            for i in range(80) for j in range(i + 1, 80)
            if sims[i, j] >= 0.5
        }
        assert got == exp and len(exp) > 0


def test_ngram_capped_equals_exact_when_under_cap(spark):
    """df-capped variant is bit-identical to the exact one when no
    shingle exceeds the cap."""
    from gleaner_spark.operators.dedup import ngram_jaccard_pairs

    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",
        "one two three four five six",
        "one two three four five six",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    exact = sorted(map(tuple, ngram_jaccard_pairs(docs, threshold_pct=50).collect()))
    capped = sorted(map(tuple, ngram_jaccard_pairs(
        docs, threshold_pct=50, max_shingle_df=10).collect()))
    assert exact == capped and len(exact) > 0
    # a cap of 1 kills every shared shingle → no pairs survive
    none = ngram_jaccard_pairs(docs, threshold_pct=50, max_shingle_df=1).collect()
    assert none == []


class TestStreamingOrderSalting:
    def test_microbatch_positions_match_plain_window(self, spark):
        """VERDICT r4 #4: the micro-batch crawl-order rank (hour-
        bucketed block salt over warc_ts) must be row-for-row
        identical to the plain per-source window it replaced —
        including warc_ts ties broken by url, a batch concentrated on
        one source, and NULL warc_ts or source_name."""
        import datetime

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from gleaner_spark.streaming.incremental import _ordered_positions

        base = datetime.datetime(2024, 1, 1)
        rows = []
        for i in range(90):  # one hot source spanning several hours
            rows.append(("srcA", f"https://a/u{i:03d}",
                         base + datetime.timedelta(minutes=7 * i)))
        # warc_ts ties within one source: url must break them
        for u in ("z", "m", "a"):
            rows.append(("srcB", f"https://b/{u}", base))
        # NULL keys: a NULL warc_ts is a NULL block (first, as in the
        # plain window), a NULL source_name a NULL partition
        rows += [("srcB", "https://b/null-ts", None),
                 ("srcA", "https://a/null-ts", None),
                 (None, "https://c/1", base), (None, "https://c/0", None)]
        df = spark.createDataFrame(rows, "source_name string, url string, warc_ts timestamp")

        w = Window.partitionBy("source_name").orderBy("warc_ts", "url")
        plain = {
            (r["source_name"], r["url"]): r["pos"]
            for r in df.withColumn(
                "pos", F.row_number().over(w).cast("long")).collect()
        }
        got = {
            (r["source_name"], r["url"]): r["position"]
            for r in _ordered_positions(df).collect()
        }
        assert got == plain and len(got) == len(rows)

    def test_microbatch_plan_has_no_unsalted_source_window(self, spark):
        """Plan pin: every window in the micro-batch ordering plan
        partitions on MORE than source_name alone (the block column
        rides the spec), so a skewed drop never serializes a whole
        source into one sort task."""
        import re

        from gleaner_spark.streaming.incremental import _ordered_positions

        df = spark.createDataFrame(
            [("s", "u", None)], "source_name string, url string, warc_ts timestamp"
        )
        plan = _ordered_positions(df)._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, plan
        for spec in specs:
            head = spec.split(", ")
            # partition keys precede the order keys in the spec dump:
            # source_name must be immediately followed by the block col
            if head[0].startswith("source_name"):
                assert head[1].startswith("_blk"), plan


class TestUrlFilter:
    def _mk(self, spark, urls):
        return spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
        )

    def test_block_semantics_and_precedence(self, spark):
        """Host blocks exact-or-dot-suffix only (no substring bleed);
        words match the path/query tail, never the host; precedence is
        scheme > host > word."""
        from gleaner_spark.operators.urlfilter import annotate_urls, filter_urls

        urls = [
            "https://ok.example.com/article/1",          # pass
            "https://ads.example/banner",                # host (exact)
            "https://x.ads.example/banner",              # host (suffix)
            "https://bads.example/article",              # pass: no substring bleed
            "https://casino.example.com/news",           # pass: word not in host
            "https://ok.example.com/casino/night",       # word
            "ftp://ads.example/casino",                  # scheme wins precedence
            "HTTPS://OK.example.com/Article",            # pass: case-folded
            "https://ads.example/casino",                # host wins over word
        ]
        df = self._mk(spark, urls)
        got = {
            r["doc_id"]: r["url_block_reason"]
            for r in annotate_urls(
                df, blocked_hosts=("ads.example",), blocked_words=("casino",)
            ).collect()
        }
        assert got == {0: None, 1: "host", 2: "host", 3: None, 4: None,
                       5: "word", 6: "scheme", 7: None, 8: "host"}
        kept = {r["doc_id"] for r in filter_urls(
            df, blocked_hosts=("ads.example",), blocked_words=("casino",)
        ).collect()}
        assert kept == {0, 3, 4, 7}

    def test_map_side_plan(self, spark):
        """Pure column expressions: zero exchanges, no Python stage,
        whole-stage codegen over the scan."""
        from gleaner_spark.operators.urlfilter import filter_urls

        df = self._mk(spark, [f"https://h{i}.example/p{i}" for i in range(20)])
        plan = (
            filter_urls(df, blocked_hosts=("a.b",), blocked_words=("w",))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan
        assert "*(1)" in plan, plan


class TestSpanDedup:
    def test_cross_doc_spans_removed_within_doc_kept(self, spark):
        """The shared 4-gram vanishes from BOTH docs (overlap-merged
        via covered positions); a gram repeated only WITHIN one doc is
        kept (min==max doc fails the >=2-distinct-docs test); short
        and unique docs pass through whitespace-normalized."""
        from gleaner_spark.operators.spandedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [
                (1, "a b c d e f g h"),
                (2, "x y a b c d z w"),
                (3, "totally unique words here only once"),
                (4, "p q r s p q r s"),   # within-doc repeat only
                (5, "too short"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in remove_duplicate_spans(df, k=4).collect()
        }
        assert got[1] == ("e f g h", 4)
        assert got[2] == ("x y z w", 4)
        assert got[3] == ("totally unique words here only once", 0)
        assert got[4] == ("p q r s p q r s", 0)
        assert got[5] == ("too short", 0)

    def test_overlapping_duplicate_windows_merge(self, spark):
        """Two docs sharing a 6-token run produce 3 overlapping dup
        4-grams; the covered set merges them to ONE 6-token hole, not
        3 disjoint removals."""
        from gleaner_spark.operators.spandedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(1, "u v a b c d e f w"), (2, "a b c d e f q r s")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in remove_duplicate_spans(df, k=4).collect()
        }
        assert got[1] == ("u v w", 6)
        assert got[2] == ("q r s", 6)

    def test_jvm_only_plan(self, spark):
        """No Python stage, no window, no distinct-count shuffle — the
        >=2-docs test is min/max with map-side partials."""
        from gleaner_spark.operators.spandedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(20)],
            "doc_id long, text string",
        )
        plan = (
            remove_duplicate_spans(df, k=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan, plan
        assert "Window" not in plan, plan
        assert "partial_min" in plan, plan
        assert "distinct" not in plan.lower().replace("collect_set", ""), plan


class TestUnigramNll:
    def test_ood_junk_scores_higher_than_common_prose(self, spark):
        """Documents made of corpus-common tokens score low; a doc of
        tokens that appear nowhere else scores the corpus maximum
        (-ln(1/total) per token). Weighted per-doc token counts come
        back exact."""
        import math

        from gleaner_spark.operators.textops import unigram_nll

        df = spark.createDataFrame(
            [(i, "the cat sat on the mat") for i in range(9)]
            + [(9, "zq xv qqj wpk zzv nbg")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in unigram_nll(df).collect()}
        assert all(got[i]["n_tokens"] == 6 for i in range(10))
        common = got[0]["avg_nll"]
        junk = got[9]["avg_nll"]
        assert junk > common
        total = 60  # 10 docs x 6 tokens
        assert junk == round(-math.log(1 / total), 4)  # every token unique
        # 'the' appears 18x, others 9x: exact closed form
        want = round(-(2 * math.log(18 / total) + 4 * math.log(9 / total)) / 6, 4)
        assert common == want

    def test_reshard_invariant_and_plan(self, spark):
        from gleaner_spark.operators.textops import unigram_nll

        df = spark.createDataFrame(
            [(i, f"tok{i % 7} tok{i % 3} filler") for i in range(50)],
            "doc_id long, text string",
        )
        a = sorted(map(tuple, unigram_nll(df).collect()))
        b = sorted(map(tuple, unigram_nll(df.repartition(13)).collect()))
        assert a == b
        plan = unigram_nll(df)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Window" not in plan, plan
        assert "partial_count" in plan, plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # the token->count join is an equi-join, never a cartesian of
        # the exploded table
        assert "CartesianProduct" not in plan, plan


class TestResampleGuard:
    def test_implausible_weight_refused(self, spark):
        import pytest as _pytest

        from gleaner_spark.operators.sampling import resample_sources

        df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
        with _pytest.raises(ValueError, match="implausibly large"):
            resample_sources(df, {"a": 50_000.0}).collect()
        # the boundary itself is allowed
        assert resample_sources(df, {"a": 1000.0}).count() == 1000


class TestHashedTf:
    def test_counts_norm_and_ann_composability(self, spark):
        """Exact counts, unit L2 norm, identical docs get identical
        vectors, and the output feeds brute_force_topk directly
        (text -> embedding -> ANN with no external artifact)."""
        import math

        from gleaner_spark.operators.ann import brute_force_topk
        from gleaner_spark.operators.textops import hashed_tf

        df = spark.createDataFrame(
            [
                (0, "the quick brown fox jumps over the lazy dog"),
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different words about spark shuffles"),
            ],
            "doc_id long, text string",
        )
        raw = {r["doc_id"]: r["tf"] for r in hashed_tf(df, dim=32, norm=False).collect()}
        assert sum(raw[0]) == 9 and raw[0] == raw[1] and raw[0] != raw[2]
        emb = {r["doc_id"]: r["embedding"] for r in hashed_tf(df, dim=32).collect()}
        for v in emb.values():
            assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5
        e = hashed_tf(df, dim=32).withColumnRenamed("doc_id", "vec_id")
        top = {
            r["query_id"]: r["nbr_id"]
            for r in brute_force_topk(e, e, k=1).collect()
        }
        assert top[0] == 1 and top[1] == 0  # the exact dup is the 1-NN

    def test_reshard_invariant_and_bad_dim(self, spark):
        import pytest as _pytest

        from gleaner_spark.operators.textops import hashed_tf

        df = spark.createDataFrame(
            [(i, f"tok{i % 5} tok{i % 3} x") for i in range(40)],
            "doc_id long, text string",
        )
        a = {r["doc_id"]: r["tf"] for r in hashed_tf(df, 16, norm=False).collect()}
        b = {r["doc_id"]: r["tf"]
             for r in hashed_tf(df.repartition(7), 16, norm=False).collect()}
        assert a == b
        with _pytest.raises(ValueError, match=">= 1"):
            hashed_tf(df, 0)


class TestNbQuality:
    """Two-class NB quality classifier (textops.nb_train/nb_quality/
    nb_score_with) — the distributable fastText-style seed-vs-crawl
    gate. Closed-form LLR checks, length invariance, unseen-token
    floor, reshard invariance, plan shape."""

    def _labeled(self, spark):
        # class 1 ("seed"): clean prose; class 0 ("crawl"): symbol soup
        return spark.createDataFrame(
            [(0, 1, "good clean prose here"),
             (1, 1, "more good clean prose"),
             (2, 0, "zz@@ ### spam spam"),
             (3, 0, "### zz@@ junk spam")],
            "doc_id long, label int, text string",
        )

    def test_llr_closed_form_and_score_separation(self, spark):
        import math

        from gleaner_spark.operators.textops import nb_quality, nb_train

        df = self._labeled(spark)
        model = {r["_tok"]: r for r in nb_train(df).collect()}
        # corpus: T1 = 8 seed tokens, T0 = 8 crawl tokens, V distinct
        v = len(model)
        r = model["good"]
        assert (r["_c1"], r["_c0"]) == (2, 0)
        assert r["_llr"] == math.log((2 + 1) / (8 + v)) - math.log(1 / (8 + v))
        r = model["spam"]
        assert (r["_c1"], r["_c0"]) == (0, 3)
        got = {x["doc_id"]: x for x in nb_quality(df).collect()}
        # seed docs score positive, crawl docs negative, exact round
        assert got[0]["nb_score"] > 0 > got[2]["nb_score"]
        want0 = round(
            sum(model[t]["_llr"] for t in "good clean prose here".split()) / 4, 4
        )
        assert got[0]["nb_score"] == want0
        assert got[0]["n_tokens"] == 4

    def test_unseen_token_floor_is_pure_prior(self, spark):
        import math

        from gleaner_spark.operators.textops import nb_score_with, nb_train

        df = self._labeled(spark)
        model = nb_train(df)
        v = model.count()
        new = spark.createDataFrame(
            [(10, "totally novel vocabulary entirely"),
             (11, "good clean prose here")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in nb_score_with(new, model).collect()}
        # all-unseen doc: every token takes ln((T0+V)/(T1+V)); T1=T0=8
        floor = math.log(1 / (8 + v)) - math.log(1 / (8 + v))
        assert got[10]["nb_score"] == round(floor, 4) == 0.0
        assert got[10]["n_tokens"] == 4
        # a seen doc scores identically to the self-scored path
        self_scored = {
            r["doc_id"]: r["nb_score"]
            for r in __import__(
                "gleaner_spark.operators.textops", fromlist=["nb_quality"]
            ).nb_quality(self._labeled(spark)).collect()
        }
        assert got[11]["nb_score"] == self_scored[0]

    def test_length_invariance_reshard_and_plan(self, spark):
        from gleaner_spark.operators.textops import nb_quality

        df = spark.createDataFrame(
            [(i, i % 2,
              (("alpha beta " if i % 2 else "gamma delta ") * (1 + i % 3)).strip())
             for i in range(40)],
            "doc_id long, label int, text string",
        )
        rows = nb_quality(df).collect()
        # each class is its own two tokens repeated 1-3x: the mean
        # LLR ignores the repetition count (length invariance), so
        # exactly one score per class across all 40 lengths
        assert len({r["nb_score"] for r in rows}) == 2
        by_label = {r["nb_score"] for r in rows if r["doc_id"] % 2 == 1}
        assert len(by_label) == 1 and by_label.pop() > 0
        a = sorted(map(tuple, rows))
        b = sorted(map(tuple, nb_quality(df.repartition(13)).collect()))
        assert a == b
        plan = nb_quality(df)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Window" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestBpeTokenStats:
    def test_known_counts_and_plan(self, spark):
        """Hand-computed GPT-2-pre-tokenizer counts (contractions,
        unicode, symbol runs, the documented multi-space deviation);
        plan is a pure map-side scan."""
        from gleaner_spark.operators.textops import bpe_token_stats

        cases = [
            (0, "Hello world", 2),          # word + space-word
            (1, "can't stop won't", 5),     # contractions split
            (2, "a-b_c", 5),                # symbol-heavy explosion
            (3, "3.14 apples", 4),
            (4, "x  y", 3),                 # multi-space run: one ws token
            (5, "mixed123abc", 3),          # letter/digit boundaries
            (6, "", 0),
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t, _ in cases], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in bpe_token_stats(df).collect()}
        for i, _, want in cases:
            assert got[i]["n_bpe_tokens"] == want, (i, got[i])
        # whitespace count rides along for the budget ratio
        assert got[1]["n_tokens"] == 3
        plan = bpe_token_stats(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan, plan


class TestBpeCrossEngineDifferential:
    def test_randomized_java_vs_re2_agreement(self, spark):
        """The BPE_SPLIT_RE docstring claims Java regex (Spark) and
        RE2 (DuckDB) count identically because the branches were
        chosen to make first-match and leftmost-longest semantics
        agree — pin it on 400 seeded adversarial strings (unicode
        letters, digits, contractions, symbol runs, whitespace runs)
        batched through one Spark job and one DuckDB query."""
        import random

        import duckdb
        from pyspark.sql import functions as F

        from gleaner_spark.operators.textops import BPE_SPLIT_RE

        rng = random.Random(20260821)
        atoms = ["a", "Zb", "ü", "你", "3", "14", "'s", "'t", "'re", "'x",
                 "-", "_", ".", "!?", " ", "  ", "\t", "\n", "'", "e.g",
                 "can't", "π", "½", "©", "%20"]
        examples = [""]
        for _ in range(400):
            examples.append(
                "".join(rng.choice(atoms) for _ in range(rng.randint(0, 12)))
            )
        examples = list(dict.fromkeys(examples))
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(examples)],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id",
                F.regexp_count("text", F.lit(BPE_SPLIT_RE)).alias("n"),
            ).collect()
        }
        con = duckdb.connect()
        bad = []
        for i, t in enumerate(examples):
            want = con.execute(
                "select len(regexp_extract_all(?, ?))", [t, BPE_SPLIT_RE]
            ).fetchone()[0]
            if got[i] != want:
                bad.append((repr(t), got[i], want))
        assert not bad, bad[:5]


class TestLangIdExtended:
    def test_five_language_detection_and_ties(self, spark):
        from gleaner_spark.operators.textops import language_id

        df = spark.createDataFrame(
            [
                (0, "the cat is on the mat and it is happy"),
                (1, "der hund ist bei dem haus und das ist gut"),
                (2, "el perro es grande y la casa es bonita para su familia"),
                (3, "le chien est dans la maison et il est pour qui"),
                (4, "数据 处理 系统 在 大规模 集群 上 运行"),
                (5, "zzz qqq www"),          # no votes -> unknown
                (6, ""),                      # empty -> unknown
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in language_id(df).collect()}
        assert got[0]["predicted_lang"] == "en"
        assert got[1]["predicted_lang"] == "de"
        assert got[2]["predicted_lang"] == "es"
        assert got[3]["predicted_lang"] == "fr"
        assert got[4]["predicted_lang"] == "zh"
        assert got[4]["cjk_chars"] > 0
        assert got[5]["predicted_lang"] == "unknown"
        assert got[6]["predicted_lang"] == "unknown"
        # fixed tie priority: a doc hitting en and de equally reads en
        tie = spark.createDataFrame(
            [(0, "the der")], "doc_id long, text string"
        )
        assert language_id(tie).collect()[0]["predicted_lang"] == "en"
        # plan stays pure map-side
        plan = language_id(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan, plan
