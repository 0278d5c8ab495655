"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` registers every SQL-expressible operator from
SURVEY.md §2 (Gleaner pipeline stages mapped onto the provided
tables) plus the training-data ops (dedup / ANN / text analysis);
``oracle_sql()`` carries the DuckDB-equivalent SQL. Cross-engine
notes:

- hashing uses md5 (DuckDB 1.0 has no sha1); the harvest pipeline
  itself uses SHA-1 for reference parity (pytest-verified).
- float outputs are either avoided (integer arithmetic: cents,
  jaccard as inter/union counts), derived from exact integers with
  the same expression order, or reduced to orderings (ANN ranks).
- shared literals (hash prime, minhash coefficients, stopword lists)
  are generated from the same Python constants for both engines.

Pipeline-only stages (byte-identical extraction, politeness token
bucket, bloom sketch) are pytest-verified; ``harvest_e2e`` is the
only rows-only entry (the 3-phase pipeline is not SQL-expressible) —
every other query, including the LSH/IVF/multimodal scale paths, has
a full DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gleaner_spark.functions import text as X
from gleaner_spark.operators import ann as ANN
from gleaner_spark.operators import decontam as DC
from gleaner_spark.operators import dedup as DD
from gleaner_spark.operators import textops as TX
from gleaner_spark.operators.dedup import _perm_coeffs

P = X.HASH_PRIME
MINHASH_K = 16
BANDS, ROWS = 4, 4
COEFFS = _perm_coeffs(MINHASH_K)

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship: the end-to-end harvest slice
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full harvest (frontier → fetch ⋈ pages → extract →
    fixups → SHA-1 → bloom+anti-join dedup) over the deterministic
    synthetic corpus; returns the documents table."""
    _ = _t(spark, SF_DEFAULT, "documents").count()  # touch sf0.001 per contract
    return _run_harvest_df(spark, n_pages=160)


def _run_harvest_df(spark: SparkSession, n_pages: int) -> DataFrame:
    from gleaner_spark.plans.lake import Lake
    from gleaner_spark.plans.pipeline import run_harvest
    from gleaner_spark.sources import corpus

    lake = Lake(tempfile.mkdtemp(prefix="gleaner-entry-"))
    pages = corpus.build_pages(spark, n_pages)
    run_harvest(
        spark, lake, corpus.build_sources(), pages,
        corpus.build_sitemaps(n_pages), corpus.build_robots(),
        run_id="entry", run_date="2024-01-01",
    )
    docs = lake.table("documents").read(spark)
    return docs.select(
        "source_name", "url", "sha", "sha256", "jsonld", "identifier_type"
    )


# ---------------------------------------------------------------------------
# shared SQL fragments (generated from the same constants as Spark)
# ---------------------------------------------------------------------------

def _sql_list(words: list[str]) -> str:
    return "[" + ",".join("'" + w + "'" for w in words) + "]"


TOKS_SQL = "string_split_regex(trim({col}), '\\s+')"
H60_SQL = "CAST('0x' || substr(md5({s}),1,15) AS BIGINT)"


def _shingle_cte(doc_filter: str = "TRUE") -> str:
    toks = TOKS_SQL.format(col="text")
    return f"""
toks AS (SELECT doc_id, {toks} AS t FROM documents WHERE {doc_filter}),
shingles AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t)-2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [] END) AS s
  FROM toks),
d AS (SELECT DISTINCT doc_id, {H60_SQL.format(s='s')} AS sh FROM shingles),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM d GROUP BY doc_id)
"""


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- S3/S4: predicate filters over the source-ish dimension ----
    def source_filter(spark, sf):
        return (
            _t(spark, sf, "documents")
            .filter((F.col("lang") == "en") & F.col("source").isin("src0", "src1"))
            .select("doc_id", "source", "lang", "n_chars")
        )
    q["source_filter"] = source_filter

    # ---- S5: point lookup via broadcast equi-join ----
    def point_lookup(spark, sf):
        nation = _t(spark, sf, "nation")
        region = F.broadcast(_t(spark, sf, "region"))
        return (
            nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
            .filter(F.col("n_name") == "NATION_7")
            .select("n_nationkey", "n_name", "r_name")
        )
    q["point_lookup"] = point_lookup

    # ---- S10: URL/text normalization (trim + strip + hash) ----
    def url_normalize(spark, sf):
        norm = F.regexp_replace(F.trim(F.substring(F.col("text"), 1, 50)), "[ \n]", "")
        return _t(spark, sf, "documents").select(
            "doc_id", norm.alias("norm"), F.md5(norm).alias("norm_key")
        )
    q["url_normalize"] = url_normalize

    # ---- S11: disallow anti-join (customers with no orders) ----
    def robots_antijoin(spark, sf):
        o = _t(spark, sf, "orders")
        l = _t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
        return o.join(l, "o_orderkey", "left_anti").select("o_orderkey", "o_orderstatus")
    q["robots_antijoin"] = robots_antijoin

    # ---- S12: crawl-delay resolution (greatest) ----
    def greatest_delay(spark, sf):
        return _t(spark, sf, "supplier").select(
            "s_suppkey",
            F.greatest(F.col("s_acctbal"), F.lit(1000.0)).alias("eff_delay"),
        )
    q["greatest_delay"] = greatest_delay

    # ---- S13: politeness ordering window ----
    def politeness_window(spark, sf):
        w = Window.partitionBy("source").orderBy("doc_id")
        return _t(spark, sf, "documents").select(
            "doc_id", "source", F.row_number().over(w).cast("int").alias("fetch_seq")
        )
    q["politeness_window"] = politeness_window

    # ---- S15: fetch as equi-join + per-key agg ----
    def fetch_join(spark, sf):
        o = _t(spark, sf, "orders")
        l = _t(spark, sf, "lineitem")
        return (
            o.join(l, o["o_orderkey"] == l["l_orderkey"])
            .groupBy("o_orderkey", "o_orderstatus")
            .agg(
                F.count("*").alias("n_items"),
                F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            )
            .filter(F.col("n_items") > 4)
        )
    q["fetch_join"] = fetch_join

    # ---- S24: content addressing ----
    def content_hash(spark, sf):
        return _t(spark, sf, "documents").select(
            "doc_id", F.md5("text").alias("content_md5")
        )
    q["content_hash"] = content_hash

    # ---- S25: JSONPath identifier extraction ----
    def jsonpath_extract(spark, sf):
        return _t(spark, sf, "events").select(
            "event_id", F.get_json_object("props", "$.k").alias("k_val")
        )
    q["jsonpath_extract"] = jsonpath_extract

    # ---- S26: first-non-empty path (coalesce) ----
    def identifier_coalesce(spark, sf):
        return _t(spark, sf, "events").select(
            "event_id",
            F.coalesce(
                F.get_json_object("props", "$.missing"),
                F.get_json_object("props", "$.k"),
                F.lit("none"),
            ).alias("ident"),
        )
    q["identifier_coalesce"] = identifier_coalesce

    # ---- S27: seen-set anti-join dedup ----
    def dedup_antijoin(spark, sf):
        docs = _t(spark, sf, "documents").withColumn(
            "h", F.md5(F.substring("text", 1, 30))
        )
        seen = docs.filter(F.col("doc_id") < 100).select("h").distinct()
        return docs.join(seen, "h", "left_anti").select("doc_id", "h")
    q["dedup_antijoin"] = dedup_antijoin

    # ---- metrics aggregation ----
    def metrics_agg(spark, sf):
        return (
            _t(spark, sf, "documents")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.countDistinct("lang").alias("n_langs"),
            )
        )
    q["metrics_agg"] = metrics_agg

    # ---- union of frontier slices ----
    def frontier_union(spark, sf):
        d = _t(spark, sf, "documents")
        a = d.filter(F.col("source") == "src0").select("doc_id")
        b = d.filter(F.col("lang") == "de").select("doc_id")
        return a.union(b).distinct()
    q["frontier_union"] = frontier_union

    # ---- S25 sort semantics: sorted collected matches ----
    def sorted_identifiers(spark, sf):
        return (
            _t(spark, sf, "documents")
            .groupBy("source")
            .agg(F.array_join(F.sort_array(F.collect_set("lang")), ",").alias("langs"))
        )
    q["sorted_identifiers"] = sorted_identifiers

    # ---- pricing summary (classic scan+agg shape) ----
    def tpch_pricing(spark, sf):
        l = _t(spark, sf, "lineitem")
        return (
            l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("price_cents"),
                F.sum(F.round(F.col("l_discount") * 100).cast("bigint")).alias("disc_cents"),
            )
        )
    q["tpch_pricing"] = tpch_pricing

    # ---- top-k with deterministic tie-break ----
    def top_sources(spark, sf):
        return (
            _t(spark, sf, "documents")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("source"))
            .limit(5)
        )
    q["top_sources"] = top_sources

    # ---- sessionize (stateful window over event time) ----
    def events_sessionize(spark, sf):
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        flagged = e.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        return flagged.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("new_session").alias("n_sessions"),
        )
    q["events_sessionize"] = events_sessionize

    # ---- tumbling window aggregation ----
    def events_tumbling(spark, sf):
        e = _t(spark, sf, "events")
        return (
            e.withColumn("win", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00"))
            .groupBy("win", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
            )
        )
    q["events_tumbling"] = events_tumbling

    # ---- dedup: exact (on a collision-bearing content key) ----
    def dedup_exact(spark, sf):
        return DD.exact_duplicates(
            _t(spark, sf, "documents").withColumn("k", F.substring("text", 1, 30)),
            id_col="doc_id", text_col="k",
        )
    q["dedup_exact"] = dedup_exact

    # ---- dedup: n-gram Jaccard (integer-ratio threshold) ----
    def dedup_ngram(spark, sf):
        return DD.ngram_jaccard_pairs(
            _t(spark, sf, "documents"), "doc_id", "text", n=3, threshold_pct=80
        )
    q["dedup_ngram"] = dedup_ngram

    # ---- dedup: n-gram with a shingle document-frequency cap ----
    # (the 100-TB variant: hot shingles are dropped before the
    # quadratic self-join; Jaccard over the capped shingle universe)
    def dedup_ngram_capped(spark, sf):
        return DD.ngram_jaccard_pairs(
            _t(spark, sf, "documents"), "doc_id", "text", n=3,
            threshold_pct=80, max_shingle_df=20,
        )
    q["dedup_ngram_capped"] = dedup_ngram_capped

    # ---- dedup: MinHash + LSH banding + exact verify ----
    def dedup_minhash(spark, sf):
        return DD.minhash_lsh_dedup(
            _t(spark, sf, "documents"), "doc_id", "text",
            k=MINHASH_K, bands=BANDS, rows=ROWS, n=3, threshold_pct=80,
        )
    q["dedup_minhash"] = dedup_minhash

    # ---- dedup: SimHash signatures ----
    def dedup_simhash(spark, sf):
        return DD.simhash(_t(spark, sf, "documents"), "doc_id", "text")
    q["dedup_simhash"] = dedup_simhash

    # ---- dedup: embedding cosine pairs ----
    def embedding_neardup(spark, sf):
        return DD.embedding_near_duplicates(
            _t(spark, sf, "embeddings"), "vec_id", "embedding", threshold=0.35
        ).select("id_a", "id_b")
    q["embedding_neardup"] = embedding_neardup

    # ---- ANN: brute-force cosine top-k (ids + rank only) ----
    def ann_topk(spark, sf):
        e = _t(spark, sf, "embeddings")
        return ANN.brute_force_topk(
            e, e.filter(F.col("vec_id") < 20), k=3
        ).select("query_id", "nbr_id", F.col("rank").cast("int").alias("rank"))
    q["ann_topk"] = ann_topk

    # ---- text: language id ----
    def text_langid(spark, sf):
        out = TX.language_id(_t(spark, sf, "documents"))
        return out.select(
            "doc_id", "en_hits", "de_hits", "es_hits", "fr_hits",
            "cjk_chars", "predicted_lang",
            (F.col("predicted_lang") == F.col("lang")).alias("is_correct"),
        )
    q["text_langid"] = text_langid

    # ---- text: quality scoring ----
    def text_quality(spark, sf):
        out = TX.quality_scores(_t(spark, sf, "documents"))
        return out.select(
            "doc_id", "q_chars", "q_tokens", "q_punct", "q_stopwords",
            "q_mean_token_len", "q_score",
        )
    q["text_quality"] = text_quality

    # ---- text: token stats ----
    def text_tokens(spark, sf):
        return TX.token_stats(_t(spark, sf, "documents"))
    q["text_tokens"] = text_tokens

    # ---- text: rolling-hash fingerprint ----
    def text_fingerprint(spark, sf):
        return TX.fingerprints(_t(spark, sf, "documents"))
    q["text_fingerprint"] = text_fingerprint

    # ---- text: Gopher repetition signals (integer counts) ----
    def text_repetition(spark, sf):
        return TX.repetition_stats(_t(spark, sf, "documents"))
    q["text_repetition"] = text_repetition

    # ---- ANN: banded multi-table LSH (full oracle: the hyperplanes
    # are deterministic md5-parity literals, so DuckDB reproduces the
    # bucket assignment from the same shared plane table) ----
    def ann_lsh(spark, sf):
        # 2^8 buckets/table × 4 tables: bucket size stays O(N/2^planes)
        return ANN.lsh_topk(
            _t(spark, sf, "embeddings"), k=3, n_planes=8, n_tables=4
        ).select("query_id", "nbr_id", F.col("rank").cast("int").alias("rank"))
    q["ann_lsh"] = ann_lsh

    # ---- ANN: IVF (full oracle: k-means is deterministic — lowest-id
    # init, cosine argmax with lowest-cluster tie-break, means rounded
    # to 9 decimals each iteration — so DuckDB replays the Lloyd
    # iterations as chained CTEs) ----
    def ann_ivf(spark, sf):
        return ANN.ivf_topk(
            _t(spark, sf, "embeddings"), k=3, n_centroids=8, n_probe=2, iters=2
        ).select("query_id", "nbr_id", F.col("rank").cast("int").alias("rank"))
    q["ann_ivf"] = ann_ivf

    # ---- pipeline-only (no SQL oracle → rows-only check) ----
    def harvest_e2e(spark, sf):
        return _run_harvest_df(spark, n_pages=120)
    q["harvest_e2e"] = harvest_e2e

    def multimodal_features(spark, sf):
        from gleaner_spark.operators.multimodal import extract_features, synthetic_media

        feats = extract_features(synthetic_media(spark, 64))
        # feature is array<float> — unhashable for the harness
        # canonicalizer; quantize back to the exact digest bytes
        # (x*255 round-trips float32 losslessly) and join to a string
        return feats.select(
            "media_id", "kind", "n_bytes",
            F.array_join(
                F.transform(
                    "feature",
                    lambda x: F.round(x.cast("double") * 255).cast("int").cast("string"),
                ),
                ",",
            ).alias("feature_q"),
        )
    q["multimodal_features"] = multimodal_features

    # ---- dedup: connected components over a pair graph (large-star/
    # small-star; the cluster-assignment stage after pair emission).
    # Edge construction: two overlapping prefix keys, each emitting
    # star edges (group min → member) — linear in docs, and the union
    # of the two relations forms real transitive chains, so the oracle
    # exercises multi-hop closure, not just group-by keys. The
    # min-over-window here is ORACLE-REPLAY scaffolding (DuckDB mirrors
    # it verbatim); the production cluster path builds its star edges
    # by joining the written dup_exact snapshot instead
    # (plans/docdedup.py:_exact_star_edges), with no per-group window
    # sort. ----
    def dedup_components(spark, sf):
        from gleaner_spark.operators.components import connected_components

        d = _t(spark, sf, "documents")

        def star_edges(key):
            w = Window.partitionBy("k")
            e = d.select("doc_id", key.alias("k")).withColumn(
                "m", F.min("doc_id").over(w)
            )
            return e.filter(F.col("doc_id") != F.col("m")).select(
                F.col("m").alias("id_a"), F.col("doc_id").alias("id_b")
            )

        pairs = star_edges(F.substring("text", 1, 8)).union(
            star_edges(F.substring("text", 4, 8))
        )
        return connected_components(
            pairs, nodes=d.select("doc_id"), node_col="doc_id"
        ).select(F.col("id").alias("doc_id"), "component")
    q["dedup_components"] = dedup_components

    # ---- text: corpus vocabulary head (df-cap calibration) ----
    def text_topk_ngrams(spark, sf):
        return TX.topk_ngrams(_t(spark, sf, "documents"), n=3, k=100)
    q["text_topk_ngrams"] = text_topk_ngrams

    # ---- text: CCNet-style boilerplate removal (df-capped unit
    # pruning + in-order reassembly; unit = token on this corpus,
    # unit = line on a real crawl) ----
    def text_boilerplate(spark, sf):
        return TX.remove_boilerplate(
            _t(spark, sf, "documents"), max_df_frac=0.5
        )
    q["text_boilerplate"] = text_boilerplate

    # ---- corpus management: deterministic split + hash sample
    # (membership a pure function of doc_id — re-sharding can never
    # move documents across the train/test boundary) ----
    def corpus_split(spark, sf):
        from gleaner_spark.operators.sampling import assign_splits

        return assign_splits(_t(spark, sf, "documents")).select(
            "doc_id", "split"
        )
    q["corpus_split"] = corpus_split

    def corpus_sample(spark, sf):
        from gleaner_spark.operators.sampling import hash_sample

        return hash_sample(_t(spark, sf, "documents"), 0.1).select("doc_id")
    q["corpus_sample"] = corpus_sample

    # ---- corpus mixing: per-source up/down-sampling to weights ----
    def corpus_resample(spark, sf):
        from gleaner_spark.operators.sampling import resample_sources

        return resample_sources(
            _t(spark, sf, "documents"), {"src0": 2.5, "src1": 0.25},
        ).select("doc_id", "source", F.col("copy").cast("long").alias("copy"))
    q["corpus_resample"] = corpus_resample

    # ---- corpus sampling: deterministic token budget (prefix by hash) ----
    def corpus_token_budget(spark, sf):
        from gleaner_spark.operators.sampling import sample_token_budget

        return sample_token_budget(
            _t(spark, sf, "documents"), budget=15_000
        ).select("doc_id")
    q["corpus_token_budget"] = corpus_token_budget

    # ---- corpus: deterministic training-order shuffle into shards ----
    def corpus_shuffle(spark, sf):
        from gleaner_spark.operators.sampling import shuffle_shards

        return shuffle_shards(_t(spark, sf, "documents"), n_shards=8).select(
            "doc_id", "shard", "shard_pos"
        )
    q["corpus_shuffle"] = corpus_shuffle

    # ---- crawl hygiene: URL scheme/host/word blocklist filter ----
    # URLs synthesized deterministically from doc_id (no url column in
    # the driver tables) so both engines build the identical input
    def url_filter(spark, sf):
        from gleaner_spark.operators.urlfilter import annotate_urls

        d = _t(spark, sf, "documents")
        hosts = F.array(
            F.lit("news.example.org"), F.lit("ads.tracker.net"),
            F.lit("blog.example.org"), F.lit("sub.ads.tracker.net"),
            F.lit("shop.example.com"),
        )
        url = F.concat(
            F.when(F.col("doc_id") % 11 == 0, F.lit("ftp")).otherwise(F.lit("https")),
            F.lit("://"),
            F.element_at(hosts, (F.col("doc_id") % 5 + 1).cast("int")),
            F.lit("/"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("casino")).otherwise(F.lit("article")),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        )
        return annotate_urls(
            d.select("doc_id", url.alias("url")),
            blocked_hosts=("ads.tracker.net",),
            blocked_words=("casino",),
        ).select("doc_id", "url", "url_block_reason")
    q["url_filter"] = url_filter

    # ---- crawl index: SURT-keyed CDX-style capture index ----
    # urls + capture ts synthesized deterministically from doc_id;
    # hosts 1 and 2 canonicalize to the SAME host (www./:443 noise)
    # so the index must collapse cosmetically-distinct captures
    def url_index(spark, sf):
        from gleaner_spark.operators.urlindex import build_url_index

        d = _t(spark, sf, "documents")
        hosts = F.array(
            F.lit("www.News.example.org"), F.lit("news.example.org:443"),
            F.lit("user:pw@blog.example.org."), F.lit("cdn.example.net:8080"),
            F.lit("shop.example.com"),
        )
        did = F.col("doc_id")
        url = F.when(
            did % 17 == 0, F.concat(F.lit("page-"), did.cast("string"))
        ).otherwise(F.concat(
            F.lit("https://"),
            F.element_at(hosts, (did % 5 + 1).cast("int")),
            F.when(did % 7 == 0, F.lit("")).otherwise(
                F.concat(F.lit("/a/"), (did % 41).cast("string"))),
            F.when(did % 3 == 0, F.lit("?b=2&a=1"))
            .when(did % 3 == 1, F.lit("?z=9#frag"))
            .otherwise(F.lit("")),
        ))
        ts = (F.lit(1704067200) + did % 997).cast("long")
        return build_url_index(
            d.select(url.alias("url"), ts.alias("warc_ts"))
        ).select("surt_key", "n_captures", "first_ts", "last_ts", "url")
    q["url_index"] = url_index

    # ---- crawl index: month-over-month crawl diff ----
    # two synthetic crawls over the same key space: 10% of keys left
    # the web (gone), ~11% are newly crawled (new), a third of the
    # overlap changed digests, the rest are identical
    def crawl_diff(spark, sf):
        from gleaner_spark.operators.urlindex import diff_crawls

        d = _t(spark, sf, "documents").select("doc_id")
        key = F.concat(F.lit("org,example)/p/"), F.col("doc_id").cast("string"))
        old = d.filter(F.col("doc_id") % 10 != 0).select(
            key.alias("surt_key"),
            F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("digest"),
        )
        new = d.filter(F.col("doc_id") % 9 != 0).select(
            key.alias("surt_key"),
            F.concat(
                F.lit("d"),
                F.when(F.col("doc_id") % 3 == 0, F.col("doc_id") + 1000000)
                .otherwise(F.col("doc_id")).cast("string"),
            ).alias("digest"),
        )
        return diff_crawls(old, new)
    q["crawl_diff"] = crawl_diff

    # ---- crawl index: per-host rollup (same synthesized captures
    # as url_index, aggregated one level up) ----
    def host_stats(spark, sf):
        from gleaner_spark.operators.urlindex import annotate_surt
        from gleaner_spark.operators.urlindex import host_stats as HS

        d = _t(spark, sf, "documents")
        hosts = F.array(
            F.lit("www.News.example.org"), F.lit("news.example.org:443"),
            F.lit("user:pw@blog.example.org."), F.lit("cdn.example.net:8080"),
            F.lit("shop.example.com"),
        )
        did = F.col("doc_id")
        url = F.when(
            did % 17 == 0, F.concat(F.lit("page-"), did.cast("string"))
        ).otherwise(F.concat(
            F.lit("https://"),
            F.element_at(hosts, (did % 5 + 1).cast("int")),
            F.when(did % 7 == 0, F.lit("")).otherwise(
                F.concat(F.lit("/a/"), (did % 41).cast("string"))),
            F.when(did % 3 == 0, F.lit("?b=2&a=1"))
            .when(did % 3 == 1, F.lit("?z=9#frag"))
            .otherwise(F.lit("")),
        ))
        ts = (F.lit(1704067200) + did % 997).cast("long")
        caps = annotate_surt(
            d.select(url.alias("url"), ts.alias("ts"))
        )
        return HS(caps).select(
            "host_key", "n_captures", "n_urls", "first_ts", "last_ts"
        )
    q["host_stats"] = host_stats

    # ---- webgraph: link extraction → host graph → PageRank ----
    # pages synthesized from doc_id: each page links to two hosts in
    # a 23-host space; the whole chain (href regexp, host canon,
    # weighted 5-iteration PageRank) replayed by the oracle
    def host_rank(spark, sf):
        from gleaner_spark.operators.webgraph import page_rank_pipeline

        d = _t(spark, sf, "documents")
        did = F.col("doc_id")
        url = F.concat(
            F.lit("https://h"), (did % 23).cast("string"),
            F.lit(".example/p"), did.cast("string"),
        )
        html = F.concat(
            F.lit('<a href="https://h'), ((did * 7 + 3) % 23).cast("string"),
            F.lit('.example/x">t</a><a href="https://h'),
            ((did * 11 + 5) % 23).cast("string"),
            F.lit('.example/y">s</a>'),
        )
        pages = d.select(url.alias("url"), html.alias("html"))
        return page_rank_pipeline(pages).select("host", "rank")
    q["host_rank"] = host_rank

    # ---- webgraph: anchor-text corpus ----
    def anchor_texts(spark, sf):
        from gleaner_spark.operators.webgraph import extract_anchor_texts

        d = _t(spark, sf, "documents")
        did = F.col("doc_id")
        url = F.concat(F.lit("https://h"), (did % 23).cast("string"),
                       F.lit(".example/p"), did.cast("string"))
        html = F.concat(
            F.lit('<p>x</p><a class="l" href="https://h'),
            ((did * 7 + 3) % 23).cast("string"),
            F.lit('.example/x">anchor '), (did % 5).cast("string"),
            F.lit('</a><a href="/rel'), did.cast("string"),
            F.lit('">rel text</a>'),
        )
        pages = d.select(url.alias("url"), html.alias("html"))
        return extract_anchor_texts(pages).select(
            "src_url", "href", "anchor"
        )
    q["anchor_texts"] = anchor_texts

    # ---- webgraph: domain-level edge aggregation (PSL-lite) ----
    # synthesized host edges exercising 2-label, co.uk-style 3-label,
    # single-label, and intra-domain-collapse cases
    def domain_graph(spark, sf):
        from gleaner_spark.operators.webgraph import domain_link_graph

        d = _t(spark, sf, "documents")
        did = F.col("doc_id")
        tails = F.array(
            F.lit("example.org"), F.lit("example.co.uk"),
            F.lit("shop.example.com.au"), F.lit("localhost"),
            F.lit("example.com.net"),
        )
        src = F.concat(F.lit("s"), (did % 3).cast("string"), F.lit("."),
                       F.element_at(tails, (did % 5 + 1).cast("int")))
        dst = F.concat(F.lit("d"), (did % 4).cast("string"), F.lit("."),
                       F.element_at(tails, ((did + 2) % 5 + 1).cast("int")))
        edges = d.select(
            src.alias("src_host"), dst.alias("dst_host"),
            (did % 7 + 1).alias("n_links"),
        )
        return domain_link_graph(edges).select(
            "src_domain", "dst_domain", "n_links"
        )
    q["domain_graph"] = domain_graph

    # ---- text: corpus-trained unigram NLL (CCNet LM-filter analog) ----
    def text_nll(spark, sf):
        return TX.unigram_nll(_t(spark, sf, "documents")).select(
            "doc_id", "n_tokens", "avg_nll"
        )
    q["text_nll"] = text_nll

    # ---- text: feature-hashed TF embedding (dense build verified
    # as a csv string — integer counts, engine-stable formatting) ----
    def text_tf_embed(spark, sf):
        from gleaner_spark.operators.textops import hashed_tf

        tf = hashed_tf(_t(spark, sf, "documents"), dim=16, norm=False)
        return tf.select(
            "doc_id",
            F.concat_ws(
                ",", F.transform("tf", lambda x: x.cast("string"))
            ).alias("tf_csv"),
        )
    q["text_tf_embed"] = text_tf_embed

    # ---- dedup: cross-document duplicate-span removal (Lee et al.) ----
    def span_dedup(spark, sf):
        from gleaner_spark.operators.spandedup import remove_duplicate_spans

        return remove_duplicate_spans(_t(spark, sf, "documents"), k=5).select(
            "doc_id", "clean_text", "n_removed"
        )
    q["span_dedup"] = span_dedup

    # ---- text: PII scrub (emails/IPv4 -> typed placeholders) ----
    def text_redact(spark, sf):
        return TX.redact_pii(_t(spark, sf, "documents")).select(
            "doc_id", "redacted_text"
        )
    q["text_redact"] = text_redact

    # ---- decontamination: eval-set n-gram overlap, broadcast join ----
    # deterministic in-corpus split stands in for an external benchmark
    # set: doc_id % 50 == 0 (2%) is "eval", the rest "train"; n=4
    # because the synthetic corpus is short-doc (operator default is
    # the 13-gram convention).
    def decontaminate(spark, sf):
        d = _t(spark, sf, "documents")
        ev = d.filter(F.col("doc_id") % 50 == 0)
        tr = d.filter(F.col("doc_id") % 50 != 0)
        return DC.contamination(tr, ev, id_col="doc_id",
                                text_col="text", n=4)
    q["decontaminate"] = decontaminate

    # ---- corpus reporting: multi-level rollup over (source, lang) ----
    def corpus_rollup(spark, sf):
        d = _t(spark, sf, "documents")
        return (
            d.rollup("source", "lang")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .select("source", "lang", "n_docs", "sum_chars")
        )
    q["corpus_rollup"] = corpus_rollup

    # ---- corpus management: concat-then-chunk sequence packing ----
    def corpus_pack(spark, sf):
        from gleaner_spark.operators.sampling import pack_sequences

        return pack_sequences(
            _t(spark, sf, "documents"), 4096, size_col="n_chars"
        ).select("source", "doc_id", "seq_id", "seq_offset")
    q["corpus_pack"] = corpus_pack

    # ---- text: two-class NB quality classifier (fastText-style
    # seed-vs-crawl gate, trained on a deterministic in-corpus
    # labeling: lang='en' is the "seed" class) ----
    def text_nb(spark, sf):
        d = _t(spark, sf, "documents").withColumn(
            "label", F.coalesce((F.col("lang") == "en").cast("int"), F.lit(0))
        )
        return TX.nb_quality(d).select("doc_id", "n_tokens", "nb_score")
    q["text_nb"] = text_nb

    # ---- text: GPT-2-style pre-tokenizer token counts ----
    def text_bpe_tokens(spark, sf):
        return TX.bpe_token_stats(_t(spark, sf, "documents")).select(
            "doc_id", "n_tokens", "n_bpe_tokens"
        )
    q["text_bpe_tokens"] = text_bpe_tokens

    # ---- crawl scheduling: change-rate recrawl priorities over a
    # synthetic capture history (50 URL groups x ~10 captures each;
    # digests flip on a doc_id % 3 pattern so every group has its own
    # transition sequence) ----
    def recrawl_priority(spark, sf):
        from gleaner_spark.operators.recrawl import recrawl_priority as RP

        d = _t(spark, sf, "documents").select("doc_id")
        did = F.col("doc_id")
        g = did % 50
        caps = d.select(
            F.concat(
                F.lit("org,h"), (g % 7).cast("string"),
                F.lit(")/p/"), g.cast("string"),
            ).alias("surt_key"),
            (F.lit(1000) + did).alias("ts"),
            F.concat(
                F.lit("d"),
                F.when(did % 3 == 0, F.lit(0)).otherwise(F.lit(1))
                .cast("string"),
            ).alias("digest"),
        )
        return RP(caps, now_ts=999_999)
    q["recrawl_priority"] = recrawl_priority

    # ---- crawl scheduling: sitemap-lastmod boost over the same
    # synthetic history (every 4th URL group claims a future lastmod
    # -> known stale; every 4th+1 claims an ancient one -> no-op;
    # the rest carry no claim). boost = 2^15: exactly representable,
    # so round(priority + boost, 6) is the same double both engines
    # format identically (the repo's float rule) ----
    def recrawl_lastmod(spark, sf):
        from gleaner_spark.operators.recrawl import boost_by_lastmod
        from gleaner_spark.operators.recrawl import recrawl_priority as RP

        d = _t(spark, sf, "documents").select("doc_id")
        did = F.col("doc_id")
        g = did % 50
        caps = d.select(
            F.concat(
                F.lit("org,h"), (g % 7).cast("string"),
                F.lit(")/p/"), g.cast("string"),
            ).alias("surt_key"),
            (F.lit(1000) + did).alias("ts"),
            F.concat(
                F.lit("d"),
                F.when(did % 3 == 0, F.lit(0)).otherwise(F.lit(1))
                .cast("string"),
            ).alias("digest"),
        )
        gg = F.col("_g")
        claims = (
            d.select((did % 50).alias("_g")).distinct()
            .filter(gg % 2 == 0)
            .select(
                F.concat(
                    F.lit("org,h"), (gg % 7).cast("string"),
                    F.lit(")/p/"), gg.cast("string"),
                ).alias("surt_key"),
                F.when(gg % 4 == 0, F.lit(999_000))
                .otherwise(F.lit(1)).cast("long").alias("lastmod_ts"),
            )
        )
        return boost_by_lastmod(RP(caps, now_ts=999_999), claims,
                                boost=32768.0)
    q["recrawl_lastmod"] = recrawl_lastmod

    return q


def oracle_sql() -> dict[str, str]:
    toks = TOKS_SQL.format(col="text")
    toks_lower = TOKS_SQL.format(col="lower(text)")
    en = _sql_list(X.ENGLISH_STOPWORDS)
    de = _sql_list(X.GERMAN_STOPWORDS)
    o: dict[str, str] = {}

    o["source_filter"] = (
        "SELECT doc_id, source, lang, n_chars FROM documents "
        "WHERE lang='en' AND source IN ('src0','src1')"
    )

    o["point_lookup"] = (
        "SELECT n_nationkey, n_name, r_name FROM nation "
        "JOIN region ON n_regionkey=r_regionkey WHERE n_name='NATION_7'"
    )

    o["url_normalize"] = (
        "SELECT doc_id, regexp_replace(trim(substr(text,1,50)), '[ \n]', '', 'g') AS norm, "
        "md5(regexp_replace(trim(substr(text,1,50)), '[ \n]', '', 'g')) AS norm_key FROM documents"
    )

    o["robots_antijoin"] = (
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE NOT EXISTS "
        "(SELECT 1 FROM lineitem WHERE l_orderkey=o_orderkey)"
    )

    o["greatest_delay"] = (
        "SELECT s_suppkey, greatest(s_acctbal, 1000.0) AS eff_delay FROM supplier"
    )

    o["politeness_window"] = (
        "SELECT doc_id, source, CAST(row_number() OVER "
        "(PARTITION BY source ORDER BY doc_id) AS INTEGER) AS fetch_seq FROM documents"
    )

    o["fetch_join"] = (
        "SELECT o_orderkey, o_orderstatus, COUNT(*) AS n_items, "
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty "
        "FROM orders JOIN lineitem ON o_orderkey=l_orderkey "
        "GROUP BY o_orderkey, o_orderstatus HAVING COUNT(*) > 4"
    )

    o["content_hash"] = "SELECT doc_id, md5(text) AS content_md5 FROM documents"

    o["jsonpath_extract"] = (
        "SELECT event_id, json_extract_string(props, '$.k') AS k_val FROM events"
    )

    o["identifier_coalesce"] = (
        "SELECT event_id, COALESCE(json_extract_string(props,'$.missing'), "
        "json_extract_string(props,'$.k'), 'none') AS ident FROM events"
    )

    o["dedup_antijoin"] = (
        "WITH h AS (SELECT doc_id, md5(substr(text,1,30)) AS h FROM documents), "
        "seen AS (SELECT DISTINCT h FROM h WHERE doc_id < 100) "
        "SELECT doc_id, h FROM h WHERE h NOT IN (SELECT h FROM seen)"
    )

    o["metrics_agg"] = (
        "SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
        "COUNT(DISTINCT lang) AS n_langs FROM documents GROUP BY source"
    )

    o["frontier_union"] = (
        "SELECT doc_id FROM documents WHERE source='src0' "
        "UNION SELECT doc_id FROM documents WHERE lang='de'"
    )

    o["sorted_identifiers"] = (
        "SELECT source, array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs "
        "FROM documents GROUP BY source"
    )

    o["tpch_pricing"] = (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, "
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
        "CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents, "
        "CAST(SUM(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS disc_cents "
        "FROM lineitem WHERE l_shipdate <= '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    )

    o["top_sources"] = (
        "SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source "
        "ORDER BY n_docs DESC, source ASC LIMIT 5"
    )

    o["events_sessionize"] = (
        "WITH g AS (SELECT user_id, event_id, ts, "
        "epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap "
        "FROM events) "
        "SELECT user_id, COUNT(*) AS n_events, "
        "CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions "
        "FROM g GROUP BY user_id"
    )

    o["events_tumbling"] = (
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS win, event_type, "
        "COUNT(*) AS n_events, CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents "
        "FROM events GROUP BY win, event_type"
    )

    o["dedup_exact"] = (
        "SELECT md5(substr(text,1,30)) AS content_hash, MIN(doc_id) AS keeper_id, "
        "COUNT(*) AS n_dups FROM documents GROUP BY content_hash HAVING COUNT(*) > 1"
    )

    o["dedup_ngram"] = f"""
WITH {_shingle_cte()},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS uni
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE inter * 100 >= 80 * (sa.sz + sb.sz - inter)
"""

    o["dedup_ngram_capped"] = f"""
WITH {_shingle_cte()},
rare AS (SELECT sh FROM d GROUP BY sh HAVING COUNT(*) <= 20),
dc AS (SELECT d.doc_id, d.sh FROM d JOIN rare USING (sh)),
szc AS (SELECT doc_id, COUNT(*) AS sz FROM dc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM dc a JOIN dc b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS uni
FROM inter
JOIN szc sa ON id_a = sa.doc_id
JOIN szc sb ON id_b = sb.doc_id
WHERE inter * 100 >= 80 * (sa.sz + sb.sz - inter)
"""

    mh_cols = ",\n  ".join(
        f"MIN(({a} * (sh % {P}) + {b}) % {P}) AS mh{j}"
        for j, (a, b) in enumerate(COEFFS)
    )
    band_keys = ", ".join(
        "md5(" + " || ',' || ".join(
            f"CAST(mh{b * ROWS + r} AS VARCHAR)" for r in range(ROWS)
        ) + ")"
        for b in range(BANDS)
    )
    o["dedup_minhash"] = f"""
WITH {_shingle_cte()},
sigs AS (
  SELECT doc_id, {mh_cols}
  FROM d GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest(generate_series(0, {BANDS - 1})) AS band,
         unnest([{band_keys}]) AS key
  FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cands c
  JOIN d da ON da.doc_id = c.id_a
  JOIN d db ON db.doc_id = c.id_b AND db.sh = da.sh
  GROUP BY 1, 2)
SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS uni
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE inter * 100 >= 80 * (sa.sz + sb.sz - inter)
"""

    o["dedup_simhash"] = f"""
WITH toks AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
th AS (SELECT doc_id, {H60_SQL.format(s='tok')} AS th FROM toks),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
  GROUP BY doc_id, b)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""

    o["embedding_neardup"] = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 9) >= 0.35
"""

    o["ann_topk"] = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
scored AS (
  -- cosine rounded to 9 decimals on BOTH sides before ranking
  -- (ADVICE r3): numpy pairwise vs sequential summation can reorder
  -- near-tied neighbours at the rank-k boundary
  SELECT q.vec_id AS query_id, n.vec_id AS nbr_id,
         round(list_cosine_similarity(q.v, n.v), 9) AS cos
  FROM e q JOIN e n ON q.vec_id != n.vec_id
  WHERE q.vec_id < 20),
ranked AS (
  SELECT query_id, nbr_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, nbr_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, nbr_id, rank FROM ranked WHERE rank <= 3
"""

    # banded multi-table LSH: the ±1 hyperplanes are deterministic
    # md5-parity values shared with the Spark operator (same pattern as
    # the minhash _perm_coeffs literals) — inlined as a VALUES table so
    # DuckDB reproduces bucket codes, candidate pairs and the rerank
    from gleaner_spark.operators.ann import _planes as _lsh_planes

    _plane_rows = ", ".join(
        "(%d, %d, [%s]::DOUBLE[])"
        % (t, p, ", ".join(str(x) for x in row))
        for t in range(4)
        for p, row in enumerate(_lsh_planes(64, 8, t))
    )
    o["ann_lsh"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
p(t, pl, pv) AS (VALUES {_plane_rows}),
b AS (
  -- sign test on the ROUNDED plane dot, matching lsh_bucket_keys
  SELECT e.vec_id, p.t,
         CAST(SUM(CASE WHEN round(list_dot_product(e.v, p.pv), 9) >= 0
                       THEN CAST(1 AS BIGINT) << p.pl ELSE 0 END) AS BIGINT) AS code
  FROM e CROSS JOIN p GROUP BY e.vec_id, p.t),
pairs AS (
  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS nbr_id
  FROM b a JOIN b c ON a.t = c.t AND a.code = c.code AND a.vec_id != c.vec_id),
scored AS (
  SELECT pr.query_id, pr.nbr_id,
         round(list_cosine_similarity(q.v, n.v), 9) AS cos
  FROM pairs pr
  JOIN e q ON q.vec_id = pr.query_id
  JOIN e n ON n.vec_id = pr.nbr_id),
ranked AS (
  SELECT query_id, nbr_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, nbr_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, nbr_id, rank FROM ranked WHERE rank <= 3
"""

    # IVF: replay the deterministic k-means (init = 8 lowest-id
    # vectors; per iteration cosine-argmax assignment with the lowest-
    # cluster tie-break, then element-wise means rounded to 9 decimals
    # — the same rounding the operator applies so centroids are
    # partition-order invariant), then the 2-probe/home-cell rerank.
    _ivf_iter = """
a{i} AS (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cv), 9) DESC,
                                       c.cluster ASC) AS rn
    FROM e CROSS JOIN c{prev} c) WHERE rn = 1),
m{i} AS (
  SELECT cluster, list(mv ORDER BY p) AS cv
  FROM (SELECT a.cluster, pos.p, round(avg(a.v[pos.p]), 9) AS mv
        FROM a{i} a CROSS JOIN pos GROUP BY a.cluster, pos.p)
  GROUP BY cluster),
c{i} AS (
  -- round the fallback too: the operator rounds ALL centroids each
  -- iteration, so an empty cluster's (raw-init) centroid is rounded
  -- after iteration 1 as well
  SELECT c.cluster,
         list_transform(COALESCE(m.cv, c.cv), x -> round(x, 9)) AS cv
  FROM c{prev} c LEFT JOIN m{i} m USING (cluster)),"""
    _ivf_iters = "".join(_ivf_iter.format(i=i, prev=i - 1) for i in (1, 2))
    o["ann_ivf"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
pos AS (SELECT unnest(generate_series(1, 64)) AS p),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster,
         v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),{_ivf_iters}
probes AS (
  SELECT vec_id, v, cluster, rn FROM (
    SELECT e.vec_id, e.v, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cv), 9) DESC,
                                       c.cluster ASC) AS rn
    FROM e CROSS JOIN c2 c) WHERE rn <= 2),
base AS (SELECT vec_id AS nbr_id, v AS nv, cluster FROM probes WHERE rn = 1),
cand AS (
  SELECT p.vec_id AS query_id, p.v AS qv, b.nbr_id, b.nv
  FROM probes p JOIN base b USING (cluster)
  WHERE p.vec_id != b.nbr_id),
ranked AS (
  SELECT query_id, nbr_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY round(list_cosine_similarity(qv, nv), 9) DESC,
                       nbr_id ASC) AS INTEGER) AS rank
  FROM cand)
SELECT query_id, nbr_id, rank FROM ranked WHERE rank <= 3
"""

    es = _sql_list(X.SPANISH_STOPWORDS)
    fr = _sql_list(X.FRENCH_STOPWORDS)
    cjk_neg = "[^" + X.CJK_CLASS[1:]
    o["text_langid"] = (
        f"WITH t AS (SELECT doc_id, lang, text, {toks_lower} AS lt FROM documents), "
        f"c AS (SELECT doc_id, lang, "
        f"CAST(len(list_filter(lt, x -> list_contains({en}, x))) AS BIGINT) AS en_hits, "
        f"CAST(len(list_filter(lt, x -> list_contains({de}, x))) AS BIGINT) AS de_hits, "
        f"CAST(len(list_filter(lt, x -> list_contains({es}, x))) AS BIGINT) AS es_hits, "
        f"CAST(len(list_filter(lt, x -> list_contains({fr}, x))) AS BIGINT) AS fr_hits, "
        f"CAST(length(regexp_replace(text, '{cjk_neg}', '', 'g')) AS BIGINT) AS cjk_chars, "
        "CAST(length(text) AS BIGINT) AS n_chars FROM t), "
        "p AS (SELECT *, "
        "CASE WHEN n_chars > 0 AND cjk_chars * 10 >= n_chars * 3 THEN 'zh' "
        "WHEN en_hits > 0 AND en_hits >= greatest(de_hits, es_hits, fr_hits) THEN 'en' "
        "WHEN de_hits > 0 AND de_hits >= greatest(es_hits, fr_hits) THEN 'de' "
        "WHEN es_hits > 0 AND es_hits >= fr_hits THEN 'es' "
        "WHEN fr_hits > 0 THEN 'fr' "
        "ELSE 'unknown' END AS predicted_lang FROM c) "
        "SELECT doc_id, en_hits, de_hits, es_hits, fr_hits, cjk_chars, "
        "predicted_lang, predicted_lang = lang AS is_correct FROM p"
    )

    o["text_quality"] = (
        f"WITH t AS (SELECT doc_id, text, {toks} AS tk, {toks_lower} AS lt FROM documents), "
        "c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS q_chars, "
        "CAST(len(tk) AS BIGINT) AS q_tokens, "
        "CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS q_punct, "
        f"CAST(len(list_filter(lt, x -> list_contains({en}, x))) AS BIGINT) AS q_stopwords FROM t) "
        "SELECT doc_id, q_chars, q_tokens, q_punct, q_stopwords, "
        "round(q_chars / greatest(q_tokens, 1), 4) AS q_mean_token_len, "
        "round(least(q_tokens, 100) * CAST(0.4 AS DOUBLE) "
        "+ (q_stopwords / greatest(q_tokens, 1)) * CAST(100.0 AS DOUBLE) * CAST(0.4 AS DOUBLE) "
        "+ (CAST(1.0 AS DOUBLE) - least((q_punct / greatest(q_chars, 1)) * 10, CAST(1.0 AS DOUBLE))) * CAST(100.0 AS DOUBLE) * CAST(0.2 AS DOUBLE), 4) AS q_score "
        "FROM c"
    )

    o["text_tokens"] = (
        f"WITH t AS (SELECT doc_id, {toks} AS tk FROM documents) "
        "SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, "
        "CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_tokens FROM t"
    )

    # reproduces synthetic_media deterministically in SQL: payload =
    # sha256 digest of 'media-<i>' repeated (1+i%4)× — so hex(payload)
    # is the hex string repeated, and the stub's feature bytes are the
    # sha256 of that hex string (DuckDB sha256 is VARCHAR-only)
    o["multimodal_features"] = """
WITH m AS (
  SELECT i AS media_id,
         ['image','audio','video'][(i % 3) + 1] AS kind,
         repeat(sha256('media-' || i), 1 + (i % 4)) AS payload_hex
  FROM (SELECT unnest(generate_series(0, 63)) AS i)
)
SELECT media_id, kind,
       CAST(length(payload_hex) // 2 AS BIGINT) AS n_bytes,
       array_to_string(list_transform(generate_series(1, 16),
          j -> CAST(CAST('0x' || substr(sha256(payload_hex), 2*j - 1, 2) AS INT) AS VARCHAR)), ',') AS feature_q
FROM m
"""

    # Gopher repetition signals: list lambdas mirror the Spark HOFs
    # exactly; counts stay integers so the hash compare is exact
    o["text_repetition"] = f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
g AS (
  SELECT doc_id, tk,
         CASE WHEN len(tk) >= 2
              THEN list_transform(generate_series(1, len(tk)-1),
                                  i -> tk[i] || ' ' || tk[i+1])
              ELSE [] END AS g2,
         CASE WHEN len(tk) >= 3
              THEN list_transform(generate_series(1, len(tk)-2),
                                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
              ELSE [] END AS g3
  FROM t)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_aggregate(list_transform(list_distinct(tk),
              x -> len(list_filter(tk, e -> e = x))), 'max'), 0) AS BIGINT)
         AS top_token_count,
       CAST(len(g2) AS BIGINT) AS n_2grams,
       CAST(len(list_distinct(g2)) AS BIGINT) AS uniq_2grams,
       CAST(len(g3) AS BIGINT) AS n_3grams,
       CAST(len(list_distinct(g3)) AS BIGINT) AS uniq_3grams
FROM g
"""

    o["text_fingerprint"] = (
        f"WITH t AS (SELECT doc_id, {toks} AS tk FROM documents), "
        f"h AS (SELECT doc_id, list_transform(tk, s -> {H60_SQL.format(s='s')} % {P}) AS hs FROM t) "
        f"SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), hs), "
        f"(acc, x) -> (acc * 31 + x) % {P}) AS fingerprint FROM h"
    )

    # connected components: DuckDB replays the same star-edge
    # construction, then takes min-over-reachable via a recursive CTE
    # (transitive closure — fine at oracle scale; Spark uses the
    # O(log² n)-round star contraction instead)
    o["dedup_components"] = """
WITH RECURSIVE
e1 AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY substr(text, 1, 8)) AS m FROM documents),
e2 AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY substr(text, 4, 8)) AS m FROM documents),
edges AS (
  SELECT m AS u, doc_id AS v FROM e1 WHERE doc_id <> m
  UNION
  SELECT m, doc_id FROM e2 WHERE doc_id <> m),
bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT b.v, reach.r FROM reach JOIN bidir b ON b.u = reach.id)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""

    o["text_topk_ngrams"] = f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
shingles AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t)-2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [] END) AS s
  FROM toks),
d AS (SELECT DISTINCT doc_id, s FROM shingles)
SELECT s AS ngram, CAST(count(*) AS BIGINT) AS df
FROM d GROUP BY s ORDER BY df DESC, ngram ASC LIMIT 100
"""

    # boilerplate removal: same df > frac*N rule, reassembly via
    # ORDER BY inside string_agg; LEFT JOIN keeps all-boilerplate
    # documents with an empty clean_text
    o["text_boilerplate"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
n AS (SELECT count(*) AS nd FROM t),
units AS (
  SELECT doc_id, u.pos AS pos, u.unit AS unit
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ls)),
                                     i -> {'pos': i, 'unit': ls[i]})) AS u
        FROM t)),
df AS (
  SELECT unit, count(*) AS d
  FROM (SELECT DISTINCT doc_id, unit FROM units) GROUP BY unit),
boiler AS (SELECT unit FROM df, n WHERE d > 0.5 * nd),
kept AS (SELECT * FROM units WHERE unit NOT IN (SELECT unit FROM boiler)),
agg AS (SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT t.doc_id AS id, coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_kept
FROM t LEFT JOIN agg a USING (doc_id)
"""

    # deterministic split/sample: DuckDB replays the 32-bit md5-prefix
    # bucket with a hex cast (validated equal to Spark's conv(.,16,10))
    _bucket = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
               "AS BIGINT)")
    o["corpus_split"] = f"""
WITH b AS (SELECT doc_id, {_bucket} % 100 AS bk FROM documents)
SELECT doc_id,
       CASE WHEN bk < 98 THEN 'train'
            WHEN bk < 99 THEN 'valid'
            ELSE 'test' END AS split
FROM b
"""

    o["corpus_sample"] = f"""
SELECT doc_id FROM documents WHERE {_bucket} % 1000000 < 100000
"""

    # corpus mixing: floor(w) copies + one iff bucket < frac(w)·10^6
    # (thresholds pre-rounded driver-side, same literals both engines)
    o["corpus_resample"] = f"""
WITH n AS (
  SELECT doc_id, source,
         CASE WHEN source = 'src0'
                THEN 2 + CAST({_bucket} % 1000000 < 500000 AS INT)
              WHEN source = 'src1'
                THEN 0 + CAST({_bucket} % 1000000 < 250000 AS INT)
              ELSE 1 END AS nc
  FROM documents)
SELECT doc_id, source, unnest(generate_series(0, nc - 1)) AS copy
FROM n WHERE nc > 0
"""

    # token budget: maximal prefix in (bucket, id) order with
    # cumulative whitespace-token count <= 15000 (ids are unique so
    # the default RANGE frame equals ROWS; every doc tokenizes to >=1)
    o["corpus_token_budget"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({toks}) AS BIGINT) AS ntok,
         {_bucket} % 1000000 AS bk
  FROM documents),
c AS (
  SELECT doc_id, SUM(ntok) OVER (ORDER BY bk, doc_id) AS cum FROM t)
SELECT doc_id FROM c WHERE cum <= 15000
"""

    # training-order shuffle: shard + within-shard rank from two
    # independently salted md5 buckets (doc_id breaks bucket ties)
    _shard_b = ("CAST(('0x' || substr(md5('|shard' || CAST(doc_id AS "
                "VARCHAR)), 1, 8)) AS BIGINT)")
    _order_b = ("CAST(('0x' || substr(md5('|order' || CAST(doc_id AS "
                "VARCHAR)), 1, 8)) AS BIGINT)")
    o["corpus_shuffle"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(({_shard_b} % 1000000) % 8 AS INT) AS shard,
         {_order_b} % 1000000 AS ord
  FROM documents)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1
            AS BIGINT) AS shard_pos
FROM t
"""

    # URL blocklist: same regexes + precedence (scheme > host > word);
    # host blocks by exact-or-dot-suffix, words match the tail only
    o["url_filter"] = """
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 11 = 0 THEN 'ftp' ELSE 'https' END)
         || '://'
         || (['news.example.org','ads.tracker.net','blog.example.org',
              'sub.ads.tracker.net','shop.example.com'])[CAST(doc_id % 5 AS INT) + 1]
         || '/'
         || (CASE WHEN doc_id % 7 = 0 THEN 'casino' ELSE 'article' END)
         || '/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
r AS (SELECT doc_id, url, lower(url) AS lu FROM u)
SELECT doc_id, url,
       CASE WHEN regexp_extract(lu, '^([a-z][a-z0-9+.-]*)://', 1)
                 NOT IN ('http', 'https') THEN 'scheme'
            WHEN regexp_extract(lu, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)
                 = 'ads.tracker.net'
                 OR ends_with(
                      regexp_extract(lu, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                      '.ads.tracker.net') THEN 'host'
            WHEN contains(
                   regexp_extract(lu, '^[a-z][a-z0-9+.-]*://[^/?#]+(.*)$', 1),
                   'casino') THEN 'word'
            ELSE NULL END AS url_block_reason
FROM r
"""

    # SURT-keyed capture index: same canonicalization pipeline as
    # operators/urlindex.surt_key, replayed step-for-step (userinfo,
    # trailing dot, default ports, one www. label, port after the
    # reversed labels, sorted query params, fragment dropped)
    # per-host rollup: same SURT chain as url_index, aggregated by
    # the reversed-host prefix before ')'
    o["host_stats"] = """
WITH u AS (
  SELECT CASE WHEN doc_id % 17 = 0 THEN 'page-' || CAST(doc_id AS VARCHAR)
         ELSE 'https://'
           || (['www.News.example.org','news.example.org:443',
                'user:pw@blog.example.org.','cdn.example.net:8080',
                'shop.example.com'])[CAST(doc_id % 5 AS INT) + 1]
           || (CASE WHEN doc_id % 7 = 0 THEN ''
               ELSE '/a/' || CAST(doc_id % 41 AS VARCHAR) END)
           || (CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1'
                    WHEN doc_id % 3 = 1 THEN '?z=9#frag'
                    ELSE '' END)
         END AS url,
         1704067200 + doc_id % 997 AS ts
  FROM documents),
p AS (
  SELECT url, ts, lower(url) AS lu,
         regexp_extract(lower(url),
                        '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS auth,
         regexp_extract(lower(url),
                        '^[a-z][a-z0-9+.-]*://[^/?#]+(.*)$', 1) AS tail
  FROM u),
h AS (
  SELECT url, ts, auth, tail,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(auth, '^[^@]*@', ''),
               '\\.$', ''),
             ':(80|443)$', ''),
           '^www\\.', '') AS host
  FROM p),
k AS (
  SELECT url, ts,
         CASE WHEN auth = '' THEN NULL ELSE
           array_to_string(
             list_reverse(
               string_split(regexp_replace(host, ':[0-9]+$', ''), '.')),
             ',')
           || (CASE WHEN regexp_extract(host, ':([0-9]+)$', 1) <> ''
               THEN ':' || regexp_extract(host, ':([0-9]+)$', 1)
               ELSE '' END)
           || ')'
           || (CASE WHEN regexp_extract(tail, '^([^?#]*)', 1) = ''
               THEN '/' ELSE regexp_extract(tail, '^([^?#]*)', 1) END)
           || (CASE WHEN regexp_extract(tail, '\\?([^#]*)', 1) <> ''
               THEN '?' || array_to_string(
                 list_sort(
                   string_split(
                     regexp_extract(tail, '\\?([^#]*)', 1), '&')),
                 '&')
               ELSE '' END)
         END AS surt_key
  FROM h)
SELECT split_part(surt_key, ')', 1) AS host_key,
       CAST(count(*) AS BIGINT) AS n_captures,
       CAST(count(DISTINCT surt_key) AS BIGINT) AS n_urls,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM k
WHERE surt_key IS NOT NULL
GROUP BY 1
"""

    # webgraph PageRank: href regexp → host canon (any port drops) →
    # weighted edges → 5 damped iterations as chained CTEs; ROUND(6)
    # on both sides per the repo's cross-engine float rule
    def _wg_host(x: str) -> str:
        return (
            f"CASE WHEN regexp_extract(lower({x}), "
            "'^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) = '' THEN NULL ELSE "
            "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
            f"regexp_extract(lower({x}), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), "
            "'^[^@]*@', ''), '\\.$', ''), ':[0-9]+$', ''), '^www\\.', '') END"
        )

    _wg_iters = "".join(f""",
r{i} AS (
  SELECT h.host,
         CAST(0.15 AS DOUBLE) / nn.n
         + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib, 0) AS rank
  FROM hosts h CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst_host AS host,
           sum(r.rank * e.n_links / od.out_w) AS contrib
    FROM edges e
    JOIN r{i - 1} r ON r.host = e.src_host
    JOIN outdeg od ON od.src_host = e.src_host
    GROUP BY e.dst_host) c ON c.host = h.host)""" for i in range(1, 6))
    o["host_rank"] = f"""
WITH pages AS (
  SELECT 'https://h' || CAST(doc_id % 23 AS VARCHAR)
           || '.example/p' || CAST(doc_id AS VARCHAR) AS url,
         '<a href="https://h' || CAST((doc_id * 7 + 3) % 23 AS VARCHAR)
           || '.example/x">t</a><a href="https://h'
           || CAST((doc_id * 11 + 5) % 23 AS VARCHAR)
           || '.example/y">s</a>' AS html
  FROM documents),
links AS (
  SELECT url AS src_url,
         unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href
  FROM pages),
e0 AS (
  SELECT {_wg_host('src_url')} AS src_host,
         {_wg_host('href')} AS dst_host
  FROM links),
edges AS (
  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
  FROM e0
  WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
    AND src_host <> dst_host
  GROUP BY 1, 2),
hosts AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM edges
    UNION ALL SELECT dst_host FROM edges)),
nn AS (SELECT count(*) AS n FROM hosts),
outdeg AS (SELECT src_host, sum(n_links) AS out_w FROM edges GROUP BY 1),
r0 AS (
  SELECT host, CAST(1.0 AS DOUBLE) / nn.n AS rank
  FROM hosts CROSS JOIN nn){_wg_iters}
SELECT host, round(rank, 6) AS rank FROM r5
"""

    # domain graph: PSL-lite registered-domain mapping replayed via
    # list ops, then re-aggregation (sum cast back to BIGINT —
    # DuckDB widens sums to HUGEINT)
    def _wg_domain(h: str) -> str:
        l = f"string_split({h}, '.')"
        return (
            f"CASE WHEN len({l}) <= 1 THEN {h} "
            f"WHEN len({l}) >= 3 AND length(({l})[len({l})]) = 2 "
            f"AND ({l})[len({l}) - 1] IN "
            "('co','com','net','org','gov','edu','ac','or','ne','go') "
            f"THEN ({l})[len({l}) - 2] || '.' || ({l})[len({l}) - 1] "
            f"|| '.' || ({l})[len({l})] "
            f"ELSE ({l})[len({l}) - 1] || '.' || ({l})[len({l})] END"
        )

    o["domain_graph"] = f"""
WITH e AS (
  SELECT 's' || CAST(doc_id % 3 AS VARCHAR) || '.'
           || (['example.org','example.co.uk','shop.example.com.au',
                'localhost','example.com.net'])[CAST(doc_id % 5 AS INT) + 1]
           AS src_host,
         'd' || CAST(doc_id % 4 AS VARCHAR) || '.'
           || (['example.org','example.co.uk','shop.example.com.au',
                'localhost','example.com.net'])[CAST((doc_id + 2) % 5 AS INT) + 1]
           AS dst_host,
         doc_id % 7 + 1 AS n_links
  FROM documents),
d AS (
  SELECT {_wg_domain('src_host')} AS src_domain,
         {_wg_domain('dst_host')} AS dst_domain,
         n_links
  FROM e)
SELECT src_domain, dst_domain, CAST(sum(n_links) AS BIGINT) AS n_links
FROM d
WHERE src_domain <> dst_domain
GROUP BY 1, 2
"""

    # anchor texts: same element regexp, the two capture groups
    # zipped positionally (DuckDB zips parallel unnests by position)
    o["anchor_texts"] = """
WITH pages AS (
  SELECT 'https://h' || CAST(doc_id % 23 AS VARCHAR)
           || '.example/p' || CAST(doc_id AS VARCHAR) AS url,
         '<p>x</p><a class="l" href="https://h'
           || CAST((doc_id * 7 + 3) % 23 AS VARCHAR)
           || '.example/x">anchor ' || CAST(doc_id % 5 AS VARCHAR)
           || '</a><a href="/rel' || CAST(doc_id AS VARCHAR)
           || '">rel text</a>' AS html
  FROM documents)
SELECT url AS src_url,
       unnest(regexp_extract_all(html,
         '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1)) AS href,
       unnest(regexp_extract_all(html,
         '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2)) AS anchor
FROM pages
"""

    # crawl diff: full-outer join of two synthesized crawls' digests
    o["crawl_diff"] = """
WITH d AS (SELECT doc_id FROM documents),
old AS (
  SELECT 'org,example)/p/' || CAST(doc_id AS VARCHAR) AS surt_key,
         'd' || CAST(doc_id AS VARCHAR) AS digest
  FROM d WHERE doc_id % 10 <> 0),
new AS (
  SELECT 'org,example)/p/' || CAST(doc_id AS VARCHAR) AS surt_key,
         'd' || CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id + 1000000
                          ELSE doc_id END AS VARCHAR) AS digest
  FROM d WHERE doc_id % 9 <> 0)
SELECT COALESCE(old.surt_key, new.surt_key) AS surt_key,
       CASE WHEN old.digest IS NULL THEN 'new'
            WHEN new.digest IS NULL THEN 'gone'
            WHEN old.digest = new.digest THEN 'same'
            ELSE 'changed' END AS status,
       old.digest AS old_digest,
       new.digest AS new_digest
FROM old FULL OUTER JOIN new ON old.surt_key = new.surt_key
"""

    o["url_index"] = """
WITH u AS (
  SELECT CASE WHEN doc_id % 17 = 0 THEN 'page-' || CAST(doc_id AS VARCHAR)
         ELSE 'https://'
           || (['www.News.example.org','news.example.org:443',
                'user:pw@blog.example.org.','cdn.example.net:8080',
                'shop.example.com'])[CAST(doc_id % 5 AS INT) + 1]
           || (CASE WHEN doc_id % 7 = 0 THEN ''
               ELSE '/a/' || CAST(doc_id % 41 AS VARCHAR) END)
           || (CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1'
                    WHEN doc_id % 3 = 1 THEN '?z=9#frag'
                    ELSE '' END)
         END AS url,
         1704067200 + doc_id % 997 AS warc_ts
  FROM documents),
p AS (
  SELECT url, warc_ts, lower(url) AS lu,
         regexp_extract(lower(url),
                        '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS auth,
         regexp_extract(lower(url),
                        '^[a-z][a-z0-9+.-]*://[^/?#]+(.*)$', 1) AS tail
  FROM u),
h AS (
  SELECT url, warc_ts, auth, tail,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(auth, '^[^@]*@', ''),
               '\\.$', ''),
             ':(80|443)$', ''),
           '^www\\.', '') AS host
  FROM p),
k AS (
  SELECT url, warc_ts,
         CASE WHEN auth = '' THEN NULL ELSE
           array_to_string(
             list_reverse(
               string_split(regexp_replace(host, ':[0-9]+$', ''), '.')),
             ',')
           || (CASE WHEN regexp_extract(host, ':([0-9]+)$', 1) <> ''
               THEN ':' || regexp_extract(host, ':([0-9]+)$', 1)
               ELSE '' END)
           || ')'
           || (CASE WHEN regexp_extract(tail, '^([^?#]*)', 1) = ''
               THEN '/' ELSE regexp_extract(tail, '^([^?#]*)', 1) END)
           || (CASE WHEN regexp_extract(tail, '\\?([^#]*)', 1) <> ''
               THEN '?' || array_to_string(
                 list_sort(
                   string_split(
                     regexp_extract(tail, '\\?([^#]*)', 1), '&')),
                 '&')
               ELSE '' END)
         END AS surt_key
  FROM h)
SELECT surt_key,
       CAST(count(*) AS BIGINT) AS n_captures,
       min(warc_ts) AS first_ts,
       max(warc_ts) AS last_ts,
       min(url) AS url
FROM k
GROUP BY surt_key
"""

    # unigram NLL: -ln(count/total) averaged per doc; ROUND on both
    # sides per the repo's cross-engine float rule
    o["text_nll"] = f"""
WITH e AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents),
c AS (SELECT tok, count(*) AS c FROM e GROUP BY tok),
t AS (SELECT sum(c) AS t FROM c)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(c.c / t.t)), 4) AS avg_nll
FROM e JOIN c USING (tok) CROSS JOIN t
GROUP BY e.doc_id
"""

    # hashed TF: same md5-prefix bucket as the split/sample oracles,
    # dense vector rebuilt as an ordered csv of exact integer counts
    o["text_tf_embed"] = f"""
WITH e AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
b AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS INT) AS bk
  FROM e),
c AS (SELECT doc_id, bk, CAST(count(*) AS INT) AS v FROM b GROUP BY doc_id, bk),
g AS (
  SELECT d.doc_id, u.i
  FROM (SELECT DISTINCT doc_id FROM documents) d,
       unnest(generate_series(0, 15)) AS u(i)),
j AS (
  SELECT g.doc_id, g.i, coalesce(c.v, 0) AS v
  FROM g LEFT JOIN c ON g.doc_id = c.doc_id AND g.i = c.bk)
SELECT doc_id, string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS tf_csv
FROM j GROUP BY doc_id
"""

    # span dedup: k=5 windows duplicated across >=2 distinct docs
    # (min<>max doc per gram hash) mark their 5 positions covered;
    # kept tokens rejoin with single spaces in index order
    o["span_dedup"] = f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
g AS (
  SELECT doc_id, i AS pos,
         md5(list_aggregate(tk[i+1:i+5], 'string_agg', ' ')) AS gh
  FROM t, unnest(generate_series(0, len(tk)-5)) AS u(i)
  WHERE len(tk) >= 5),
d AS (SELECT gh FROM g GROUP BY gh HAVING min(doc_id) <> max(doc_id)),
cov AS (
  SELECT DISTINCT g.doc_id, u.j
  FROM g JOIN d USING (gh), unnest(generate_series(g.pos, g.pos+4)) AS u(j)),
toks AS (
  SELECT doc_id, i AS idx, tk[i+1] AS tok
  FROM t, unnest(generate_series(0, len(tk)-1)) AS u(i)),
kept AS (
  SELECT toks.doc_id, idx, tok
  FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc_id AND toks.idx = cov.j
  WHERE cov.j IS NULL),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text
  FROM kept GROUP BY doc_id),
rem AS (SELECT doc_id, count(*) AS nr FROM cov GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(coalesce(rem.nr, 0) AS BIGINT) AS n_removed
FROM t
LEFT JOIN agg a USING (doc_id)
LEFT JOIN rem USING (doc_id)
"""

    # PII scrub: same backreference-free patterns under RE2 ('g' =
    # replace all, Spark's regexp_replace default)
    o["text_redact"] = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted_text
FROM documents
"""

    toks4 = TOKS_SQL.format(col="text")
    o["decontaminate"] = f"""
WITH toks AS (SELECT doc_id, {toks4} AS t FROM documents),
shingles AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 4
                THEN list_transform(generate_series(1, len(t)-3),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                ELSE [] END) AS s
  FROM toks),
d AS (SELECT DISTINCT doc_id, {H60_SQL.format(s='s')} AS sh FROM shingles),
ev AS (SELECT DISTINCT sh FROM d WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, sh FROM d WHERE doc_id % 50 <> 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM tr JOIN ev USING (sh) GROUP BY doc_id
"""

    o["corpus_rollup"] = """
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP (source, lang)
"""

    o["corpus_pack"] = """
SELECT source, doc_id,
       CAST(floor(cb / 4096) AS BIGINT) AS seq_id,
       CAST(cb % 4096 AS BIGINT) AS seq_offset
FROM (SELECT source, doc_id,
             coalesce(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM documents)
"""

    # NB classifier: same Laplace-smoothed LLR chain, lang='en' seed
    o["text_nb"] = f"""
WITH lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
  FROM documents),
e AS (SELECT doc_id, y, unnest({toks}) AS tok FROM lab),
c AS (
  SELECT tok, CAST(sum(y) AS BIGINT) AS c1,
         CAST(sum(1 - y) AS BIGINT) AS c0
  FROM e GROUP BY tok),
t AS (SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c0) AS BIGINT) AS t0,
             CAST(count(*) AS BIGINT) AS v FROM c)
SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln((c.c1 + 1.0) / (t.t1 + t.v))
                 - ln((c.c0 + 1.0) / (t.t0 + t.v))), 4) AS nb_score
FROM e JOIN c USING (tok) CROSS JOIN t
GROUP BY e.doc_id
"""

    # BPE-ish pre-tokenizer count: RE2 replays the identical pattern
    o["text_bpe_tokens"] = f"""
SELECT doc_id,
       CAST(len({toks}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text,
         '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'))
         AS BIGINT) AS n_bpe_tokens
FROM documents
"""

    # recrawl scheduling: lag-window transition count + the pinned
    # (changes+1)/(span+prior) * age estimator, replayed step by step
    o["recrawl_priority"] = """
WITH caps AS (
  SELECT 'org,h' || CAST((doc_id % 50) % 7 AS VARCHAR)
           || ')/p/' || CAST(doc_id % 50 AS VARCHAR) AS surt_key,
         1000 + doc_id AS ts,
         'd' || CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS VARCHAR)
           AS digest
  FROM documents),
w AS (
  SELECT surt_key, ts, digest,
         lag(digest) OVER (PARTITION BY surt_key
                            ORDER BY ts NULLS FIRST, digest NULLS FIRST) AS prev
  FROM caps),
s AS (
  SELECT surt_key,
         CAST(count(*) AS BIGINT) AS n_captures,
         CAST(sum(CASE WHEN prev IS NOT NULL AND digest IS NOT NULL
                       AND digest <> prev THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changes,
         CAST(min(ts) AS BIGINT) AS first_ts,
         CAST(max(ts) AS BIGINT) AS last_ts
  FROM w GROUP BY surt_key)
SELECT surt_key, split_part(surt_key, ')', 1) AS host_key,
       n_captures, n_changes, last_ts,
       round((n_changes + 1.0) / (last_ts - first_ts + 2592000.0)
             * greatest(999999 - last_ts, 0), 6) AS priority
FROM s
"""

    # sitemap-lastmod boost: the recrawl estimator CTE chain + claim
    # join + known-stale CASE, replayed step for step
    o["recrawl_lastmod"] = """
WITH caps AS (
  SELECT 'org,h' || CAST((doc_id % 50) % 7 AS VARCHAR)
           || ')/p/' || CAST(doc_id % 50 AS VARCHAR) AS surt_key,
         1000 + doc_id AS ts,
         'd' || CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS VARCHAR)
           AS digest
  FROM documents),
w AS (
  SELECT surt_key, ts, digest,
         lag(digest) OVER (PARTITION BY surt_key
                            ORDER BY ts NULLS FIRST, digest NULLS FIRST) AS prev
  FROM caps),
s AS (
  SELECT surt_key,
         CAST(count(*) AS BIGINT) AS n_captures,
         CAST(sum(CASE WHEN prev IS NOT NULL AND digest IS NOT NULL
                       AND digest <> prev THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changes,
         CAST(min(ts) AS BIGINT) AS first_ts,
         CAST(max(ts) AS BIGINT) AS last_ts
  FROM w GROUP BY surt_key),
p AS (
  SELECT surt_key, split_part(surt_key, ')', 1) AS host_key,
         n_captures, n_changes, last_ts,
         round((n_changes + 1.0) / (last_ts - first_ts + 2592000.0)
               * greatest(999999 - last_ts, 0), 6) AS priority
  FROM s),
claims AS (
  SELECT 'org,h' || CAST(g % 7 AS VARCHAR) || ')/p/' || CAST(g AS VARCHAR)
           AS surt_key,
         CAST(CASE WHEN g % 4 = 0 THEN 999000 ELSE 1 END AS BIGINT)
           AS lastmod_ts
  FROM (SELECT DISTINCT doc_id % 50 AS g FROM documents) WHERE g % 2 = 0),
best AS (
  SELECT surt_key, CAST(max(lastmod_ts) AS BIGINT) AS lm
  FROM claims GROUP BY surt_key)
SELECT p.surt_key, p.host_key, p.n_captures, p.n_changes, p.last_ts,
       p.priority,
       coalesce(best.lm > p.last_ts, FALSE) AS lastmod_stale,
       CASE WHEN coalesce(best.lm > p.last_ts, FALSE)
            THEN round(p.priority + 32768.0, 6)
            ELSE p.priority END AS boosted_priority
FROM p LEFT JOIN best USING (surt_key)
"""

    return o
