"""Text analysis operators for training-data pipelines.

Language ID (stopword-vote heuristic), quality scoring, token
statistics, and document fingerprinting — all pure column
expressions (whole-stage codegen; no UDFs) with exact DuckDB
mirrors for the driver's oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as X


# every code language_id can emit — the CLI's --langs validation and
# any future consumer import THIS, so adding a language here can
# never desynchronize from an allowlist copy elsewhere
LANG_CODES = ("en", "de", "es", "fr", "zh", "unknown")


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Predict en/de/es/fr/zh/unknown: stopword votes for the
    space-tokenized languages, a CJK character-class ratio for
    Chinese (stopword votes are useless on unsegmented text — ≥30%
    CJK chars wins outright, integer cross-multiplied so no float
    crosses the engine boundary). Votes tie-break in fixed priority
    en > de > es > fr (stopword lists legitimately overlap across
    Romance/Germanic languages — 'de', 'es', 'la' — and the votes
    absorb it); all-zero votes → unknown. Pure column expressions,
    zero exchanges."""
    col = F.col(text_col)
    en = X.stopword_count(col, X.ENGLISH_STOPWORDS)
    de = X.stopword_count(col, X.GERMAN_STOPWORDS)
    es = X.stopword_count(col, X.SPANISH_STOPWORDS)
    fr = X.stopword_count(col, X.FRENCH_STOPWORDS)
    n_chars = F.length(col)
    cjk = F.length(F.regexp_replace(col, "[^" + X.CJK_CLASS[1:], ""))
    pred = (
        F.when((n_chars > 0) & (cjk * 10 >= n_chars * 3), F.lit("zh"))
        .when((en > 0) & (en >= F.greatest(de, es, fr)), F.lit("en"))
        .when((de > 0) & (de >= F.greatest(es, fr)), F.lit("de"))
        .when((es > 0) & (es >= fr), F.lit("es"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )
    return (
        docs.withColumn("en_hits", en).withColumn("de_hits", de)
        .withColumn("es_hits", es).withColumn("fr_hits", fr)
        .withColumn("cjk_chars", cjk.cast("long"))
        .withColumn("predicted_lang", pred)
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword-ratio features + a composite
    score in [0,100] (integer arithmetic where it feeds filters)."""
    n_chars = F.length(F.col(text_col)).cast("long")
    n_tokens = X.token_count(F.col(text_col))
    n_punct = X.punct_count(F.col(text_col))
    n_stop = X.stopword_count(F.col(text_col), X.ENGLISH_STOPWORDS)
    mean_tok_len = (n_chars / F.greatest(n_tokens, F.lit(1))).cast("double")
    stop_ratio = (n_stop / F.greatest(n_tokens, F.lit(1))).cast("double")
    punct_ratio = (n_punct / F.greatest(n_chars, F.lit(1))).cast("double")
    score = (
        F.least(n_tokens, F.lit(100)).cast("double") * 0.4
        + stop_ratio * F.lit(100.0) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))) * F.lit(100.0) * 0.2
    )
    return docs.select(
        "*",
        n_chars.alias("q_chars"),
        n_tokens.alias("q_tokens"),
        n_punct.alias("q_punct"),
        n_stop.alias("q_stopwords"),
        F.round(mean_tok_len, 4).alias("q_mean_token_len"),
        F.round(score, 4).alias("q_score"),
    )


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    toks = X.tokens(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


# GPT-2-style pre-tokenizer split, engine-portable: the reference
# pattern's \s+(?!\S) lookahead is not RE2-expressible, so runs of
# whitespace before a word collapse into one whitespace token here
# (GPT-2 would leave the last space to lead the word) — a documented
# deviation that only shifts counts on multi-space runs. Alternation
# branches are first-char disjoint except the contraction head, where
# first-match and leftmost-longest semantics provably agree, so Java
# regex (Spark) and RE2 (DuckDB) count identically — differential-
# pinned on unicode/contraction/symbol cases and by the driver oracle.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_stats(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Subword-aware token counting: the whitespace count beside a
    GPT-2-pre-tokenizer ("BPE-ish") count. Training budgets are set
    in model tokens, not words — prose runs ~1.3 pre-tokens per word
    while code/symbol-heavy text explodes ('a-b_c' is 1 word but 5
    pre-tokens) — so budget math on whitespace counts alone
    systematically over-fills context windows on exactly the
    documents quality filters most need to see. Returns (id,
    n_tokens, n_bpe_tokens); n_bpe_tokens/n_tokens is itself a junk
    signal (symbol soup scores high).

    Pure regexp_count column expressions — whole-stage codegen, zero
    exchanges, no UDFs; the 10^10-row shape is a map-only scan."""
    return docs.select(
        F.col(id_col),
        X.token_count(F.col(text_col)).alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_SPLIT_RE))
        .cast("long").alias("n_bpe_tokens"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(
        F.col(id_col),
        X.rolling_fingerprint(F.col(text_col)).alias("fingerprint"),
    )


def _top_token_count(toks) -> F.Column:
    """How often the most frequent token of ``toks`` occurs (0 for
    NULL): the longest run of equal tokens in the sorted array, found
    in one pass that carries (previous token, run, longest run)."""
    start = F.struct(
        F.lit(None).cast("string").alias("tok"),
        F.lit(0).alias("run"),
        F.lit(0).alias("top"),
    )

    def step(acc, t):
        run = F.when(t == acc["tok"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("tok"), run.alias("run"),
            F.greatest(acc["top"], run).alias("top"),
        )

    return F.coalesce(
        F.aggregate(F.array_sort(toks), start, step, lambda acc: acc["top"]),
        F.lit(0),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.
    2021 §A1.1: repetitious documents are low-quality): all INTEGER
    counts so filters cross-multiply instead of comparing floats —

    - ``n_tokens`` / ``top_token_count``: most-frequent-token share
      (Gopher drops docs whose top token exceeds a fraction);
    - ``n_2grams`` / ``uniq_2grams``, ``n_3grams`` / ``uniq_3grams``:
      duplicate-n-gram share (1 - uniq/n is the Gopher dup fraction).

    Scale shape: pure per-row column expressions over the row's own
    token array — zero exchanges, no UDFs. The top-token count sorts
    the row's tokens and scans them once (O(n log n) per row,
    JVM-side); documents are bounded (they fit in a row), so this
    never becomes a shuffle problem."""
    toks = X.tokens(F.col(text_col))
    g2 = X.word_shingles(F.col(text_col), 2)
    g3 = X.word_shingles(F.col(text_col), 3)
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        _top_token_count(toks).cast("long").alias("top_token_count"),
        F.size(g2).cast("long").alias("n_2grams"),
        F.size(F.array_distinct(g2)).cast("long").alias("uniq_2grams"),
        F.size(g3).cast("long").alias("n_3grams"),
        F.size(F.array_distinct(g3)).cast("long").alias("uniq_3grams"),
    )


def repetition_filter(docs: DataFrame, text_col: str = "text",
                      max_top_token_pct: int = 20,
                      min_uniq_2gram_pct: int = 50) -> DataFrame:
    """Drop repetitious documents: keep rows whose most-frequent
    token is ≤ ``max_top_token_pct``% of tokens AND whose distinct
    2-grams are ≥ ``min_uniq_2gram_pct``% of 2-grams. Thresholds are
    integer percents (cross-multiplied — no float comparisons).
    Documents too short to have 2-grams pass the 2-gram bar (nothing
    repeats in them)."""
    toks = X.tokens(F.col(text_col))
    top = _top_token_count(toks)
    g2 = X.word_shingles(F.col(text_col), 2)
    keep = (top * 100 <= F.size(toks) * max_top_token_pct) & (
        (F.size(g2) == 0)
        | (F.size(F.array_distinct(g2)) * 100 >= F.size(g2) * min_uniq_2gram_pct)
    )
    return docs.filter(keep)


def topk_ngrams(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = 3, k: int = 100) -> DataFrame:
    """Corpus vocabulary stats: the k n-grams with the highest
    document frequency (ties broken by n-gram text, so the cut is
    deterministic). This is the calibration input for the df-capped
    fuzzy dedup (``dedup.ngram_jaccard_pairs(max_shingle_df=...)``):
    at 100 TB you pick the cap by looking at this histogram's head.

    Scale shape: the per-doc distinct is a map-side ``array_distinct``
    (zero exchanges, same trick as ``dedup.shingle_hashes``); the df
    count is one hash-shuffle with map-side partial aggregation; the
    final ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject
    — per-partition top-k heaps merged on the driver, never a global
    sort exchange."""
    from .dedup import _ensure_parallelism

    sh = _ensure_parallelism(docs.select(text_col)).select(
        F.explode(
            F.array_distinct(X.word_shingles(F.col(text_col), n))
        ).alias("ngram")
    )
    return (
        sh.groupBy("ngram")
        .agg(F.count("*").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("ngram"))
        .limit(k)
    )


def remove_boilerplate(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", delimiter: str = " ",
                       max_df_frac: float = 0.5) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: split each document
    into units on ``delimiter``, drop every unit whose document
    frequency exceeds ``max_df_frac`` of the corpus, reassemble the
    survivors in original order. On real crawls the unit is the LINE
    (``delimiter="\\n"`` — nav bars, cookie banners, footers); the
    parameter exists because unit granularity is a corpus property,
    not an algorithm property.

    Returns (id, clean_text, n_kept) — one row per input document,
    including documents whose every unit was boilerplate (empty
    clean_text, n_kept = 0).

    Scale shape (two exchanges, both on narrow rows):
    1. df count: per-doc distinct is a map-side ``array_distinct``
       (zero exchanges — same precondition as ``shingle_hashes``:
       ``id_col`` unique per row), then ONE hash-shuffle with map-side
       partial counts.
    2. reassembly: ONE groupBy on ``id_col`` collecting (pos, unit)
       structs — unavoidable (a document's units must co-locate to
       rebuild it) and bounded per task by document size. Boilerplate
       membership is a broadcast LEFT join marking rows, filtered
       INSIDE the aggregate (``collect_list`` skips the NULLed-out
       structs): every document — including all-boilerplate ones —
       falls out of this single groupBy, so there is no corpus-wide
       re-join to restore empty documents (an anti-join + left-join
       formulation costs two more full-output exchanges at scale).
    The boilerplate set is broadcast: a unit with df > frac·N appears
    in > frac·N documents, so at most avg_units_per_doc / frac
    distinct units can qualify — corpus-size-independent. The corpus
    count rides a 1-row broadcast crossJoin so the plan stays lazy
    (no driver-side count action)."""
    import re as _re

    from .dedup import _ensure_parallelism

    # split takes a Java regex; the delimiter is a literal (escaped
    # here) so split and array_join stay exact inverses
    units_arr = F.split(F.col(text_col), _re.escape(delimiter), -1)
    base = _ensure_parallelism(docs.select(id_col, text_col))
    n_docs = base.agg(F.count("*").alias("nd"))
    per_doc = base.select(F.explode(F.array_distinct(units_arr)).alias("unit"))
    boiler = (
        per_doc.groupBy("unit")
        .agg(F.count("*").alias("d"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("d") > F.lit(max_df_frac) * F.col("nd"))
        .select("unit")
    )
    units = base.select(
        F.col(id_col), F.posexplode(units_arr).alias("pos", "unit")
    )
    marked = units.join(
        F.broadcast(boiler.withColumn("_boiler", F.lit(True))), "unit", "left"
    )
    keep = F.col("_boiler").isNull()
    agg = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "unit")))
                ),
                lambda s: s["unit"],
            ),
            delimiter,
        ).alias("clean_text"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
    )
    return agg.select(
        F.col(id_col).alias("id"), "clean_text", "n_kept"
    )


# Engine-portable PII patterns: no backreferences or lookarounds, so
# Java regex (Spark) and RE2 (DuckDB oracle) match identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"


def redact_pii(docs: DataFrame, text_col: str = "text",
               out_col: str = "redacted_text") -> DataFrame:
    """Mask emails and IPv4 addresses with typed placeholders — the
    scrub pass a training-data pipeline runs before anything leaves
    the raw zone. Pure ``regexp_replace`` column expressions
    (whole-stage codegen, zero exchanges, no UDFs); patterns are
    deliberately backreference-free so the DuckDB oracle replays them
    byte-identically under RE2."""
    red = F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    return docs.withColumn(out_col, red)


def unigram_nll(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", decimals: int = 4) -> DataFrame:
    """Corpus-trained statistical LM filter (the distributable analog
    of CCNet's KenLM perplexity gate): score every document by the
    average negative log-likelihood of its tokens under the corpus's
    OWN unigram distribution. Out-of-distribution junk (mojibake,
    boilerplate symbol soup, wrong-language fragments) scores high;
    typical prose scores low. Like CCNet, the model is trained on the
    data being filtered — no external artifact.

    Returns (id, n_tokens, avg_nll) with avg_nll = mean over tokens of
    -ln(count(token)/total_tokens), rounded to ``decimals`` so the
    cross-engine oracle compares stable literals (the repo's standard
    float-rounding rule).

    Scale shape: pass 1 aggregates token counts — ONE exchange with
    map-side partials over the exploded tokens; the corpus total is a
    one-row aggregate over that count table, folded back in as a
    broadcast cross join (a single Long rides the broadcast). Pass 2
    re-explodes the documents and hash-joins tokens to their counts
    (co-partitioned on the token), then one groupBy(id) with map-side
    partial sums. No UDFs, no collects, no windows."""
    toks = X.tokens(F.col(text_col))
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("_tok"))
    counts = exploded.groupBy("_tok").agg(F.count("*").alias("_c"))
    total = counts.agg(F.sum("_c").alias("_t"))
    scored = (
        exploded.join(counts, "_tok")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (-F.log(F.col("_c").cast("double") / F.col("_t"))).alias("_nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg("_nll"), decimals).alias("avg_nll"),
    )


def hashed_tf(docs: DataFrame, dim: int = 64, id_col: str = "doc_id",
              text_col: str = "text", norm: bool = True) -> DataFrame:
    """Feature-hashed term-frequency embedding (the hashing trick):
    every token buckets to ``pmod(md5-prefix, dim)`` and the document
    becomes the dense count vector — no vocabulary artifact, so the
    map is a pure function of the text and any two engines/runs agree.
    With ``norm=True`` the vector is L2-normalized (``array<float>``,
    cosine-ready for operators/ann.py and embedding_near_duplicates);
    ``norm=False`` returns the exact integer counts (``array<int>``,
    what the cross-engine oracle verifies).

    Scale shape: explode → one groupBy(id, bucket) count with map-side
    partials → one groupBy(id) building the dense vector from a
    bucket→count map (transform over a literal range; O(dim) per doc,
    JVM-side) — two exchanges, no UDFs, no collects. dim is a
    compile-time literal, so the vector build is whole-stage codegen.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = X.tokens(F.col(text_col))
    bucket = (
        F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
        % dim
    ).cast("int")
    counts = (
        docs.select(F.col(id_col), F.explode(toks).alias("_tok"))
        .select(id_col, bucket.alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count("*").cast("int").alias("_c"))
    )
    m = F.map_from_entries(F.collect_list(F.struct("_b", "_c")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(m, i.cast("int")), F.lit(0)),
    )
    out = counts.groupBy(id_col).agg(dense.alias("tf"))
    if not norm:
        return out
    sq = F.aggregate(
        "tf", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
    )
    return out.select(
        id_col,
        F.transform(
            "tf", lambda x: (x / F.sqrt(F.greatest(sq, F.lit(1e-12)))).cast("float")
        ).alias("embedding"),
    )


def _nb_llr(c1, c0, t1, t0, v):
    """Laplace-smoothed per-token log-likelihood ratio
    ln((c1+1)/(T1+V)) - ln((c0+1)/(T0+V)): positive means the token is
    evidence for class 1 (the seed/reference class)."""
    one = F.lit(1.0)
    return (
        F.log((c1.cast("double") + one) / (t1.cast("double") + v))
        - F.log((c0.cast("double") + one) / (t0.cast("double") + v))
    )


def nb_train(docs: DataFrame, label_col: str = "label",
             text_col: str = "text") -> DataFrame:
    """Train a two-class multinomial Naive Bayes token model — the
    distributable analog of the fastText "seed vs crawl" quality
    classifier used by GPT-3/CCNet-style corpus curation (train on a
    small curated seed labeled 1 against general crawl labeled 0,
    score everything, keep the seed-like head). No external model
    artifact: the classifier IS a DataFrame of per-token Laplace-
    smoothed log-likelihood ratios, so it broadcasts/joins/persists
    like any other table.

    Returns one row per distinct token: (_tok, _c1, _c0, _llr) where
    _llr = ln((c1+1)/(T1+V)) - ln((c0+1)/(T0+V)); every quantity is a
    deterministic function of the labeled corpus, so two engines (or
    a re-run on re-sharded input) produce the identical model.

    Scale shape: ONE hash exchange (groupBy token with map-side
    conditional partial sums); the class totals (T1, T0, V) are a
    one-row aggregate over the count table folded back as a broadcast
    cross join. No UDFs, no windows, no collects."""
    y = F.col(label_col).cast("int")
    exploded = docs.select(
        y.alias("_y"), F.explode(X.tokens(F.col(text_col))).alias("_tok")
    )
    counts = exploded.groupBy("_tok").agg(
        F.sum("_y").cast("long").alias("_c1"),
        F.sum(1 - F.col("_y")).cast("long").alias("_c0"),
    )
    tot = counts.agg(
        F.sum("_c1").alias("_t1"), F.sum("_c0").alias("_t0"),
        F.count("*").cast("long").alias("_v"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "_tok", "_c1", "_c0",
        _nb_llr(F.col("_c1"), F.col("_c0"), F.col("_t1"), F.col("_t0"),
                F.col("_v").cast("double")).alias("_llr"),
    )


def nb_quality(docs: DataFrame, label_col: str = "label",
               id_col: str = "doc_id", text_col: str = "text",
               decimals: int = 4) -> DataFrame:
    """Score every document by the mean per-token NB log-likelihood
    ratio of a model trained on the SAME labeled frame (the standard
    curation loop: label a seed slice 1, the rest 0, then rank all
    documents by seed-likeness and gate on the score). Positive
    nb_score = reads like the seed class; negative = reads like the
    background class. The mean (not the sum) is used so the score is
    length-invariant, like unigram_nll.

    Returns (id, n_tokens, nb_score) with nb_score rounded to
    ``decimals`` (the repo's cross-engine float rule).

    Scale shape: the train pass is nb_train's single exchange; the
    score pass re-explodes the documents and hash-joins tokens to
    their LLRs (co-partitioned on the token — every scored token
    exists in the model by construction, so the join is inner), then
    one groupBy(id) with map-side partial sums. Same two-exchange
    shape as unigram_nll. No UDFs, no windows, no collects."""
    model = nb_train(docs, label_col=label_col, text_col=text_col)
    exploded = docs.select(
        F.col(id_col), F.explode(X.tokens(F.col(text_col))).alias("_tok")
    )
    return (
        exploded.join(model, "_tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg("_llr"), decimals).alias("nb_score"),
        )
    )


def nb_seed_scores(docs: DataFrame, seed_docs: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   seed_text_col: str = "text",
                   decimals: int = 4) -> DataFrame:
    """The seed-classifier loop as one call: train two-class NB with
    ``seed_docs`` as class 1 against ``docs`` as class 0, then score
    every ``docs`` row (nb_train + nb_score_with). This is THE
    labeling convention shared by the corpus build's --nb-seed gate
    and the classify scorecard — one definition so the gate and the
    calibration table it is tuned from can never diverge."""
    labeled = seed_docs.select(
        F.lit(1).alias("label"), F.col(seed_text_col).alias("_txt")
    ).unionByName(
        docs.select(F.lit(0).alias("label"), F.col(text_col).alias("_txt"))
    )
    model = nb_train(labeled, text_col="_txt")
    return nb_score_with(docs, model, id_col=id_col, text_col=text_col,
                         decimals=decimals)


def nb_score_with(docs: DataFrame, model: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  decimals: int = 4) -> DataFrame:
    """Score UNLABELED documents with a model frame from nb_train —
    the deploy half of the curation loop (train once on the labeled
    seed+crawl sample, score every new crawl increment). Tokens the
    model never saw contribute the Laplace floor for both classes,
    ln((0+1)/(T1+V)) - ln((0+1)/(T0+V)) = ln((T0+V)/(T1+V)), i.e.
    only the class-size prior — derived here from the model frame
    itself so no scalar artifact travels beside it.

    Scale shape: one broadcast of the model's one-row totals, a
    left hash-join of exploded tokens against the model
    (co-partitioned on the token), one groupBy(id). Unseen tokens
    take the coalesce'd floor instead of dropping, so a document of
    entirely novel tokens still scores (pure prior)."""
    tot = model.agg(
        F.sum("_c1").alias("_t1"), F.sum("_c0").alias("_t0"),
        F.count("*").cast("long").alias("_v"),
    )
    floor = _nb_llr(F.lit(0), F.lit(0), F.col("_t1"), F.col("_t0"),
                    F.col("_v").cast("double"))
    exploded = docs.select(
        F.col(id_col), F.explode(X.tokens(F.col(text_col))).alias("_tok")
    )
    return (
        exploded.join(model.select("_tok", "_llr"), "_tok", "left")
        .crossJoin(F.broadcast(tot))
        .select(id_col, F.coalesce("_llr", floor).alias("_llr"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg("_llr"), decimals).alias("nb_score"),
        )
    )
