"""Training-corpus build over a harvested + deduplicated lake.

The end state of the LLM-pipeline surface: one plan that takes the
harvest's ``documents`` table from raw to training-ready —

1. **keeper filter**: keep one document per duplicate cluster
   (``dup_clusters.is_keeper`` from the dedup CLI — transitive over
   exact ∪ near pairs, deterministic min-id winner);
2. **eval decontamination** (opt-in): drop documents sharing any
   word n-gram with a held-out benchmark set
   (operators/decontam.decontaminate — broadcast n-gram semi-join,
   no train-side wide shuffle);
3. **PII scrub**: mask emails/IPv4 (operators/textops.redact_pii,
   codegen regexp_replace);
4. **split assignment**: deterministic train/valid/test from the
   md5-prefix bucket of the doc id (operators/sampling.assign_splits
   — re-sharding can never move a document across the boundary);
5. **sequence packing**: concat-then-chunk context-window labels per
   source shard (operators/sampling.pack_sequences).

Everything after the keeper semi-join is a map-side column expression
except the packing window; the output appends to the lake as a
``corpus`` snapshot, so downstream trainers read one immutable table.

Scale shape: one broadcast-or-shuffled semi-join on doc_id (keeper
set), zero exchanges for scrub+split, one per-source window for
packing (semantic order — see pack_sequences), then the sink's
bounded-file clustering. No collects.

Reference parity: beyond-reference (SURVEY §2.4); the reference stops
at object storage (internal/summoner/acquire/acquire.go) and has no
corpus stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.decontam import DEFAULT_N, decontaminate
from ..operators.sampling import (
    assign_splits,
    pack_sequences,
    resample_sources,
    sample_token_budget,
    shuffle_shards,
)
from ..operators.textops import redact_pii
from .docdedup import corpus_doc_id, run_corpus_dedup, split_doc_id
from .lake import Lake

DEFAULT_SPLITS = (("train", 98), ("valid", 1), ("test", 1))


def build_corpus(
    docs: DataFrame,
    clusters: DataFrame,
    capacity: int = 4096,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    seed: str = "",
    eval_docs: DataFrame | None = None,
    decontam_n: int = DEFAULT_N,
    weights: dict[str, float] | None = None,
    token_budget: int | None = None,
    budget_tokenizer: str = "ws",
    n_shards: int | None = None,
    span_k: int | None = None,
    min_quality: float | None = None,
    max_nll: float | None = None,
    nb_seed_docs: DataFrame | None = None,
    min_nb: float | None = None,
    langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """(doc_id, copy, split, seq_id, seq_offset, shard, shard_pos,
    text) for every keeper document. ``clusters`` is the dup_clusters
    table (id, is_keeper). ``eval_docs`` (a DataFrame with a ``text``
    column) opts in to decontamination — runs on the RAW keeper text,
    before the PII scrub, so masking can never hide a benchmark
    n-gram. Three mixing knobs, all deterministic in (corpus, seed):

    - ``weights``: per-source up/down-sampling (resample_sources);
      replicas carry ``copy`` and a replica-distinct ``pack id`` so
      packing order stays total, but split assignment keys on the
      BASE doc_id — all copies of a document land in one split, so
      upsampling can never leak a training document into test.
    - ``token_budget``: keep the maximal hash-order prefix of the
      MIXED corpus (post-decontam, so dropped tokens don't count)
      whose whitespace-token mass ≤ budget.
    - ``n_shards``: training-order shuffle at SEQUENCE granularity —
      every row of a packed sequence shares (shard, shard_pos), so
      shards can be consumed round-robin as whole context windows.
      Off by default (shard=0, shard_pos NULL): the column set is
      fixed so every ``corpus`` snapshot in a lake shares one schema.
    """
    keepers = clusters.filter(F.col("is_keeper")).select(F.col("id").alias("doc_id"))
    base = docs.select(
        corpus_doc_id().alias("doc_id"),
        F.col("source_name"),
        F.col("jsonld").alias("text"),
    ).join(keepers, "doc_id", "semi")
    if langs:
        # CCNet-style language split: keep keepers whose detected
        # language (textops.language_id — stopword votes + CJK ratio,
        # pure map-side) is in the allowlist; first in the chain so
        # no later stage pays for off-language documents
        from ..operators.textops import language_id

        base = (
            language_id(base, text_col="text")
            .filter(F.col("predicted_lang").isin(*langs))
            .select("doc_id", "source_name", "text")
        )
    if min_quality is not None:
        # composite q_score in [0,100] (operators/textops.quality_scores
        # — length/stopword/punctuation heuristics); map-side filter,
        # first in the chain so every later stage (decontam explode,
        # span grams, packing) skips the junk entirely
        from ..operators.textops import quality_scores

        base = (
            quality_scores(base, text_col="text")
            .filter(F.col("q_score") >= min_quality)
            .select("doc_id", "source_name", "text")
        )
    if max_nll is not None:
        # CCNet-style LM gate: keep documents whose average unigram
        # NLL under the keeper corpus's own distribution stays below
        # the threshold (junk/mojibake/wrong-language scores high).
        # Trained on the post-min-quality keeper set, like CCNet
        # trains on the data it filters.
        from ..operators.textops import unigram_nll

        nll = unigram_nll(base, id_col="doc_id", text_col="text")
        base = base.join(
            nll.filter(F.col("avg_nll") <= max_nll).select("doc_id"),
            "doc_id", "semi",
        )
    if nb_seed_docs is not None:
        # fastText-style seed classifier gate (the GPT-3/CCNet "looks
        # like the curated seed" filter): train two-class NB with the
        # seed parquet as class 1 against the keeper corpus as class
        # 0, score every keeper, keep the seed-like head. Trained
        # after the cheap gates so the background class is what would
        # otherwise ship.
        from ..operators.textops import nb_seed_scores

        if min_nb is None:
            raise ValueError("nb_seed_docs requires min_nb")
        scores = nb_seed_scores(base, nb_seed_docs,
                                id_col="doc_id", text_col="text")
        base = base.join(
            scores.filter(F.col("nb_score") >= min_nb).select("doc_id"),
            "doc_id", "semi",
        )
    if eval_docs is not None:
        base = decontaminate(base, eval_docs, id_col="doc_id",
                             text_col="text", n=decontam_n)
    if span_k is not None:
        # span-level dedup on the KEEPER set (doc-level dedup already
        # collapsed whole-document copies; this strips boilerplate /
        # quoted passages recurring across the surviving docs), before
        # resampling so replicas can't vote a span "duplicated", and
        # before the PII scrub so masking can't split a span hash
        from ..operators.spandedup import remove_duplicate_spans

        base = remove_duplicate_spans(
            base, k=span_k, id_col="doc_id", text_col="text"
        ).select(
            "doc_id", "source_name", F.col("clean_text").alias("text")
        )
    if weights:
        base = resample_sources(base, weights, source_col="source_name",
                                id_col="doc_id", seed=seed)
    else:
        base = base.withColumn("copy", F.lit(0))
    base = base.withColumn(
        "pack_id", F.concat_ws("#", F.col("doc_id"), F.col("copy").cast("string"))
    )
    if token_budget is not None:
        # budget_tokenizer="bpe" counts context-window mass the way a
        # model tokenizer would (textops.bpe_token_stats rationale:
        # whitespace counts under-bill symbol-heavy text); the count
        # is a map-side column feeding the same prefix-sum sampler
        if budget_tokenizer == "bpe":
            from ..operators.textops import BPE_SPLIT_RE

            base = base.withColumn(
                "_budget_n",
                F.regexp_count(F.col("text"), F.lit(BPE_SPLIT_RE))
                .cast("long"),
            )
            base = sample_token_budget(
                base, token_budget, id_col="pack_id",
                tokens_col="_budget_n", seed=seed,
            ).drop("_budget_n")
        elif budget_tokenizer == "ws":
            base = sample_token_budget(base, token_budget, id_col="pack_id",
                                       text_col="text", seed=seed)
        else:
            raise ValueError(
                f"budget_tokenizer must be 'ws' or 'bpe', got "
                f"{budget_tokenizer!r}"
            )
    scrubbed = redact_pii(base, text_col="text", out_col="text_clean").select(
        "doc_id", "copy", "pack_id", "source_name",
        F.col("text_clean").alias("text"),
    )
    with_split = assign_splits(scrubbed, id_col="doc_id", splits=splits, seed=seed)
    packed = pack_sequences(
        with_split.withColumn("n_chars", F.length("text").cast("long")),
        capacity,
        id_col="pack_id",
        size_col="n_chars",
        part_col="source_name",
    )
    if n_shards:
        seqs = (
            packed.select("source_name", "seq_id").distinct()
            .withColumn(
                "_seq_key",
                F.concat_ws("/", "source_name", F.col("seq_id").cast("string")),
            )
        )
        sh = shuffle_shards(seqs, n_shards, id_col="_seq_key",
                            seed=seed).drop("_seq_key")
        packed = packed.join(sh, ["source_name", "seq_id"])
    else:
        packed = packed.withColumn("shard", F.lit(0)).withColumn(
            "shard_pos", F.lit(None).cast("long")
        )
    return packed.select(
        "doc_id", "copy", "split", "seq_id", "seq_offset",
        "shard", "shard_pos", "text",
    )


def run_corpus_build(
    spark: SparkSession,
    lake: Lake,
    run_id: str,
    capacity: int = 4096,
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    seed: str = "",
    eval_path: str | None = None,
    decontam_n: int = DEFAULT_N,
    weights: dict[str, float] | None = None,
    token_budget: int | None = None,
    budget_tokenizer: str = "ws",
    n_shards: int | None = None,
    keeper: str = "min_id",
    span_k: int | None = None,
    min_quality: float | None = None,
    max_nll: float | None = None,
    nb_seed_path: str | None = None,
    min_nb: float | None = None,
    langs: tuple[str, ...] | None = None,
) -> dict:
    """Build and append the ``corpus`` snapshot. Runs the dedup plan
    first when the lake has no ``dup_clusters`` table yet (one less
    footgun; an existing cluster table is reused as-is so dedup and
    corpus builds stay independently re-runnable)."""
    docs = lake.table("documents").read(spark)
    if docs is None:
        return {"run_id": run_id, "documents": 0, "corpus_docs": 0,
                "split_counts": {}, "sequences": 0}
    clusters = lake.table("dup_clusters").read(spark)
    if clusters is None:
        run_corpus_dedup(spark, lake, run_id=f"{run_id}-dedup", keeper=keeper)
        clusters = lake.table("dup_clusters").read(spark)
    eval_docs = spark.read.parquet(eval_path) if eval_path else None
    nb_seed_docs = spark.read.parquet(nb_seed_path) if nb_seed_path else None
    corpus = build_corpus(
        docs, clusters, capacity=capacity, splits=splits, seed=seed,
        eval_docs=eval_docs, decontam_n=decontam_n,
        weights=weights, token_budget=token_budget,
        budget_tokenizer=budget_tokenizer, n_shards=n_shards,
        span_k=span_k, min_quality=min_quality, max_nll=max_nll,
        nb_seed_docs=nb_seed_docs, min_nb=min_nb, langs=langs,
    )
    # the split counts ride the write; the distinct seq_id count and
    # the documents count keep their own jobs (an Observation has no
    # exact distinct count, and one below the keeper semi-join is
    # dropped when AQE prunes that join)
    written = Observation()
    entry = lake.table("corpus").append(
        split_doc_id(corpus, "doc_id").observe(written, *[
            F.count_if(F.col("split") == name).alias(f"n{i}")
            for i, (name, _) in enumerate(splits)
        ]),
        run_id=run_id,
    )
    counts = written.get
    split_counts = {
        name: counts[f"n{i}"]
        for i, (name, _) in enumerate(splits) if counts[f"n{i}"]
    }
    snap = lake.table("corpus").read_snapshot(spark, entry)
    n_seqs = snap.select("seq_id").distinct().count() if snap is not None else 0
    return {
        "run_id": run_id,
        "documents": docs.count(),
        "corpus_docs": sum(split_counts.values()),
        "split_counts": split_counts,
        "sequences": n_seqs,
        "snapshots": {"corpus": entry["snapshot_id"]},
    }
