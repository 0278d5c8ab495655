"""Post-harvest corpus dedup plan (VERDICT r4 #6 — the LLM-pipeline
end state): compose the standalone dedup operators over a HARVESTED
lake's documents table, not just the synthetic testdata tables.

Two passes, both appended to the lake so downstream corpus builds
consume them as plain joins:

- ``dup_exact``: byte-identical document groups (one hash-shuffle
  groupBy over md5(jsonld)). The harvest's seen-set dedup (S27) keys
  on (source_name, unique_id), so identical CONTENT registered under
  different identifiers — cross-source mirrors, per-URL @ids over the
  same payload — survives it; this pass finds those. Keeper = min
  doc_id, the same deterministic-winner rule as the harvest dedup.
- ``dup_near``: MinHash+LSH candidate pairs verified by exact shingle
  Jaccard (operators/dedup.minhash_lsh_dedup) over the fixed JSON-LD
  text. Banded bucket join — never all-pairs — so the 100-TB shape is
  the LSH bucket histogram, not N².
- ``dup_clusters``: the cluster-assignment stage — exact-group star
  edges ∪ near pairs fed through large-star/small-star connected
  components (operators/components.py), so transitivity holds (A~B,
  B~C ⇒ one cluster) and every document gets (component, is_keeper).
  A corpus build keeps ``is_keeper`` rows; that single filter IS the
  dedup a training-data pipeline applies.

``doc_id`` is ``source_name + US + unique_id`` (US = 0x1f, a char no
URL/identifier contains): the harvest invariant makes that pair the
documents table's primary key, and a single id column is what the
pair operators key on. ``split_doc_id`` undoes it for consumers.

Reference parity note: the reference has no post-harvest dedup (its
seen-set IS its dedup, check.go); this plan is part of the
beyond-reference LLM-data-pipeline surface (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.components import dedup_clusters
from ..operators.dedup import exact_duplicates, minhash_lsh_dedup
from ..session import local_frame
from .lake import Lake

DOC_ID_SEP = "\x1f"


def corpus_doc_id() -> F.Column:
    return F.concat_ws(DOC_ID_SEP, F.col("source_name"), F.col("unique_id"))


def split_doc_id(df: DataFrame, id_col: str) -> DataFrame:
    """doc_id → (source_name, unique_id) columns for human-facing
    output; keeps the original id column."""
    parts = F.split(F.col(id_col), DOC_ID_SEP, 2)
    return df.withColumn(f"{id_col}_source", parts.getItem(0)).withColumn(
        f"{id_col}_unique_id", parts.getItem(1)
    )


def _exact_star_edges(base: DataFrame, exact_groups: DataFrame) -> DataFrame:
    """Linear member pairs for byte-identical groups: (keeper →
    member) star edges — the edge form the component stage consumes
    (a clique would be quadratic in group size for the same
    connectivity). Built by joining the WRITTEN ``dup_exact``
    snapshot's (content_hash, keeper_id) back to the documents on the
    recomputed hash: a plain hash-join, so a 10^6-copy boilerplate
    group costs a join lookup per member, never the single-task
    per-group window sort the unsalted ``min().over(partitionBy(k))``
    shape would take (the same hole the frontier build removed)."""
    g = exact_groups.select(F.col("content_hash").alias("k"), "keeper_id")
    return (
        base.select("doc_id", F.md5("text").alias("k"))
        .join(g, "k")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select(F.col("keeper_id").alias("id_a"), F.col("doc_id").alias("id_b"))
    )


def near_pairs_embedding(
    base: DataFrame, dim: int = 64, threshold_pct: int = 95
) -> DataFrame:
    """Near-dup pairs via hashed-TF cosine instead of MinHash: embed
    every document with the vocabulary-free hashing trick
    (operators/textops.hashed_tf) and run the grid-tiled exact cosine
    pass (operators/dedup.embedding_near_duplicates). Catches
    reorderings/paraphrases that shingle Jaccard scores low.

    Output schema matches the MinHash path — (id_a, id_b, inter, uni)
    with similarity = inter/uni — so ``dup_near`` snapshots from
    either method union in one lake table: inter = round(cos·10⁶),
    uni = 10⁶. The grid kernel keys on long ids, so string doc_ids
    ride through xxhash64 (collision odds ~N²/2⁶⁴ — negligible below
    ~10⁹ docs; above that, route through LSH/IVF anyway)."""
    from ..operators.dedup import embedding_near_duplicates
    from ..operators.textops import hashed_tf

    ids = base.select("doc_id").withColumn("_nid", F.xxhash64("doc_id"))
    emb = (
        hashed_tf(base, dim=dim, id_col="doc_id", text_col="text")
        .join(ids, "doc_id")
        .select(F.col("_nid").alias("vec_id"), "embedding")
    )
    pairs = embedding_near_duplicates(emb, threshold=threshold_pct / 100.0)
    a = ids.select(F.col("_nid").alias("id_a"), F.col("doc_id").alias("_da"))
    b = ids.select(F.col("_nid").alias("id_b"), F.col("doc_id").alias("_db"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            F.least("_da", "_db").alias("id_a"),
            F.greatest("_da", "_db").alias("id_b"),
            F.round(F.col("cos") * 1_000_000).cast("long").alias("inter"),
            F.lit(1_000_000).cast("long").alias("uni"),
        )
    )


def dedup_documents(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    n: int = 3,
    threshold_pct: int = 80,
    method: str = "minhash",
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """(exact duplicate groups, verified near-dup pairs) over a
    documents-table DataFrame. Exact groups: (content_hash, keeper_id,
    n_dups>1). Near pairs: (id_a, id_b, inter, uni) with
    inter/uni >= threshold_pct/100, id_a < id_b. ``method``:
    "minhash" (shingle Jaccard via banded LSH) or "embedding"
    (hashed-TF cosine via the grid kernel — see
    ``near_pairs_embedding``). Cluster assignment is
    a separate eager stage — ``cluster_documents`` — fed from the
    WRITTEN pair snapshot so the iterative component rounds never
    recompute the pair join."""
    base = docs.select(
        corpus_doc_id().alias("doc_id"), F.col("jsonld").alias("text")
    )
    exact = exact_duplicates(base)
    if method == "embedding":
        near = near_pairs_embedding(base, dim=dim, threshold_pct=threshold_pct)
    elif method == "minhash":
        near = minhash_lsh_dedup(
            base, k=k, bands=bands, rows=rows, n=n, threshold_pct=threshold_pct
        )
    else:
        raise ValueError(
            f"method must be 'minhash' or 'embedding', got {method!r}"
        )
    return exact, near


def cluster_documents(
    docs: DataFrame, exact_groups: DataFrame, near_pairs: DataFrame,
    keeper: str = "min_id",
) -> DataFrame:
    """(id, component, is_keeper) per document: connected components
    of exact-duplicate star edges ∪ near-dup pairs (iterative — runs
    Spark jobs eagerly; pass the materialized ``dup_exact`` /
    ``dup_near`` snapshots, not the unwritten logical plans, so the
    component rounds never recompute the LSH join).

    ``keeper``: "min_id" (the harvest dedup's deterministic-winner
    rule) or "quality" — re-pick each component's keeper as its
    highest ``q_score`` member (operators/textops.quality_scores over
    the stored JSON-LD; ties → min id), the keep-the-best-copy rule a
    training-data build wants when a cluster mixes a clean page with
    a boilerplate-wrapped mirror."""
    base = docs.select(
        corpus_doc_id().alias("doc_id"), F.col("jsonld").alias("text")
    )
    pairs = _exact_star_edges(base, exact_groups).unionByName(
        near_pairs.select("id_a", "id_b")
    )
    clusters = dedup_clusters(pairs, base.select("doc_id"), "doc_id")
    if keeper == "quality":
        from ..operators.components import reassign_keepers
        from ..operators.textops import quality_scores

        scores = quality_scores(base, text_col="text").select(
            F.col("doc_id").alias("id"), "q_score"
        )
        clusters = reassign_keepers(clusters, scores, score_col="q_score")
    elif keeper != "min_id":
        raise ValueError(f"keeper must be 'min_id' or 'quality', got {keeper!r}")
    return clusters


def run_corpus_dedup(
    spark: SparkSession,
    lake: Lake,
    run_id: str,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    n: int = 3,
    threshold_pct: int = 80,
    keeper: str = "min_id",
    method: str = "minhash",
    dim: int = 64,
) -> dict:
    """Read the lake's documents, run both passes, append ``dup_exact``
    / ``dup_near`` / ``dup_clusters`` snapshots, return the summary
    counts the CLI prints. Empty results still publish (flat 0-row
    parquet keeps the schema; only dataless PARTITIONED snapshots are
    refused)."""
    docs = lake.table("documents").read(spark)
    if docs is None:
        return {
            "run_id": run_id, "documents": 0, "exact_groups": 0,
            "exact_extra_copies": 0, "near_pairs": 0,
            "clusters": 0, "duplicate_docs": 0,
        }
    # every count rides the job that writes (or first scans) what it
    # counts: re-counting exact/near would re-run the shingle join, and
    # a count of a written snapshot is still one more job
    seen = {k: Observation() for k in ("docs", "exact", "near", "clusters")}
    exact, near = dedup_documents(
        docs.observe(seen["docs"], F.count(F.lit(1)).alias("n")),
        k=k, bands=bands, rows=rows, n=n, threshold_pct=threshold_pct,
        method=method, dim=dim,
    )
    exact_entry = lake.table("dup_exact").append(
        exact.observe(
            seen["exact"], F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_dups") - 1).alias("extra"),
        ),
        run_id=run_id,
    )
    near_entry = lake.table("dup_near").append(
        split_doc_id(split_doc_id(near, "id_a"), "id_b").observe(
            seen["near"], F.count(F.lit(1)).alias("n")
        ),
        run_id=run_id,
    )
    # cluster stage consumes the WRITTEN snapshots (no LSH recompute,
    # no per-group window over the exact groups)
    exact_snap = lake.table("dup_exact").read_snapshot(spark, exact_entry)
    near_snap = lake.table("dup_near").read_snapshot(spark, near_entry)
    exact_groups = (
        exact_snap.select("content_hash", "keeper_id")
        if exact_snap is not None
        else local_frame(spark, [], "content_hash string, keeper_id string")
    )
    near_pairs = (
        near_snap.select("id_a", "id_b") if near_snap is not None
        else local_frame(spark, [], "id_a string, id_b string")
    )
    clusters = cluster_documents(docs, exact_groups, near_pairs, keeper=keeper)
    clusters_entry = lake.table("dup_clusters").append(
        split_doc_id(clusters, "id").observe(
            seen["clusters"], F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_keeper"), 0).otherwise(1)).alias("dups"),
        ),
        run_id=run_id,
    )
    ex, cl = seen["exact"].get, seen["clusters"].get
    return {
        "run_id": run_id,
        "documents": seen["docs"].get["n"],
        "exact_groups": ex["n"],
        "exact_extra_copies": ex["extra"] or 0,
        "near_pairs": seen["near"].get["n"],
        "clusters": cl["n"] - (cl["dups"] or 0),
        "duplicate_docs": cl["dups"] or 0,
        "snapshots": {
            "dup_exact": exact_entry["snapshot_id"],
            "dup_near": near_entry["snapshot_id"],
            "dup_clusters": clusters_entry["snapshot_id"],
        },
    }
