"""Training-data deduplication suite over a documents table.

Five strategies, all expressed as DataFrame compositions (shuffle
budget noted per op); these extend the harvester's (source,sha)
dedup (S27) to the fuzzy regimes a 100 TB text pipeline needs.

Scale notes:
- exact:     one hash-shuffle on the content hash (map-side partial
             agg); at CC scale partition the hash space.
- minhash:   K permutation mins fold into ONE groupBy (K agg columns,
             map-side combine — ~n_docs shuffled rows, no K× row
             blowup); LSH banding turns O(n²) pairs into per-bucket
             joins. Bands/rows tune recall.
- simhash:   B per-bit majority aggregates in one groupBy; duplicates
             collide on the full signature (or band for hamming<k).
- ngram:     exact Jaccard via shingle-hash self-join; the join key
             is the shingle hash so co-occurrence shuffles only
             matching shingles; the per-doc shingle distinct is a
             map-side array_distinct (the exploded shingle set — the
             widest table in the plan — is exchanged exactly once,
             by the self-join's own repartition). Integer-ratio
             threshold avoids float drift across engines.
- embedding: cosine over array<float>; brute-force for verification,
             LSH-bucketed variant in operators/ann.py for scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X

P = X.HASH_PRIME


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: keeper (min id) + count."""
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """A small parquet file scans as ONE split (maxPartitionBytes),
    which would run the whole tokenize/explode chain on a single core;
    fan out first. No-op when the scan is already wide (at CC scale
    the input arrives pre-partitioned — never add a shuffle there)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def shingle_hashes(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, shingle_hash) pairs — ZERO exchanges.

    The distinct happens inside each row: ``array_distinct`` over the
    row's own shingle-string array replaces the old global
    ``.distinct()``, which exchanged the exploded shingle set — the
    widest table in every fuzzy-dedup plan (~10× the corpus bytes at
    n=3). Equivalent because each input row owns its doc_id, so no
    (doc_id, shingle) duplicate can span rows (precondition, the
    natural key of a documents table: ``id_col`` unique per row).
    The md5 hashing stays on the EXPLODED rows, where it whole-stage-
    codegens; hashing inside a ``transform`` over the shingle array
    instead measured the same (2,000 docs of 50-400 tokens, local[4],
    4-vCPU VM). Distinct-on-strings vs the old distinct-on-hashes
    differs only if two distinct shingles of ONE doc collide in the
    60-bit hash (~2⁻⁶⁰ per pair; the DuckDB oracle contract verifies
    the fixed corpora)."""
    return (
        _ensure_parallelism(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select(
            "doc_id",
            F.explode(F.array_distinct(X.word_shingles(F.col(text_col), n))).alias("shingle"),
        )
        .select("doc_id", X.md5_long(F.col("shingle")).alias("sh"))
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold_pct: int = 80,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Pairs with n-gram Jaccard ≥ threshold_pct/100, computed with
    integer arithmetic only (inter*100 >= pct*union).

    ``max_shingle_df`` is the 100-TB guard rail: a shingle occurring
    in d documents contributes d² rows to the self-join, so one
    boilerplate 3-gram shared by 10^6 docs is 10^12 join rows. The
    cap drops shingles with document frequency > cap from BOTH the
    join and the size counts (Jaccard over the capped shingle
    universe — standard df-capping; when no shingle exceeds the cap
    the output is bit-identical to the exact variant, pinned by
    test). None = exact (the oracle-contract variant)."""
    # the (doc_id, sh) set feeds the size count, the df cap, and BOTH
    # sides of the self-join — compute the tokenize/explode/distinct
    # chain once and pin it (generation-swapped: a later call releases
    # this persist, ADVICE r2; one tag for both variants, so a capped
    # call releases an uncapped generation and vice versa, ADVICE r3).
    #
    # Explicit co-partitioning on the join key either way: the shingle
    # set is byte-small but the self-join is compute-dense, so AQE's
    # byte-based coalescing would squeeze it onto a few tasks; an
    # explicit repartition pins the width and is reused by BOTH sides
    # (one exchange, co-partitioned join).
    from ._cache import swap_persist

    par = max(docs.sparkSession.sparkContext.defaultParallelism, 8)
    sh = shingle_hashes(docs, id_col, text_col, n)
    if max_shingle_df is not None:
        # df-cap folded into the join's own exchange (VERDICT r3 #2):
        # repartition on sh once, count document frequency with a
        # window over those partitions (adds a sort, no new exchange —
        # the old count-agg + left-semi shape paid two extra exchanges
        # and a second persist), filter, and persist the capped set
        # already co-partitioned for the self-join below.
        sh_p = swap_persist(
            "ngram_sh",
            sh.repartition(par, "sh")
            .withColumn("df", F.count("*").over(Window.partitionBy("sh")))
            .filter(F.col("df") <= max_shingle_df)
            .drop("df"),
        )[0]
        sizes_src = sh_p
    else:
        sizes_src = swap_persist("ngram_sh", sh)[0]
        sh_p = sizes_src.repartition(par, "sh")
    # Jaccard over the (possibly capped) shingle universe; per-doc
    # sizes groupBy map-side-combines to ~n_docs shuffled rows
    sizes = sizes_src.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh_p.alias("a")
    b = sh_p.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .filter(F.col("inter") * 100 >= F.lit(threshold_pct) * F.col("uni"))
        .select("id_a", "id_b", "inter", "uni")
    )


def _perm_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic permutation coefficients (shared literal values
    with the SQL oracle)."""
    return [((2 * j + 1) * 1_000_003 % P, (j * j + j + 41) % P) for j in range(k)]


def signatures_from_hashes(sh: DataFrame, k: int = 16) -> DataFrame:
    """K-permutation MinHash over (doc_id, sh) pairs in a single
    groupBy (K agg columns — map-side combine, no row explosion)."""
    h = F.col("sh") % P
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % P).alias(f"mh{j}")
        for j, (a, b) in enumerate(_perm_coeffs(k))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 16, n: int = 3) -> DataFrame:
    return signatures_from_hashes(shingle_hashes(docs, id_col, text_col, n), k)


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4, rows: int = 4) -> DataFrame:
    """Band signatures → bucket join → candidate pairs (id_a<id_b)."""
    band_keys = F.array(
        *[
            F.md5(F.concat_ws(",", *[F.col(f"mh{b * rows + r}") for r in range(rows)]))
            for b in range(bands)
        ]
    )
    banded = signatures.select(
        "doc_id", F.posexplode(band_keys).alias("band", "key")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 16,
                      bands: int = 4, rows: int = 4, n: int = 3,
                      threshold_pct: int = 80) -> DataFrame:
    """shingle → minhash → band-bucket join → exact-Jaccard verify.

    Output: verified near-duplicate pairs among LSH candidates. The
    (doc_id, shingle_hash) set feeds BOTH the signatures and the
    verification join — computed once and persisted (tokenize +
    explode is the most expensive stage; generation-swapped so
    repeated calls don't accumulate storage, ADVICE r2; the per-doc
    distinct is exchange-free, see shingle_hashes)."""
    from ._cache import swap_persist

    sh = swap_persist("minhash_sh", shingle_hashes(docs, id_col, text_col, n))[0]
    sigs = signatures_from_hashes(sh, k)
    cands = lsh_candidate_pairs(sigs, bands, rows)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh"))
    inter = (
        cands.join(a, "id_a").join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .filter(F.col("inter") * 100 >= F.lit(threshold_pct) * F.col("uni"))
        .select("id_a", "id_b", "inter", "uni")
    )


SIMHASH_BITS = 32


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-bit majority vote over token hashes, one groupBy with
    ``bits`` agg columns; signature reassembled JVM-side."""
    tok = _ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    ).select(
        "doc_id",
        F.explode(X.tokens(F.col(text_col))).alias("tok"),
    ).withColumn("th", X.md5_long(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_duplicates(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Docs whose full simhash signatures collide."""
    s = simhash(docs, id_col, text_col)
    return (
        s.groupBy("simhash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").cast("long").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def embedding_near_duplicates(embeddings: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95,
                              n_blocks: int | None = None) -> DataFrame:
    """Exact all-pairs cosine near-dup pairs via GRID TILING — fully
    distributed, nothing ever reaches the driver.

    Vectors hash into ``B`` blocks; each vector replicates to the B
    grid cells (min(b,j), max(b,j)) it participates in; each cell is
    one ``applyInPandas`` group computing a block×block BLAS matmul.
    An unordered pair (x,y) lands in exactly one cell, so the output
    is exact and duplicate-free. Cost model at scale: shuffle is
    N×B rows, a cell holds ≤ 2N/B vectors — pick B so a cell fits an
    executor (B ≈ N·dim·8·2 / mem_per_task). Exact all-pairs is
    inherently O(N²/B) compute; beyond ~10^7 vectors route through
    the LSH/IVF candidate paths in operators/ann.py instead."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = embeddings.sparkSession
    B = n_blocks or max(2, int(math.ceil(math.sqrt(spark.sparkContext.defaultParallelism * 2))))
    e = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    grid = (
        e.select("vid", "v", "blk", F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("j"))
        .select(
            "vid", "v", "blk",
            F.least("blk", "j").alias("ga"),
            F.greatest("blk", "j").alias("gb"),
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                          "id_b": pd.Series(dtype="int64"),
                          "cos": pd.Series(dtype="float64")})

    def cell_pairs(key, pdf):
        ga, gb = int(key[0]), int(key[1])
        if len(pdf) < 2:
            return empty
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        matn = mat / norms
        if ga == gb:
            # threshold compare on the ROUNDED cosine: numpy's pairwise
            # summation and a sequential engine (the DuckDB oracle) can
            # disagree in the last ulps, flipping a cosine sitting
            # exactly on the threshold (ADVICE r3)
            sims = np.round(matn @ matn.T, 9)
            ii, jj = np.nonzero(sims >= threshold)
            ia, ib = ids[ii], ids[jj]
            keep = ia < ib  # upper triangle, no self-pairs
            return pd.DataFrame(
                {"id_a": ia[keep], "id_b": ib[keep], "cos": sims[ii, jj][keep]}
            )
        a_side = (pdf["blk"].to_numpy() == ga)
        if not a_side.any() or a_side.all():
            return empty
        sims = np.round(matn[a_side] @ matn[~a_side].T, 9)
        ii, jj = np.nonzero(sims >= threshold)
        ia, ib = ids[a_side][ii], ids[~a_side][jj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cos": sims[ii, jj],
            }
        )

    return grid.groupBy("ga", "gb").applyInPandas(cell_pairs, out_schema)
