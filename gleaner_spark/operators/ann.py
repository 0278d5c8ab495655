"""Approximate nearest neighbors over an embedding column.

- ``brute_force_topk``: exact cosine top-k (the correctness
  baseline; O(Q×N), fine when the query set is bounded/broadcast).
- ``lsh_topk``: random-hyperplane LSH with BANDED multi-table
  signatures — ``n_tables`` independent tables of ``n_planes`` bits
  each, so the bucket count (2^n_planes per table) grows with N
  while the tables recover recall (a pair only needs to collide in
  ONE table). The bucket key is the shuffle key; per-bucket exact
  rerank.
- ``ivf_topk``: IVF coarse quantization — deterministic k-means,
  cluster id as the shuffle key, multi-probe rerank.

Scale notes (the 100-TB shapes):
- k-means iterations never explode rows: each partition emits ONE
  (cluster, sum_vec, count) partial per cluster via ``mapInPandas``
  (vs. a posexplode of N×dim rows — 7.7×10^10 rows/iteration at
  10^8×768) and only K×P tiny partials reach the driver.
- the (id, double-vec) projection is computed once and persisted
  across the iters+2 passes (assignment, probes, rerank).
- planes/centroids are deterministic (md5 parity / lowest-id init)
  so results are reproducible without RNG state.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame


def _as_double(vec_col):
    return F.transform(vec_col, lambda x: x.cast("double"))


@F.pandas_udf(T.DoubleType())
def _pair_cosine(qv: pd.Series, nv: pd.Series) -> pd.Series:
    """Arrow-batched row-wise cosine over two vector columns, rounded
    to 9 decimals like every ranking comparison in this module (the
    sequential-fold higher-order-function cosine it replaced was
    IEEE-exact vs DuckDB's list_reduce but interpreted per element —
    ~5×dim lambda steps per pair, the hot path of a rerank)."""
    qm = _norm_rows(np.array(qv.tolist(), dtype=np.float64))
    nm = _norm_rows(np.array(nv.tolist(), dtype=np.float64))
    return pd.Series(np.round(np.einsum("ij,ij->i", qm, nm), 9))


def _rank_window():
    """Top-k rank ordering on the cosine ROUNDED to 9 decimals (the
    emitted ``cos`` column stays full precision): near-tied cosines at
    the rank-k boundary could otherwise reorder between engines whose
    summation order differs (numpy pairwise vs sequential — ADVICE
    r3); after rounding, sub-1e-9 differences collapse to an exact tie
    broken deterministically by nbr_id on both sides."""
    return Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 9)), F.asc("nbr_id")
    )


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "vec_id", qvec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors per query (self-match excluded).
    Deterministic tie-break on neighbor id.

    Shape: the bounded query set is collected into one numpy matrix
    (it was a broadcast side already — same driver bound, documented
    precondition); each base partition computes a single BLAS
    sims block and emits only its LOCAL top-k per query, so the rank
    window sees ≤ P×Q×k rows instead of Q×N (map-side top-k — the
    global top-k of per-partition top-k lists is exact because the
    (rounded cos desc, nbr_id asc) order is total). The old shape —
    broadcast crossJoin + a higher-order-function cosine per pair —
    evaluated ~5×dim interpreted lambda steps per pair; the matmul
    is two orders of magnitude faster and Arrow ships each base
    vector once per partition instead of once per pair."""
    q_rows = (
        queries.select(
            F.col(qid_col).alias("query_id"), _as_double(F.col(qvec_col)).alias("qv")
        )
        .collect()
    )
    if not q_rows:
        spark = embeddings.sparkSession
        return local_frame(
            spark, [], "query_id long, nbr_id long, rank integer, cos double"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_mat = _norm_rows(np.array([r["qv"] for r in q_rows], dtype=np.float64))
    bc = embeddings.sparkSession.sparkContext.broadcast((q_ids, q_mat))
    kk = k

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("nbr_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def part_topk(batches):
        ids_q, qm = bc.value
        nq = len(ids_q)
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["nbr_id"].to_numpy(dtype=np.int64)
            nm = _norm_rows(np.array(pdf["nv"].tolist(), dtype=np.float64))
            # rounded sims for SELECTION (same 9-decimal trick as the
            # rank window / the oracle's round(...,9) — near-tied
            # cosines must not reorder between engines)
            sims = np.round(qm @ nm.T, 9)
            sims[ids_q[:, None] == nid[None, :]] = -np.inf  # self-match
            take = min(kk, sims.shape[1])
            # lexsort: primary rounded-cos desc, secondary nbr_id asc
            order = np.lexsort((nid[None, :].repeat(nq, 0), -sims), axis=1)[:, :take]
            rows = {
                "query_id": np.repeat(ids_q, take),
                "nbr_id": nid[order].ravel(),
                "cos": np.take_along_axis(sims, order, axis=1).ravel(),
            }
            out = pd.DataFrame(rows)
            yield out[np.isfinite(out["cos"])]

    base = embeddings.select(
        F.col(id_col).alias("nbr_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    scored = base.mapInPandas(part_topk, out_schema)
    w = _rank_window()
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cos")
    )


def _planes(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (md5 parity), independent per table."""
    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{table}:{p}:{d}".encode()).digest()[0]
            row.append(1.0 if h & 1 else -1.0)
        out.append(row)
    return out


def lsh_bucket_keys(dim: int, n_planes: int, n_tables: int):
    """Arrow-batched bucket assignment: one matmul against the full
    (n_tables×n_planes, dim) plane matrix per batch, bits packed into
    one integer code per table → ["<table>:<code>", ...]."""
    pl = np.array(
        [row for t in range(n_tables) for row in _planes(dim, n_planes, t)],
        dtype=np.float64,
    )
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def keys(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        # sign test on the dot ROUNDED to 9 decimals: numpy's matmul
        # (SIMD/pairwise summation) and a sequential engine (the DuckDB
        # oracle's list_dot_product) can disagree in the last ulps, and
        # a dot near 0 would flip the bucket bit between engines
        # (ADVICE r3). Same fixed-precision trick as the k-means
        # centroid rounding. This is the ONLY bucket implementation —
        # a JVM-expression twin was removed because F.round (HALF_UP)
        # and np.round (half-to-even) disagree on exact decimal ties,
        # an intra-engine divergence no rounding trick closes.
        bits = np.round(m @ pl.T, 9) >= 0.0  # (B, T*P)
        codes = bits.reshape(len(m), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(
            [[f"{t}:{codes[b, t]}" for t in range(n_tables)] for b in range(len(m))]
        )

    return keys


def lsh_topk(embeddings: DataFrame, k: int = 5, n_planes: int = 8,
             n_tables: int = 4, dim: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Banded multi-table LSH top-k (the scale path).

    Sizing: bucket count per table is 2^n_planes — pick n_planes ≈
    log2(N / wanted_bucket_size) so the per-bucket self-join stays
    O(N·bucket_size) regardless of N; n_tables trades shuffle volume
    (N×T rows) for recall.

    Shuffle shape (VERDICT r2 #4): the bucket self-join carries IDS
    ONLY — shipping the vectors through it would move ~2·N·T·dim
    doubles and re-ship every multi-table duplicate pair. Candidate
    (query_id, nbr_id) pairs are deduped while still id-width, then
    the vectors join back once per side for the exact cosine rerank
    (pinned by plan test: no ``v`` in the bucket exchange)."""
    vecs = embeddings.select(
        F.col(id_col).alias("vid"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    banded = (
        vecs.withColumn("keys", lsh_bucket_keys(dim, n_planes, n_tables)(F.col("v")))
        .select("vid", F.explode("keys").alias("bucket"))
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") != F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("query_id"), F.col("b.vid").alias("nbr_id"))
        # a pair colliding in several tables appears once per table:
        # collapse while the rows are still two ids wide
        .distinct()
    )
    scored = (
        pairs
        .join(vecs.select(F.col("vid").alias("nbr_id"), F.col("v").alias("nv")), "nbr_id")
        # query side joins LAST so the output arrives hash-partitioned
        # by query_id — the rank window reuses it instead of adding a
        # fourth exchange
        .join(vecs.select(F.col("vid").alias("query_id"), F.col("v").alias("qv")), "query_id")
        .withColumn("cos", _pair_cosine(F.col("qv"), F.col("nv")))
    )
    w = _rank_window()
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cos")
    )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------

def _norm_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def kmeans_centroids(embeddings: DataFrame, n_centroids: int = 16,
                     iters: int = 3, id_col: str = "vec_id",
                     vec_col: str = "embedding"):
    """Deterministic Lloyd's k-means for IVF coarse quantization.

    Init = the ``n_centroids`` lowest-id vectors. Each iteration is
    ONE pass over the (persisted) vectors: every partition computes
    cosine-argmin assignments against the broadcast centroids and
    emits a single (cluster, count, sum_vec) partial per non-empty
    cluster; the driver reduces the K×P partials. No row explosion,
    no full-assignment shuffle."""
    base = embeddings.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
    )
    cents, _cached = _kmeans_on(base, n_centroids, iters)
    _cached.unpersist()
    return cents


def _kmeans_on(base: DataFrame, n_centroids: int, iters: int):
    """k-means over a (vid, v:array<double>) frame; returns
    (centroids, persisted_frame) — caller owns the unpersist."""
    spark = base.sparkSession
    # a small parquet scans as ONE split (maxPartitionBytes) — every
    # Arrow pass (iterations, assignment, rerank) would serialize on
    # a single core; fan out before pinning in the cache. No-op when
    # the scan is already wide (CC-scale inputs arrive partitioned).
    target = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < max(target // 2, 2):
        base = base.repartition(target)
    base = base.persist()
    first = base.orderBy("vid").limit(n_centroids).collect()
    cents = np.array([r["v"] for r in first], dtype=np.float64)
    dim = cents.shape[1]

    schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
        ]
    )

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            c = bc.value
            cn = _norm_rows(c)
            kk = len(c)
            sums = np.zeros((kk, dim), dtype=np.float64)
            cnt = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                m = np.array(pdf["v"].tolist(), dtype=np.float64)
                if not len(m):
                    continue
                # rounded sims (argmax ties → lowest cluster, matching
                # the oracle's ORDER BY cos DESC, cluster ASC replay)
                a = np.argmax(np.round(_norm_rows(m) @ cn.T, 9), axis=1)
                np.add.at(cnt, a, 1)
                for cl in np.unique(a):
                    sums[cl] += m[a == cl].sum(axis=0)
            nz = np.nonzero(cnt)[0]
            if len(nz):
                yield pd.DataFrame(
                    {
                        "cluster": nz.astype("int32"),
                        "cnt": cnt[nz],
                        "s": [sums[i].tolist() for i in nz],
                    }
                )

        parts = base.select("v").mapInPandas(partials, schema).collect()
        sums = np.zeros((n_centroids, dim), dtype=np.float64)
        cnt = np.zeros(n_centroids, dtype=np.int64)
        for r in sorted(parts, key=lambda r: r["cluster"]):
            sums[r["cluster"]] += np.asarray(r["s"], dtype=np.float64)
            cnt[r["cluster"]] += r["cnt"]
        new = cents.copy()
        nz = cnt > 0
        new[nz] = sums[nz] / cnt[nz, None]
        # round the means so the centroids are invariant to partition
        # count / partial-sum addition order (float addition is not
        # associative): the same input yields bit-identical centroids
        # on local[2] and on a 1000-executor cluster, and the DuckDB
        # oracle can replay the iteration exactly
        cents = np.round(new, 9)
    return cents, base


def assign_clusters(embeddings: DataFrame, centroids, id_col: str = "vec_id",
                    vec_col: str = "embedding", n_probe: int = 1,
                    out_col: str = "cluster") -> DataFrame:
    """Nearest-centroid assignment (n_probe=1) or multi-probe list —
    one Arrow-batched matmul per batch against broadcast centroids."""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    multi = n_probe > 1
    out_type = T.ArrayType(T.IntegerType()) if multi else T.IntegerType()

    @F.pandas_udf(out_type)
    def nearest(vecs: pd.Series) -> pd.Series:
        c = bc.value
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        m = np.array(vecs.tolist(), dtype=np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        # rounded like the centroids: argmax/argsort over near-tied
        # similarities must agree with a sequential-summation engine
        sims = np.round(mn @ cn.T, 9)
        if multi:
            # stable sort: exact-tie probes (duplicate centroids) break
            # toward the lowest cluster id, deterministically
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            return pd.Series([row.astype("int32").tolist() for row in idx])
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    return embeddings.withColumn(out_col, nearest(_as_double(F.col(vec_col))))


def _salted_cells(probed: DataFrame, n_probe: int,
                  max_cell_size: int | None) -> tuple[DataFrame, DataFrame]:
    """(base, probes) join sides for the per-cell rerank, with hot
    cells SALTED when ``max_cell_size`` is set: a cell holding c >
    max members splits into ceil(c/max) sub-cells (base side hashed
    by id, probe side replicated over every sub-cell), so the rerank
    join key (cluster, sub) carries a bounded build side per task
    while producing the exact same candidate pairs — recall is
    unchanged by construction. The per-cell counts are K rows
    (K = n_centroids, driver-bounded), not a data-scale collect."""
    base = probed.select(
        F.col("vid").alias("nbr_id"),
        F.col("v").alias("nv"),
        F.element_at("probes", 1).alias("cluster"),
    )
    probes = probed.select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(F.slice("probes", 1, max(n_probe, 1))).alias("cluster"),
    )
    if not max_cell_size:
        return base.withColumn("sub", F.lit(0)), probes.withColumn("sub", F.lit(0))
    counts = base.groupBy("cluster").agg(F.count("*").alias("c")).collect()
    splits = {
        int(r["cluster"]): -(-int(r["c"]) // max_cell_size)
        for r in counts
        if int(r["c"]) > max_cell_size
    }
    if not splits:
        return base.withColumn("sub", F.lit(0)), probes.withColumn("sub", F.lit(0))
    pairs = []
    for cl, s in splits.items():
        pairs += [F.lit(cl), F.lit(s)]
    smap = F.create_map(*pairs)
    nsub = F.coalesce(smap.getItem(F.col("cluster")), F.lit(1))
    base = base.withColumn(
        "sub", F.pmod(F.xxhash64(F.col("nbr_id").cast("string")), nsub.cast("long")).cast("int")
    )
    probes = probes.withColumn(
        "sub", F.explode(F.sequence(F.lit(0), nsub.cast("int") - 1))
    )
    return base, probes


def ivf_topk(embeddings: DataFrame, k: int = 5, n_centroids: int = 16,
             n_probe: int = 2, iters: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding",
             max_cell_size: int | None = None) -> DataFrame:
    """IVF self-search: coarse-quantize once, then each vector probes
    its ``n_probe`` nearest cells and reranks exactly within them.

    Scale shape: the inverted file is the shuffle key (cluster id) —
    candidates co-locate per cell, no all-pairs crossJoin; centroids
    are a broadcast literal; ONE fused assignment pass computes both
    the home cell (probes[0] — argsort top-1 IS the argmax) and the
    probe list, over the same persisted frame the k-means iterated
    on. ``max_cell_size`` guards the hot-cell skew k-means can leave
    (one giant cell → one giant rerank task): see _salted_cells.

    Cache lifecycle: the probe assignment is persisted generation-
    swapped (a later ivf_topk call releases it) and materialized
    eagerly so the k-means scratch frame can be released here rather
    than leaking (ADVICE r2)."""
    from ._cache import swap_persist

    base0 = embeddings.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
    )
    cents, cached = _kmeans_on(base0, n_centroids, iters)
    probed = swap_persist("ivf_probed", assign_clusters(
        cached, cents, id_col="vid", vec_col="v",
        n_probe=max(n_probe, 1) if n_probe > 1 else 2, out_col="probes",
    ))[0]
    probed.count()  # materialize through the k-means cache…
    cached.unpersist()  # …then drop it (probed carries everything needed)
    base, probes = _salted_cells(probed, n_probe, max_cell_size)
    scored = _cell_rerank(probes, base, k)
    w = _rank_window()
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cos")
    )


def _cell_rerank(probes: DataFrame, base: DataFrame, k: int) -> DataFrame:
    """Per-cell exact rerank as a cogrouped BLAS kernel (same pattern
    as the grid near-dup): each (cluster, sub) cell cogroups its probe
    vectors against its members and computes ONE matmul, emitting only
    the cell-local top-k per query — exact for the global top-k
    because a global winner is a fortiori a winner within its own
    cell, and a (query, nbr) pair lands in exactly one cell (the nbr's
    home cell, one sub). The old shape — an equi-join producing every
    candidate pair and a higher-order-function cosine per pair —
    evaluated ~5×dim interpreted lambda steps per pair and pushed all
    ~N×n_probe×cell_size rows through the rank window; this ships each
    vector once per cell and windows ≤ N×n_probe×k rows. Sims are
    rounded to 9 decimals for selection, matching the rank window and
    the DuckDB oracle."""
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("nbr_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame(
        {
            "query_id": pd.Series(dtype="int64"),
            "nbr_id": pd.Series(dtype="int64"),
            "cos": pd.Series(dtype="float64"),
        }
    )

    def rerank(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return empty
        qid = left["query_id"].to_numpy(dtype=np.int64)
        nid = right["nbr_id"].to_numpy(dtype=np.int64)
        qm = _norm_rows(np.array(left["qv"].tolist(), dtype=np.float64))
        nm = _norm_rows(np.array(right["nv"].tolist(), dtype=np.float64))
        sims = np.round(qm @ nm.T, 9)
        sims[qid[:, None] == nid[None, :]] = -np.inf  # self-match
        take = min(k, sims.shape[1])
        order = np.lexsort(
            (np.broadcast_to(nid, sims.shape), -sims), axis=1
        )[:, :take]
        out = pd.DataFrame(
            {
                "query_id": np.repeat(qid, take),
                "nbr_id": nid[order].ravel(),
                "cos": np.take_along_axis(sims, order, axis=1).ravel(),
            }
        )
        return out[np.isfinite(out["cos"])]

    return (
        probes.groupBy("cluster", "sub")
        .cogroup(base.groupBy("cluster", "sub"))
        .applyInPandas(rerank, out_schema)
    )
