"""Connected components over near-duplicate pair graphs.

The missing final stage of corpus dedup: pair operators
(``dedup.py``/``ann.py``) emit near-duplicate EDGES, but a corpus
build needs CLUSTER assignments — every document labeled with its
component and one deterministic keeper per component. Transitivity
matters: A~B and B~C must land A, B, C in one cluster even when A~C
was never emitted as a pair.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC'14). Each round is two shuffles on node ids; the
edge set contracts toward a star forest (every node pointing at its
component minimum) in O(log² n) rounds — in practice a handful even
for 10^8-node dedup graphs, because near-dup components are shallow.
Contrast with naive label propagation, whose round count is the graph
DIAMETER (a 10^6-long chain of shingled boilerplate takes 10^6
rounds); the star algorithm collapses the same chain in ~20.

Scale shape per round: two groupBy-on-node-id aggregations plus a
join back to the (shrinking) edge list — no all-pairs, no driver
state beyond a 3-value convergence fingerprint per round. Lineage is
truncated every round with ``localCheckpoint`` so the plan does not
deepen with the iteration count, and the fingerprint rides that
checkpoint's job as an Observation: one job per round.

Determinism: every step takes minima, so the fixed point — and the
component labels (= min node id in the component) — is unique
regardless of partitioning or iteration interleaving.

Reference parity note: the reference has no graph stage at all (its
dedup is the seen-set point lookup, internal/check/sums.go); this is
part of the beyond-reference LLM-data-pipeline surface (SURVEY §2.4).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_CONSTRAINT_PROP = "spark.sql.constraintPropagation.enabled"


@contextmanager
def _constraint_propagation_disabled(spark):
    """Catalyst's Union constraint rewrite (UnionBase.rewriteConstraints)
    crashes with ``NoSuchElementException: key not found: <attr>`` when a
    union child carries filter-derived constraints over attributes the
    output-substitution map doesn't cover — the exact shape of our
    star-edge unions (windowed ``filter(u != v)`` children). Constraint
    propagation buys nothing on a self-contracting edge list (no joins
    to prune, filters are explicit), so the supported mitigation is to
    switch it off for the scope of the iteration and restore the prior
    value after."""
    prev = spark.conf.get(_CONSTRAINT_PROP, None)
    spark.conf.set(_CONSTRAINT_PROP, "false")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_CONSTRAINT_PROP)
        else:
            spark.conf.set(_CONSTRAINT_PROP, prev)


def _canon_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """(u, v) with u > v, self-loops dropped, duplicates collapsed."""
    return (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach every strictly-larger neighbor to
    min(Γ(u) ∪ {u}). Output edges are (larger, smaller)."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over its smaller-or-equal neighbors N(u):
    attach N(u) ∪ {u} to min(N(u) ∪ {u}). Input/output edges are
    (larger, smaller)."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    relinked = edges.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    own = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        relinked.union(own)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checkpoint(edges: DataFrame) -> tuple[DataFrame, tuple[int, int, int]]:
    """``edges`` truncated with an eager ``localCheckpoint``, and its
    (edge count, xor-digest, bounded mod-sum digest), taken by an
    Observation on that same checkpoint job — one job per round.
    Order-insensitive over a distinct edge set; ANSI-safe (the mod-sum
    stays < 10⁹·|E|, no overflow below ~10¹⁰ edges, and the xor never
    overflows). Collision odds are negligible and a collision only
    costs an early stop one round before the true fixed point of a
    monotone contraction (the next round would have been a no-op
    anyway)."""
    obs = Observation()
    h = F.xxhash64("u", "v")
    edges = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1_000_000_007))).alias("s"),
    ).localCheckpoint(eager=True)
    m = obs.get
    return edges, (int(m["n"]), int(m["x"] or 0), int(m["s"] or 0))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Component label (= min member id) per node.

    ``pairs``: undirected edges, any orientation, self-loops and
    duplicates tolerated. ``nodes`` (optional): the full node table —
    isolated nodes (in ``nodes`` but in no pair) come back labeled
    with themselves, so every document gets a cluster row.

    Returns (id, component), one row per distinct node.
    """
    with _constraint_propagation_disabled(pairs.sparkSession):
        edges, fp = _checkpoint(_canon_edges(pairs, id_a, id_b))
        converged = fp[0] == 0  # no edges: nothing to contract
        for _ in range(max_iter):
            if converged:
                break
            edges, nfp = _checkpoint(_small_star(_large_star(edges)))
            converged = nfp == fp  # star forests: the only fixed points
            fp = nfp
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # Fixed point is a star forest: (member, root) with member > root.
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        edges.select(F.col("v").alias("id"))
        .distinct()
        .join(members, "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    out = members.union(roots)
    if nodes is not None:
        nc = node_col or nodes.columns[0]
        isolated = (
            nodes.select(F.col(nc).alias("id"))
            .distinct()
            .join(out.select("id"), "id", "left_anti")
            .select("id", F.col("id").alias("component"))
        )
        out = out.union(isolated)
    return out


def dedup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    node_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster assignment for a documents table: (id, component,
    is_keeper). Keeper = the component minimum — the same
    deterministic-winner rule as the harvest seen-set dedup. A corpus
    build keeps ``is_keeper`` rows and drops the rest."""
    comp = connected_components(
        pairs, id_a=id_a, id_b=id_b, nodes=nodes, node_col=node_col,
        max_iter=max_iter,
    )
    return comp.select(
        "id", "component", (F.col("id") == F.col("component")).alias("is_keeper")
    )


def reassign_keepers(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Re-pick each component's keeper by QUALITY instead of min-id:
    keeper = the member with the highest ``score_col`` (ties broken by
    min id, so the choice stays deterministic and engine-portable).
    Min-id keeps an *arbitrary* copy; when near-dup clusters mix a
    clean page with a boilerplate-wrapped mirror, a corpus build wants
    the best one — the standard "keep the highest-quality member"
    rule of training-data dedup.

    Scale shape: one groupBy(component) with a map-side-partial
    ``min_by`` over (-score, id) — never a per-component window sort —
    plus one join back on component. Missing scores rank lowest (a
    scoreless doc never beats a scored one)."""
    sc = scores.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(score_col).cast("double"),
                   F.lit(float("-inf"))).alias("_kq"),
    )
    joined = clusters.select("id", "component").join(sc, "id", "left").fillna(
        {"_kq": float("-inf")}
    )
    best = joined.groupBy("component").agg(
        F.min_by(
            "id", F.struct((-F.col("_kq")).alias("s"), F.col("id").alias("i"))
        ).alias("_keeper")
    )
    return (
        clusters.select("id", "component")
        .join(best, "component")
        .select(
            "id", "component",
            (F.col("id") == F.col("_keeper")).alias("is_keeper"),
        )
    )
