"""Stage 4 — transitive clustering via large-star/small-star connected
components (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14), as iterative DataFrame joins.

The reference never computes transitive closure — it returns raw pairs
(/root/reference/src/entity_resolution/entity_resolution.py:344-351); the
north_rule adds clustering. GraphFrames is deliberately avoided (extra jar,
sandbox-unfriendly — SURVEY.md §7.2); the alternating-star algorithm
converges in O(log n) rounds and every round is plain shuffles Catalyst can
plan, with ``localCheckpoint`` truncating lineage so plans don't grow
unboundedly (100 TB survival requirement — an uncheckpointed 20-round loop
would compile a plan tree thousands of nodes deep).

Determinism: cluster id = min file_id of the component, independent of
partitioning and iteration order (SURVEY.md §4.2 "determinism").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set, canonical (src > dst is allowed; src != dst,
    distinct)."""
    return (
        edges.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
        if "left_id" in edges.columns
        else edges.select("src", "dst")
    ).where(F.col("src") != F.col("dst")).distinct()


def _both_dirs(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev)


def large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u})."""
    nbrs = _both_dirs(edges)  # (src=u, dst=v)
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("src", "mn").alias("m"))
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-or-equal neighborhood, point everything at
    the minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    e1 = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    e2 = mins.select(F.col("src"), F.col("m").alias("dst"))
    return e1.unionByName(e2).where(F.col("src") != F.col("dst")).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """Every node is the src of at most one edge and no node is both a src
    and a dst. Every small_star output edge has src > dst, so such a graph
    is large_star/small_star's fixed point, with each center its
    component's minimum."""
    ends = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("outs"), F.lit(False).alias("is_dst")
    ).unionByName(
        edges.select(
            F.col("dst").alias("node"), F.lit(0).alias("outs"), F.lit(True).alias("is_dst")
        )
    )
    per_node = ends.groupBy("node").agg(
        F.sum("outs").alias("outs"), F.max("is_dst").alias("is_dst")
    )
    return per_node.where(
        (F.col("outs") > 1) | ((F.col("outs") == 1) & F.col("is_dst"))
    ).isEmpty()


def connected_components(
    edges: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """edges(left_id/right_id or src/dst) -> (file_id, cluster_id) for every
    node appearing in an edge. cluster_id = component-min file_id."""
    cfg = cfg or PipelineConfig()
    # Defensive: sessions not built by session.get_spark (e.g. the external
    # driver's) hit the Spark 4.1 Union.rewriteConstraints crash on the
    # checkpointed self-unions below unless constraint propagation is off.
    # Runtime-settable SQLConf, so set it here where the plan shape needs it.
    edges.sparkSession.conf.set("spark.sql.constraintPropagation.enabled", "false")
    cur = _canon(edges).localCheckpoint(eager=True)
    for _ in range(cfg.cc_max_iterations):
        cur = small_star(large_star(cur)).localCheckpoint(eager=True)
        if _is_star_forest(cur):
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {cfg.cc_max_iterations} iterations"
        )
    # converged star graph: every src points at its component min
    members = cur.select(F.col("src").alias("file_id"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("file_id"), F.col("dst").alias("cluster_id"))
    return members.unionByName(roots).distinct()


def star_labels(edges: DataFrame) -> DataFrame:
    """One-round star clustering: label(v) = min({v} ∪ N(v)).

    Chaining-resistant alternative to full transitive closure (the "star"
    family of Hassanzadeh & Miller, VLDB J. 2009): a long near-duplicate
    chain a–b–c–d collapses into overlapping two-hop stars instead of one
    giant merged component, which is the conservative choice when edges are
    noisy similarity hits rather than hard identities. Exactly one shuffle
    (groupBy node) and no iteration, so at 100 TB this is the cheap
    first-cut roster to inspect before paying for the O(log n)
    alternating-star rounds of :func:`connected_components`.
    """
    nbrs = _both_dirs(_canon(edges))
    return (
        nbrs.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("star_id"))
        .select(F.col("src").alias("file_id"), "star_id")
    )


def assign_clusters(all_ids: DataFrame, components: DataFrame) -> DataFrame:
    """Attach cluster ids to the full id universe; edge-less nodes become
    singleton clusters (cluster_id = own id)."""
    ids = all_ids.select("file_id")
    return ids.join(components, "file_id", "left").select(
        "file_id", F.coalesce("cluster_id", "file_id").alias("cluster_id")
    )
