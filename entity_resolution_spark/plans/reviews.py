"""Apply clerical-review decisions to a prior resolution.

The other half of the active-learning loop: ``linkage.review_queue``
surfaces the pairs nearest the decision boundary; a reviewer returns
(left_id, right_id, decision) verdicts, and this plan folds them into the
standing clusters without re-resolving the corpus — the same
delta-proportional repair shape as ``retraction.retract_and_repair``:

- clusters containing no decision endpoint keep their assignment
  verbatim;
- affected clusters re-close over their materialized evidence graph —
  replayed matched pairs from the scored lineage plus the sha star
  edges — with the overrides applied at the EDGE level: a ``non_match``
  verdict removes that pair's evidence edge (the rows may stay connected
  through other paths — this is an edge override, not a cannot-link
  constraint solver, and the semantics is documented and oracle-pinned);
  a ``match`` verdict adds the edge, merging clusters if the endpoints
  were separate.

Every control frame is bounded by the decision batch x cluster sizes and
broadcast; the corpus is scanned, never shuffled. Overrides are sticky
only as long as the caller replays them on later re-resolves — the plan
records them in the returned metrics so a deployment can keep the
decision log as an input table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.clustering import connected_components
from .pipeline import exact_duplicate_edges


@dataclass
class ReviewResult:
    clusters: DataFrame  # (file_id, cluster_id) with overrides applied
    metrics: DataFrame  # (stage, metric, value)


def apply_review_decisions(
    prior_features: DataFrame,
    prior_clusters: DataFrame,
    prior_scored: DataFrame,
    decisions: DataFrame,
    cfg: PipelineConfig | None = None,
) -> ReviewResult:
    """Fold reviewer verdicts into a prior resolution.

    ``decisions``: (left_id, right_id, decision) with decision in
    {'match', 'non_match'} — the shape ``linkage.review_queue`` hands a
    reviewer, verdict column appended. Pair order is canonicalized; on
    conflicting verdicts for one pair, 'non_match' wins (the conservative
    reading of a disagreement). A decision naming an id absent from
    ``prior_clusters`` raises ValueError listing every such id.
    """
    cfg = cfg or PipelineConfig()
    spark = prior_features.sparkSession
    import time

    t0 = time.time()
    dec = (
        decisions.select(
            F.least("left_id", "right_id").alias("src"),
            F.greatest("left_id", "right_id").alias("dst"),
            F.col("decision"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    bad = dec.filter(~F.col("decision").isin("match", "non_match"))
    if bad.limit(1).count():
        raise ValueError("decision must be 'match' or 'non_match'")
    touched = (
        dec.select(F.col("src").alias("file_id"))
        .unionByName(dec.select(F.col("dst").alias("file_id")))
        .distinct()
    )
    touched_rows = prior_clusters.join(
        F.broadcast(touched), "file_id", "left_semi"
    ).localCheckpoint(eager=True)
    # a verdict on an id the prior resolution never saw would add a phantom
    # edge (and phantom cluster rows) — reject the batch, naming every such id
    unknown = touched.join(touched_rows, "file_id", "left_anti").collect()
    if unknown:
        ids = sorted(r["file_id"] for r in unknown)
        raise ValueError(f"decision ids absent from prior_clusters: {ids}")
    # non_match wins when both verdicts exist for one pair
    verdict = dec.groupBy("src", "dst").agg(
        F.min(F.when(F.col("decision") == "non_match", 0).otherwise(1)).alias("__m")
    )
    must = (
        verdict.filter(F.col("__m") == 1)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    cannot = (
        verdict.filter(F.col("__m") == 0)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    n_must, n_cannot = must.count(), cannot.count()

    aff_clusters = (
        touched_rows.select("cluster_id").distinct().localCheckpoint(eager=True)
    )
    unchanged = prior_clusters.join(
        F.broadcast(aff_clusters), "cluster_id", "left_anti"
    )
    members = (
        prior_clusters.join(F.broadcast(aff_clusters), "cluster_id", "left_semi")
        .select("file_id")
        .localCheckpoint(eager=True)
    )

    # materialized evidence among the members: matched lineage pairs +
    # sha star edges (members cover whole clusters, so the per-group
    # minimum inside the member set equals the group's global minimum)
    near = (
        prior_scored.filter(F.col("score") >= cfg.similarity_threshold)
        .join(
            F.broadcast(members.withColumnRenamed("file_id", "left_id")),
            "left_id",
            "left_semi",
        )
        .join(
            F.broadcast(members.withColumnRenamed("file_id", "right_id")),
            "right_id",
            "left_semi",
        )
        .select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    )
    _, exact = exact_duplicate_edges(
        prior_features.join(F.broadcast(members), "file_id", "left_semi")
    )
    # overrides: remove the cannot edges (evidence edges are canonical
    # src<dst already), add the must edges
    evidence = near.unionByName(exact)
    edges = (
        evidence.join(F.broadcast(cannot), ["src", "dst"], "left_anti")
        .unionByName(must)
        .localCheckpoint(eager=True)
    )
    components = connected_components(edges, cfg)
    singles = members.join(components, "file_id", "left_anti").select(
        "file_id", F.col("file_id").alias("cluster_id")
    )
    clusters = unchanged.unionByName(components).unionByName(singles)

    rows = [
        ("review", "match_overrides", float(n_must)),
        ("review", "non_match_overrides", float(n_cannot)),
        ("review", "affected_prior_clusters", float(aff_clusters.count())),
        ("review", "seconds", round(time.time() - t0, 3)),
    ]
    metrics = spark.createDataFrame(rows, "stage string, metric string, value double")
    return ReviewResult(clusters, metrics)
