"""Apply clerical-review decisions to a prior resolution.

The other half of the active-learning loop: ``linkage.review_queue``
surfaces the pairs nearest the decision boundary; a reviewer returns
(left_id, right_id, decision) verdicts, and this plan folds them into the
standing clusters without re-resolving the corpus:

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

The repair is the fold's (``incremental.affected_census`` + ``reclose``):
touched = decision endpoints, members = their whole clusters, edges =
``retraction.replayed_evidence`` - ``non_match`` + ``match``.

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
from .incremental import affected_census, endpoint_ids, reclose
from .retraction import replayed_evidence
from .stages import StageClock, cut_lineage


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
    clock = StageClock()

    with clock.timed("review"):
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
        touched = endpoint_ids(dec, "src", "dst")
        affected, unchanged, n_aff = affected_census(prior_clusters, touched)
        # members cover whole clusters, so the per-group minimum inside the
        # member set equals the sha group's global minimum
        members, _ = cut_lineage(affected.select("file_id"))
        # a verdict on an id the prior resolution never saw would add a
        # phantom edge (and phantom cluster rows) — reject the batch,
        # naming every such id; every known touched id is a member
        unknown = touched.join(members, "file_id", "left_anti").collect()
        if unknown:
            ids = sorted(r["file_id"] for r in unknown)
            raise ValueError(f"decision ids absent from prior_clusters: {ids}")
        # non_match wins when both verdicts exist for one pair
        verdict = dec.groupBy("src", "dst").agg(
            F.min(F.when(F.col("decision") == "non_match", 0).otherwise(1)).alias("__m")
        )
        must, seen = cut_lineage(verdict.filter(F.col("__m") == 1).select("src", "dst"))
        n_must = seen["rows"]
        cannot, seen = cut_lineage(verdict.filter(F.col("__m") == 0).select("src", "dst"))
        n_cannot = seen["rows"]

        # overrides act on the evidence edges (canonical src < dst): the
        # cannot edges are removed, the must edges added
        edges = (
            replayed_evidence(members, prior_features, prior_scored, cfg)
            .join(F.broadcast(cannot), ["src", "dst"], "left_anti")
            .unionByName(must)
        )
        clusters, _ = reclose(unchanged, members, edges, cfg)

    metrics = clock.metrics(
        spark,
        [
            ("review", "match_overrides", float(n_must)),
            ("review", "non_match_overrides", float(n_cannot)),
            ("review", "affected_prior_clusters", float(n_aff)),
        ],
    )
    return ReviewResult(clusters, metrics)
