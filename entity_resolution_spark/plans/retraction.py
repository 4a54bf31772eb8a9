"""Record retraction with delta-proportional cluster repair.

The lifecycle gap between ``resolve()`` (batch) and ``resolve_incremental``
(additive folds): DELETING records — right-to-be-forgotten requests,
takedowns, licensing revocations — without re-resolving the corpus. A full
re-run per deletion batch is the same O(corpus) cost the incremental plan
exists to avoid; this plan repairs only what a deletion can actually
change:

- clusters not containing a deleted row keep their assignment verbatim
  (connected components are closed under removing rows outside them);
- within affected clusters, the surviving evidence is REPLAYED, not
  re-scored: matched pairs from the prior scored lineage whose endpoints
  both survive, plus exact-duplicate star edges recomputed among the
  survivors' sha groups — connected components over this delta-bounded
  edge set re-closes the affected clusters (they can split into several);
- the one genuinely new piece of evidence a deletion creates: when a
  deleted row was its sha group's REPRESENTATIVE, the surviving minimum
  becomes the new representative and its pairwise evidence has never been
  scored (non-representatives skip scoring by design). Promoted
  representatives are folded back through ``resolve_incremental`` — the
  existing delta-proportional machinery — so they are scored against the
  full blocking index exactly as a batch run over the survivors would
  score them (a promoted row's basename/path features differ from its
  deleted representative's, so it can match rows the old representative
  did not).

Phase A is the fold's cluster repair (``incremental.affected_census`` +
``reclose``): touched = deleted + promoted rows, members = the rest of
their clusters, edges = ``replayed_evidence``.

Every control frame (deleted ids, affected clusters, promoted ids, member
sets) is bounded by the deletion batch x cluster sizes and broadcast; the
corpus is scanned (column-pruned, semi-probed), never shuffled.

Equivalence: with no skew cap crossed, ``retract_and_repair`` produces
exactly the clusters of ``resolve(survivors)`` (asserted in
tests/test_incremental_resolve.py and by the driver oracle
``retract_repair_clusters`` — the batch SQL program over the surviving
rows). The same budget caveat as the incremental plan applies: deletion
shrinks blocks, so a batch re-run could re-admit pairs a prior fold's
per-block budget thinned; below the caps the two are identical.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from .incremental import IncrementalResult, affected_census, reclose, resolve_incremental
from .pipeline import exact_duplicate_edges, sha_group_key
from .stages import StageClock, cut_lineage


@dataclass
class RetractionResult:
    features: DataFrame  # surviving features — reusable as the next prior
    clusters: DataFrame  # (file_id, cluster_id) over the survivors
    metrics: DataFrame  # (stage, metric, value)
    blocks: DataFrame | None = None  # surviving blocking index (if one was
    # passed in), with the fold's additions — the next prior_blocks


def replayed_evidence(
    members: DataFrame,
    prior_features: DataFrame,
    prior_scored: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """The (src, dst) evidence among ``members`` (file_id), replayed, never
    re-scored (pair scores are pair-local): prior matched pairs with both
    endpoints in the member set, plus exact star edges among the members'
    sha groups (representative = min member). Retraction and review
    re-close their affected clusters over it."""
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
    return near.unionByName(exact)


def retract_and_repair(
    prior_features: DataFrame,
    prior_clusters: DataFrame,
    prior_scored: DataFrame,
    deleted_ids: DataFrame,
    cfg: PipelineConfig | None = None,
    prior_blocks: DataFrame | None = None,
) -> RetractionResult:
    """Remove ``deleted_ids`` ((file_id) frame) from a prior resolution and
    repair only the affected clusters.

    prior_features / prior_clusters / prior_scored: ``ResolutionResult``'s
    ``.features`` / ``.clusters`` / ``.scored`` (or the StageStore's
    ``lineage`` table) from the previous run. prior_blocks optionally
    reuses the persisted blocking index; deleted entries are dropped from
    it so later folds can never match against retracted records.
    """
    cfg = cfg or PipelineConfig()
    spark = prior_features.sparkSession
    clock = StageClock()

    with clock.timed("promotion_census"):
        del_ids, seen = cut_lineage(deleted_ids.select("file_id").distinct())
        n_deleted = seen["rows"]
        feat_surv = prior_features.join(F.broadcast(del_ids), "file_id", "left_anti")

        # sha groups that CONTAIN a deleted row are the only groups whose
        # representative can change; probe the corpus with the deleted
        # rows' digest keys (deletion-batch-bounded broadcast, corpus
        # scanned only).
        del_keys = (
            prior_features.join(F.broadcast(del_ids), "file_id", "left_semi")
            .select(sha_group_key().alias("__sha_key"))
            .distinct()
        )
        aff_sha = prior_features.withColumn("__sha_key", sha_group_key()).join(
            F.broadcast(del_keys), "__sha_key"
        )
        old_rep = aff_sha.groupBy("__sha_key").agg(F.min("file_id").alias("old_rep"))
        surv_rep = (
            aff_sha.join(F.broadcast(del_ids), "file_id", "left_anti")
            .groupBy("__sha_key")
            .agg(F.min("file_id").alias("new_rep"))
        )
        promoted, seen = cut_lineage(
            old_rep.join(
                F.broadcast(del_ids.withColumnRenamed("file_id", "old_rep")),
                "old_rep",
                "left_semi",
            )
            .join(surv_rep, "__sha_key")
            .select(F.col("new_rep").alias("file_id"))
            .distinct()
        )
        n_promoted = seen["rows"]

    # --- phase A: retract + re-close affected clusters ----------------
    with clock.timed("retract_reclose"):
        touched = del_ids.unionByName(promoted)
        affected, unchanged, n_aff = affected_census(prior_clusters, touched)
        # surviving, non-promoted members of the affected clusters — the
        # rows whose assignment must be recomputed from surviving evidence
        # (interim sha representative = min member; the promoted-rep fold
        # below re-collapses groups that gained their true new one)
        members, _ = cut_lineage(
            affected.select("file_id").join(F.broadcast(touched), "file_id", "left_anti")
        )
        phase_a, _ = reclose(
            unchanged,
            members,
            replayed_evidence(members, prior_features, prior_scored, cfg),
            cfg,
        )

    blocks_surv = (
        prior_blocks.join(F.broadcast(touched), "file_id", "left_anti")
        if prior_blocks is not None
        else None
    )

    rows = [
        ("retraction", "deleted_rows", float(n_deleted)),
        ("retraction", "promoted_reps", float(n_promoted)),
        ("retraction", "affected_prior_clusters", float(n_aff)),
    ]
    if n_promoted == 0:
        return RetractionResult(feat_surv, phase_a, clock.metrics(spark, rows), blocks_surv)

    # --- phase B: fold promoted representatives back in ---------------
    # They are "new" to the scoring stage (non-representatives never
    # scored), so the additive incremental plan applies verbatim: prior =
    # survivors minus the promoted rows, delta = the promoted rows' raw
    # records. resolve_incremental re-collapses their sha groups (they are
    # each group's minimum survivor, so they become the representative),
    # blocks + scores them against the full index, and re-closes only the
    # components they touch.
    with clock.timed("promotion_fold"):
        raw_cols = [
            c
            for c in ("repo", "path", "commit", "lang", "content", "file_id")
            if c in prior_features.columns
        ]
        promoted_files = prior_features.join(
            F.broadcast(promoted), "file_id", "left_semi"
        ).select(*raw_cols)
        prior_wo_promoted = feat_surv.join(
            F.broadcast(promoted), "file_id", "left_anti"
        )
        clusters_wo_promoted = phase_a.join(
            F.broadcast(promoted), "file_id", "left_anti"
        )
        fold: IncrementalResult = resolve_incremental(
            prior_wo_promoted,
            clusters_wo_promoted,
            promoted_files,
            cfg,
            prior_blocks=blocks_surv,
        )

    metrics = clock.metrics(spark, rows).unionByName(fold.metrics)
    return RetractionResult(fold.features, fold.clusters, metrics, fold.blocks)
