"""Re-threshold a prior resolution without re-scoring the corpus.

The decision loop ``fs_pr_curve_report`` / ``quality_threshold_sweep``
exists to serve: pick a different ``similarity_threshold``, regenerate
the clusters. A full re-run re-blocks and re-scores every candidate pair
just to change one comparison; this plan reuses the scored lineage:

- **raising** the threshold is a pure filter: every pair's stored score
  is exact for any cut at or above the original threshold (bound-rejected
  pairs carry ``score = base_score``, and their true score was provably
  below the ORIGINAL reject line — a fortiori below a higher one);
- **lowering** it re-scores ONLY the suspects: pairs whose recomputed
  phase-1 bound sat below the original reject line (so their content term
  was never computed) but reaches the new one. The bound is recomputed
  from the lineage's own stored ``token_jaccard``/``path_jw`` plus the
  feature lengths by scoring's own ``phase1_bound``, so the original
  reject decision is reproduced float-for-float (a 1e-6 slack
  makes the suspect set a safe superset — re-scoring a pair that was
  actually scored exactly is idempotent: same kernel, same operands).

Cost: one lineage scan + an exact scoring pass over the suspect subset
(empty when raising) + connected components over the matched edges —
never a corpus re-block or full re-score. Equivalence:
``rethreshold_clusters(resolve(F, t_old), t_new)`` produces exactly the
clusters of ``resolve(F, t_new)`` (same candidates either way — blocking
is threshold-independent; pytest + driver oracle).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.clustering import assign_clusters, connected_components
from ..operators.scoring import (
    base_score,
    length_bound,
    matched_edges,
    phase1_bound,
    reject_line,
    score_pairs,
)
from .pipeline import exact_duplicate_edges
from .stages import StageClock, cut_lineage


@dataclass
class RethresholdResult:
    scored: DataFrame  # lineage valid at the NEW threshold (suspects re-scored)
    clusters: DataFrame  # (file_id, cluster_id) under the new threshold
    metrics: DataFrame  # (stage, metric, value)


def rethreshold_clusters(
    prior_features: DataFrame,
    prior_scored: DataFrame,
    new_threshold: float,
    cfg: PipelineConfig | None = None,
) -> RethresholdResult:
    """Regenerate clusters at ``new_threshold`` from a prior run's
    ``.features`` / ``.scored`` (cfg carries the ORIGINAL threshold the
    lineage was produced under)."""
    cfg = cfg or PipelineConfig()
    spark = prior_features.sparkSession
    clock = StageClock()
    new_cfg = replace(cfg, similarity_threshold=float(new_threshold))
    scored = prior_scored
    n_rescored = 0

    with clock.timed("rethreshold"):
        if new_threshold < cfg.similarity_threshold:
            lens = prior_features.select(
                "file_id", F.length("norm_content").alias("__n")
            )
            lo = lens.select(
                F.col("file_id").alias("left_id"), F.col("__n").alias("l_n")
            )
            ro = lens.select(
                F.col("file_id").alias("right_id"), F.col("__n").alias("r_n")
            )
            j = scored.join(lo.hint("shuffle_hash"), "left_id").join(
                ro.hint("shuffle_hash"), "right_id"
            )
            # scoring's own bound, fed the stored jaccard/jw doubles ->
            # identical bound floats
            bound = phase1_bound(
                cfg,
                length_bound("l_n", "r_n"),
                base_score(cfg, "token_jaccard", "path_jw"),
            )
            suspects, seen = cut_lineage(
                j.filter(
                    (bound < reject_line(cfg) + 1e-6) & (bound >= reject_line(new_cfg))
                ).select("left_id", "right_id", "block_key")
            )
            n_rescored = seen["rows"]
            if n_rescored:
                resc = score_pairs(suspects, prior_features, new_cfg)
                # the boundary fills before the phase-1 cache is released
                scored, _ = cut_lineage(
                    scored.join(
                        suspects.select("left_id", "right_id"),
                        ["left_id", "right_id"],
                        "left_anti",
                    ).unionByName(resc.select(scored.columns))
                )
                resc.scoring_ctx.release_phase1()

        near = matched_edges(scored, new_cfg).select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        )
        _, exact_edges = exact_duplicate_edges(prior_features)
        components = connected_components(near.unionByName(exact_edges), new_cfg)
        clusters = assign_clusters(prior_features, components)

    metrics = clock.metrics(
        spark,
        [
            ("rethreshold", "old_threshold", float(cfg.similarity_threshold)),
            ("rethreshold", "new_threshold", float(new_threshold)),
            ("rethreshold", "rescored_pairs", float(n_rescored)),
        ],
    )
    return RethresholdResult(scored, clusters, metrics)
