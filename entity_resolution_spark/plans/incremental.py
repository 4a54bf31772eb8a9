"""Incremental record linkage: fold a batch of NEW files into an existing
resolution without re-scoring the old corpus.

The batch pipeline (plans/pipeline.py) is O(corpus) per run in its pairwise
stages; at 10^12 files the corpus grows by small deltas and a full re-run
per delta is the thing a production deployment cannot afford. This plan
exploits two closure properties of the batch design:

- connected-component membership is preserved by the (file_id, cluster_id)
  assignment, so prior matched edges can be replayed as O(n) *star edges*
  (cluster_id -> file_id) instead of being re-scored;
- blocking keys are per-row (content/path addressed, corpus-independent),
  so old rows keep their keys and only new-vs-(old ∪ new) pairs inside
  shared blocks need scoring — never old-vs-old.

Cost per increment is DELTA-PROPORTIONAL — the corpus is scanned
(column-pruned, broadcast-probed) but never shuffled:

- exact collapse runs only on sha groups containing a new digest (the
  increment's digest set broadcasts; the union is semi-probed);
- the old blocking index is semi-probed against the increment's key set
  (pass ``prior_blocks`` to reuse the persisted index; otherwise old keys
  are recomputed map-side — compute, not shuffle);
- scoring features are semi-probed down to actual pair members before the
  scoring joins, so the corpus light-feature frame never shuffles;
- connected components runs only over components touched by a new edge:
  prior clusters replay their star edges iff an endpoint belongs to them;
  every other row keeps its prior assignment verbatim.

That cluster repair (``affected_census`` + ``reclose``) is the one the
fold, ``retraction`` and ``reviews`` share; each supplies only the members
and edges of the re-close.

The broadcast frames (digests, block keys, pair ids, touched clusters) are
all O(delta x keys); for a delta that is a large fraction of the corpus,
run the batch ``resolve()`` instead — it is the same price at that point.

Stage boundaries: every delta frame with more than one consumer closes
its stage at a forced boundary shared with the batch plan
(``stages.StageClock``). These frames carry broadcast-hinted joins, which
Spark's cache matching never hits, so without the lineage cut each
consumer would re-run the subtree (incl. the band UDF over the old corpus).

Equivalence: with no skew cap crossed, ``resolve_incremental(A, B)``
produces exactly the clusters of ``resolve(A ∪ B)`` (asserted in
tests/test_incremental_resolve.py). When the union pushes a block across a
budget/stop threshold the two can differ — incremental keeps strictly MORE
edges (prior decisions are never un-made), batch re-thins.

Skew note: the asymmetric block join bounds each partition at
(block_size + new_in_block) rows; stop-keys (> block_key_drop_limit) are
dropped exactly like the batch path, and implied-pair budgets hash-thin the
join output deterministically. Hot-block triangular tiling is not needed
here because one join side is the (small) increment.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.blocking import with_features
from ..operators.candidates import dropped_block_keys, pair_budget_k
from ..operators.clustering import assign_clusters, connected_components
from ..operators.scoring import matched_edges, score_pairs
from .pipeline import (
    close_clusters,
    exact_duplicate_edges,
    prepare_files,
    rep_blocks,
    scoring_stage,
    sha_group_key,
)
from .stages import StageClock, cut_lineage


@dataclass
class IncrementalResult:
    features: DataFrame  # old ∪ new features — reusable as the next prior
    scored: DataFrame  # scored candidate pairs involving >= 1 new file
    clusters: DataFrame  # (file_id, cluster_id) over old ∪ new
    metrics: DataFrame  # (stage, metric, value)
    blocks: DataFrame | None = None  # updated blocking index (old ∪ new) —
    # persist and pass as the next fold's prior_blocks


def _live_old(old_blocks: DataFrame, new_blocks: DataFrame) -> DataFrame:
    """Old index entries under a key the increment touches: the key set is
    broadcast and the (corpus-sized) old index SEMI-PROBED against it —
    scanned, never shuffled."""
    new_keys = new_blocks.select("block_key").distinct()
    return old_blocks.join(F.broadcast(new_keys), "block_key", "left_semi")


def incremental_dropped_keys(
    old_blocks: DataFrame, new_blocks: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Stop-keys removed from this fold's candidate generation (touched
    keys whose total membership exceeds the drop limit) — surfaced, never
    silent: the batch path's dropped_block_keys over the touched index."""
    return dropped_block_keys(_live_old(old_blocks, new_blocks).unionByName(new_blocks), cfg)


def incremental_candidate_pairs(
    old_blocks: DataFrame, new_blocks: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """old index x new index -> (left_id, right_id, block_key), one side
    new, with the batch candidate_pairs' skew ladder: stop-keys dropped
    (see incremental_dropped_keys), per-block budgets hash-thinned by
    pair_budget_k over the implied old-x-new count, min block_key kept.
    Only the touched part of the old index (_live_old) is read."""
    return _candidates(old_blocks, new_blocks, cfg or PipelineConfig(), None)


def _candidates(
    old_blocks: DataFrame,
    new_blocks: DataFrame,
    cfg: PipelineConfig,
    census_obs: Observation | None,
) -> DataFrame:
    """incremental_candidate_pairs; with ``census_obs``, the job that
    evaluates the pairs also observes ``dropped_keys``: the number of
    touched keys over the drop limit, i.e. the row count of
    incremental_dropped_keys (every census key is touched)."""
    tagged = (
        _live_old(old_blocks, new_blocks)
        .withColumn("__is_new", F.lit(False))
        .unionByName(new_blocks.withColumn("__is_new", F.lit(True)))
    )
    census = tagged.groupBy("block_key").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("__is_new").cast("long")).alias("n_new"),
    )
    if census_obs is not None:
        census = census.observe(
            census_obs,
            F.sum((F.col("n_total") > cfg.block_key_drop_limit).cast("long")).alias(
                "dropped_keys"
            ),
        )
    live = census.filter(
        (F.col("n_new") >= 1)
        & (F.col("n_total") >= 2)
        & (F.col("n_total") <= cfg.block_key_drop_limit)
    )
    est = F.col("n_total").cast("long") * F.col("n_new").cast("long")
    live = live.withColumn("__k", pair_budget_k(est, cfg)).select("block_key", "__k")
    idx = tagged.join(live.hint("shuffle_hash"), "block_key")
    a = idx.alias("a")
    b = idx.filter(F.col("__is_new")).hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, "block_key")
        .where(F.col("a.file_id") != F.col("b.file_id"))
        .select(
            F.least("a.file_id", "b.file_id").alias("left_id"),
            F.greatest("a.file_id", "b.file_id").alias("right_id"),
            "block_key",
            F.col("a.__k").alias("__k"),
        )
    )
    pairs = pairs.where(
        F.pmod(F.xxhash64("left_id", "right_id"), F.col("__k")) == 0
    )
    return pairs.groupBy("left_id", "right_id").agg(F.min("block_key").alias("block_key"))


def endpoint_ids(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """The distinct ids at either end of ``pairs`` (columns a, b)."""
    ids = pairs.select(F.col(a).alias("file_id"))
    return ids.unionByName(pairs.select(F.col(b).alias("file_id"))).distinct()


def affected_census(
    prior_clusters: DataFrame, touched: DataFrame
) -> tuple[DataFrame, DataFrame, int]:
    """Repair, part 1: touched (file_id) rows -> (prior rows of the clusters
    they touch, prior rows of every other cluster, number of affected
    clusters). The change-bounded affected ids are cut and broadcast, so
    the prior clusters are scanned, never shuffled."""
    aff_clusters, seen = cut_lineage(
        prior_clusters.join(F.broadcast(touched), "file_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )

    def part(how):
        return prior_clusters.join(F.broadcast(aff_clusters), "cluster_id", how).select(
            "file_id", "cluster_id"
        )

    return part("left_semi"), part("left_anti"), seen["rows"]


def reclose(
    unchanged: DataFrame, members: DataFrame, edges: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, int]:
    """Repair, part 2: ``unchanged`` ∪ ``members`` re-closed over ``edges``
    (whose endpoints must all be members), cut at a boundary; returns the
    clusters and their number."""
    return close_clusters(
        unchanged.unionByName(assign_clusters(members, connected_components(edges, cfg)))
    )


def resolve_incremental(
    prior_features: DataFrame,
    prior_clusters: DataFrame,
    new_files: DataFrame,
    cfg: PipelineConfig | None = None,
    prior_blocks: DataFrame | None = None,
) -> IncrementalResult:
    """Merge ``new_files`` (north-rule shape) into a prior resolution.

    prior_features/prior_clusters: ``ResolutionResult.features`` /
    ``.clusters`` of the previous run (or read back from its StageStore).
    prior_blocks: optionally the previous blocking index (block_key,
    file_id) to skip recomputing MinHash keys for the old corpus.
    """
    cfg = cfg or PipelineConfig()
    spark = new_files.sparkSession
    new_files = prepare_files(new_files)
    clock = StageClock()

    new_feat, n_new = clock.boundary("features_new", with_features(new_files, cfg))
    feat_all = prior_features.unionByName(new_feat.select(prior_features.columns))
    new_ids = new_feat.select("file_id")

    # Exact collapse restricted to AFFECTED sha groups (groups containing a
    # new digest): the increment's digest set is broadcast and the union is
    # semi-probed — the corpus is scanned (column-pruned to the narrow sha
    # projection), never shuffled or re-collapsed. Unaffected groups keep
    # their membership through the prior clusters. Edges here are the only
    # exact edges whose components can change.
    aff = (
        feat_all.withColumn("__sha_key", sha_group_key())
        .join(
            F.broadcast(new_feat.select(sha_group_key().alias("__sha_key")).distinct()),
            "__sha_key",
            "left_semi",
        )
        .drop("__sha_key")
    )
    aff_reps, exact_edges = exact_duplicate_edges(aff)
    aff_reps, _ = clock.boundary("exact_collapse", aff_reps)
    # only new rows that became their group's representative need blocking
    # keys; a new row folded under an existing old rep rides its star edge
    new_reps = aff_reps.join(new_ids, "file_id", "left_semi")

    if prior_blocks is None:
        # no reusable index: recompute old reps' keys (O(corpus) map-side
        # work, no corpus shuffle — the documented cost of not persisting
        # the blocking index between folds)
        old_blocks = rep_blocks(exact_duplicate_edges(prior_features)[0], cfg)
    else:
        # old entries whose file_id is no longer a rep (its sha group gained
        # a smaller-id member) are harmless: their pairs drop at the scoring
        # join and the new rep carries its own keys
        old_blocks = prior_blocks
    new_blocks, n_new_entries = clock.boundary("blocking_new", rep_blocks(new_reps, cfg))

    # the candidates job also counts the stop-keys it drops (a second probe
    # of the corpus-sized old index would cost as much as the pairs); with
    # no new index entries no key is touched, and Spark prunes the census
    census_obs = Observation() if n_new_entries else None
    pairs, n_pairs = clock.boundary(
        "candidates", _candidates(old_blocks, new_blocks, cfg, census_obs)
    )
    n_dropped = (census_obs.get["dropped_keys"] or 0) if census_obs else 0
    # scoring features: semi-probe the union down to actual pair members
    # (broadcast of the delta-bounded id set) — the corpus light-feature
    # frame is never shuffled into the scoring joins; the delta-bounded
    # probe result is materialized so the scoring joins read it once
    feat_scoring, _ = cut_lineage(
        feat_all.join(
            F.broadcast(endpoint_ids(pairs, "left_id", "right_id")), "file_id", "left_semi"
        )
    )
    scored, n_scored, _ = scoring_stage(
        clock, lambda ctx: score_pairs(pairs, feat_scoring, cfg, ctx=ctx)
    )

    near = matched_edges(scored, cfg).select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    )
    # The delta frames below fan out into several consumers (touched set,
    # star replay, CC input, final assembly, metrics) and their lineages
    # carry broadcasts + aggregations: without a boundary each consumer
    # re-executes the whole subtree and the evaluation count multiplies
    # through the DAG (measured: minutes instead of seconds on a 30-row
    # delta). They are delta-bounded — checkpointing them is cheap.
    new_edges, _ = clock.boundary("edges", near.unionByName(exact_edges))

    # The shared repair over AFFECTED components only: prior clusters
    # touched by a new edge replay their star edges; everything else keeps
    # its prior assignment. CC input is delta-bounded — O(new edges +
    # members of touched clusters), not O(corpus). Every old endpoint of a
    # new edge is touched, so it is an affected member.
    with clock.timed("clustering"):
        affected, unchanged, n_aff = affected_census(
            prior_clusters, endpoint_ids(new_edges, "src", "dst")
        )
        star_aff = affected.filter(F.col("file_id") != F.col("cluster_id")).select(
            F.col("cluster_id").alias("src"), F.col("file_id").alias("dst")
        )
        clusters, n_clusters = reclose(
            unchanged,
            affected.select("file_id").unionByName(new_ids),
            new_edges.unionByName(star_aff),
            cfg,
        )

    metrics = clock.metrics(
        spark,
        [
            ("input_new", "rows", float(n_new)),
            ("candidates", "pairs", float(n_pairs)),
            ("candidates", "dropped_keys", float(n_dropped)),
            ("scoring", "scored_pairs", float(n_scored)),
            ("clustering", "affected_prior_clusters", float(n_aff)),
            ("clustering", "clusters", float(n_clusters)),
        ],
    )
    return IncrementalResult(
        feat_all, scored, clusters, metrics, old_blocks.unionByName(new_blocks)
    )
