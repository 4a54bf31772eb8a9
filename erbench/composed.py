"""The traced run's operations, composed from the engine's public stage
functions in the same order and with the same forcing boundaries as
``plans.pipeline.resolve`` and ``streaming.continuous.run_continuous_resolution``,
with a layer span around each call. The run checks that the composed
resolve reproduces resolve()'s cluster digest, so drift between this
composition and the engine shows up as a failed check.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from entity_resolution_spark.operators.blocking import (
    exploded_blocks,
    with_block_keys,
    with_features,
)
from entity_resolution_spark.operators.candidates import candidate_pairs
from entity_resolution_spark.operators.clustering import assign_clusters, connected_components
from entity_resolution_spark.operators.scoring import ScoringContext, matched_edges, score_pairs
from entity_resolution_spark.plans import pipeline
from entity_resolution_spark.plans.incremental import resolve_incremental
from entity_resolution_spark.streaming.continuous import latest_state
from entity_resolution_spark.streaming.incremental import read_file_stream


def traced_resolve(files, cfg, tracer):
    """resolve(files, cfg) without a StageStore, one span per layer.
    Returns (features, reps, scored, clusters, metrics)."""
    spark = files.sparkSession

    def force(df):
        out = df.persist()
        out.count()
        return out

    with tracer.span("operators.blocking"):
        feat = force(with_features(files, cfg))
    with tracer.span("plans.pipeline"):
        reps, exact_edges = pipeline.exact_duplicate_edges(feat)
        reps = force(reps)
    with tracer.span("operators.blocking"):
        blocks = exploded_blocks(with_block_keys(reps, cfg)).filter(
            ~F.col("block_key").startswith("sha:")
        ).persist()
    with tracer.span("operators.candidates"):
        pairs = force(candidate_pairs(blocks, cfg))
    ctx = ScoringContext()
    with tracer.span("operators.scoring.p1"):
        scored = score_pairs(pairs, reps, cfg, ctx=ctx)
    with tracer.span("operators.scoring.p2"):
        scored = force(scored)
        ctx.release_phase1()
    with tracer.span("operators.clustering"):
        near = matched_edges(scored, cfg)
        all_edges = near.select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        ).unionByName(exact_edges)
        components = connected_components(all_edges, cfg)
    with tracer.span("plans.pipeline"):
        clusters = assign_clusters(feat, components)
        metrics = pipeline._build_metrics(spark, files, pairs, scored, clusters, cfg, blocks=blocks)
    return feat, reps, scored, clusters, metrics


def traced_fold(spark, input_dir, state_dir, checkpoint_dir, cfg, tracer, on_metrics):
    """One run_continuous_resolution call over a non-empty state: the
    stream trigger and commit are streaming.continuous, the prior-state
    read and the state writes are sources.io, the fold itself is
    plans.incremental. ``on_metrics`` receives resolve_incremental's
    metrics rows."""

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        batch = batch_df.drop("event_time")
        with tracer.span("sources.io"):
            prior = latest_state(spark, state_dir)
        if prior is None:
            raise RuntimeError("traced fold needs a committed prior state")
        with tracer.span("plans.incremental"):
            inc = resolve_incremental(prior[0], prior[1], batch, cfg, prior_blocks=prior[2])
        base = os.path.join(state_dir, f"v{batch_id}")
        with tracer.span("sources.io"):
            inc.features.write.mode("overwrite").parquet(os.path.join(base, "features"))
            inc.clusters.write.mode("overwrite").parquet(os.path.join(base, "clusters"))
            inc.blocks.write.mode("overwrite").parquet(os.path.join(base, "blocks"))
        on_metrics(inc.metrics.collect())

    with tracer.span("streaming.continuous"):
        q = (
            read_file_stream(spark, input_dir)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
