"""Continuous entity resolution: a Structured-Streaming ingest loop that
folds each micro-batch of new files into the standing clusters with
``plans/incremental.resolve_incremental``.

Shape: file-source stream -> foreachBatch fold -> versioned state dirs.

- **State** lives under ``state_dir/v{batch_id}/{features,clusters}`` as
  parquet with Spark's ``_SUCCESS`` markers. Batch N folds into the newest
  fully-committed version BELOW N (none: a full resolve). Versioning
  matters because the fold READS its prior while writing the next
  version, and the rule makes replays idempotent: if the driver dies
  after batch N wrote ``v{N}`` but before the stream committed N, the
  replay folds into the same prior again and rewrites ``v{N}`` (taking
  ``v{N}`` as its prior would re-fold its files and overwrite what it
  reads).
- **Exactly-once** file accounting comes from the stream checkpoint (each
  input file enters exactly one micro-batch).
- The first batch (no prior state) runs the full batch pipeline; later
  batches pay only the incremental cost (new-vs-all scoring + star-edge
  CC; see BENCH/BASELINE.md 'incremental resolution').

This is the deployment template the north rule's resumability story points
at: the same StageStore/parquet state a batch run checkpoints is what the
streaming loop maintains continuously.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from ..config import PipelineConfig
from .incremental import read_file_stream


def _committed_versions(state_dir: str) -> list[int]:
    # local-FS listing (the sandbox's case); a cluster deployment swaps this
    # for the Hadoop FileSystem API over the same layout

    if not os.path.isdir(state_dir):
        return []
    out = []
    for name in os.listdir(state_dir):
        m = re.fullmatch(r"v(\d+)", name)
        if not m:
            continue
        ok = all(
            os.path.exists(os.path.join(state_dir, name, sub, "_SUCCESS"))
            for sub in ("features", "clusters")
        )
        if ok:
            out.append(int(m.group(1)))
    return sorted(out)


def latest_state(spark: SparkSession, state_dir: str):
    """(features, clusters, blocks-or-None) DataFrames of the newest
    committed version, or None. ``blocks`` is the persisted blocking index
    (older state dirs may predate it — folds then re-key the old corpus)."""
    versions = _committed_versions(state_dir)
    return _read_state(spark, state_dir, versions[-1]) if versions else None


def _read_state(spark: SparkSession, state_dir: str, version: int):
    base = os.path.join(state_dir, f"v{version}")
    blocks_dir = os.path.join(base, "blocks")
    blocks = (
        spark.read.parquet(blocks_dir)
        if os.path.exists(os.path.join(blocks_dir, "_SUCCESS"))
        else None
    )
    return (
        spark.read.parquet(os.path.join(base, "features")),
        spark.read.parquet(os.path.join(base, "clusters")),
        blocks,
    )


def run_continuous_resolution(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
) -> None:
    """Process every file currently in ``input_dir`` (Trigger.AvailableNow),
    folding each micro-batch into the standing resolution state."""
    cfg = cfg or PipelineConfig()

    def fold(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.drop("event_time")
        below = [v for v in _committed_versions(state_dir) if v < batch_id]
        prior = _read_state(spark, state_dir, below[-1]) if below else None
        if prior is None:
            from ..plans.pipeline import resolve

            res = resolve(batch, cfg)
            feats, clusters, blocks = res.features, res.clusters, res.blocks
        else:
            from ..plans.incremental import resolve_incremental

            # prior state is parquet-backed, incl. the blocking index — the
            # fold is delta-proportional: old keys are probed, never re-keyed
            inc = resolve_incremental(
                prior[0], prior[1], batch, cfg, prior_blocks=prior[2]
            )
            feats, clusters, blocks = inc.features, inc.clusters, inc.blocks
        base = os.path.join(state_dir, f"v{batch_id}")
        # the resolve/incremental plans close their heavy stages at
        # lineage-cutting boundaries (plans/stages.py), so these writes read
        # materialized rows, not recomputes
        feats.write.mode("overwrite").parquet(os.path.join(base, "features"))
        clusters.write.mode("overwrite").parquet(os.path.join(base, "clusters"))
        if blocks is not None:
            blocks.write.mode("overwrite").parquet(os.path.join(base, "blocks"))

    q = (
        read_file_stream(spark, input_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
