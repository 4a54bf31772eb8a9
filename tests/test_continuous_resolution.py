"""streaming/continuous.py — two parquet drops folded via AvailableNow runs
must end at exactly the clusters of one batch resolve over everything."""

import os

from pyspark.sql import functions as F

from entity_resolution_spark.config import PipelineConfig
from entity_resolution_spark.datagen import generate_repo_files
from entity_resolution_spark.plans.pipeline import resolve
from entity_resolution_spark.streaming.continuous import (
    latest_state,
    run_continuous_resolution,
)


def _with_ts(df):
    return df.withColumn("event_time", F.timestamp_seconds(F.lit(1_700_000_000)))


def _cluster_sets(clusters_df):
    by_cluster = {}
    for r in clusters_df.collect():
        by_cluster.setdefault(r["cluster_id"], set()).add(r["file_id"])
    return {cid: frozenset(m) for cid, m in by_cluster.items()}


def test_two_drops_converge_to_batch_clusters(spark, tmp_path):
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)
    cfg = PipelineConfig()

    files = generate_repo_files(spark, 50).localCheckpoint()
    drop1 = files.filter(F.pmod(F.xxhash64("path"), F.lit(3)) != 0)
    drop2 = files.filter(F.pmod(F.xxhash64("path"), F.lit(3)) == 0)

    # drop 1 arrives -> first fold is a full batch resolve
    _with_ts(drop1).write.mode("append").parquet(inp)
    run_continuous_resolution(spark, inp, state, ckpt, cfg)
    st = latest_state(spark, state)
    assert st is not None
    assert st[1].count() == drop1.count()

    # drop 2 arrives -> incremental fold; same checkpoint skips drop 1
    _with_ts(drop2).write.mode("append").parquet(inp)
    run_continuous_resolution(spark, inp, state, ckpt, cfg)

    final = latest_state(spark, state)
    batch = resolve(files, cfg)
    assert _cluster_sets(final[1]) == _cluster_sets(batch.clusters)
    # the blocking index is versioned with the state, so the second fold
    # probed it instead of re-keying drop 1 (delta-proportional mode)
    assert final[2] is not None and final[2].count() > 0

    # rerunning with nothing new leaves the state at the same version
    versions_before = sorted(os.listdir(state))
    run_continuous_resolution(spark, inp, state, ckpt, cfg)
    assert sorted(os.listdir(state)) == versions_before


def test_replayed_batch_folds_into_the_version_below_it(spark, tmp_path):
    """The driver dies after batch 1 wrote v1 but before the stream
    committed batch 1: the replay must fold into v0 again, not into v1
    (which already holds its files and which it would overwrite while
    reading)."""
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)
    cfg = PipelineConfig()

    files = generate_repo_files(spark, 50).localCheckpoint()
    drop1 = files.filter(F.pmod(F.xxhash64("path"), F.lit(3)) != 0)
    drop2 = files.filter(F.pmod(F.xxhash64("path"), F.lit(3)) == 0)
    _with_ts(drop1).write.mode("append").parquet(inp)
    run_continuous_resolution(spark, inp, state, ckpt, cfg)
    _with_ts(drop2).write.mode("append").parquet(inp)
    run_continuous_resolution(spark, inp, state, ckpt, cfg)

    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    run_continuous_resolution(spark, inp, state, ckpt, cfg)

    final = latest_state(spark, state)
    assert _cluster_sets(final[1]) == _cluster_sets(resolve(files, cfg).clusters)
    n = files.count()
    assert final[0].count() == n
    assert final[0].select("file_id").distinct().count() == n
