"""Salted-tiling correctness (every pair exactly once) + resume-from-
checkpoint (SURVEY.md §5.2 item 4) + stop-key logging."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.config import PipelineConfig
from entity_resolution_spark.datagen import generate_repo_files
from entity_resolution_spark.operators.candidates import candidate_pairs, dropped_block_keys
from entity_resolution_spark.plans.pipeline import resolve
from entity_resolution_spark.sources.io import StageStore, partition_metrics


def _pairs_set(df):
    return {(r.left_id, r.right_id) for r in df.collect()}


def test_tiled_pairs_equal_naive_pairs(spark):
    """Force the hot-block path with a tiny max_block_size: the triangular
    tiling must emit exactly the same pair set as the naive self-join, each
    pair once. A small block whose ids overlap the hot block's reaches the
    same pairs through a direct key: they are emitted once, with the min
    block_key."""
    rows = (
        [("hot", i) for i in range(97)]
        + [("cold", i) for i in range(200, 205)]
        + [("direct", i) for i in range(40, 45)]
    )
    blocks = spark.createDataFrame(rows, "block_key string, file_id long")
    cfg = PipelineConfig(max_block_size=10, max_salt_groups=8)
    got = candidate_pairs(blocks, cfg)
    # exactly-once: groupBy in candidate_pairs dedups; check raw counts match
    n_expected = 97 * 96 // 2 + 5 * 4 // 2
    assert got.count() == n_expected
    naive = {
        (a, b)
        for key, lo, hi in (("hot", 0, 97), ("cold", 200, 205))
        for a in range(lo, hi)
        for b in range(a + 1, hi)
    }
    assert _pairs_set(got) == naive
    overlap = {(a, b) for a in range(40, 45) for b in range(a + 1, 45)}
    keys = {(r.left_id, r.right_id): r.block_key for r in got.collect()}
    assert all(keys[p] == "direct" for p in overlap)
    assert all(k == "hot" for p, k in keys.items() if p not in overlap and p[0] < 97)


def test_stop_key_removal_logged(spark):
    rows = [("huge", i) for i in range(50)] + [("ok", 1), ("ok", 2)]
    blocks = spark.createDataFrame(rows, "block_key string, file_id long")
    cfg = PipelineConfig(max_block_size=5, block_key_drop_limit=30)
    pairs = candidate_pairs(blocks, cfg)
    # the huge block contributes nothing; the ok block contributes 1 pair
    assert pairs.count() == 1
    dropped = dropped_block_keys(blocks, cfg).collect()
    assert len(dropped) == 1 and dropped[0].block_key == "huge" and dropped[0].block_size == 50


def test_resume_from_partial_checkpoint(spark):
    """Simulate a crash after the pairs stage: delete 'scored' and
    'clusters', re-run, and require bit-identical clusters."""
    files = generate_repo_files(spark, 60)
    base = tempfile.mkdtemp()
    try:
        store = StageStore(base)
        r1 = resolve(files, PipelineConfig(), store=store, spark=spark)
        c1 = sorted((x.file_id, x.cluster_id) for x in r1.clusters.collect())
        for stage in ("scored", "clusters", "metrics", "lineage"):
            shutil.rmtree(os.path.join(base, stage), ignore_errors=True)
        # features + pairs survive; downstream recomputes from them
        r2 = resolve(files, PipelineConfig(), store=store, spark=spark)
        c2 = sorted((x.file_id, x.cluster_id) for x in r2.clusters.collect())
        assert c1 == c2
        # aborted write (no _SUCCESS) is ignored, not trusted
        os.makedirs(os.path.join(base, "ghost"))
        assert not store.is_complete("ghost")
    finally:
        shutil.rmtree(base)


def test_partition_metrics_shape(spark):
    df = spark.range(100).repartition(4)
    m = partition_metrics(df, "probe")
    rows = m.collect()
    assert sum(r.rows for r in rows) == 100
    assert all(r.stage == "probe" for r in rows)


def test_per_block_pair_budget_thins_and_logs(spark):
    """A hot block over the pair budget gets deterministic 1-in-K thinning;
    hot_block_sampling logs it; under-budget blocks are untouched."""
    from entity_resolution_spark.operators.candidates import hot_block_sampling

    rows = [("hot", i) for i in range(200)] + [("small", i) for i in range(500, 504)]
    blocks = spark.createDataFrame(rows, "block_key string, file_id long")
    cfg = PipelineConfig(max_block_size=50, max_pairs_per_hot_block=5000)
    got = candidate_pairs(blocks, cfg)
    n_hot = got.filter(F.col("block_key") == "hot").count()
    # est 19900 pairs, K=4 -> about a quarter survive (hash-thinned)
    assert 19900 // 4 * 0.5 < n_hot < 19900 // 4 * 1.7
    assert got.filter(F.col("block_key") == "small").count() == 6  # untouched
    log = hot_block_sampling(blocks, cfg).collect()
    assert len(log) == 1
    assert log[0].block_key == "hot" and log[0].kept_fraction == 0.25
    # determinism: same thinning on re-run
    again = candidate_pairs(blocks, cfg)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, again.collect()))
