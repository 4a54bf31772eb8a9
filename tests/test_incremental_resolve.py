"""resolve_incremental == batch resolve on the union (no caps crossed)."""

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.config import PipelineConfig
from entity_resolution_spark.datagen import generate_repo_files
from entity_resolution_spark.plans.incremental import resolve_incremental
from entity_resolution_spark.plans.pipeline import resolve


@pytest.fixture(autouse=True)
def _release_cached_frames(spark):
    """Every test here runs several resolve()s; unpersist their stage frames
    after each test, not only at module end (see conftest)."""
    yield
    spark.catalog.clearCache()


def _cluster_sets(clusters_df):
    """Partition-shape comparison: frozenset of member-frozensets (cluster
    ids themselves are min-file-id, so direct dict compare also works)."""
    rows = clusters_df.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["file_id"])
    return {cid: frozenset(m) for cid, m in by_cluster.items()}


def _split(files):
    old = files.filter(F.pmod(F.xxhash64("path"), F.lit(4)) != 0)
    new = files.filter(F.pmod(F.xxhash64("path"), F.lit(4)) == 0)
    return old, new


def test_incremental_matches_batch_union(spark):
    files = generate_repo_files(spark, 120).localCheckpoint()
    old, new = _split(files)
    cfg = PipelineConfig()

    prior = resolve(old, cfg)
    inc = resolve_incremental(prior.features, prior.clusters, new, cfg)
    batch = resolve(files, cfg)

    assert _cluster_sets(inc.clusters) == _cluster_sets(batch.clusters)


def test_incremental_with_reused_blocking_index(spark):
    """Passing the prior blocking index (the 100 TB mode: old keys are not
    recomputed) must give the same clusters."""
    from entity_resolution_spark.operators.blocking import (
        exploded_blocks,
        with_block_keys,
    )
    from entity_resolution_spark.plans.pipeline import exact_duplicate_edges

    files = generate_repo_files(spark, 100).localCheckpoint()
    old, new = _split(files)
    cfg = PipelineConfig()

    prior = resolve(old, cfg)
    old_reps, _ = exact_duplicate_edges(prior.features)
    prior_blocks = exploded_blocks(with_block_keys(old_reps, cfg)).filter(
        ~F.col("block_key").startswith("sha:")
    )

    inc = resolve_incremental(
        prior.features, prior.clusters, new, cfg, prior_blocks=prior_blocks
    )
    batch = resolve(files, cfg)
    assert _cluster_sets(inc.clusters) == _cluster_sets(batch.clusters)


def test_incremental_exact_dup_joins_without_scoring(spark):
    """A new file byte-identical to an old one joins its cluster through
    the exact-duplicate star edge; no candidate pair is scored for it."""
    rows_old = [
        ("r1", "src/alpha.py", "c1", "py", "def alpha():\n    return 1\n" * 10),
        ("r2", "src/beta.py", "c2", "py", "def beta():\n    return 2\n" * 10),
    ]
    rows_new = [
        ("r3", "vendored/alpha.py", "c3", "py", "def alpha():\n    return 1\n" * 10),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    old = spark.createDataFrame(rows_old, schema)
    new = spark.createDataFrame(rows_new, schema)
    cfg = PipelineConfig()
    prior = resolve(old, cfg)
    inc = resolve_incremental(prior.features, prior.clusters, new, cfg)
    sets = _cluster_sets(inc.clusters)
    sizes = sorted(len(m) for m in sets.values())
    assert sizes == [1, 2]  # alpha pair merged, beta alone


def test_chained_folds_with_index_reuse_match_batch(spark):
    """Three deltas folded in sequence — each reusing the previous fold's
    returned blocking index — must equal one batch resolve of everything.
    This pins the .blocks contract (old ∪ new) across a chain, the
    continuous loop's operating mode."""
    files = generate_repo_files(spark, 90).localCheckpoint()
    parts = [
        files.filter(F.pmod(F.xxhash64("path"), F.lit(3)) == i) for i in range(3)
    ]
    cfg = PipelineConfig()

    prior = resolve(parts[0], cfg)
    feats, clusters, blocks = prior.features, prior.clusters, prior.blocks
    for delta in parts[1:]:
        inc = resolve_incremental(feats, clusters, delta, cfg, prior_blocks=blocks)
        feats, clusters, blocks = inc.features, inc.clusters, inc.blocks

    batch = resolve(files, cfg)
    assert _cluster_sets(clusters) == _cluster_sets(batch.clusters)


def test_incremental_matches_batch_on_skewed_splits(spark):
    """Equivalence must hold regardless of the delta's shape: a tiny tail
    delta and a majority delta (the fold is documented for small deltas but
    must stay CORRECT for any split)."""
    files = generate_repo_files(spark, 70).localCheckpoint()
    cfg = PipelineConfig()
    batch = resolve(files, cfg)
    for modulus, residue in ((10, 0), (10, 5), (2, 0)):
        old = files.filter(F.pmod(F.xxhash64("commit"), F.lit(modulus)) != residue)
        new = files.filter(F.pmod(F.xxhash64("commit"), F.lit(modulus)) == residue)
        prior = resolve(old, cfg)
        inc = resolve_incremental(prior.features, prior.clusters, new, cfg)
        assert _cluster_sets(inc.clusters) == _cluster_sets(batch.clusters), (
            modulus,
            residue,
        )


def test_incremental_stop_keys_are_surfaced(spark):
    """A touched key over the drop limit generates zero pairs AND appears
    in the dropped-keys metric — no silent truncation in the fold."""
    from entity_resolution_spark.plans.incremental import incremental_dropped_keys

    cfg = PipelineConfig()
    small_cfg_limit = 5
    old_blocks = spark.range(10).select(
        F.lit("path:py:util:0").alias("block_key"), F.col("id").alias("file_id")
    )
    new_blocks = spark.range(2).select(
        F.lit("path:py:util:0").alias("block_key"),
        (F.col("id") + 100).alias("file_id"),
    )
    import dataclasses

    cfg = dataclasses.replace(cfg, block_key_drop_limit=small_cfg_limit)
    from entity_resolution_spark.plans.incremental import incremental_candidate_pairs

    assert incremental_candidate_pairs(old_blocks, new_blocks, cfg).count() == 0
    dropped = incremental_dropped_keys(old_blocks, new_blocks, cfg).collect()
    assert len(dropped) == 1 and dropped[0].block_size == 12


def test_fold_dropped_keys_metric_counts_touched_stop_keys(spark):
    """The fold's candidates.dropped_keys row, observed by the candidates
    job, equals incremental_dropped_keys over the same two indexes; a delta
    of exact duplicates adds no index entries and reports 0."""
    import dataclasses

    from entity_resolution_spark.plans.incremental import incremental_dropped_keys

    # every key an old and a new row share is over this limit
    cfg = dataclasses.replace(PipelineConfig(), block_key_drop_limit=1)
    files = generate_repo_files(spark, 60).localCheckpoint()
    old, new = _split(files)
    prior = resolve(old, cfg)

    def dropped_metric(inc):
        m = {(r.stage, r.metric): r.value for r in inc.metrics.collect()}
        return m[("candidates", "dropped_keys")]

    inc = resolve_incremental(
        prior.features, prior.clusters, new, cfg, prior_blocks=prior.blocks
    )
    new_blocks = inc.blocks.exceptAll(prior.blocks)
    expected = incremental_dropped_keys(prior.blocks, new_blocks, cfg).count()
    assert expected > 0
    assert dropped_metric(inc) == expected

    # copies of old rows under larger ids never become their sha group's
    # representative, so they add no blocking-index entries
    dups = (
        old.filter(F.col("content").isNotNull())
        .limit(3)
        .withColumn("file_id", F.col("file_id") + F.lit(1 << 40))
    )
    inc = resolve_incremental(
        prior.features, prior.clusters, dups, cfg, prior_blocks=prior.blocks
    )
    assert dropped_metric(inc) == 0


# ---------------------------------------------------------------------------
# Retraction (right-to-be-forgotten) repair
# ---------------------------------------------------------------------------


def _retract(prior, deleted_df, cfg, blocks=None):
    from entity_resolution_spark.plans.retraction import retract_and_repair

    return retract_and_repair(
        prior.features, prior.clusters, prior.scored, deleted_df, cfg,
        prior_blocks=blocks,
    )


def test_retract_matches_batch_on_survivors(spark):
    """retract_and_repair == batch resolve over the surviving rows — the
    plan's equivalence contract. The hash-picked deletion set includes
    sha-group representatives (exercising the promotion refold) and rows
    whose removal splits or empties clusters."""
    files = generate_repo_files(spark, 120).localCheckpoint()
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    deleted = prior.features.filter(
        F.pmod(F.xxhash64("path"), F.lit(5)) == 0
    ).select("file_id")
    rep = _retract(prior, deleted, cfg)
    survivors = files.join(F.broadcast(deleted), "file_id", "left_anti")
    batch = resolve(survivors, cfg)
    assert _cluster_sets(rep.clusters) == _cluster_sets(batch.clusters)
    # retracted rows are gone from the reusable prior state
    assert rep.features.join(F.broadcast(deleted), "file_id", "left_semi").count() == 0


def test_retract_promotes_new_sha_representative(spark):
    """Deleting a sha group's representative promotes the minimum survivor;
    the promoted row is scored against the index (its features differ from
    the deleted rep's) and the group stays one cluster."""
    rows = [
        ("r1", "src/alpha.py", "c1", "py", "def alpha():\n    return 1\n" * 10),
        ("r2", "vendored/alpha.py", "c2", "py", "def alpha():\n    return 1\n" * 10),
        ("r3", "mirror/alpha.py", "c3", "py", "def alpha():\n    return 1\n" * 10),
        ("r4", "src/beta.py", "c4", "py", "def beta():\n    return 2\n" * 10),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    files = spark.createDataFrame(rows, schema)
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    # the rep of the 3-copy sha group is its min file_id
    sha_members = prior.features.filter(F.col("path").contains("alpha"))
    rep_id = sha_members.agg(F.min("file_id")).collect()[0][0]
    deleted = spark.createDataFrame([(rep_id,)], "file_id long")
    repr_ = _retract(prior, deleted, cfg)
    survivors = files.filter(~F.col("path").startswith("src/alpha"))
    # identify which raw row was the rep (min xxhash id) to drop it
    surv_ids = {r["file_id"] for r in repr_.clusters.collect()}
    assert rep_id not in surv_ids
    batch = resolve(
        files.withColumn(
            "file_id", F.xxhash64("repo", "path", "commit")
        ).filter(F.col("file_id") != rep_id),
        cfg,
    )
    assert _cluster_sets(repr_.clusters) == _cluster_sets(batch.clusters)
    # the two surviving alpha copies still share one cluster
    alpha_clusters = {
        r["cluster_id"]
        for r in repr_.clusters.join(
            sha_members.filter(F.col("file_id") != rep_id).select("file_id"),
            "file_id",
            "left_semi",
        ).collect()
    }
    assert len(alpha_clusters) == 1


def test_retract_empty_deletion_is_identity(spark):
    files = generate_repo_files(spark, 60).localCheckpoint()
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    deleted = spark.createDataFrame([], "file_id long")
    rep = _retract(prior, deleted, cfg)
    assert _cluster_sets(rep.clusters) == _cluster_sets(prior.clusters)


def test_retract_with_reused_blocking_index(spark):
    """Passing prior_blocks (the 100 TB mode) gives the same clusters and
    removes retracted entries from the returned index."""
    files = generate_repo_files(spark, 100).localCheckpoint()
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    deleted = prior.features.filter(
        F.pmod(F.xxhash64("path"), F.lit(6)) == 0
    ).select("file_id")
    rep = _retract(prior, deleted, cfg, blocks=prior.blocks)
    survivors = files.join(F.broadcast(deleted), "file_id", "left_anti")
    batch = resolve(survivors, cfg)
    assert _cluster_sets(rep.clusters) == _cluster_sets(batch.clusters)
    if rep.blocks is not None:
        assert (
            rep.blocks.join(F.broadcast(deleted), "file_id", "left_semi").count()
            == 0
        )


# ---------------------------------------------------------------------------
# Clerical-review decision application
# ---------------------------------------------------------------------------


def _apply(prior, decisions_rows, spark, cfg):
    from entity_resolution_spark.plans.reviews import apply_review_decisions

    dec = spark.createDataFrame(
        decisions_rows, "left_id long, right_id long, decision string"
    )
    return apply_review_decisions(
        prior.features, prior.clusters, prior.scored, dec, cfg
    )


def _clusters_of(res, ids):
    return {
        r["file_id"]: r["cluster_id"]
        for r in res.clusters.filter(F.col("file_id").isin(ids)).collect()
    }


def test_review_match_override_merges_unrelated_clusters(spark):
    rows = [
        ("r1", "src/alpha.py", "c1", "py", "def alpha():\n    return 1\n" * 10),
        ("r2", "src/omega.py", "c2", "py", "class Omega:\n    pass\n" * 10),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    files = spark.createDataFrame(rows, schema)
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    ids = sorted(r["file_id"] for r in prior.clusters.collect())
    assert len({r["cluster_id"] for r in prior.clusters.collect()}) == 2
    out = _apply(prior, [(ids[0], ids[1], "match")], spark, cfg)
    got = _clusters_of(out, ids)
    assert got[ids[0]] == got[ids[1]] == min(ids)


def test_review_non_match_override_splits_and_conflict_rule(spark):
    """non_match removes the pair's evidence edge (star-edge semantics:
    a severed exact member disconnects even though content-identical
    peers remain); when both verdicts exist for one pair, non_match
    wins."""
    rows = [
        ("r1", "src/alpha.py", "c1", "py", "def alpha():\n    return 1\n" * 10),
        ("r2", "mirror/alpha.py", "c2", "py", "def alpha():\n    return 1\n" * 10),
        ("r3", "vendor/alpha.py", "c3", "py", "def alpha():\n    return 1\n" * 10),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    files = spark.createDataFrame(rows, schema)
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    ids = sorted(r["file_id"] for r in prior.clusters.collect())
    rep = ids[0]
    # sever rep -> ids[2]; conflict row tries to re-add it and must lose
    out = _apply(
        prior,
        [(rep, ids[2], "non_match"), (ids[2], rep, "match")],
        spark,
        cfg,
    )
    got = _clusters_of(out, ids)
    assert got[rep] == got[ids[1]] == rep
    assert got[ids[2]] == ids[2]  # singleton after the only edge was severed


def test_review_empty_and_validation(spark):
    import pytest

    files = generate_repo_files(spark, 40).localCheckpoint()
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    out = _apply(prior, [], spark, cfg)
    assert _cluster_sets(out.clusters) == _cluster_sets(prior.clusters)
    with pytest.raises(ValueError, match="decision"):
        _apply(prior, [(1, 2, "maybe")], spark, cfg)


def test_review_rejects_ids_absent_from_prior_clusters(spark):
    """A verdict naming an id the prior resolution never saw is rejected,
    with every such id named — a match on it would otherwise add a phantom
    edge and phantom cluster rows."""
    import pytest

    rows = [
        ("r1", "src/alpha.py", "c1", "py", "def alpha():\n    return 1\n" * 10),
        ("r2", "src/omega.py", "c2", "py", "class Omega:\n    pass\n" * 10),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    cfg = PipelineConfig()
    prior = resolve(spark.createDataFrame(rows, schema), cfg)
    ids = sorted(r["file_id"] for r in prior.clusters.collect())
    phantom_a, phantom_b = max(ids) + 1, max(ids) + 2
    with pytest.raises(ValueError) as err:
        _apply(
            prior,
            [(ids[0], phantom_a, "match"), (phantom_b, ids[1], "non_match")],
            spark,
            cfg,
        )
    assert str(phantom_a) in str(err.value) and str(phantom_b) in str(err.value)
    assert str(ids[0]) not in str(err.value) and str(ids[1]) not in str(err.value)


def test_review_non_match_keeps_indirect_paths(spark):
    """Edge-level semantics: severing one scored edge does NOT split rows
    still connected through another evidence path."""
    base = "def shared():\n    return 42\n" * 12
    rows = [
        ("r1", "src/shared.py", "c1", "py", base),
        ("r2", "fork/shared.py", "c2", "py", base + "# fork note\n"),
        ("r3", "copy/shared.py", "c3", "py", base + "# copy note\n"),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    files = spark.createDataFrame(rows, schema)
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    ids = sorted(r["file_id"] for r in prior.clusters.collect())
    # all three near-identical -> one cluster with a triangle of scored
    # edges; sever ONE edge and the component must stay whole
    matched = {
        (r["left_id"], r["right_id"])
        for r in prior.scored.filter(
            F.col("score") >= cfg.similarity_threshold
        ).collect()
    }
    if len(matched) >= 3:  # full triangle materialized
        a, b = sorted(matched)[0]
        out = _apply(prior, [(a, b, "non_match")], spark, cfg)
        got = _clusters_of(out, ids)
        assert len(set(got.values())) == 1


# ---------------------------------------------------------------------------
# Re-thresholding from lineage
# ---------------------------------------------------------------------------


def test_rethreshold_down_matches_batch(spark):
    """Lowering the threshold re-scores only the suspect pairs (bound
    below the OLD reject line, above the NEW one) and must reproduce the
    batch run at the new threshold exactly — default config, so the
    content term and the bound-reject machinery are both live."""
    from entity_resolution_spark.plans.rethreshold import rethreshold_clusters

    files = generate_repo_files(spark, 100).localCheckpoint()
    cfg = PipelineConfig()  # threshold 80
    prior = resolve(files, cfg)
    out = rethreshold_clusters(prior.features, prior.scored, 70, cfg)
    batch = resolve(files, PipelineConfig(similarity_threshold=70))
    assert _cluster_sets(out.clusters) == _cluster_sets(batch.clusters)
    n_re = out.metrics.filter(
        "stage = 'rethreshold' AND metric = 'rescored_pairs'"
    ).collect()[0]["value"]
    # the suspect set must stay a small fraction of the lineage (the
    # whole point: no corpus re-score)
    assert n_re < prior.scored.count()


def test_rethreshold_up_is_pure_filter_and_matches_batch(spark):
    from entity_resolution_spark.plans.rethreshold import rethreshold_clusters

    files = generate_repo_files(spark, 100).localCheckpoint()
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    out = rethreshold_clusters(prior.features, prior.scored, 90, cfg)
    batch = resolve(files, PipelineConfig(similarity_threshold=90))
    assert _cluster_sets(out.clusters) == _cluster_sets(batch.clusters)
    assert (
        out.metrics.filter(
            "stage = 'rethreshold' AND metric = 'rescored_pairs'"
        ).collect()[0]["value"]
        == 0.0
    )


def test_rethreshold_identity_at_same_threshold(spark):
    from entity_resolution_spark.plans.rethreshold import rethreshold_clusters

    files = generate_repo_files(spark, 60).localCheckpoint()
    cfg = PipelineConfig()
    prior = resolve(files, cfg)
    out = rethreshold_clusters(
        prior.features, prior.scored, cfg.similarity_threshold, cfg
    )
    assert _cluster_sets(out.clusters) == _cluster_sets(prior.clusters)
