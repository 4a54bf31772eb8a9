"""End-to-end record-linkage pipeline (SURVEY.md §2.11 stage map).

    repo_files ──Stage 1──► features (+sha256, tokens, blocking keys)
               ──Stage 1b─► exact-duplicate collapse (sha groups → star edges)
               ──Stage 2──► candidate pairs (blocked, salted self-join)
               ──Stage 3──► scored pairs (Arrow pandas-UDF blend)
               ──Stage 4──► connected components → clusters
               ──Stage 5──► consolidated canonical entities + metrics/lineage

The exact-duplicate collapse is the engine's biggest asymptotic win over the
reference design: rows with identical ``content_sha256`` never enter
pairwise scoring at all — one representative per digest proceeds, and the
rest rejoin their representative's cluster through O(n) star edges. On a
100 TB corpus where boilerplate files repeat millions of times, this turns
the worst quadratic blocks into linear work *before* blocking even runs.

Every stage can persist through a StageStore (parquet/Iceberg) and a
restart resumes from the last complete stage (north_rule resumability).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.blocking import block_census, exploded_blocks, with_block_keys, with_features
from ..operators.candidates import candidate_pairs, dropped_block_keys
from ..operators.clustering import assign_clusters, connected_components
from ..operators.scoring import ScoringContext, matched_edges, score_pairs
from ..sources.io import StageStore
from .stages import StageClock, cut_lineage


@dataclass
class ResolutionResult:
    features: DataFrame  # per-file derived features incl. content_sha256
    scored: DataFrame  # all scored candidate pairs (lineage of every decision)
    clusters: DataFrame  # (file_id, cluster_id)
    metrics: DataFrame  # (stage, metric, value)
    dropped_keys: DataFrame  # stop-keys removed from blocking, with sizes
    blocks: DataFrame | None = None  # (block_key, file_id) index over reps —
    # persist it (StageStore/parquet) and hand it to resolve_incremental as
    # prior_blocks so later folds skip re-keying the old corpus
    scoring_ctx: "ScoringContext | None" = None  # per-call scoring-stage
    # state (phase-1 fill seconds + cache handle); interleaved resolve()
    # calls in one session each carry their own


def sha_group_key():
    """Exact-duplicate group key over (content_sha256, file_id) columns:
    NULL content keys by the row's own file_id — unknown bytes are not
    duplicates of other unknowns (see exact_duplicate_edges). Shared with
    the incremental plan so both collapse into identical groups."""
    return F.coalesce(
        F.col("content_sha256"),
        F.concat(F.lit("__null__:"), F.col("file_id").cast("string")),
    )


def exact_duplicate_edges(feat: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(representatives, star edges rep->member) by content_sha256.

    Hash-aggregate to a (digest, rep_id) map, then hash-join it back: the
    aggregate's map-side combine shrinks even a 10^9-member boilerplate
    digest to one row per partition before the shuffle, and neither step
    sorts — a window-min here (the earlier design) sorts every partition by
    digest, which makes the one mega-digest group a single-task external
    sort at 100 TB.

    NULL content (unknown bytes) is NOT a duplicate of other unknowns: each
    null-content row keys by its own file_id and stays a singleton here —
    otherwise every content-less row in the corpus would merge into one
    mega-cluster. The sha256 column itself stays NULL (the per-row
    invariant is sha-of-content, not sha-of-coalesce).
    """
    tagged = feat.withColumn("__sha_key", sha_group_key())
    rep_map = tagged.groupBy("__sha_key").agg(F.min("file_id").alias("rep_id"))
    joined = tagged.join(rep_map.hint("shuffle_hash"), "__sha_key")
    reps = joined.filter(F.col("file_id") == F.col("rep_id")).drop("rep_id", "__sha_key")
    edges = (
        joined.filter(F.col("file_id") != F.col("rep_id"))
        .select(F.col("rep_id").alias("src"), F.col("file_id").alias("dst"))
    )
    return reps, edges


def prepare_files(files: DataFrame) -> DataFrame:
    """Prologue of resolve() and the fold: ship the package to the workers,
    reject a malformed frame with a complete report (readers.py), and give
    id-less rows the deterministic ``file_id`` both plans must agree on."""
    from ..session import ensure_py_files
    from ..sources.readers import validate_schema

    ensure_py_files(files.sparkSession)
    validate_schema(files)
    if "file_id" not in files.columns:
        # monotonically_increasing_id() is partition-dependent, which made
        # cluster_id = min(file_id) nondeterministic across
        # runs/parallelism. A content-address over the identity columns is
        # stable under any partitioning (64-bit birthday collisions only
        # matter past ~10^9 files; callers at that scale should assign
        # their own ids).
        id_cols = [c for c in ("repo", "path", "commit") if c in files.columns]
        files = files.withColumn("file_id", F.xxhash64(*[F.col(c) for c in id_cols]))
    return files


def rep_blocks(reps: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(block_key, file_id) index over representatives, minus the sha keys
    (singletons among representatives by construction)."""
    return exploded_blocks(with_block_keys(reps, cfg)).filter(
        ~F.col("block_key").startswith("sha:")
    )


def scoring_stage(clock: StageClock, build) -> tuple[DataFrame, int, ScoringContext]:
    """(scored, rows, context): ``build(ctx)`` scores under a fresh
    ScoringContext and the result closes at the ``scoring`` boundary."""
    ctx = ScoringContext()
    # score_pairs fills phase 1 eagerly at build time, before the
    # boundary's timer starts: that fill is its own, disjoint
    # ``scoring_p1_fill`` row (this call's context, so interleaved plans
    # don't cross-contaminate); ``scoring`` times only phase 2. Phase 1's
    # cache goes once the scored union is materialized.
    scored, n_scored = clock.boundary("scoring", build(ctx))
    clock.seconds["scoring_p1_fill"] = ctx.p1_fill_seconds
    ctx.release_phase1()
    return scored, n_scored, ctx


def close_clusters(clusters: DataFrame) -> tuple[DataFrame, int]:
    """(``clusters`` cut at a boundary, their number): each cluster has one
    root row (file_id = cluster_id), counted by the checkpoint job."""
    out, seen = cut_lineage(
        clusters, roots=F.sum((F.col("file_id") == F.col("cluster_id")).cast("long"))
    )
    return out, seen["roots"] or 0


def resolve(
    files: DataFrame,
    cfg: PipelineConfig | None = None,
    store: StageStore | None = None,
    spark: SparkSession | None = None,
) -> ResolutionResult:
    """Run (or resume) the full pipeline on a (repo, path, commit, lang,
    content[, file_id]) frame."""
    cfg = cfg or PipelineConfig()
    spark = spark or files.sparkSession
    files = prepare_files(files)
    clock = StageClock(parquet_backed=store is not None)

    def _stage(name: str, compute, partition_by=None) -> DataFrame:
        if store is None:
            return compute()
        with clock.timed(name):
            return store.get_or_compute(spark, name, compute, partition_by)

    # Without a StageStore, each frame consumed by several downstream
    # branches closes its stage at a forced boundary (stages.StageClock):
    # materialized once, in dependency order, and returned as a lineage-free
    # checkpoint, so later stages — and every action a caller runs on the
    # result — plan against one node instead of the whole upstream pipeline.
    # The boundaries' row counts are the metrics' size rows. With a
    # StageStore the parquet writes are the boundaries.
    feat, n_files = clock.boundary(
        "features", _stage("features", lambda: with_features(files, cfg))
    )
    reps, exact_edges = exact_duplicate_edges(feat)
    reps, _ = clock.boundary("exact_collapse", reps)

    # Persisted: the blocking index is read by candidate generation AND the
    # block-census metrics/dropped-keys reports — without the cache each
    # reader re-runs the MinHash band UDF over the whole corpus (measured
    # as most of the metrics stage's cost). Fill happens inside the
    # candidates stage; the frame is only (block_key, file_id).
    blocks = rep_blocks(reps, cfg).persist()

    pairs, n_pairs = clock.boundary(
        "candidates", _stage("pairs", lambda: candidate_pairs(blocks, cfg))
    )
    scored, n_scored, scoring_ctx = scoring_stage(
        clock,
        lambda ctx: _stage("scored", lambda: score_pairs(pairs, reps, cfg, ctx=ctx)),
    )

    near_edges = matched_edges(scored, cfg)
    all_edges = near_edges.select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    ).unionByName(exact_edges)

    # the clusters close at a boundary: the metrics, the caller's state
    # write and every later read use its rows, not a re-run of the
    # assignment join; with a StageStore the parquet read is the boundary
    with clock.timed("clustering"):
        components = connected_components(all_edges, cfg)
        if store is None:
            clusters, n_clusters = close_clusters(assign_clusters(feat, components))
    if store is not None:
        clusters = _stage("clusters", lambda: assign_clusters(feat, components))
        n_clusters = clusters.where(F.col("file_id") == F.col("cluster_id")).count()

    dropped = dropped_block_keys(blocks, cfg)
    with clock.timed("metrics"):
        rows = _metric_rows(
            cfg, n_files, n_pairs, n_scored, near_edges.count(), n_clusters, blocks
        )
    metrics = clock.metrics(spark, rows)
    if store is not None:
        store.write("metrics", metrics)
        store.write("lineage", scored)  # every pair decision, with block_key provenance

    return ResolutionResult(
        feat, scored, clusters, metrics, dropped, blocks, scoring_ctx
    )


def _build_metrics(spark, files, pairs, scored, clusters, cfg, blocks=None) -> DataFrame:
    """Stage-level metrics table over a resolve's frames, counting each
    one (resolve() itself passes the counts its boundaries took to
    :func:`_metric_rows`)."""
    agg = scored.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum((F.col("score") >= cfg.similarity_threshold).cast("long")), F.lit(0)).alias("m"),
    ).collect()[0]
    n_clusters = clusters.select("cluster_id").distinct().count()
    rows = _metric_rows(
        cfg, files.count(), pairs.count(), agg["n"], agg["m"], n_clusters, blocks
    )
    return StageClock().metrics(spark, rows)


def _metric_rows(cfg, n_files, n_pairs, n_scored, n_matched, n_clusters, blocks=None):
    """Stage-level metric rows from the stage sizes plus one pass over the
    block census: the dashboards that prove the skew handling worked."""
    # whether the compiled LCS/JW kernel loaded (driver probe; workers share
    # the same fs + content-addressed .so). A silent fallback to the pure-
    # Python kernel is ~8x slower scoring — this row makes slow samples
    # attributable instead of mysterious.
    from ..functions._lcs_native import get_lib

    rows = [
        ("input", "rows", float(n_files)),
        ("candidates", "pairs", float(n_pairs)),
        ("scoring", "scored_pairs", float(n_scored)),
        ("scoring", "matched_pairs", float(n_matched)),
        ("scoring", "native_kernel", 1.0 if get_lib() is not None else 0.0),
        ("clustering", "clusters", float(n_clusters)),
    ]
    if blocks is not None:
        # block-size distribution — the skew evidence (how close the
        # largest block sits to the salting threshold and how many blocks
        # crossed it). One aggregate pass over the census.
        n = F.col("block_size")
        b = block_census(blocks).agg(
            F.count("*").alias("blocks"),
            F.max(n).alias("max_block"),
            F.percentile_approx(n, 0.99).alias("p99_block"),
            F.sum((n > cfg.max_block_size).cast("long")).alias("salted_blocks"),
            F.sum((n > cfg.block_key_drop_limit).cast("long")).alias("dropped_keys"),
        ).collect()[0]
        rows += [
            ("blocking", "blocks", float(b["blocks"])),
            ("blocking", "max_block_size", float(b["max_block"] or 0)),
            ("blocking", "p99_block_size", float(b["p99_block"] or 0)),
            ("blocking", "salted_blocks", float(b["salted_blocks"] or 0)),
            ("blocking", "dropped_keys", float(b["dropped_keys"] or 0)),
        ]
    return rows
