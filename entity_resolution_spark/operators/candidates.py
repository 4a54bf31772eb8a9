"""Stage 2 — candidate-pair generation from the blocking index.

Replaces the reference's exhaustive nested-loop cross product
(/root/reference/src/entity_resolution/entity_resolution.py:326-344) with a
blocked equi self-join (SURVEY.md §2.3 J1) plus explicit skew handling
(north_rule: "salted repartition on hot keys").

The skew ladder lives in ONE kernel, :func:`blocked_self_join`, shared by
the pipeline's candidate stage and every band-keyed dedup operator
(operators/dedup.py: MinHash bands, SimHash chunks, hyperplane sketches):

- **small blocks** (size <= max_block_size): direct self-join on block_key
  with ``left_id < right_id``; AQE skew-join is the backstop.
- **hot blocks** (size <= block_key_drop_limit): *triangular tile
  decomposition* — members are salted into g groups
  (g = ceil(size/max_block_size), capped), each row is replicated to the g
  tiles containing its salt, and the join runs per (block_key, tile_i,
  tile_j). Every unordered pair lands in exactly one tile: distinct-salt
  pairs in tile (min,max); same-salt pairs kept only in the diagonal tile.
  This bounds the largest join partition at ~2·size/g rows instead of size,
  so a single vendored-file block can no longer serialize one executor.
  Hot blocks whose implied pair count exceeds max_pairs_per_hot_block are
  hash-thinned 1-in-K (:func:`pair_budget_k`; logged by
  :func:`hot_block_sampling`).
- **pathological blocks** (size > block_key_drop_limit): stop-key removal —
  the key is dropped and LOGGED to the metrics frame (no silent truncation,
  SURVEY.md §4.2). At 100 TB these are empty files / boilerplate whose
  members are still paired through their other, more selective keys.

The kernel does no cross-key dedup. ``candidate_pairs`` deduplicates pairs
generated by multiple key families with a ``groupBy(left, right)`` keeping
the lexicographically smallest block key (deterministic provenance for the
"at the same blocking key" metric).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from .blocking import block_census


def pair_budget_k(est_pairs: Column, cfg: PipelineConfig) -> Column:
    """Per-block thinning divisor K = ceil(est_pairs / budget), at least 1:
    a block whose implied pair count exceeds max_pairs_per_hot_block keeps
    a deterministic 1-in-K hash sample of its pairs."""
    return F.greatest(
        F.lit(1), F.ceil(est_pairs / cfg.max_pairs_per_hot_block)
    ).cast("long")


def _implied_pairs(size: Column) -> Column:
    return (size * (size - 1) / 2).cast("long")


def _is_hot(cfg: PipelineConfig) -> Column:
    return (F.col("block_size") > cfg.max_block_size) & (
        F.col("block_size") <= cfg.block_key_drop_limit
    )


def _pair_cols(payload_cols: list[str]) -> list[Column]:
    return [
        F.col("block_key"),
        F.col("a.file_id").alias("left_id"),
        F.col("b.file_id").alias("right_id"),
        *[F.col(f"a.{c}").alias(f"l_{c}") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"r_{c}") for c in payload_cols],
    ]


def blocked_self_join(
    index: DataFrame, cfg: PipelineConfig, payload_cols=()
) -> DataFrame:
    """Skew-safe self-join of an inverted index (see module docstring):
    ``(block_key, file_id, *payload)`` -> ``(block_key, left_id, right_id,
    l_<p>..., r_<p>...)`` with left_id < right_id. Payload columns ride the
    join so no join-back to the corpus is needed. A pair sharing several
    keys is emitted once per key.

    The census is a hash-aggregate + hash-join back, never a
    count-over-window: the window form sorts each block in one task, so the
    very stop-keys the census exists to drop (10^8-member boilerplate keys)
    would straggle in the sort BEFORE the drop filter could remove them.
    The census is map-side combined to ~one row per key; the join back
    streams, and its block_key exchange is reused by the self-joins.
    """
    payload_cols = list(payload_cols)
    index = index.select("block_key", "file_id", *payload_cols)
    sized = index.join(block_census(index).hint("shuffle_hash"), "block_key")

    small = sized.filter(
        (F.col("block_size") > 1) & (F.col("block_size") <= cfg.max_block_size)
    ).drop("block_size")
    # corpus-sized self-join: force a shuffle join — broadcasting the block
    # index is never right (it IS the corpus), and both sides share the
    # block_key partitioning so the exchange is reused
    a, b = small.alias("a"), small.hint("shuffle_hash").alias("b")
    small_pairs = (
        a.join(b, "block_key")
        .where(F.col("a.file_id") < F.col("b.file_id"))
        .select(*_pair_cols(payload_cols))
    )
    hot_pairs = _tiled_pairs(sized.filter(_is_hot(cfg)), cfg, payload_cols)
    return small_pairs.unionByName(hot_pairs)


def _tiled_pairs(hot: DataFrame, cfg: PipelineConfig, payload_cols: list[str]) -> DataFrame:
    """Triangular tiling + budget thinning of hot blocks (see module
    docstring)."""
    g = F.least(
        F.lit(cfg.max_salt_groups),
        F.ceil(F.col("block_size") / cfg.max_block_size).cast("int"),
    )
    salted = hot.select(
        "block_key",
        "file_id",
        *payload_cols,
        g.alias("g"),
        F.pmod(F.xxhash64(F.col("file_id")), g).cast("int").alias("salt"),
        pair_budget_k(_implied_pairs(F.col("block_size")), cfg).alias("__k"),
    )
    keep = ["block_key", "file_id", *payload_cols, "salt", "__k"]
    tiled = salted.select(
        *keep, F.explode(F.sequence(F.lit(0), F.col("g") - 1)).alias("t")
    ).select(
        *keep,
        F.least("salt", "t").alias("ti"),
        F.greatest("salt", "t").alias("tj"),
    ).dropDuplicates(["block_key", "file_id", "ti", "tj"])
    a, b = tiled.alias("a"), tiled.hint("shuffle_hash").alias("b")
    return (
        a.join(b, ["block_key", "ti", "tj"])
        .where(F.col("a.file_id") < F.col("b.file_id"))
        # same-salt pairs co-occur in every tile touching their salt: keep
        # them only in the diagonal tile so each pair is emitted exactly once
        .where((F.col("a.salt") != F.col("b.salt")) | (F.col("ti") == F.col("tj")))
        # per-block candidate budget: the filter rides the join output, no
        # extra shuffle; hot_block_sampling() surfaces affected blocks
        .where(
            F.pmod(F.xxhash64(F.col("a.file_id"), F.col("b.file_id")), F.col("a.__k")) == 0
        )
        .select(*_pair_cols(payload_cols))
    )


def candidate_pairs(blocks: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """blocks: (block_key, file_id) -> (left_id, right_id, block_key), one
    row per pair with the smallest shared block key."""
    pairs = blocked_self_join(blocks, cfg or PipelineConfig())
    return pairs.groupBy("left_id", "right_id").agg(F.min("block_key").alias("block_key"))


def dropped_block_keys(blocks: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Stop-keys removed from candidate generation — surfaced, not silent."""
    cfg = cfg or PipelineConfig()
    return block_census(blocks).filter(F.col("block_size") > cfg.block_key_drop_limit)


def hot_block_sampling(blocks: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Blocks whose candidate pairs were hash-thinned by the per-block
    budget, with their kept fraction — the no-silent-truncation log. Only
    blocks that reach the tiled path: keys above the drop limit generate
    zero pairs (they're in dropped_block_keys, not here)."""
    cfg = cfg or PipelineConfig()
    k = pair_budget_k(F.col("est_pairs"), cfg)
    return (
        block_census(blocks)
        .filter(_is_hot(cfg))
        .withColumn("est_pairs", _implied_pairs(F.col("block_size")))
        .withColumn("kept_fraction", F.round(1.0 / k, 6))
        .filter(F.col("kept_fraction") < 1.0)
    )
