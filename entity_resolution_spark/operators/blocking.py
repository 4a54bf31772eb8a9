"""Stage 1 — feature generation + blocking keys.

Carries the reference's "describe then compare" semantics
(/root/reference/src/entity_resolution/entity_resolution.py:117-210: one
LLM description per column, then all-pairs compare) re-expressed as
deterministic distributed feature extraction: every row gets a set of
blocking keys; rows sharing a key become candidate pairs (SURVEY.md §2.11
Stage 1). This turns the reference's O(n·m) cross product into a union of
small equi-join blocks — the single most important semantic→physical
redesign (SURVEY.md §2.3 J1).

Key families (multi-pass blocking; recall = union over families):
  sha:<sha256>                exact-content duplicates
  path:<lang>:<norm basename> rename/move variants and the labeled-pair key
  pfx:<hash of first 256 normalized chars>  truncation/extension variants
  mh:<band>:<digest>          MinHash-LSH bands over normalized content

Scale notes:
- sha256 + path keys are pure JVM column expressions (whole-stage codegen);
  only the MinHash bands need Python, and they run as one Arrow-batched
  pandas UDF per row batch — no per-row Python (BASELINE.json:input_hint).
- the features frame is computed once and reused by scoring (content is
  projected only where needed; Catalyst prunes it from key-only plans).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..config import MinHashConfig, PipelineConfig
from ..functions.text import norm_basename_col, norm_content_col

PREFIX_CHARS = 256  # pfx-key window; truncation variants keep >=256 chars
LEN_BAND = 64  # path-key length-band width (chars of normalized content)


def make_band_udf(cfg: MinHashConfig):
    @pandas_udf(T.ArrayType(T.StringType()))
    def band_keys(texts: pd.Series) -> pd.Series:
        from ..functions.minhash import batch_band_keys

        return batch_band_keys(texts, cfg)

    return band_keys


def with_features(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Add derived feature columns to a repo_files frame.

    Columns added: content_sha256 (the per-row invariant,
    BASELINE.json:input_hint), norm_content, norm_basename, basename,
    content_tokens (distinct identifier tokens, sorted).
    """
    tokens = F.array_sort(
        F.array_distinct(
            F.expr(r"regexp_extract_all(content, '[A-Za-z_][A-Za-z0-9_]*', 0)")
        )
    )
    return (
        df.withColumn("content_sha256", F.sha2(F.col("content").cast("binary"), 256))
        .withColumn("norm_content", norm_content_col(F.col("content")))
        .withColumn("basename", F.element_at(F.split("path", "/"), -1))
        .withColumn("norm_basename", norm_basename_col(F.col("path")))
        .withColumn("content_tokens", tokens)
        # int64 token hashes: what the scorer's Jaccard actually consumes —
        # ~8 bytes/token through Arrow instead of the token strings
        .withColumn(
            "token_hashes",
            F.array_sort(F.transform("content_tokens", lambda t: F.xxhash64(t))),
        )
    )


def with_block_keys(feat: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Add ``block_keys: array<string>`` (all key families) to a features frame."""
    cfg = cfg or PipelineConfig()
    band_udf = make_band_udf(cfg.minhash)
    sha_key = F.concat(F.lit("sha:"), F.col("content_sha256"))
    # degenerate-key guards: an empty normalized basename (digit-only file
    # names) or empty content would put the whole corpus into one block —
    # emit NULL instead and compact it away (the members still block through
    # their other key families)
    # path keys are refined with a content-length band (width LEN_BAND):
    # rename/move variants have near-identical normalized lengths, so each
    # row emits its band and band+1 (adjacent lengths always share a key)
    # while unrelated same-basename files spread across bands. This keeps
    # ubiquitous basenames ('utils', 'index') from forming quadratic blocks;
    # truncation/extension variants are caught by the pfx/mh families.
    band = F.floor(F.length("norm_content") / F.lit(LEN_BAND))
    path_base = F.concat_ws(":", F.lit("path"), F.col("lang"), F.col("norm_basename"))
    path_key = F.when(
        F.col("norm_basename") != "", F.concat_ws(":", path_base, band.cast("string"))
    )
    path_key2 = F.when(
        F.col("norm_basename") != "",
        F.concat_ws(":", path_base, (band + 1).cast("string")),
    )
    pfx_key = F.when(
        F.length("norm_content") > 0,
        F.concat(
            F.lit("pfx:"),
            F.sha2(F.substring(F.col("norm_content"), 1, PREFIX_CHARS).cast("binary"), 256),
        ),
    )
    mh_keys = F.when(F.length("norm_content") > 0, band_udf(F.col("norm_content"))).otherwise(
        F.array().cast("array<string>")
    )
    return feat.withColumn(
        "block_keys",
        F.array_distinct(
            F.array_compact(
                F.concat(F.array(sha_key, path_key, path_key2, pfx_key), mh_keys)
            )
        ),
    )


def exploded_blocks(keyed: DataFrame) -> DataFrame:
    """(block_key, file_id) long table — the blocking index. Partitioned by
    block_key downstream; content is NOT carried (column pruning keeps the
    shuffle narrow at 100 TB)."""
    return keyed.select(F.explode("block_keys").alias("block_key"), "file_id")


def block_census(blocks: DataFrame) -> DataFrame:
    """(block_key, block_size) — THE block-size census: the skew-safe
    self-join's salting/budget/stop-key decisions, the dropped-key and
    hot-block logs and the pipeline's skew metrics all read it
    (SURVEY.md §4.2 'hot-key skew salting')."""
    return blocks.groupBy("block_key").agg(F.count("*").alias("block_size"))


def _global_positions(df: DataFrame, order) -> DataFrame:
    """Add ``__gpos`` — the 0-based global position of each row along the
    ``order`` columns — WITHOUT a single-reducer sort: range-repartition on
    the sort key, rank within each range partition, then add per-partition
    offsets from a partition census (a numPartitions-row control-plane
    collect, the pipeline's block-census convention). The offsets ride a
    broadcast-joined frame, NOT a chained F.when per partition — at
    cluster scale the range exchange has thousands of partitions and a
    thousands-deep when-tree breaks codegen. One range exchange, one
    narrow census, no global single-reducer sort anywhere."""
    part = df.repartitionByRange(*order).withColumn("__p", F.spark_partition_id())
    w = Window.partitionBy("__p").orderBy(*order)
    ranked = part.withColumn("__rn", F.row_number().over(w)).localCheckpoint(eager=True)
    counts = {
        r["__p"]: r["n"]
        for r in ranked.groupBy("__p").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for p in sorted(counts):
        offsets.append((p, acc))
        acc += counts[p]
    off_df = df.sparkSession.createDataFrame(offsets or [(0, 0)], "__p int, __off long")
    return (
        ranked.join(F.broadcast(off_df), "__p", "left")
        .withColumn(
            "__gpos",
            (F.coalesce(F.col("__off"), F.lit(0)) + F.col("__rn") - 1).cast("long"),
        )
        .drop("__p", "__rn", "__off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: list,
    window: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): order the
    corpus along ``sort_cols`` (id appended as the deterministic tiebreak)
    and emit every pair of rows whose global positions differ by less than
    ``window`` -> (left_id, right_id, rank_distance), left before right in
    sort order.

    The classic single-node sweep is a sliding window over one sorted list;
    the distributed shape here keeps the SAME pair semantics with no global
    single-reducer sort and no window-function scan of the whole corpus:

    * global positions via ``_global_positions`` (range exchange +
      per-partition rank + broadcast partition offsets);
    * tile the position space at ``window`` width. Any qualifying pair sits
      in the same or adjacent tiles, so the self-join equi-joins on the tile
      id — each candidate pair is produced exactly once (the right side is
      exploded to [tile, tile-1]; a pair matches via exactly one of the two)
      — then filters ``0 < distance < window``. Shuffle volume is
      O(corpus), not O(corpus · window).

    Caveat: cross-engine sort parity on STRING keys holds for ASCII
    (Spark compares UTF-16 code units, most SQL engines UTF-8 bytes; they
    agree on ASCII). The contract row uses ASCII-only sort keys.
    """
    # sort_cols are column NAMES (precompute expression keys with
    # withColumn first) so the ranking projection stays resolvable.
    order = [F.col(c) for c in [*sort_cols, id_col]]
    ranked = _global_positions(df.select(id_col, *sort_cols), order)
    tile = F.floor(F.col("__gpos") / window).cast("long")
    left = ranked.select(
        F.col(id_col).alias("left_id"),
        F.col("__gpos").alias("__lpos"),
        tile.alias("__tile"),
    )
    right = ranked.select(
        F.col(id_col).alias("right_id"),
        F.col("__gpos").alias("__rpos"),
        F.explode(F.array(tile, tile - 1)).alias("__tile"),
    )
    dist = F.col("__rpos") - F.col("__lpos")
    return (
        left.join(right.hint("shuffle_hash"), "__tile")
        .where((dist > 0) & (dist < window))
        .select("left_id", "right_id", dist.alias("rank_distance"))
    )


def phonetic_keys(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, token, soundex) — the classic phonetic blocking key over each
    row's first whitespace token (name-matching's oldest blocking scheme;
    rows sharing a code become candidates the same way path/pfx keys do).

    The code itself is Spark's builtin ``F.soundex`` (JVM, commons-codec
    semantics: H/W merge adjacent equal codes, vowels and mid-string
    non-letters reset the run, a non-letter FIRST char returns the input
    unchanged) — replicated character-for-character by a recursive-CTE
    kernel in contract/linkage_ops.py and pinned over every distinct
    corpus token in tests/test_linkage.py.
    """
    first = F.element_at(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"), 1
    )
    return df.select(
        F.col(id_col),
        first.alias("token"),
        F.soundex(first).alias("soundex"),
    )
