"""Cross-corpus near-duplicate detection (fold a new snapshot against a
standing corpus).

The production shape for continuously-grown training sets: a new crawl
snapshot must be deduplicated against the corpus that is ALREADY trained
on / stored, without re-pairing the standing corpus against itself (that
is `operators/dedup.py:minhash_lsh_pairs`' job, done once). Both sides are
sketched with the SAME seeded MinHash kernel, so signatures and band keys
are directly comparable across corpora and across runs.

Reference scope note: the reference engine resolves one frame pair at a
time (entity_resolution.py:213 `find_similar_columns(df1, df2)`) — this op
is the corpus-scale analogue of its two-sided comparison, specialized to
near-duplicate text.

Scale shape (delta-proportional, like plans/incremental.py):

  sketch     one Arrow pass per side (new side is delta-sized)
  census     band-key frequency on the REFERENCE side only
  salt       hot ref bands split into g groups; new-side rows replicate
             across the g groups (classic A x B skew pattern: salt the
             big side, explode the small side)
  join       band-key equi-join, never a self-join, never all-pairs
  verify     full-signature agreement >= min_jaccard

Reference bands larger than ``drop_limit`` are boilerplate stop-keys and
are removed (their members are still reachable through their other, more
selective bands — the same convention as the self-join kernel,
`candidates.blocked_self_join`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..functions.minhash import MinHashConfig
from .dedup import _MH_EMPTY_SENTINEL


def sketch_documents(
    docs: DataFrame,
    cfg: MinHashConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, sig, bands) — one UDF computes the signature and folds its band
    keys (separate sig/band UDFs would each recompute the signature, 2x the
    dominant kernel); empty documents (sentinel signature) are excluded.
    dedup.minhash_lsh_pairs sketches through here too. Parquet-persistable: the
    streaming dedup gate stores these as its standing-corpus state so later
    batches never re-sketch the corpus."""
    cfg = cfg or MinHashConfig()

    # vanilla sessions (the external driver's) must ship the package zip
    # BEFORE the UDF below is created — PySpark snapshots python-includes
    # at UDF creation time
    from ..session import ensure_py_files

    ensure_py_files(docs.sparkSession)

    @pandas_udf(
        T.StructType(
            [
                T.StructField("sig", T.ArrayType(T.LongType())),
                T.StructField("bands", T.ArrayType(T.StringType())),
            ]
        )
    )
    def sketch_udf(texts: pd.Series) -> pd.DataFrame:
        from ..functions.minhash import band_keys_from_signature, minhash_signature

        sigs, bands = [], []
        for t in texts.to_numpy(dtype=object):
            s = minhash_signature(t, cfg)
            sigs.append([int(v) for v in s])
            bands.append(band_keys_from_signature(s, cfg))
        return pd.DataFrame({"sig": sigs, "bands": bands})

    # whitespace-normalize BEFORE shingling (same convention as the
    # pipeline's feature stage): whitespace-only docs collapse to "" and
    # take the sentinel-signature exclusion below
    from ..functions.text import norm_content_col

    return (
        docs.select(
            F.col(id_col).alias("id"), sketch_udf(norm_content_col(F.col(text_col))).alias("sk")
        )
        .select("id", F.col("sk.sig").alias("sig"), F.col("sk.bands").alias("bands"))
        .filter(F.element_at("sig", 1) != F.lit(_MH_EMPTY_SENTINEL))
    )


def cross_corpus_minhash_pairs(
    new_docs: DataFrame | None,
    ref_docs: DataFrame | None,
    cfg: MinHashConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.7,
    max_band_size: int = 2000,
    max_salt_groups: int = 64,
    drop_limit: int = 100_000,
    new_sketches: DataFrame | None = None,
    ref_sketches: DataFrame | None = None,
) -> DataFrame:
    """(new_id, ref_id, est_jaccard) for new documents near-duplicating a
    reference document (>= 1 shared LSH band, full-signature agreement >=
    ``min_jaccard``). Never pairs new-vs-new or ref-vs-ref.

    Either side may be supplied pre-sketched (``new_sketches`` /
    ``ref_sketches``, the sketch_documents shape) — the streaming gate
    passes its persisted corpus sketches so only the delta pays the kernel.
    """
    cfg = cfg or MinHashConfig()

    if new_sketches is None:
        new_sketches = sketch_documents(new_docs, cfg, id_col, text_col)
    if ref_sketches is None:
        ref_sketches = sketch_documents(ref_docs, cfg, id_col, text_col)
    new_b = new_sketches.select(
        F.col("id").alias("new_id"), F.col("sig").alias("l_sig"), F.explode("bands").alias("bk")
    )
    ref_b = ref_sketches.select(
        F.col("id").alias("ref_id"), F.col("sig").alias("r_sig"), F.explode("bands").alias("bk")
    )

    # census on the reference side (the big side); stop-key removal +
    # salt-group sizing both derive from it. Inner-joining the census onto
    # the new side also prunes new bands with no reference partner at all.
    census = ref_b.groupBy("bk").agg(F.count("*").alias("bs"))
    g = F.least(
        F.lit(max_salt_groups), F.ceil(F.col("bs") / max_band_size)
    ).cast("int")

    ref_s = (
        ref_b.join(census.hint("shuffle_hash"), "bk")
        .filter(F.col("bs") <= drop_limit)
        .select(
            "bk", "ref_id", "r_sig",
            F.pmod(F.xxhash64("ref_id"), g).cast("int").alias("salt"),
        )
    )
    new_s = (
        new_b.join(census.hint("shuffle_hash"), "bk")
        .filter(F.col("bs") <= drop_limit)
        .select(
            "bk", "new_id", "l_sig",
            F.explode(F.sequence(F.lit(0), g - 1)).alias("salt"),
        )
    )

    pairs = (
        new_s.join(ref_s.hint("shuffle_hash"), ["bk", "salt"])
        .dropDuplicates(["new_id", "ref_id"])
    )
    est = F.aggregate(
        F.zip_with("l_sig", "r_sig", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size("l_sig")
    return (
        pairs.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= min_jaccard)
        .select("new_id", "ref_id", "est_jaccard")
    )


def novel_documents(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    cfg: MinHashConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.7,
    **kwargs,
) -> DataFrame:
    """New documents with NO near-duplicate in the reference corpus — the
    rows safe to fold into the training set. Anti-join on the matched new
    ids (delta-sized frame, broadcastable)."""
    matched = cross_corpus_minhash_pairs(
        new_docs, ref_docs, cfg, id_col, text_col, min_jaccard, **kwargs
    ).select(F.col("new_id").alias(id_col)).distinct()
    return new_docs.join(F.broadcast(matched), id_col, "left_anti")


def source_sketch_similarity(
    docs: DataFrame,
    cfg: MinHashConfig | None = None,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(src_a, src_b, matching_slots, est_jaccard) for every unordered
    source pair — corpus-overlap estimation by MINHASH SKETCH ALGEBRA,
    never by pairing documents.

    The one-permutation signature of a UNION of sets is the slot-wise min
    of the members' signatures, so each source's whole sub-corpus
    collapses to one m-slot sketch (per-(source, slot) min — map-side
    combined, |sources| x m rows). Slot-agreement between two union
    sketches then estimates the Jaccard similarity of the sources'
    *shingle universes* — "how much does crawl A's content space overlap
    crawl B's" — for the cost of one Arrow sketch pass and a bounded
    |sources|^2 comparison. The pair-based `dedup.source_overlap_matrix`
    counts near-dup DOCUMENT pairs; this estimates CONTENT overlap even
    when no single document crosses the near-dup threshold.

    Empty-doc sentinel slots participate in the min like any value (they
    only survive if a source is entirely empty — two all-empty sources
    correctly estimate similarity 1). Estimates round-6; pairs ordered
    src_a < src_b.
    """
    cfg = cfg or MinHashConfig()

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        from ..functions.minhash import batch_signatures

        return batch_signatures(texts, cfg)

    from ..functions.text import norm_content_col
    from ..session import ensure_py_files

    ensure_py_files(docs.sparkSession)
    slots = docs.select(
        F.col(source_col).alias("src"),
        F.posexplode(sig_udf(norm_content_col(F.col(text_col)))).alias("slot", "value"),
    )
    # |sources| x m rows — materialize once so the self-join below doesn't
    # run the corpus-wide signature UDF twice (one pass, bounded result)
    sketch = (
        slots.groupBy("src", "slot")
        .agg(F.min("value").alias("mn"))
        .localCheckpoint(eager=True)
    )
    a = sketch.select(F.col("src").alias("src_a"), "slot", F.col("mn").alias("va"))
    b = sketch.select(F.col("src").alias("src_b"), "slot", F.col("mn").alias("vb"))
    m = int(cfg.num_hashes)
    return (
        a.join(b.hint("shuffle_hash"), "slot")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum((F.col("va") == F.col("vb")).cast("int")).alias("matching_slots"))
        .select(
            "src_a",
            "src_b",
            F.col("matching_slots").cast("long").alias("matching_slots"),
            F.round(F.col("matching_slots") / F.lit(float(m)), 6).alias("est_jaccard"),
        )
    )
