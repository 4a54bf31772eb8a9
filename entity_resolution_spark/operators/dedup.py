"""Training-data deduplication operators over a document corpus.

Five near/exact-dup families, each returned as a DataFrame so pipelines can
chain them (task brief: first-class components alongside the SURVEY.md §2
inventory). All are deterministic (seeded) and shuffle-conscious:

  exact        hash-groupBy on sha256(content) — one shuffle, O(n)
  minhash_lsh  shingle -> seeded minhash -> band keys -> band self-join
  simhash      64-bit simhash -> 4x16-bit chunk keys (Hamming<=3 recall)
  ngram        word n-gram inverted index join with document-frequency
               stop-gram pruning, exact Jaccard via intersection counts
  embedding    cosine near-dup via random-hyperplane LSH buckets (see
               similarity_search for the generic ANN path)

Column convention: input is (doc_id, text) unless noted; outputs carry
left_id < right_id pairs or cluster assignments. Every band/chunk/sketch
self-join runs through the pipeline's skew-safe kernel,
``candidates.blocked_self_join``, at ``PipelineConfig()``'s limits.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..config import MinHashConfig, PipelineConfig
from .candidates import blocked_self_join

# out-of-field sentinel value every empty doc's minhash slots carry
# (functions/minhash.py: real slots are residues mod P32, so < P32)
_MH_EMPTY_SENTINEL = 4294967291


# ---------------------------------------------------------------------------
# 1. Exact dedup (hash groupBy)
# ---------------------------------------------------------------------------

def exact_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_roster: int = 10_000,
) -> DataFrame:
    """(content_sha256, n_copies, canonical_doc_id, doc_ids) per duplicate
    group with > 1 member.

    The id roster is memory-bounded: a boilerplate digest repeated 10^8
    times would build a 10^8-element collect_list in ONE aggregation
    buffer, so the census runs first (narrow, map-side combined) and only
    groups with <= max_roster members are joined back for the list
    aggregate — oversize groups report ``doc_ids = NULL`` (their count and
    canonical are still exact; enumerate members by joining on the digest
    if needed)."""
    tagged = docs.select(
        F.col(id_col).alias("__id"),
        F.sha2(F.col(text_col).cast("binary"), 256).alias("content_sha256"),
    )
    census = (
        tagged.groupBy("content_sha256")
        .agg(F.count("*").alias("n_copies"), F.min("__id").alias("canonical_doc_id"))
        .filter(F.col("n_copies") > 1)
    )
    roster = (
        tagged.join(
            census.filter(F.col("n_copies") <= max_roster).select("content_sha256"),
            "content_sha256",
        )
        .groupBy("content_sha256")
        .agg(F.sort_array(F.collect_list("__id")).alias("doc_ids"))
    )
    return census.join(roster.hint("shuffle_hash"), "content_sha256", "left")


# ---------------------------------------------------------------------------
# 2. MinHash-LSH near-dup pairs
# ---------------------------------------------------------------------------

def minhash_lsh_pairs(
    docs: DataFrame,
    cfg: MinHashConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.7,
) -> DataFrame:
    """(left_id, right_id, est_jaccard) for pairs sharing >= 1 LSH band,
    verified with the full signature (est_jaccard >= min_jaccard).

    Scale shape: sketch (cross_corpus.sketch_documents) -> explode band
    keys -> skew-capped self-join per band (candidates.blocked_self_join,
    the pipeline's own kernel: census + triangular salting + per-block
    budget + stop-key removal) -> pair dedup -> signature check. Empty
    documents all carry the sentinel signature and would form ONE
    quadratic band block; they are excluded (they only ever match other
    empties, which the exact-sha path already groups). Signatures travel
    with the pair join; at 128 hashes that is 1 KB/row — acceptable, and it
    avoids a second join back to the corpus.
    """
    from .cross_corpus import sketch_documents

    # materialize ONCE: the capped self-join reads this frame through
    # several branches (census, small/hot paths, both join sides) and each
    # would re-run the sketch kernel — the single most expensive UDF here —
    # without a boundary. Per-doc sketches are the cheap thing to store;
    # pairs are the expensive thing to recompute. (A StageStore write plays
    # this role on a cluster.)
    sigs = sketch_documents(docs, cfg, id_col, text_col).localCheckpoint(eager=True)
    index = sigs.select(
        F.col("id").alias("file_id"), "sig", F.explode("bands").alias("block_key")
    )
    pairs = (
        blocked_self_join(index, PipelineConfig(), ["sig"])
        .drop("block_key")
        .dropDuplicates(["left_id", "right_id"])
    )
    est = F.aggregate(
        F.zip_with("l_sig", "r_sig", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size("l_sig")
    return (
        pairs.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= min_jaccard)
        .select("left_id", "right_id", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# 3. SimHash near-dup pairs
# ---------------------------------------------------------------------------

def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(left_id, right_id, hamming) for pairs within Hamming distance
    max_hamming, found via 16-bit chunk blocking (pigeonhole: distance
    <= bands-1 guarantees a shared chunk). The chunk self-join runs
    through candidates.blocked_self_join (skew-capped, same as the
    pipeline).
    Token-less documents all simhash to 0 and would form one quadratic
    chunk block — excluded (exact-sha already groups identical docs)."""

    @pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        from ..functions.text import batch_simhash64

        return batch_simhash64(texts)

    hashed = (
        docs.select(F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("sh"))
        .filter(F.col("sh") != 0)
        # one row per doc, 16 bytes — materialize so the capped join's
        # branches don't re-run the kernel (see minhash_lsh_pairs)
        .localCheckpoint(eager=True)
    )
    width = 64 // bands
    # chunk i = bits [i*width, (i+1)*width): unsigned shift right then mask
    # the low bits — avoids building >int64 mask literals
    chunks = [
        F.concat_ws(
            ":",
            F.lit(str(i)),
            F.shiftrightunsigned(F.col("sh"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .cast("string"),
        )
        for i in range(bands)
    ]
    index = hashed.select(
        F.col("id").alias("file_id"), "sh", F.explode(F.array(*chunks)).alias("block_key")
    )
    pairs = (
        blocked_self_join(index, PipelineConfig(), ["sh"])
        .drop("block_key")
        .dropDuplicates(["left_id", "right_id"])
    )
    ham = F.bit_count(F.col("l_sh").bitwiseXOR(F.col("r_sh")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )


# ---------------------------------------------------------------------------
# 4. Word n-gram Jaccard pairs (exact, inverted-index join)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """Exact n-gram-set Jaccard >= min_jaccard via inverted index:
    explode distinct n-grams, drop grams with document frequency >
    max_doc_freq (stop-gram pruning, logged size-aware), join postings,
    count shared grams per pair, Jaccard from per-doc gram counts.

    Fully JVM-side (no Python) — tokenize/n-gram with builtin functions.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    d = docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
    # n-grams via transform over indices; distinct per doc
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
        )
    )
    # materialize the per-doc gram sets once: tokenize + n-gram build +
    # array_distinct is the expensive lineage here and the inverted-index
    # join below reads it through the doc-freq window and both join sides
    d = d.select("id", grams.alias("grams")).withColumn(
        "n_grams", F.size("grams")
    ).localCheckpoint(eager=True)
    postings = d.select("id", "n_grams", F.explode("grams").alias("gram"))
    # doc-freq by hash-aggregate + join-back, not count-over-window: the
    # window sorts each gram's postings in one task, so exactly the
    # stop-grams this filter exists to drop would straggle first
    gram_freq = postings.groupBy("gram").agg(F.count("*").alias("doc_freq"))
    postings = postings.join(gram_freq.hint("shuffle_hash"), "gram").filter(
        F.col("doc_freq") <= max_doc_freq
    )
    a = postings.select(
        F.col("gram"), F.col("id").alias("left_id"), F.col("n_grams").alias("l_n")
    )
    b = postings.select(
        F.col("gram"), F.col("id").alias("right_id"), F.col("n_grams").alias("r_n")
    )
    shared = (
        a.join(b, "gram")
        .where(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id", "l_n", "r_n")
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.col("n_shared") / (F.col("l_n") + F.col("r_n") - F.col("n_shared"))
    return (
        shared.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("left_id", "right_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# 5. Embedding cosine near-dup (random-hyperplane LSH)
# ---------------------------------------------------------------------------

def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(left_id, right_id, cosine) for near-duplicate embeddings.

    Blocking: n_tables independent sign-hash sketches of n_planes random
    hyperplanes each (seeded); vectors sharing a sketch in any table become
    candidates; exact cosine verifies. At high min_cosine the collision
    probability per table is (1 - theta/pi)^n_planes — near-dups collide
    with high probability, random pairs almost never.
    """
    import numpy as np

    dim_row = emb.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        return emb.sparkSession.createDataFrame(
            [], "left_id long, right_id long, cosine double"
        )
    dim = dim_row["d"]
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim)).astype("float64")

    # one (batch x dim) @ (dim x tables*planes) matmul per Arrow batch —
    # the whole sketch is a single BLAS call plus a bit-pack, same
    # vectorization as the SimHash kernel (~10x over the per-row loop).
    # Keys are the packed sign bits; any injective encoding of the same
    # bits yields the identical candidate-pair set.
    P = planes.reshape(n_tables * n_planes, dim).T  # (dim, tables*planes)
    weights = (1 << np.arange(n_planes, dtype="int64"))

    @pandas_udf(T.ArrayType(T.StringType()))
    def sketch_udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        X = np.asarray(vecs.tolist(), dtype="float64")  # (n, dim)
        bits = (X @ P) >= 0
        codes = (bits.reshape(len(X), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(
            [[f"t{t}:{codes[i, t]}" for t in range(n_tables)] for i in range(len(X))]
        )

    # all math in double: float32 partial sums drift vs a double-precision
    # oracle in the 4th-6th decimal (same convention as similarity_search)
    vec_d = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vec_d, F.lit(0.0), lambda a, x: a + x * x))
    base = (
        emb.select(
            F.col(id_col).alias("id"),
            vec_d.alias("v"),
            norm.alias("nrm"),
            sketch_udf(F.col(vec_col)).alias("sketches"),
        )
        .filter(F.col("nrm") > 0)
        # per-vector sketches materialized once (see minhash_lsh_pairs)
        .localCheckpoint(eager=True)
    )
    index = base.select(
        F.col("id").alias("file_id"), "v", "nrm", F.explode("sketches").alias("block_key")
    )
    # sketch buckets are skew-capped like every other band join here: a
    # degenerate corpus (e.g. many identical or axis-aligned vectors) can
    # put a large fraction of rows in one bucket
    pairs = (
        blocked_self_join(index, PipelineConfig(), ["v", "nrm"])
        .drop("block_key")
        .dropDuplicates(["left_id", "right_id"])
    )
    dot = F.aggregate(F.zip_with("l_v", "r_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("l_nrm") * F.col("r_nrm"))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= min_cosine)
        .select("left_id", "right_id", "cosine")
    )


# ---------------------------------------------------------------------------
# 5b. Semantic dedup (SemDeDup, Abbas et al. 2023)
# ---------------------------------------------------------------------------

def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Per-vector keep/drop decision for semantically near-duplicate
    embeddings (SemDeDup, Abbas et al. 2023: prune documents whose
    embeddings are within cosine epsilon of a kept representative).

    Candidate generation is the seeded hyperplane-LSH blocking of
    ``embedding_cosine_pairs`` (the paper's k-means cells re-expressed as
    deterministic sign-hash cells so the decision is reproducible and
    oracle-able), verification is exact double cosine, and groups are
    closed transitively with the engine's large-star/small-star connected
    components — the representative is the component-min id, matching the
    pipeline's cluster-id convention.

    Output: one row per input vector — (vec_id, canonical_id, kept);
    vectors in no near-dup group keep themselves.

    Scale shape: LSH band self-join is census-capped (never all-pairs),
    CC touches only near-dup members, and the final assignment is one
    shuffle-hash left join of the corpus against the (dup-members-sized)
    component table — no broadcast of anything corpus-sized, no driver
    materialization.
    """
    from .clustering import connected_components

    pairs = embedding_cosine_pairs(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        min_cosine=min_cosine,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
    )
    comp = connected_components(
        pairs.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    ).select(F.col("file_id").alias("__id"), F.col("cluster_id").alias("__canon"))
    out = emb.select(F.col(id_col).alias("vec_id")).join(
        comp.hint("shuffle_hash"), F.col("vec_id") == F.col("__id"), "left"
    )
    canon = F.coalesce(F.col("__canon"), F.col("vec_id"))
    return out.select(
        "vec_id",
        canon.alias("canonical_id"),
        (canon == F.col("vec_id")).alias("kept"),
    )


# ---------------------------------------------------------------------------
# 6. Cross-document duplicate-span statistics (winnowing fingerprints)
# ---------------------------------------------------------------------------

def duplicate_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span fractions: which parts of each doc also
    appear elsewhere in the corpus (boilerplate, quoted passages, licence
    headers) — the approximate form of exact-substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better").

    Winnowing fingerprints (Schleimer et al., functions/text.py:fingerprint)
    localize shared k-gram runs; a fingerprint appearing in >= min_docs
    distinct documents marks its span as duplicated. Output:
    (doc_id, n_fp, n_dup_fp, dup_frac), docs with >= 1 fingerprint only.

    Scale shape: one Arrow pass for the fingerprints, one groupBy on the
    64-bit fingerprint for document frequency, one shuffle-hash join back —
    no self-join, so corpus-wide boilerplate cannot create a quadratic
    block (the fingerprint df table grows linearly with the corpus).
    """
    from ..session import ensure_py_files

    ensure_py_files(docs.sparkSession)

    @pandas_udf(T.ArrayType(T.LongType()))
    def fp_udf(texts: pd.Series) -> pd.Series:
        from ..functions.text import batch_fingerprint

        return batch_fingerprint(texts, k=k, window=window).apply(
            lambda xs: [int(x) for x in xs]
        )

    fps = docs.select(
        F.col(id_col).alias("id"), F.explode(fp_udf(F.col(text_col))).alias("fp")
    ).localCheckpoint(eager=True)  # one kernel pass feeds df-count AND join
    dup_fps = (
        fps.groupBy("fp")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fp")
    )
    totals = fps.groupBy("id").agg(F.count("*").alias("n_fp"))
    dups = (
        fps.join(dup_fps.hint("shuffle_hash"), "fp")
        .groupBy("id")
        .agg(F.count("*").alias("n_dup_fp"))
    )
    out = totals.join(dups, "id", "left").select(
        F.col("id").alias(id_col),
        "n_fp",
        F.coalesce(F.col("n_dup_fp"), F.lit(0)).alias("n_dup_fp"),
        F.round(
            F.coalesce(F.col("n_dup_fp"), F.lit(0)) / F.col("n_fp"), 6
        ).alias("dup_frac"),
    )
    return out


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 16,
    min_docs: int = 2,
    min_span_chars: int = 40,
    gap: int | None = None,
) -> DataFrame:
    """Exact-substring deduplication as a TRANSFORM (Lee et al. 2022's
    second method): cut from every document the char spans whose content
    also appears in >= ``min_docs`` documents — license headers, boilerplate,
    quoted passages — instead of only reporting them (duplicate_span_stats).

    Approximation contract: a duplicated run of length >= window + k - 1
    chars contains at least one winnowing pick (Schleimer et al. guarantee),
    so its fingerprint lands in the corpus df table; every picked position
    whose fingerprint is corpus-duplicated marks chars [pos, pos+k).
    Marks within ``gap`` chars of each other merge into one span
    (successive picks inside one duplicated run are at most ``window``
    apart); merged spans shorter than ``min_span_chars`` are kept (tiny
    incidental overlaps are not boilerplate). 32-bit fingerprint collisions
    can spuriously mark a k-gram — deterministic, and bounded by the
    min_span_chars filter.

    Output: one row per input doc — (id, clean_text, n_spans,
    n_chars_removed); docs with no duplicated spans (or shorter than k)
    pass through unchanged.

    Scale shape: one Arrow kernel pass for positional fingerprints, one
    hash-aggregate df census on the 32-bit fingerprint, one shuffle-hash
    join back, a lag/sum window over (doc, pos) rows for the island merge
    (linear, partitioned by doc), and the text surgery is a pure-JVM
    higher-order aggregate over the span array — the content column
    crosses Arrow once (into the fingerprint kernel), never again. No
    self-join anywhere: corpus-wide boilerplate grows the df table
    linearly, exactly like duplicate_span_stats.
    """
    from ..session import ensure_py_files

    ensure_py_files(docs.sparkSession)
    gap = window if gap is None else gap
    # disjoint-span guarantee for the surgery below: islands separated by
    # > gap >= k cannot overlap after each extends k-1 chars right
    gap = max(gap, k)

    @pandas_udf(T.ArrayType(T.StructType([
        T.StructField("pos", T.IntegerType()),
        T.StructField("fp", T.LongType()),
    ])))
    def pos_fp_udf(texts: pd.Series) -> pd.Series:
        from ..functions.text import batch_fingerprint_positions

        return batch_fingerprint_positions(texts, k=k, window=window).apply(
            lambda xs: [{"pos": int(p), "fp": int(f)} for p, f in xs]
        )

    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    fps = base.select(
        "id", F.explode(pos_fp_udf(F.col("text"))).alias("pf")
    ).select("id", F.col("pf.pos").alias("pos"), F.col("pf.fp").alias("fp"))
    # one kernel pass feeds BOTH the df census and the position join
    fps = fps.localCheckpoint(eager=True)

    dup_fps = (
        fps.groupBy("fp")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fp")
    )
    marked = fps.join(dup_fps.hint("shuffle_hash"), "fp").select("id", "pos")

    # gaps-and-islands: a new span starts where the position jumps by > gap
    w = Window.partitionBy("id").orderBy("pos")
    isl = (
        marked.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new",
            (F.col("__prev").isNull() | (F.col("pos") - F.col("__prev") > gap)).cast("int"),
        )
        .withColumn("__isl", F.sum("__new").over(w))
    )
    spans = (
        isl.groupBy("id", "__isl")
        .agg(F.min("pos").alias("start"), (F.max("pos") + k).alias("fin"))
        .filter(F.col("fin") - F.col("start") >= min_span_chars)
    )
    per_doc = spans.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("start", "fin"))).alias("spans")
    )

    out = base.join(per_doc.hint("shuffle_hash"), "id", "left")
    # pure-JVM surgery: walk the sorted disjoint spans with a (cursor, acc)
    # aggregate, keeping the text between/after them. substring() is
    # 1-based; greatest() guards are belt-and-braces (spans are disjoint
    # by construction).
    cut = F.expr(
        "aggregate(spans, named_struct('cur', 0, 'acc', ''), "
        " (s, sp) -> named_struct("
        "   'cur', greatest(sp.fin, s.cur), "
        "   'acc', concat(s.acc, substring(text, s.cur + 1, greatest(sp.start - s.cur, 0)))), "
        " s -> concat(s.acc, substring(text, s.cur + 1, greatest(length(text) - s.cur, 0))))"
    )
    removed = F.expr("aggregate(spans, 0, (a, sp) -> a + sp.fin - sp.start)")
    return out.select(
        F.col("id").alias(id_col),
        F.when(F.col("spans").isNull(), F.col("text")).otherwise(cut).alias("clean_text"),
        F.coalesce(F.size("spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(removed, F.lit(0)).alias("n_chars_removed"),
    )


# ---------------------------------------------------------------------------
# 8. Source overlap matrix (inter-source near-duplicate rates)
# ---------------------------------------------------------------------------


def source_overlap_matrix(
    docs: DataFrame,
    src_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.7,
    cfg: MinHashConfig | None = None,
) -> DataFrame:
    """(src_a, src_b, n_pairs) — how many near-duplicate pairs straddle
    each pair of corpus sources (src_a <= src_b lexicographically, so the
    matrix is upper-triangular with the within-source rate on the
    diagonal). The standard input to source mixing/weighting decisions:
    two crawls that near-duplicate each other heavily should not both get
    full weight.

    Scale: rides minhash_lsh_pairs (banded, skew-capped — never
    all-pairs); the two source lookups join back on ids against a
    2-column projection of the corpus, and the final aggregate is at most
    |sources|^2 rows — tiny by construction.
    """
    pairs = minhash_lsh_pairs(docs, cfg, id_col, text_col, min_jaccard)
    src = docs.select(F.col(id_col).alias("__sid"), F.col(src_col).alias("__src"))
    labeled = (
        pairs.join(
            src.hint("shuffle_hash"),
            pairs.left_id == F.col("__sid"),
        )
        .select("left_id", "right_id", F.col("__src").alias("l_src"))
        .join(
            src.hint("shuffle_hash").withColumnRenamed("__src", "r_src"),
            F.col("right_id") == F.col("__sid"),
        )
    )
    return (
        labeled.select(
            F.least("l_src", "r_src").alias("src_a"),
            F.greatest("l_src", "r_src").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_pairs"))
    )


def dedup_size_histogram(
    docs: DataFrame,
    cfg: MinHashConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.7,
) -> DataFrame:
    """Near-duplicate cluster-size histogram: (cluster_size, n_clusters,
    n_docs) over the MinHash-LSH component structure, singletons included —
    the standard before/after dedup report (how much of the corpus sits in
    2-dup pairs vs boilerplate mega-clusters decides which dedup knobs are
    worth turning).

    Scale shape: rides ``minhash_lsh_pairs``'s skew-capped band join and
    ``connected_components``'s checkpointed star passes; the histogram
    itself is two hash aggregates whose output is bounded by the number of
    DISTINCT cluster sizes (<= sqrt(2 * corpus) — tiny), and the singleton
    count is one left-anti aggregate, so nothing here adds a corpus-scale
    shuffle beyond what dedup already does.
    """
    from .clustering import connected_components

    pairs = minhash_lsh_pairs(docs, cfg, id_col, text_col, min_jaccard)
    comp = connected_components(
        pairs.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    )
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))
    singles = (
        docs.select(F.col(id_col).alias("file_id"))
        .join(comp.select("file_id"), "file_id", "left_anti")
        .agg(F.count("*").alias("n_clusters"))
        .select(F.lit(1).cast("long").alias("cluster_size"), "n_clusters")
        .filter(F.col("n_clusters") > 0)
    )
    return (
        hist.unionByName(singles)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment: float = 0.8,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """Directional near-SUPERSET detection (Broder 1997 containment):
    ``containment(A in B) = |grams(A) & grams(B)| / |grams(A)|``.

    Jaccard misses the truncation/extension family — a doc fully quoted
    inside a much longer one scores low symmetric similarity but
    containment ~1.  Output: (inner_id, outer_id, containment, jaccard)
    with containment measured for the INNER (smaller-side) doc; ties in
    gram-set size break toward the lower id as inner.

    Same skew-safe inverted-index plan as ngram_jaccard_pairs (shared-gram
    postings join, doc-freq stop-gram pruning via hash-agg census); one
    extra projection orients each pair by gram-set size.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    d = docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
        )
    )
    d = d.select("id", grams.alias("grams")).withColumn(
        "n_grams", F.size("grams")
    ).localCheckpoint(eager=True)
    postings = d.select("id", "n_grams", F.explode("grams").alias("gram"))
    gram_freq = postings.groupBy("gram").agg(F.count("*").alias("doc_freq"))
    postings = postings.join(gram_freq.hint("shuffle_hash"), "gram").filter(
        F.col("doc_freq") <= max_doc_freq
    )
    a = postings.select("gram", F.col("id").alias("l"), F.col("n_grams").alias("ln"))
    b = postings.select("gram", F.col("id").alias("r"), F.col("n_grams").alias("rn"))
    shared = (
        a.join(b, "gram")
        .where(F.col("l") < F.col("r"))
        .groupBy("l", "r", "ln", "rn")
        .agg(F.count("*").alias("c"))
    )
    # orient: inner = smaller gram set (id tiebreak), containment over inner
    inner_is_l = (F.col("ln") < F.col("rn")) | (
        (F.col("ln") == F.col("rn")) & (F.col("l") < F.col("r"))
    )
    cont = F.round(
        F.col("c") / F.when(inner_is_l, F.col("ln")).otherwise(F.col("rn")), 6
    )
    jac = F.round(F.col("c") / (F.col("ln") + F.col("rn") - F.col("c")), 6)
    return (
        shared.select(
            F.when(inner_is_l, F.col("l")).otherwise(F.col("r")).alias("inner_id"),
            F.when(inner_is_l, F.col("r")).otherwise(F.col("l")).alias("outer_id"),
            cont.alias("containment"),
            jac.alias("jaccard"),
        )
        .filter(F.col("containment") >= min_containment)
    )
