"""Deterministic corpus sampling/splitting for training-data pipelines.

Two operators a 100 TB curation run needs constantly:

- ``deterministic_split``: hash-based train/val/test assignment. Pure
  JVM expression (sha256 hex prefix compared lexicographically against
  precomputed thresholds) — narrow, codegen'd, no shuffle, and the
  assignment is a content-address: stable across runs, partitionings,
  cluster sizes, and engine versions (any system that can sha256 a string
  reproduces it — the DuckDB oracle does exactly that).

- ``per_source_cap``: keep at most ``cap`` rows per source (data-mixing /
  domain balancing). Exact semantics are "the cap smallest rows per source
  in (hash, key) order", i.e. a deterministic uniform sample without
  replacement. The direct plan is one window over a shuffle on source;
  a skewed source (half the corpus from one crawl) makes that a
  single-partition sort straggler, so for corpus-scale sources an optional
  hash *prefilter* bounds the sorted volume per source to ~margin*cap rows
  before the exact window runs, with a counted repair pass for any source
  the conservative prefilter undershot (never silent, and the final rows
  are identical to the exact plan — verified in tests/test_sampling.py).

Reference parity note: the reference (encrypted-ai/entity_resolution) has
no sampling surface; these are engine-added operators for the
training-data-pipeline axis of the task brief (sampling caps appear in the
reference only as the describe-time row cap, entity_resolution.py:117 area,
covered by schema_matching.sample_rows).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .blocking import _global_positions

_HASH_COL = "__split_h"


def _hash_hex(key: Column, salt: str) -> Column:
    """Lowercase sha256 hex of salt+key — identical in Spark and DuckDB."""
    return F.sha2(F.concat(F.lit(salt), key.cast("string")), 256)


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, str]]:
    """(label, upper-bound-hex) pairs over the first 8 hex chars.

    Buckets are [prev, bound) in lexicographic hex order; the last label
    absorbs rounding remainder so every row gets a label.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    out: list[tuple[str, str]] = []
    cum = 0.0
    for label, frac in fractions.items():
        cum += frac
        bound = min(int(cum * 16**8), 16**8 - 1)
        out.append((label, format(bound, "08x")))
    return out


def deterministic_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "split:",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row a split label by hashing ``key_col``.

    Keying on a stable id (not content) keeps near-duplicate leakage
    decisions orthogonal: dedup first, then split, and a doc's split never
    changes when unrelated docs are added (the property random sampling
    lacks).
    """
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    pairs = split_thresholds(fractions)
    h8 = _hash_hex(F.col(key_col), salt).substr(1, 8)
    # first-match CASE chain over cumulative bounds; last label is the tail
    chain = None
    for label, bound in pairs[:-1]:
        cond = h8 < F.lit(bound)
        chain = F.when(cond, F.lit(label)) if chain is None else chain.when(cond, F.lit(label))
    expr = F.lit(pairs[-1][0]) if chain is None else chain.otherwise(F.lit(pairs[-1][0]))
    return df.withColumn(out_col, expr)


def per_source_cap(
    df: DataFrame,
    source_col: str,
    key_col: str,
    cap: int,
    salt: str = "cap:",
    prefilter_margin: float | None = None,
) -> DataFrame:
    """Keep the ``cap`` smallest rows per source in (sha256, key) order.

    prefilter_margin=None runs the exact one-window plan. A float (e.g.
    4.0) enables the skew-safe path: rows whose hash fraction exceeds
    margin*cap/count(source) can't be in the winning cap except with
    vanishing probability, so they are dropped before the sort; sources
    where the conservative bound still undershot (kept < min(cap, n)) are
    recomputed exactly — counted, not silent. Output rows are identical to
    the exact plan either way.
    """
    h = _hash_hex(F.col(key_col), salt)
    w = Window.partitionBy(source_col).orderBy(_HASH_COL, key_col)

    def _exact(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .drop("__rn")
        )

    hashed = df.withColumn(_HASH_COL, h)
    if prefilter_margin is None:
        return _exact(hashed).drop(_HASH_COL)

    counts = hashed.groupBy(source_col).agg(F.count("*").alias("__n"))
    # fraction of the 60-bit hash prefix space each source may keep
    frac = F.least(F.lit(1.0), F.lit(float(prefilter_margin) * cap) / F.col("__n"))
    hashed = hashed.join(counts, source_col, "inner").withColumn(
        "__hfrac", F.conv(F.substring(_HASH_COL, 1, 15), 16, 10).cast("long") / F.lit(float(16**15))
    )
    survivors = hashed.filter(F.col("__hfrac") <= frac).drop("__hfrac")
    kept = _exact(survivors).persist()
    kept_counts = kept.groupBy(source_col).agg(F.count("*").alias("__kept"))
    undershot = (
        counts.join(kept_counts, source_col, "left")
        .filter(F.coalesce(F.col("__kept"), F.lit(0)) < F.least(F.col("__n"), F.lit(cap)))
        .select(source_col)
    )
    bad = [r[0] for r in undershot.collect()]  # control-plane: tiny by construction
    if bad:
        repair = _exact(hashed.filter(F.col(source_col).isin(bad)).drop("__hfrac"))
        kept = kept.filter(~F.col(source_col).isin(bad)).unionByName(
            repair.select(kept.columns)
        )
    return kept.drop(_HASH_COL, "__n")


def sample_to_token_budget(
    df: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    key_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    salt: str = "budget",
) -> DataFrame:
    """Per-source subset whose token count just reaches ``budget_tokens``
    (training-data mixing: "N tokens of web, M of code").

    Rows are taken in content-address (sha256-hash, key) order — stable
    under any partitioning / corpus growth, like deterministic_split — and
    a row is kept iff the running token sum BEFORE it is under the budget,
    so the budget is met (first row crossing the boundary is included),
    never undershot while tokens remain. Skew note: the per-source cumsum
    window is the per_source_cap trade-off; for a corpus-scale source the
    same hash-prefilter pattern applies (bound ~budget/min_doc_tokens rows
    before the exact window).
    """
    from ..functions.text import whitespace_token_count_col

    tokens = (
        F.col(token_col) if token_col else whitespace_token_count_col(F.col(text_col))
    ).cast("long")
    w = Window.partitionBy(source_col).orderBy(_HASH_COL, key_col)
    cum = F.sum("__tok").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        df.withColumn(_HASH_COL, _hash_hex(F.col(key_col), salt))
        .withColumn("__tok", tokens)
        .withColumn("__cum", cum)
        .filter(F.col("__cum") - F.col("__tok") < F.lit(int(budget_tokens)))
        .drop(_HASH_COL, "__tok", "__cum")
    )


def pack_into_sequences(
    df: DataFrame,
    seq_len: int,
    source_col: str = "source",
    key_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """GPT-style streaming sequence packing: documents are laid end-to-end
    per source in content-address order and each gets its training-sequence
    coordinates — ``seq_id = floor(start / seq_len)``, ``seq_offset =
    start % seq_len`` (a document may straddle a boundary; readers split at
    materialization, the standard concat-then-chunk packing). Deterministic
    for any partitioning; output is scalar columns (source, key, n_tokens,
    seq_id, seq_offset)."""
    from ..functions.text import whitespace_token_count_col

    tokens = (
        F.col(token_col) if token_col else whitespace_token_count_col(F.col(text_col))
    ).cast("long")
    w = Window.partitionBy(source_col).orderBy(_HASH_COL, key_col)
    cum = F.sum("__tok").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.col("__cum") - F.col("__tok")).alias("__start")
    return (
        df.withColumn(_HASH_COL, _hash_hex(F.col(key_col), salt))
        .withColumn("__tok", tokens)
        .withColumn("__cum", cum)
        .select(
            source_col,
            key_col,
            F.col("__tok").alias("n_tokens"),
            F.floor((F.col("__cum") - F.col("__tok")) / F.lit(int(seq_len))).alias("seq_id"),
            ((F.col("__cum") - F.col("__tok")) % F.lit(int(seq_len))).alias("seq_offset"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fractions: dict[str, float] | None = None,
    min_jaccard: float = 0.6,
    cfg=None,
    salt: str = "split:",
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: near-dup groups (MinHash-LSH pairs closed transitively) are
    keyed by their canonical member, and the split hash is taken over the
    canonical id — every member of a group lands in the same split. Plain
    ``deterministic_split`` keyed on doc id keeps *exact* duplicates
    together only if the id is a content address; near-duplicates (the
    ones that actually contaminate eval sets) land independently. Output:
    (id_col, canonical_id, split), one row per input doc.

    Scale shape: candidate generation is the census-capped LSH band join
    (never all-pairs), CC touches only near-dup members, the corpus joins
    the (dup-members-sized) component table once with a shuffle-hash hint,
    and the split itself is a pure-JVM sha256 expression — no new shuffle
    beyond the label join.
    """
    from .clustering import connected_components
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs, cfg, id_col=id_col, text_col=text_col, min_jaccard=min_jaccard
    )
    comp = connected_components(
        pairs.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    ).select(F.col("file_id").alias("__id"), F.col("cluster_id").alias("__canon"))
    labeled = (
        docs.select(F.col(id_col))
        .join(comp.hint("shuffle_hash"), F.col(id_col) == F.col("__id"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__canon"), F.col(id_col)).alias("canonical_id"),
        )
    )
    return deterministic_split(
        labeled, "canonical_id", fractions, salt=salt, out_col=out_col
    )


def dsir_importance_sample(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    n_buckets: int = 512,
    top_k: int = 100,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023):
    score every corpus doc by how target-like its hashed n-gram profile is,
    keep the top ``top_k``.

    Features are char-``shingle_k``-gram rolling hashes (the MinHash
    shingle kernel, WITH multiplicity) folded into ``n_buckets`` buckets;
    bucket distributions are estimated with add-1 smoothing on the target
    and raw corpus, and a doc's score is the sum of per-bucket importance
    log-ratios over its shingles. To keep the score exact and
    order-independent (a float sum over ~|doc| terms is neither), the
    per-bucket log-ratio is quantized to integer micro-nats
    (``round(quantum * ln(p_target/p_raw))``) BEFORE summing — the
    published estimator up to 1e-6-nat quantization, and bit-reproducible
    by any engine (the DuckDB oracle replicates it term for term). Docs
    whose normalized text is shorter than ``shingle_k`` have no features
    and score 0.

    Output: (id_col, score_micro_nats, kept) — one row per corpus doc,
    ``kept`` = 1 for the top_k by (score desc, id).

    Scale shape: one Arrow pass per frame emits per-doc bucket HISTOGRAMS
    (<= n_buckets rows per doc, not one row per shingle — a 100 KB doc
    explodes to <= 512 rows, not ~10^5), bucket counts aggregate to
    <= n_buckets rows with map-side combine, the distribution totals are
    derived from those counts (no extra corpus pass), the weight table is
    broadcast (n_buckets rows), the per-doc score is one shuffle on the
    id, and top-k is a distributed TakeOrdered — no window over a single
    partition, no driver materialization.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..functions.text import norm_content_col
    from ..session import ensure_py_files

    ensure_py_files(docs.sparkSession)
    k = int(shingle_k)
    nb = int(n_buckets)

    @pandas_udf(
        T.ArrayType(
            T.StructType(
                [T.StructField("bucket", T.IntegerType()), T.StructField("cnt", T.LongType())]
            )
        )
    )
    def hist_udf(texts: pd.Series) -> pd.Series:
        import numpy as np

        from ..functions.minhash import P32

        base = np.uint64(257)
        powers = np.empty(k, dtype=np.uint64)
        acc = np.uint64(1)
        for i in range(k - 1, -1, -1):
            powers[i] = acc
            acc = (acc * base) % P32
        out = []
        for t in texts.to_numpy(dtype=object):
            data = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8)
            if data.shape[0] < k:
                out.append([])
                continue
            win = np.lib.stride_tricks.sliding_window_view(data.astype(np.uint64), k)
            h = (win * powers).sum(axis=1) % P32  # multiplicity kept (vs MinHash)
            counts = np.bincount((h % np.uint64(nb)).astype(np.int64), minlength=nb)
            nz = np.flatnonzero(counts)
            out.append(
                [{"bucket": int(b), "cnt": int(counts[b])} for b in nz]
            )
        return pd.Series(out)

    def feats(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(id_col).alias("__fid"),
            F.explode(hist_udf(norm_content_col(F.col(text_col)))).alias("__h"),
        ).select("__fid", F.col("__h.bucket").alias("bucket"), F.col("__h.cnt").alias("cnt"))

    corpus_f = feats(docs)
    target_f = feats(target)
    rc = corpus_f.groupBy("bucket").agg(F.sum("cnt").alias("__r"))
    tc = target_f.groupBy("bucket").agg(F.sum("cnt").alias("__t"))
    # coalesce: an empty frame sums to NULL, but the distribution totals
    # must be 0 there (the oracle's COUNT(*) convention)
    r_tot = rc.agg(F.coalesce(F.sum("__r"), F.lit(0)).alias("__rtot"))
    t_tot = tc.agg(F.coalesce(F.sum("__t"), F.lit(0)).alias("__ttot"))
    # identical double-arithmetic shape on both engines: (t+1)*(R+nb) /
    # ((r+1)*(T+nb)) as double products (exact-integer products can pass
    # 2^63 at corpus scale), ln, scale, round half-away-from-zero
    ratio = (
        (F.col("__t") + F.lit(1)).cast("double")
        * (F.col("__rtot") + F.lit(nb)).cast("double")
    ) / (
        (F.col("__r") + F.lit(1)).cast("double")
        * (F.col("__ttot") + F.lit(nb)).cast("double")
    )
    weights = (
        rc.join(tc, "bucket", "left")
        .na.fill({"__t": 0})
        .crossJoin(r_tot)  # 1-row frames: the quality.py scalar-attach idiom
        .crossJoin(t_tot)
        .select(
            "bucket",
            F.round(F.log(ratio) * F.lit(int(quantum)), 0).cast("long").alias("__w"),
        )
    )
    scores = (
        corpus_f.join(F.broadcast(weights), "bucket")
        .groupBy("__fid")
        .agg(F.sum(F.col("cnt") * F.col("__w")).alias("__score"))
    )
    all_scores = (
        docs.select(F.col(id_col))
        .join(scores, F.col(id_col) == F.col("__fid"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__score"), F.lit(0)).alias("score_micro_nats"),
        )
    )
    top = (
        all_scores.orderBy(F.desc("score_micro_nats"), F.col(id_col))
        .limit(int(top_k))
        .select(F.col(id_col).alias("__kid"), F.lit(1).alias("__kept"))
    )
    return (
        all_scores.join(F.broadcast(top), F.col(id_col) == F.col("__kid"), "left")
        .select(
            F.col(id_col),
            "score_micro_nats",
            F.coalesce(F.col("__kept"), F.lit(0)).alias("kept"),
        )
    )


def shuffle_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Deterministic seeded global shuffle + shard assignment — the final
    layout step before writing training shards: every row gets a
    ``(shard, pos)`` coordinate from a seeded splitmix64 order, so the
    written corpus order is reproducible across runs, partitionings, and
    cluster sizes, and changing ``seed`` yields an independent permutation.

    The order key is ``splitmix64(id XOR seed*GOLDEN) >> 1`` (same seeded
    mix + SQL replica as the MinHash kernel, sql_kernels._splitmix64_ctes;
    the >> 1 keeps the key non-negative so signed/unsigned mod and ORDER BY
    agree between Spark longs and the DuckDB UBIGINT oracle). ``shard`` is
    the key mod n_shards (~uniform), ``pos`` the row_number within the
    shard ordered by (key, id) — ties broken by id, so the layout is total.

    Scale shape: one narrow Arrow pass over the id column for the mix (the
    only Python; numpy-vectorized), one shuffle on ``shard``, one in-shard
    sort for the row_number — exactly the sort a shard writer needs anyway.
    Non-negative ids assumed by the SQL oracle (the engine itself wraps
    negative ids mod 2^64 like any uint64 reinterpret).
    """
    import numpy as np

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..session import ensure_py_files

    ensure_py_files(docs.sparkSession)
    seed_c = np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))

    @pandas_udf(T.LongType())
    def mix_udf(ids: pd.Series) -> pd.Series:
        from ..functions.text import _splitmix64

        h = ids.to_numpy(dtype=np.int64).astype(np.uint64) ^ seed_c
        return pd.Series((_splitmix64(h) >> np.uint64(1)).astype(np.int64))

    keyed = docs.select(F.col(id_col), mix_udf(F.col(id_col)).alias("__k"))
    shard = F.pmod(F.col("__k"), F.lit(int(n_shards))).cast("int")
    w = Window.partitionBy("__shard").orderBy("__k", id_col)
    return (
        keyed.withColumn("__shard", shard)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("int"))
        .select(F.col(id_col), F.col("__shard").alias("shard"), "pos")
    )


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling WITHOUT replacement (A-ES,
    Inf. Proc. Letters 2006): draw ``k`` rows with inclusion probability
    proportional to ``weight_col``, deterministically.

    Each row gets key ``ln(u) / w`` where ``u`` is a seeded uniform derived
    from the id (splitmix64, same mix + SQL replica as shuffle_shards);
    the sample is the k LARGEST keys. This is order-equivalent to the
    paper's ``u^(1/w)`` formulation. ``u = ((mix >> 10) + 1) / 2^53`` —
    the integer steps and the power-of-two division are exact in IEEE
    doubles, so any engine reproduces ``u`` bit-for-bit; the key is then
    quantized to integer micro-units (the DSIR convention) so the ln/÷
    round-trip is engine-independent at the emitted precision, with id as
    the final tiebreak.

    Rows with non-positive or NULL weight are excluded (standard A-ES
    domain). Scale shape: one narrow Arrow pass for the mix, a map-only
    key projection, and a bounded global TakeOrdered(k) — no shuffle of
    the corpus, no full sort. Non-negative ids assumed by the SQL oracle
    (the engine wraps negative ids mod 2^64 like any uint64 reinterpret).
    """
    import numpy as np

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..session import ensure_py_files

    ensure_py_files(docs.sparkSession)
    seed_c = np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))

    @pandas_udf(T.LongType())
    def mix_udf(ids: pd.Series) -> pd.Series:
        from ..functions.text import _splitmix64

        h = ids.to_numpy(dtype=np.int64).astype(np.uint64) ^ seed_c
        return pd.Series((_splitmix64(h) >> np.uint64(1)).astype(np.int64))

    w = F.col(weight_col).cast("double")
    keyed = (
        docs.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("weight"),
            mix_udf(F.col(id_col)).alias("__mix"),
        )
    )
    u = (F.shiftright(F.col("__mix"), 10) + F.lit(1)) / F.lit(float(1 << 53))
    es_micro = F.round(F.log(u) / F.col("weight") * F.lit(1e6)).cast("long")
    top = (
        keyed.withColumn("es_micro", es_micro)
        .orderBy(F.desc("es_micro"), F.asc(id_col))
        .limit(int(k))
    )
    rank_w = Window.orderBy(F.desc("es_micro"), F.asc(id_col))
    return top.select(
        id_col,
        "weight",
        "es_micro",
        F.row_number().over(rank_w).cast("int").alias("rank"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fraction: float,
    salt: str = "strat:",
    min_per_stratum: int = 1,
) -> DataFrame:
    """Exact proportional stratified sample: from every stratum keep
    ``max(min_per_stratum, floor(n_stratum * fraction))`` rows, chosen as
    the smallest rows in (sha256(salt+key), key) order — the same
    content-address convention as ``deterministic_split``/``per_source_cap``,
    so the selection is seedless-deterministic and partition-invariant.

    Unlike ``df.sampleBy`` (per-row Bernoulli — stratum sizes only hold in
    expectation and change run-to-run), the quota is hit exactly. Plan: a
    stratum census (hash aggregate, one row per stratum) joined back, then
    one ``row_number`` window per stratum. For pathologically hot strata
    the same hash-prefix prefilter as ``per_source_cap(prefilter_margin=)``
    applies; here quotas are proportional, so the window input is already
    a ``fraction`` of the corpus once AQE splits skewed partitions.
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    quota = F.greatest(
        F.lit(int(min_per_stratum)),
        F.floor(F.col("__n") * F.lit(float(fraction))).cast("long"),
    )
    w = Window.partitionBy(strata_col).orderBy(_HASH_COL, key_col)
    return (
        df.withColumn(_HASH_COL, _hash_hex(F.col(key_col), salt))
        .join(counts, strata_col, "inner")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop(_HASH_COL, "__n", "__rn")
    )


def batch_by_length(
    docs: DataFrame,
    batch_size: int,
    len_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, length, batch_id, slot) — length-bucketed batch layout:
    rows sorted by (length DESC, id) are chunked into consecutive batches
    of ``batch_size``, so each batch holds near-equal-length documents and
    the padding a fixed-shape training/inference step pays (every sequence
    padded to its batch max) is minimized — the standard dynamic-batching
    layout, made deterministic.

    ``slot`` is the row's position within its batch. The final short batch
    (< batch_size rows) is the LAST batch id, holding the shortest rows.
    Scale shape: one range exchange + partition census (`_global_positions`)
    — no global single-reducer sort; batch assignment is then arithmetic
    on the global position.
    """
    sel = docs.select(F.col(id_col), F.col(len_col).cast("long").alias("length"))
    ranked = _global_positions(sel, [F.desc("length"), F.asc(id_col)])
    b = int(batch_size)
    return ranked.select(
        F.col(id_col),
        "length",
        F.floor(F.col("__gpos") / b).cast("long").alias("batch_id"),
        F.pmod(F.col("__gpos"), F.lit(b)).cast("int").alias("slot"),
    )


def padding_stats(assign: DataFrame) -> DataFrame:
    """One row of padding-efficiency metrics for a `batch_by_length`
    assignment: every row in a batch is padded to the batch max, so

      real_tokens   = sum(length)
      padded_tokens = sum_b max_len(b) * rows(b)
      efficiency    = real / padded   (1.0 = zero padding waste)

    One map-side-combined aggregate to |batches| rows, then a single-row
    reduce — no shuffle of the corpus beyond the per-batch combine."""
    per = assign.groupBy("batch_id").agg(
        F.count("*").alias("n"),
        F.sum("length").alias("real"),
        F.max("length").alias("mx"),
    )
    return per.agg(
        F.count("*").cast("long").alias("n_batches"),
        F.sum("real").cast("long").alias("real_tokens"),
        F.sum(F.col("mx") * F.col("n")).cast("long").alias("padded_tokens"),
        F.round(F.sum("real") / F.sum(F.col("mx") * F.col("n")), 6).alias("efficiency"),
    )


def balanced_shards(
    docs: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    n_shards: int = 8,
) -> DataFrame:
    """(id_col, weight, shard, pos) — serpentine ("snake-draft")
    weight-balanced shard assignment: rows sorted by (weight DESC, id) are
    dealt 0..S-1 then S-1..0 alternately, so every shard's total weight
    tracks the global mean to within roughly one largest item. The
    equal-WORK counterpart to `shuffle_shards`' equal-COUNT layout — data
    loaders reading token-balanced shards finish together instead of
    waiting on whichever shard drew the long documents.

    ``pos`` is the deal round (each shard receives exactly one row per
    round), i.e. the row's position within its shard.

    Scale shape: the global rank is NOT a single-partition window — the
    frame range-repartitions on the sort key, ranks within each range
    partition, and adds per-partition offsets from a partition census (a
    numPartitions-row control-plane collect, same convention as the
    pipeline's block census). One range exchange, one narrow census, no
    global single-reducer sort anywhere.
    """
    sel = docs.select(
        F.col(id_col),
        F.col(weight_col).cast("long").alias("weight"),
    )
    ranked = _global_positions(sel, [F.desc("weight"), F.asc(id_col)])
    s = int(n_shards)
    pos = F.col("__gpos")
    cycle = F.floor(pos / s).cast("long")
    off = F.pmod(pos, F.lit(s)).cast("int")
    shard = F.when(cycle % 2 == 0, off).otherwise(F.lit(s - 1) - off)
    return ranked.select(
        F.col(id_col),
        "weight",
        shard.cast("int").alias("shard"),
        cycle.cast("int").alias("pos"),
    )


def mixture_weights(
    docs: DataFrame,
    size_col: str,
    source_col: str = "source",
    alpha: float = 0.7,
    token_budget: float = 1_000_000.0,
) -> DataFrame:
    """Temperature-scaled mixture weights over corpus sources — the
    GPT-3/PaLM data-mixing rule: source i is sampled with weight
    n_i^alpha / sum_j n_j^alpha, which upweights small high-quality
    sources relative to their natural (alpha = 1) share.

    Returns one row per source: (source_col, n_tokens, natural_frac,
    weight, expected_tokens = weight * token_budget, epochs =
    expected_tokens / n_tokens — the repetition count the budget implies,
    the signal for the "don't repeat data too often" check). All round-6.

    Plan shape: one exact integer-sum census per source + a 1-row global
    frame joined back broadcast; nothing corpus-sized moves again.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    sizes = docs.groupBy(source_col).agg(
        F.sum(size_col).cast("double").alias("__n")
    )
    totals = sizes.agg(
        F.sum("__n").alias("__tot"),
        F.sum(F.pow("__n", F.lit(float(alpha)))).alias("__z"),
    )
    w = F.pow("__n", F.lit(float(alpha))) / F.col("__z")
    return sizes.crossJoin(F.broadcast(totals)).select(
        source_col,
        F.col("__n").alias("n_tokens"),
        F.round(F.col("__n") / F.col("__tot"), 6).alias("natural_frac"),
        F.round(w, 6).alias("weight"),
        F.round(w * F.lit(float(token_budget)), 6).alias("expected_tokens"),
        F.round(w * F.lit(float(token_budget)) / F.col("__n"), 6).alias("epochs"),
    )
