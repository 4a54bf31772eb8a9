"""Corpus composition report + mixture weighting (engine-added
training-data operator; the reference has no corpus-statistics op).

One pass over the corpus produces the per-(source, lang) facts a data
curator reads before fixing a training mixture — document counts, token
and char volumes, median length — plus the temperature-smoothed sampling
weight w_g ∝ n_g^alpha (the multilingual-sampling rule of Conneau &
Lample 2019; alpha=1 reproduces natural proportions, alpha→0 uniform).

Scale shape: a single hash aggregate with map-side partial combine — the
output is one row per (source, lang) group, so the post-shuffle stage is
trivially small; the median uses Spark's exact ``percentile`` (sort-based
WITHIN each tiny group's collected value multiset at the aggregate level,
not a corpus sort). The weight normalization is a window over the
group-level frame (|sources|x|langs| rows — driver-scale, not data-scale).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import whitespace_token_count_col


def corpus_report(
    docs: DataFrame,
    by: Sequence[str] = ("source", "lang"),
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-group corpus composition: (by..., n_docs, total_tokens,
    total_chars, avg_chars, p50_chars, mix_weight).

    ``mix_weight`` = round(n_docs^alpha / sum_g n_docs^alpha, 6) — the
    sampling probability a temperature-smoothed mixture assigns the group.
    NULL text counts as an empty document (0 tokens / 0 chars), matching
    the quality-scoring convention.
    """
    by = list(by)
    chars = F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long")
    toks = whitespace_token_count_col(F.coalesce(F.col(text_col), F.lit(""))).cast("long")
    grouped = docs.groupBy(*by).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.sum(chars).alias("total_chars"),
        F.round(F.avg(chars), 2).alias("avg_chars"),
        F.expr(f"percentile(length(coalesce({text_col}, '')), 0.5)").alias(
            "p50_chars"
        ),
    )
    # group-level normalization: the frame here is |groups| rows, tiny by
    # construction — a single-partition window over it is control-plane work
    w = Window.partitionBy()
    return grouped.withColumn(
        "mix_weight",
        F.round(
            F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
            / F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))).over(w),
            6,
        ),
    )


def token_drift(
    docs_ref: DataFrame,
    docs_new: DataFrame,
    text_col: str = "text",
    k: int = 50,
    alpha: float = 1.0,
) -> DataFrame:
    """Corpus drift report: the ``k`` tokens whose frequency shifted most
    between a reference snapshot and a new one — the crawl-monitoring
    check run before a new dump is admitted into a training mixture
    (encoding damage, spam floods, and language drift all surface as
    high-mass log-ratio outliers).

    Each side's unigram distribution is add-alpha smoothed over the UNION
    vocabulary: p = (c + alpha) / (N + alpha*V), so tokens absent from one
    side get a finite floor instead of an infinite ratio. ``drift`` is the
    token's contribution to KL(new || ref) in bits, q * log2(q/p); output
    is the top-k by (|drift| desc, term asc) with p_ref/p_new rounded to 8
    and drift/log_ratio to 6.

    Scale shape: two map-side-combined token censuses (vocabulary-bounded,
    Zipf-concentrated) full-outer-joined with a shuffle_hash hint; the
    totals are 1-row aggregates cross-joined as scalars. The final cut is
    a bounded TakeOrdered (k rows). No Python anywhere in the plan.
    """

    def census(docs: DataFrame, name: str) -> DataFrame:
        toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        return (
            docs.select(F.explode(toks).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias(name))
        )

    ref = census(docs_ref, "c_ref")
    new = census(docs_new, "c_new")
    joined = ref.join(new.hint("shuffle_hash"), "term", "full_outer").select(
        "term",
        F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    totals = joined.agg(
        F.sum("c_ref").alias("n_ref"),
        F.sum("c_new").alias("n_new"),
        F.count("*").alias("v"),
    )
    a = F.lit(float(alpha))
    p = (F.col("c_ref") + a) / (F.col("n_ref") + a * F.col("v"))
    q = (F.col("c_new") + a) / (F.col("n_new") + a * F.col("v"))
    scored = joined.crossJoin(totals).select(
        "term",
        "c_ref",
        "c_new",
        F.round(p, 8).alias("p_ref"),
        F.round(q, 8).alias("p_new"),
        F.round(F.log2(q / p), 6).alias("log_ratio"),
        F.round(q * F.log2(q / p), 6).alias("drift"),
    )
    return scored.orderBy(F.abs(F.col("drift")).desc(), F.asc("term")).limit(k)


def zipf_fit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row: (n_types, n_tokens, zipf_slope, zipf_r2) — least-squares
    fit of ln(freq) against ln(rank) over the corpus token-frequency
    census, the classic Zipf diagnostic (natural text slopes ~ -1;
    boilerplate-flooded or synthetic corpora drift off).

    Determinism: every per-term term of the normal equations (x, y, xy,
    x², y² with x = ln rank, y = ln freq) is quantized to integer
    micro-units BEFORE summing (the DSIR convention) — integer sums are
    partition- and engine-order-independent, and the final slope/r²
    arithmetic runs on identical doubles everywhere. Ranks come from
    `blocking._global_positions` (range-exchange rank over the
    Zipf-bounded census — no single-reducer sort); ties rank by term
    ascending. Slope/r² are NULL when fewer than 2 distinct types exist.
    """
    from ..operators.tokenize import word_frequencies
    from .blocking import _global_positions

    wc = word_frequencies(docs, text_col)
    ranked = _global_positions(
        wc.select("word", F.col("n").cast("long").alias("n")),
        [F.desc("n"), F.asc("word")],
    )
    x = F.log(F.col("__gpos") + F.lit(1.0))
    y = F.log(F.col("n").cast("double"))

    def _micro(c):
        return F.round(c * F.lit(1e6)).cast("long")

    q = ranked.select(
        F.col("n"),
        _micro(x).alias("qx"),
        _micro(y).alias("qy"),
        _micro(x * y).alias("qxy"),
        _micro(x * x).alias("qxx"),
        _micro(y * y).alias("qyy"),
    )
    s = q.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum("qxy").alias("sxy"),
        F.sum("qxx").alias("sxx"),
        F.sum("qyy").alias("syy"),
    )
    nt = F.col("n_types").cast("double")
    sx = F.col("sx") / F.lit(1e6)
    sy = F.col("sy") / F.lit(1e6)
    sxy = F.col("sxy") / F.lit(1e6)
    sxx = F.col("sxx") / F.lit(1e6)
    syy = F.col("syy") / F.lit(1e6)
    num = nt * sxy - sx * sy
    den_x = nt * sxx - sx * sx
    den_y = nt * syy - sy * sy
    slope = F.when(den_x > 0, num / den_x)
    r2 = F.when((den_x > 0) & (den_y > 0), num * num / (den_x * den_y))
    return s.select(
        "n_types",
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(r2, 6).alias("zipf_r2"),
    )


def hll_count_distinct(df: DataFrame, col: str, p: int = 12) -> DataFrame:
    """One row: (p, m, nonzero_buckets, register_sum, estimate) — a
    HyperLogLog distinct-count sketch (Flajolet et al. 2007) built to be
    bit-identical on ANY engine, unlike `approx_count_distinct` (whose
    registers are implementation-private):

    - the hash is the first 15 hex chars of sha256(value) — a 60-bit
      content address any engine reproduces;
    - rho (leading-zero rank of the low 60-p bits) comes from
      ``length(bin(w))``, exact integer arithmetic, no log2 boundary risk;
    - registers cap at 40 (an event of probability 2^-40 per bucket —
      immaterial bias, and it buys exactness:) the harmonic sum
      sum(2^-M_j) is computed as an INTEGER total of c_M * 2^(40-M)
      (max 2^52, exact in long), so the estimate never depends on
      floating-point summation order.

    The standard small-range correction (E <= 2.5m with empty buckets ->
    linear counting) applies; the 32-bit large-range correction is
    irrelevant at a 60-bit hash and omitted. NULLs are ignored (COUNT
    DISTINCT convention). register_sum is emitted as an exact integer
    fingerprint of the whole register file — a stronger oracle check
    than the estimate alone.

    Scale shape: one narrow projection to (bucket, rho), one map-side-
    combined max per bucket (<= m = 2^p rows), one <= 41-row census —
    the corpus never shuffles more than its bucket ids. This is the
    cardinality primitive for admission control (dedup rate forecasting,
    vocabulary growth) where the exact census is not worth a shuffle.
    """
    regs = hll_registers(df, col, p)
    return hll_estimate(regs, p)


def hll_registers(df: DataFrame, col: str, p: int = 12) -> DataFrame:
    """(bucket, M) — the HLL register file itself (<= 2^p rows). Registers
    of a UNION of datasets are the per-bucket max of the parts' registers,
    so register files merge exactly — the streaming vocabulary monitor
    folds drops into standing state with one groupBy-max."""
    if not (7 <= p <= 18):
        raise ValueError(f"p must be in [7, 18], got {p}")
    low_bits = 60 - p
    mask = (1 << low_bits) - 1
    h = F.conv(F.substring(F.sha2(F.col(col).cast("string"), 256), 1, 15), 16, 10).cast(
        "long"
    )
    keyed = df.filter(F.col(col).isNotNull()).select(
        F.shiftright(h, low_bits).alias("bucket"),
        h.bitwiseAND(F.lit(mask)).alias("w"),
    )
    rho_raw = F.when(F.col("w") == 0, F.lit(low_bits + 1)).otherwise(
        F.lit(low_bits + 1) - F.length(F.bin(F.col("w")))
    )
    return (
        keyed.select("bucket", F.least(rho_raw, F.lit(40)).alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("M"))
    )


def hll_estimate(regs: DataFrame, p: int = 12) -> DataFrame:
    """One row (p, m, nonzero_buckets, register_sum, estimate) from a
    (bucket, M) register frame — the exact-integer harmonic-sum arithmetic
    documented on `hll_count_distinct`."""
    if not (7 <= p <= 18):
        raise ValueError(f"p must be in [7, 18], got {p}")
    m = 1 << p
    per_m = regs.select(F.col("M")).groupBy("M").agg(F.count("*").alias("c"))
    s = per_m.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("nonzero"),
        F.coalesce(F.sum(F.expr("c * shiftleft(cast(1 as bigint), 40 - M)")), F.lit(0))
        .cast("long")
        .alias("t"),
        F.coalesce(F.sum(F.col("c") * F.col("M")), F.lit(0)).cast("long").alias("register_sum"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    total = (F.lit(m).cast("long") - F.col("nonzero")) * F.lit(1 << 40) + F.col("t")
    harm = total.cast("double") / F.lit(float(1 << 40))
    e_raw = F.lit(alpha * m * m) / harm
    v = F.lit(m).cast("long") - F.col("nonzero")
    estimate = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return s.select(
        F.lit(p).cast("int").alias("p"),
        F.lit(m).cast("long").alias("m"),
        F.col("nonzero").alias("nonzero_buckets"),
        "register_sum",
        F.round(estimate, 6).alias("estimate"),
    )


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token-distribution statistics ->
    (id_col, n_tokens, distinct_tokens, ttr, entropy).

    Shannon entropy of the unigram distribution and the type-token ratio:
    the two classic repetition/diversity signals (a looped or boilerplate
    page has low entropy even when its char-level stats look normal;
    complements the Gopher rules and doc_repetition_stats).

    One explode + one (doc, token) hash aggregate + one doc aggregate —
    partial-aggregable throughout.  Entropy uses the identity
    ``H = log2(T) - sum(c*log2(c))/T`` so no per-token probability column
    is materialized; rounded at 6 (FP sum order, the a5 convention).
    Empty/NULL-text docs surface with NULL stats via the final left join.
    """
    tok = F.explode(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    )
    counts = (
        docs.select(F.col(id_col).alias("id"), tok.alias("token"))
        .where(F.col("token") != "")
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = counts.groupBy("id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(F.col("c") * F.log2("c")).alias("__s"),
    )
    stats = stats.select(
        "id",
        "n_tokens",
        "distinct_tokens",
        F.round(F.col("distinct_tokens") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.log2("n_tokens") - F.col("__s") / F.col("n_tokens"), 6).alias(
            "entropy"
        ),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            # doubles, not longs: NULLs for empty docs force pandas/Arrow
            # into object-vs-float dtypes across engines otherwise
            F.col("n_tokens").cast("double").alias("n_tokens"),
            F.col("distinct_tokens").cast("double").alias("distinct_tokens"),
            "ttr",
            "entropy",
        )
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document novelty -> (id_col, n_grams, novel_grams, novelty).

    ``novelty`` = the share of a document's distinct word-n-grams that
    appear in NO other document — the standard corpus-novelty /
    memorization-risk signal: boilerplate and templated pages score ~0,
    genuinely new text ~1 (complements containment and dup-span stats,
    which find the copies rather than measure the remainder).

    Plan: one posting explode, a gram document-frequency hash aggregate
    (join-back, not a window — same stop-gram reasoning as the dedup
    index), then a per-doc aggregate counting df==1 grams. All JVM.
    Empty docs surface with NULL stats via the left join.
    """
    toks = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    d = docs.select(F.col(id_col).alias("id"), grams.alias("grams"))
    postings = d.select("id", F.explode("grams").alias("gram")).where(
        F.col("gram") != ""
    )
    df_gram = postings.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    stats = (
        postings.join(df_gram.hint("shuffle_hash"), "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("long")).alias("novel_grams"),
        )
        .select(
            "id",
            F.col("n_grams").cast("double").alias("n_grams"),
            F.col("novel_grams").cast("double").alias("novel_grams"),
            F.round(F.col("novel_grams") / F.col("n_grams"), 6).alias("novelty"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(stats, "id", "left")
        .select(F.col("id").alias(id_col), "n_grams", "novel_grams", "novelty")
    )


def iqr_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] | None = None,
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier flags: rows whose ``value_col`` falls outside
    [q25 - k*IQR, q75 + k*IQR] of their group (Tukey 1977, the robust
    data-quality staple — unlike z-scores, the fences themselves are not
    dragged by the outliers they hunt).

    Returns the input columns plus (q25, q75, lo_fence, hi_fence round-6,
    is_outlier). Quantiles are EXACT (F.percentile — one sort-based
    aggregate per group, the same convention the exact-quantiles contract
    row pins against DuckDB's quantile_cont); the fences join back as a
    group-sized broadcastable frame, so the corpus itself is scanned twice
    but never pair-joined or windowed. NULL values are never outliers.
    """
    gc = list(group_cols or [])
    q = lambda p: F.percentile(F.col(value_col), F.lit(p))  # noqa: E731
    if gc:
        fences = df.groupBy(*gc).agg(q(0.25).alias("__q25"), q(0.75).alias("__q75"))
    else:
        fences = df.agg(q(0.25).alias("__q25"), q(0.75).alias("__q75"))
    iqr = F.col("__q75") - F.col("__q25")
    fences = fences.select(
        *gc,
        F.col("__q25"),
        F.col("__q75"),
        (F.col("__q25") - k * iqr).alias("__lo"),
        (F.col("__q75") + k * iqr).alias("__hi"),
    )
    joined = df.join(F.broadcast(fences), gc) if gc else df.crossJoin(F.broadcast(fences))
    return joined.select(
        *df.columns,
        F.round("__q25", 6).alias("q25"),
        F.round("__q75", 6).alias("q75"),
        F.round("__lo", 6).alias("lo_fence"),
        F.round("__hi", 6).alias("hi_fence"),
        F.when(
            F.col(value_col).isNotNull()
            & ((F.col(value_col) < F.col("__lo")) | (F.col(value_col) > F.col("__hi"))),
            True,
        )
        .otherwise(False)
        .alias("is_outlier"),
    )


def key_skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Heavy-key table for a prospective join/groupBy key: the ``top_k``
    most frequent key values with (key..., cnt, share, cum_share, rank) —
    rank ties broken by key ASC, shares round-6. The direct input to a
    salting decision: if rank-1 holds 30% of the rows, a shuffle on this
    key sends 30% of the table to one task.

    One census aggregate; the rank window runs over the census (keys),
    never the rows, and only top_k rows survive."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    census = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    total = census.agg(F.sum("cnt").alias("__tot"))
    w = Window.partitionBy().orderBy(F.col("cnt").desc(), *[F.col(k) for k in keys])
    ranked = (
        census.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .crossJoin(F.broadcast(total))
    )
    w_cum = Window.partitionBy().orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ranked.select(
        *keys,
        "cnt",
        F.round(F.col("cnt") / F.col("__tot"), 6).alias("share"),
        F.round(F.sum(F.col("cnt") / F.col("__tot")).over(w_cum), 6).alias(
            "cum_share"
        ),
        "rank",
    )


def key_skew_summary(
    df: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """One row of key-distribution shape: (n_rows, n_keys, max_cnt,
    mean_cnt, p50_cnt, p99_cnt round-6, skew_ratio = max/mean round-6,
    recommended_salt = ceil(max_cnt / greatest(p50_cnt, 1))) — the salt
    factor that would split the hottest key into median-sized slices.
    Percentiles are exact over the census (key-sized, not row-sized).

    Scale note: the rank window in key_skew_report and these census
    aggregates all operate on the DISTINCT-key frame; the row-sized table
    is touched exactly once by the census groupBy."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    census = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    return census.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 6).alias("mean_cnt"),
        F.round(F.percentile(F.col("cnt"), F.lit(0.5)), 6).alias("p50_cnt"),
        F.round(F.percentile(F.col("cnt"), F.lit(0.99)), 6).alias("p99_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_ratio"),
        F.ceil(
            F.max("cnt") / F.greatest(F.percentile(F.col("cnt"), F.lit(0.5)), F.lit(1.0))
        )
        .cast("long")
        .alias("recommended_salt"),
    )


def ab_test_report(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    z_critical: float = 1.96,
) -> DataFrame:
    """One row per variant pair (variant ASC order): (variant_a,
    variant_b, n_a, n_b, mean_a, mean_b, mean_diff, z_score round-6,
    significant) — the two-sample Welch z-test on a continuous metric,
    the experiment-analysis staple. NULL metrics are excluded from both
    n and the moments.

    One variant-keyed aggregate (variants-sized frame), then a self-join
    over the variant pairs — never the rows."""
    stats = (
        df.where(F.col(metric_col).isNotNull())
        .groupBy(F.col(variant_col).alias("v"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(metric_col).alias("m"),
            F.var_samp(metric_col).alias("s2"),
        )
    )
    a = stats.select(
        F.col("v").alias("variant_a"),
        F.col("n").alias("n_a"),
        F.col("m").alias("__ma"),
        F.col("s2").alias("__sa"),
    )
    b = stats.select(
        F.col("v").alias("variant_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("__mb"),
        F.col("s2").alias("__sb"),
    )
    z = (F.col("__ma") - F.col("__mb")) / F.sqrt(
        F.col("__sa") / F.col("n_a") + F.col("__sb") / F.col("n_b")
    )
    return (
        a.join(b, F.col("variant_a") < F.col("variant_b"))
        .select(
            "variant_a",
            "variant_b",
            "n_a",
            "n_b",
            F.round("__ma", 6).alias("mean_a"),
            F.round("__mb", 6).alias("mean_b"),
            F.round(F.col("__ma") - F.col("__mb"), 6).alias("mean_diff"),
            F.round(z, 6).alias("z_score"),
            (F.abs(z) >= z_critical).alias("significant"),
        )
    )


def ols_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-group simple linear regression y = a + b*x in closed form ->
    (group..., n, slope round-6, intercept round-6, r2 round-6):
    b = cov(x,y)/var(x), a = mean(y) - b*mean(x), r2 = corr^2. One hash
    aggregate per group over the five sufficient moments — the drift /
    trend fit for any metric over time without an ML library. Groups
    with constant x (var 0) or n < 2 report NULL slope/intercept/r2.
    Rows with a NULL in either column are excluded."""
    gc = list(group_cols or [])
    base = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    grouped = base.groupBy(*gc) if gc else base.groupBy()
    agg = grouped.agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_samp(x_col, y_col).alias("__cxy"),
        F.var_samp(x_col).alias("__vx"),
        F.var_samp(y_col).alias("__vy"),
        F.avg(x_col).alias("__mx"),
        F.avg(y_col).alias("__my"),
    )
    slope = F.when(F.col("__vx") > 0, F.col("__cxy") / F.col("__vx"))
    return agg.select(
        *gc,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("__my") - slope * F.col("__mx"), 6).alias("intercept"),
        F.round(
            F.when(
                (F.col("__vx") > 0) & (F.col("__vy") > 0),
                F.col("__cxy") * F.col("__cxy") / (F.col("__vx") * F.col("__vy")),
            ),
            6,
        ).alias("r2"),
    )


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """One row: (n, df_degrees, chi2 round-6, cramers_v round-6) — the
    Pearson chi-square independence statistic over the (col_a, col_b)
    contingency table plus Cramer's V effect size. All from one
    contingency census (the extended_cluster_metrics scale shape); NULL
    categories count as their own level. Callers compare chi2 to their
    critical value — no p-value, which keeps the arithmetic closed-form
    and engine-exact."""
    cont = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("n"))
    rows = cont.groupBy("__a").agg(F.sum("n").alias("ra"))
    cols = cont.groupBy("__b").agg(F.sum("n").alias("cb"))
    tot = cont.agg(F.sum("n").alias("__n"))
    chi = (
        cont.join(rows.hint("shuffle_hash"), "__a")
        .join(cols.hint("shuffle_hash"), "__b")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.pow(F.col("n") - F.col("ra") * F.col("cb") / F.col("__n"), 2)
                / (F.col("ra") * F.col("cb") / F.col("__n"))
            ).alias("__term")
        )
        .agg(F.sum("__term").alias("chi2"))
    )
    shape = rows.agg(F.count(F.lit(1)).alias("__nr")).crossJoin(
        cols.agg(F.count(F.lit(1)).alias("__nc"))
    )
    out = tot.crossJoin(chi).crossJoin(F.broadcast(shape))
    k = F.least(F.col("__nr"), F.col("__nc")) - 1
    return out.select(
        F.col("__n").cast("long").alias("n"),
        ((F.col("__nr") - 1) * (F.col("__nc") - 1)).cast("long").alias("df_degrees"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.when(k > 0, F.sqrt(F.col("chi2") / (F.col("__n") * k))).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("cramers_v"),
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """(group..., total_weight round-6, weighted_median round-6) — the
    lower weighted median: the smallest value whose running weight (in
    value ASC order, value as tie-break) reaches half the group's total.
    Rows with NULL or non-positive weight and NULL values are excluded.
    One key-partitioned cumulative window over the group's value census —
    no global sort."""
    gc = list(group_cols or [])
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    )
    census = base.groupBy(*gc, F.col(value_col).alias("__v")).agg(
        F.sum(weight_col).alias("__w")
    )
    w_cum = (
        Window.partitionBy(*[F.col(c) for c in gc])
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*[F.col(c) for c in gc])
    ranked = census.select(
        *gc,
        "__v",
        F.sum("__w").over(w_cum).alias("__cum"),
        F.sum("__w").over(w_all).alias("__tot"),
    ).where(F.col("__cum") * 2 >= F.col("__tot"))
    w_pick = Window.partitionBy(*[F.col(c) for c in gc]).orderBy("__v")
    return (
        ranked.withColumn("__rn", F.row_number().over(w_pick))
        .where(F.col("__rn") == 1)
        .select(
            *gc,
            F.round("__tot", 6).alias("total_weight"),
            F.round("__v", 6).alias("weighted_median"),
        )
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] | None = None,
    threshold: float = 3.5,
) -> DataFrame:
    """Modified-z-score outliers (Iglewicz & Hoaglin 1993): flag rows with
    |0.6745 * (x - median) / MAD| > threshold inside their group, where
    MAD = median(|x - median|) — the robust companion to iqr_outliers
    with a tunable strength scale instead of fixed fences.

    Returns the input columns plus (med, mad, robust_z round-6,
    is_outlier). Medians are EXACT (F.median, the same sort-based
    interpolating aggregate the exact-quantiles contract row pins against
    DuckDB). Degenerate groups (MAD = 0: over half the values identical)
    and NULL values get robust_z = NULL and are never flagged.

    Plan shape: two group-sized aggregate frames joined back broadcast —
    the corpus is scanned twice, never windowed or pair-joined.
    """
    gc = list(group_cols or [])
    med = (
        df.groupBy(*gc).agg(F.median(value_col).alias("__med"))
        if gc
        else df.agg(F.median(value_col).alias("__med"))
    )
    with_med = df.join(F.broadcast(med), gc) if gc else df.crossJoin(F.broadcast(med))
    dev = with_med.select(
        *gc, F.abs(F.col(value_col) - F.col("__med")).alias("__dev")
    )
    mad = (
        dev.groupBy(*gc).agg(F.median("__dev").alias("__mad"))
        if gc
        else dev.agg(F.median("__dev").alias("__mad"))
    )
    joined = (
        with_med.join(F.broadcast(mad), gc) if gc else with_med.crossJoin(F.broadcast(mad))
    )
    z = F.lit(0.6745) * (F.col(value_col) - F.col("__med")) / F.col("__mad")
    valid = F.col(value_col).isNotNull() & (F.col("__mad") > 0)
    return joined.select(
        *df.columns,
        F.round("__med", 6).alias("med"),
        F.round("__mad", 6).alias("mad"),
        F.when(valid, F.round(z, 6)).alias("robust_z"),
        F.when(valid & (F.abs(z) > F.lit(threshold)), True)
        .otherwise(False)
        .alias("is_outlier"),
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Exact equi-join output-size accounting WITHOUT running the join:
    |A JOIN B| = sum over keys of count_A(key) * count_B(key), computed
    from the two key censuses — census-sized work (one hash aggregate per
    side + a key-domain join) instead of materializing a possibly
    quadratic result. The planning companion to key_skew_report: run it
    before a big join to see whether the output explodes and WHICH keys
    explode it.

    Returns one summary row (key = NULL, n_keys, output_rows) unioned
    with the ``top_k`` heaviest keys by contribution (key rendered as a
    string for schema stability across key types), each with its left /
    right multiplicity and output_rows = their product.
    """
    key_cols = list(key_cols)
    lc = left.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__cl"))
    rc = right.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__cr"))
    per_key = lc.join(rc.hint("shuffle_hash"), key_cols).select(
        F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols]).alias("key"),
        F.col("__cl").alias("left_rows"),
        F.col("__cr").alias("right_rows"),
        (F.col("__cl") * F.col("__cr")).alias("output_rows"),
    )
    summary = per_key.agg(
        F.lit(None).cast("string").alias("key"),
        F.lit(None).cast("long").alias("left_rows"),
        F.lit(None).cast("long").alias("right_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("output_rows").alias("output_rows"),
    ).select("key", "left_rows", "right_rows", "n_keys", "output_rows")
    top = (
        per_key.orderBy(F.desc("output_rows"), F.asc("key"))
        .limit(top_k)
        .select(
            "key",
            "left_rows",
            "right_rows",
            F.lit(None).cast("long").alias("n_keys"),
            "output_rows",
        )
    )
    return summary.unionByName(top)


def pareto_frontier_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """Rows not dominated in the minimize-(x, y) sense: no other row has
    x' <= x AND y' <= y with at least one strict inequality. Identical
    (x, y) points do not dominate each other, so ties all survive.

    Plan: instead of the O(n^2) NOT-EXISTS self-join, collapse to the
    per-x-value census (groupBy x -> min y), take the running minimum of
    that census over strictly smaller x (one window over DISTINCT x values
    — domain-sized, not data-sized), and broadcast the surviving frontier
    back onto the table. A row survives iff it achieves its own x-group's
    min y and no strictly cheaper x-group reaches a y <= its own. The only
    ordered pass therefore runs over |distinct x| rows; the data-sized
    steps are one hash aggregate and one broadcast semi-join.
    """
    census = df.groupBy(x).agg(F.min(y).alias("_gmin"))
    w = Window.orderBy(x).rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        census.withColumn("_cheaper_min", F.min("_gmin").over(w))
        .where(
            F.col("_cheaper_min").isNull() | (F.col("_cheaper_min") > F.col("_gmin"))
        )
        .select(x, F.col("_gmin"))
    )
    cond = (df[x] == frontier[x]) & (df[y] == frontier["_gmin"])
    return df.join(F.broadcast(frontier), cond, "left_semi")


def ks_statistic(
    df: DataFrame,
    value: str,
    in_a: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per group: the max
    absolute gap between the two samples' empirical CDFs, where ``in_a``
    is a boolean column splitting rows into sample A (true) and B (false).
    NULL values are excluded.

    Exact, not sampled: collapse to the per-(group, value) census first
    (hash aggregate), then ONE ordered window pass over distinct values per
    group — the sort is census-sized, and partitioned by group, never a
    global sort of the raw data.
    """
    by = list(by)
    counts = (
        df.where(F.col(value).isNotNull())
        .groupBy(*by, value)
        .agg(
            F.sum(F.col(in_a).cast("long")).alias("_na"),
            F.sum((~F.col(in_a)).cast("long")).alias("_nb"),
        )
    )
    w_cum = Window.partitionBy(*by).orderBy(value)
    w_all = Window.partitionBy(*by)
    gaps = counts.select(
        *by,
        (
            F.sum("_na").over(w_cum) / F.sum("_na").over(w_all)
            - F.sum("_nb").over(w_cum) / F.sum("_nb").over(w_all)
        ).alias("_gap"),
        F.sum("_na").over(w_all).alias("_ta"),
        F.sum("_nb").over(w_all).alias("_tb"),
    )
    return gaps.groupBy(*by).agg(
        F.max("_ta").alias("n_a"),
        F.max("_tb").alias("n_b"),
        F.round(F.max(F.abs(F.col("_gap"))), 6).alias("ks_d"),
    )


def benford_report(df: DataFrame, col: str) -> DataFrame:
    """First-digit census vs Benford's law for values >= 1 (fraud / data-
    fabrication screening). The digit is taken from the integer part's
    decimal string — exact, no float log in the digit extraction.

    One filter + hash aggregate; output is at most nine rows.
    """
    digits = (
        df.where(F.col(col) >= 1)
        .select(
            F.substring(
                F.floor(F.col(col)).cast("long").cast("string"), 1, 1
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    total = Window.partitionBy()
    return digits.select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs") / F.sum("n_obs").over(total), 6).alias("obs_p"),
        F.round(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")), 6
        ).alias("benford_p"),
    )


def rfm_segments(
    df: DataFrame,
    key: str,
    ts: str,
    amount: str,
    n_tiles: int = 4,
) -> DataFrame:
    """RFM customer segmentation: per key, days since last activity
    (relative to the table's max date), activity count, and rounded spend,
    each quartiled with NTILE (quartile 1 = best: most recent / most
    frequent / highest spend; deterministic key tiebreak).

    The raw table collapses to the per-key census FIRST (one hash
    aggregate + a broadcast 1-row horizon); the three NTILE windows then
    run over census-sized rows only. Monetary is rounded to cents BEFORE
    ranking so the tile assignment is stable across summation orders
    (whole-cent inputs ⇒ the rounded sum is exact on any engine).
    """
    if n_tiles < 1:
        raise ValueError("n_tiles must be >= 1")
    horizon = df.agg(F.max(F.to_date(F.col(ts))).alias("_maxd"))
    agg = (
        df.crossJoin(F.broadcast(horizon))
        .groupBy(key)
        .agg(
            F.datediff(F.max("_maxd"), F.max(F.to_date(F.col(ts))))
            .cast("long")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.round(F.sum(amount), 2).alias("monetary"),
        )
    )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc(key))
    f_w = Window.orderBy(F.desc("frequency"), F.asc(key))
    m_w = Window.orderBy(F.desc("monetary"), F.asc(key))
    return agg.select(
        key,
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(n_tiles).over(r_w).cast("long").alias("r_q"),
        F.ntile(n_tiles).over(f_w).cast("long").alias("f_q"),
        F.ntile(n_tiles).over(m_w).cast("long").alias("m_q"),
    )


def _avg_rank_census(census: DataFrame, value: str, cnt: str, num_ranges: int = 32) -> DataFrame:
    """Attach fractional (average) ranks to a value census: for each
    distinct value, ``avg_rank`` = (#rows with smaller value) +
    (ties + 1)/2 — the tie convention of Spearman/Mann-Whitney.

    Scale shape: a genuinely distributed prefix sum, NOT a global-window
    sort. The census range-partitions by value (order-preserving, equal
    values co-located), each range computes its local ordered cumsum in
    parallel, and the per-range totals — ``num_ranges`` rows, control-plane
    sized — are offset via a trivial window and broadcast back. A
    continuous column whose census is data-sized still ranks in parallel.
    """
    part = census.repartitionByRange(num_ranges, F.col(value)).withColumn(
        "_rid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_rid").orderBy(value)
    local = part.withColumn(
        "_cum_local", F.sum(cnt).over(w_local) - F.col(cnt)
    )
    totals = local.groupBy("_rid").agg(F.sum(cnt).alias("_rtot"))
    w_off = Window.orderBy("_rid")  # num_ranges rows: control-plane sized
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_rtot").over(w_off) - F.col("_rtot"), F.lit(0))
    ).select("_rid", "_off")
    return (
        local.join(F.broadcast(offsets), "_rid")
        .withColumn(
            "avg_rank",
            F.col("_off")
            + F.col("_cum_local")
            + (F.col(cnt) + F.lit(1)) / F.lit(2.0),
        )
        .drop("_rid", "_cum_local", "_off")
    )


def correlation_report(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """All-pairs Pearson AND Spearman correlation over numeric columns:
    one row per unordered pair (col_x, col_y, n_rows, pearson, spearman).

    Rows with a NULL in ANY of ``cols`` are dropped (listwise deletion) so
    every pair is computed over the same row set. Pearson comes from the
    closed-form moment identity — a SINGLE hash aggregate computes every
    sum/sum-of-squares/cross-product for all pairs in one scan. Spearman is
    Pearson over fractional ranks: each column's rank map is census-sized
    (distinct values) and built by the distributed prefix-sum ranking in
    `_avg_rank_census`, then hash-joined back — one shuffle per column,
    never a global sort of the fact table.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("correlation_report needs at least two columns")
    base = df.select(*cols).na.drop(how="any", subset=cols)
    ranked = base
    for c in cols:
        rank_map = _avg_rank_census(
            base.groupBy(c).agg(F.count("*").alias("_n")), c, "_n"
        ).select(F.col(c), F.col("avg_rank").alias(f"_r_{c}"))
        ranked = ranked.join(rank_map.hint("shuffle_hash"), c)
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c)).alias(f"_s_{c}"),
            F.sum(F.col(c) * F.col(c)).alias(f"_ss_{c}"),
            F.sum(F.col(f"_r_{c}")).alias(f"_rs_{c}"),
            F.sum(F.col(f"_r_{c}") * F.col(f"_r_{c}")).alias(f"_rss_{c}"),
        ]
    for i, x in enumerate(cols):
        for y in cols[i + 1 :]:
            aggs.append(F.sum(F.col(x) * F.col(y)).alias(f"_sxy_{x}_{y}"))
            aggs.append(
                F.sum(F.col(f"_r_{x}") * F.col(f"_r_{y}")).alias(f"_rxy_{x}_{y}")
            )
    m = ranked.agg(*aggs)

    def _corr(n, sx, sy, sxx, syy, sxy):
        den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        return F.when(den > 0, F.round((n * sxy - sx * sy) / den, 6))

    pair_rows = []
    for i, x in enumerate(cols):
        for y in cols[i + 1 :]:
            n = F.col("_n").cast("double")
            pair_rows.append(
                F.struct(
                    F.lit(x).alias("col_x"),
                    F.lit(y).alias("col_y"),
                    F.col("_n").alias("n_rows"),
                    _corr(
                        n,
                        F.col(f"_s_{x}"),
                        F.col(f"_s_{y}"),
                        F.col(f"_ss_{x}"),
                        F.col(f"_ss_{y}"),
                        F.col(f"_sxy_{x}_{y}"),
                    ).alias("pearson"),
                    _corr(
                        n,
                        F.col(f"_rs_{x}"),
                        F.col(f"_rs_{y}"),
                        F.col(f"_rss_{x}"),
                        F.col(f"_rss_{y}"),
                        F.col(f"_rxy_{x}_{y}"),
                    ).alias("spearman"),
                )
            )
    return m.select(
        F.explode(F.array(*pair_rows)).alias("_p")
    ).select("_p.col_x", "_p.col_y", "_p.n_rows", "_p.pearson", "_p.spearman")


def mann_whitney_u(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Exact two-sample Mann-Whitney U (Wilcoxon rank-sum) between groups
    ``a`` and ``b`` of ``group``: one row (n_a, n_b, u_a, u_b, z) with the
    tie-corrected normal approximation z = (U_a - mu)/sigma.

    Rank-sums come from the per-value census (one hash aggregate) ranked by
    the distributed prefix-sum in `_avg_rank_census` — the raw table is
    never globally sorted; ties contribute exactly via t^3 - t on the
    census counts. NULL values are excluded.
    """
    counts = (
        df.where(F.col(value).isNotNull() & F.col(group).isin([a, b]))
        .groupBy(value)
        .agg(
            F.sum((F.col(group) == a).cast("long")).alias("_ca"),
            F.sum((F.col(group) == b).cast("long")).alias("_cb"),
        )
        .withColumn("_ct", F.col("_ca") + F.col("_cb"))
    )
    ranked = _avg_rank_census(counts, value, "_ct")
    m = ranked.agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(F.col("_ca") * F.col("avg_rank")).alias("_ra"),
        F.sum(
            F.col("_ct").cast("double") * F.col("_ct") * F.col("_ct")
            - F.col("_ct")
        ).alias("_ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u_a = F.col("_ra") - na * (na + 1) / 2
    u_b = na * nb - u_a
    sigma2 = na * nb / 12 * ((n + 1) - F.col("_ties") / (n * (n - 1)))
    return m.select(
        "n_a",
        "n_b",
        F.round(u_a, 2).alias("u_a"),
        F.round(u_b, 2).alias("u_b"),
        F.when(
            sigma2 > 0, F.round((u_a - na * nb / 2) / F.sqrt(sigma2), 6)
        ).alias("z"),
    )


def gini_report(
    df: DataFrame, by: Sequence[str], value: str
) -> DataFrame:
    """Per-group Gini concentration coefficient over non-negative values:
    (by..., n_rows, total_value, gini), gini = 2*S/(n*T) - (n+1)/n where S
    is the rank-weighted sum over the ascending-sorted values.

    Census-first: collapse to the per-(group, value) census, then one
    ordered window pass per group over DISTINCT values — a run of c ties
    at value v starting after ``cum`` rows contributes exactly
    v*(c*cum + c*(c+1)/2) to S, so the sort is census-sized and
    partitioned by group, never a global sort of the raw rows. NULL and
    negative values are excluded (Gini is defined for non-negative
    support).
    """
    by = list(by)
    census = (
        df.where(F.col(value).isNotNull() & (F.col(value) >= 0))
        .groupBy(*by, value)
        .agg(F.count("*").alias("_c"))
    )
    w_cum = Window.partitionBy(*by).orderBy(value)
    with_cum = census.withColumn(
        "_cum", F.sum("_c").over(w_cum) - F.col("_c")
    ).withColumn(
        "_s",
        F.col(value)
        * (
            F.col("_c") * F.col("_cum")
            + F.col("_c") * (F.col("_c") + F.lit(1)) / F.lit(2.0)
        ),
    )
    g = with_cum.groupBy(*by).agg(
        F.sum("_c").alias("n_rows"),
        F.sum(F.col(value) * F.col("_c")).alias("_t"),
        F.sum("_s").alias("_sw"),
    )
    n = F.col("n_rows").cast("double")
    return g.select(
        *by,
        "n_rows",
        F.round(F.col("_t"), 6).alias("total_value"),
        F.when(
            F.col("_t") > 0,
            F.round(
                F.lit(2.0) * F.col("_sw") / (n * F.col("_t")) - (n + 1) / n, 6
            ),
        ).alias("gini"),
    )


def mutual_information(df: DataFrame, x: str, y: str) -> DataFrame:
    """Mutual information between two categorical columns: one row
    (n_rows, h_x, h_y, h_xy, mi, nmi) in nats, nmi = MI/sqrt(H(x)H(y))
    (NULL when either marginal entropy is 0). NULL is a category of its
    own — the contingency census keeps it as a group, and every statistic
    is computed from census rows (never a NULL-keyed join).

    Scale shape: ONE hash aggregate to the (x, y) contingency census, two
    census-partitioned window sums for the marginals (census-sized — the
    distinct-pair domain, not the data), and a single reduction. Uses the
    identities sum_xy (c/n)·ln(cx/n) = sum_x (cx/n)·ln(cx/n) so marginal
    entropies fall out of the same census pass.
    """
    census = df.groupBy(
        F.col(x).alias("_x"), F.col(y).alias("_y")
    ).agg(F.count(F.lit(1)).alias("_c"))
    wx = Window.partitionBy("_x")
    wy = Window.partitionBy("_y")
    # the grand total comes from a broadcast 1-row aggregate, not an
    # unpartitioned window — the census never collapses to one task
    total = census.agg(F.sum("_c").alias("_n"))
    t = census.crossJoin(F.broadcast(total)).select(
        "_c",
        F.sum("_c").over(wx).alias("_cx"),
        F.sum("_c").over(wy).alias("_cy"),
        "_n",
    )
    p = F.col("_c") / F.col("_n")
    m = t.agg(
        F.max("_n").alias("n_rows"),
        (-F.sum(p * F.log(F.col("_cx") / F.col("_n")))).alias("_hx"),
        (-F.sum(p * F.log(F.col("_cy") / F.col("_n")))).alias("_hy"),
        (-F.sum(p * F.log(p))).alias("_hxy"),
        # ratios divide BEFORE multiplying so no count product can overflow
        # a long under ANSI mode at 10^12-row scale
        F.sum(
            p
            * F.log(
                p / ((F.col("_cx") / F.col("_n")) * (F.col("_cy") / F.col("_n")))
            )
        ).alias("_mi"),
    )
    return m.select(
        "n_rows",
        F.round("_hx", 6).alias("h_x"),
        F.round("_hy", 6).alias("h_y"),
        F.round("_hxy", 6).alias("h_xy"),
        F.round("_mi", 6).alias("mi"),
        F.when(
            (F.col("_hx") > 0) & (F.col("_hy") > 0),
            F.round(F.col("_mi") / F.sqrt(F.col("_hx") * F.col("_hy")), 6),
        ).alias("nmi"),
    )


def kaplan_meier(
    df: DataFrame,
    key: str,
    ts: str,
    censor_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier survival curve (1958) over per-key lifetimes: duration
    = calendar days between a key's first and last event; a lifetime is an
    observed "death" if the key went quiet at least ``censor_days`` before
    the table's horizon (max ts), else right-censored. One row per distinct
    duration: (duration_days, n_at_risk, n_events, n_censored, survival),
    with S(t) = prod over event durations <= t of (1 - d_i/n_i) computed as
    exp(cum-sum(ln ·)) so the running product is a window sum, and deaths
    precede censoring at equal durations (the standard convention — both
    stay at risk for their own duration).

    Scale shape: one per-key hash aggregate (first/last), a broadcast
    1-row horizon, then everything runs on the DURATION census — the
    ordered window is duration-domain sized, never key-count sized.
    """
    if censor_days < 0:
        raise ValueError("censor_days must be >= 0")
    lives = df.groupBy(key).agg(
        F.to_date(F.min(ts)).alias("_first"),
        F.to_date(F.max(ts)).alias("_last"),
    )
    horizon = df.agg(F.to_date(F.max(ts)).alias("_hz"))
    marked = lives.crossJoin(F.broadcast(horizon)).select(
        F.datediff("_last", "_first").cast("long").alias("duration_days"),
        (
            F.datediff("_hz", "_last") >= F.lit(int(censor_days))
        ).alias("_observed"),
    )
    census = marked.groupBy("duration_days").agg(
        F.sum(F.col("_observed").cast("long")).alias("n_events"),
        F.sum((~F.col("_observed")).cast("long")).alias("n_censored"),
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("duration_days")
    total = F.sum(F.col("n_events") + F.col("n_censored")).over(w_all)
    left_before = F.sum(F.col("n_events") + F.col("n_censored")).over(
        w_cum
    ) - (F.col("n_events") + F.col("n_censored"))
    at_risk = (total - left_before).alias("n_at_risk")
    # ln(1 - d/n): -inf when the last risk set dies out entirely; exp then
    # yields exactly 0.0 on both engines. The duration census is tiny by
    # construction (distinct day counts), so the global window is fine.
    step = F.when(
        F.col("n_events") > 0,
        F.log(F.lit(1.0) - F.col("n_events") / F.col("n_at_risk")),
    ).otherwise(F.lit(0.0))
    with_risk = census.select(
        "duration_days", "n_events", "n_censored", at_risk
    ).withColumn("survival", F.round(F.exp(F.sum(step).over(w_cum)), 6))
    return with_risk.select(
        "duration_days", "n_at_risk", "n_events", "n_censored", "survival"
    )


def diff_in_diff(
    df: DataFrame,
    treated: F.Column,
    post: F.Column,
    value: str,
) -> DataFrame:
    """Two-group/two-period difference-in-differences on mean outcome:
    one row (n_rows + the four cell means, each round-6, + did), did =
    (treat_post - treat_pre) - (ctrl_post - ctrl_pre) on the ROUNDED cell
    means so the estimate is summation-order stable. ``treated`` and
    ``post`` are caller-supplied boolean Columns; NULL outcomes are
    excluded. One conditional hash aggregate — a single scan at any scale.
    """
    base = df.where(F.col(value).isNotNull()).select(
        treated.alias("_t"), post.alias("_p"), F.col(value).alias("_v")
    )

    def cell(t, p):
        return F.round(
            F.avg(F.when((F.col("_t") == t) & (F.col("_p") == p), F.col("_v"))),
            6,
        )

    m = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cell(True, False).alias("treat_pre"),
        cell(True, True).alias("treat_post"),
        cell(False, False).alias("ctrl_pre"),
        cell(False, True).alias("ctrl_post"),
    )
    return m.select(
        "n_rows",
        "treat_pre",
        "treat_post",
        "ctrl_pre",
        "ctrl_post",
        F.round(
            (F.col("treat_post") - F.col("treat_pre"))
            - (F.col("ctrl_post") - F.col("ctrl_pre")),
            6,
        ).alias("did"),
    )


def histogram_report(
    df: DataFrame,
    value: str,
    by: Sequence[str] = (),
    bin_width: float = 1.0,
) -> DataFrame:
    """Fixed-width histogram per group: (by..., bin_lo, n_obs, frac) with
    bin_lo = floor(value / bin_width) * bin_width — the deterministic
    binning rule (no data-dependent bin edges, so two corpora histogram
    onto comparable axes). NULLs excluded; ``frac`` is within-group.

    One hash aggregate to (group, bin) + a group-partitioned window over
    bin-census rows for the fraction. Negative values bin correctly
    (floor rounds toward -inf).
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be > 0")
    w = F.lit(float(bin_width))
    bin_lo = F.floor(F.col(value) / w) * w
    by = list(by)
    census = (
        df.where(F.col(value).isNotNull())
        .groupBy(*by, F.round(bin_lo, 6).alias("bin_lo"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    wg = Window.partitionBy(*by)
    return census.select(
        *by,
        "bin_lo",
        "n_obs",
        F.round(F.col("n_obs") / F.sum("n_obs").over(wg), 6).alias("frac"),
    )


def hll_grouped_registers(
    df: DataFrame, by: Sequence[str], col: str, p: int = 12
) -> DataFrame:
    """(by..., bucket, M) — one HLL register file PER GROUP (same
    engine-portable sha256/rho construction as `hll_registers`). Register
    files are max-mergeable: the union of any set of groups is their
    per-bucket max, so per-partition/per-source sketches roll up to any
    coarser grain without touching the data again — the property that
    makes a 100 TB distinct-count report one tiny sketch join."""
    if not (7 <= p <= 18):
        raise ValueError(f"p must be in [7, 18], got {p}")
    by = list(by)
    low_bits = 60 - p
    mask = (1 << low_bits) - 1
    h = F.conv(
        F.substring(F.sha2(F.col(col).cast("string"), 256), 1, 15), 16, 10
    ).cast("long")
    keyed = df.filter(F.col(col).isNotNull()).select(
        *by,
        F.shiftright(h, low_bits).alias("bucket"),
        h.bitwiseAND(F.lit(mask)).alias("w"),
    )
    rho_raw = F.when(F.col("w") == 0, F.lit(low_bits + 1)).otherwise(
        F.lit(low_bits + 1) - F.length(F.bin(F.col("w")))
    )
    return (
        keyed.select(*by, "bucket", F.least(rho_raw, F.lit(40)).alias("rho"))
        .groupBy(*by, "bucket")
        .agg(F.max("rho").alias("M"))
    )


def hll_estimate_by(regs: DataFrame, by: Sequence[str], p: int = 12) -> DataFrame:
    """(by..., nonzero_buckets, register_sum, estimate) per group from a
    grouped (by..., bucket, M) register frame — the same exact-integer
    harmonic-sum arithmetic as `hll_estimate`, keyed by group."""
    if not (7 <= p <= 18):
        raise ValueError(f"p must be in [7, 18], got {p}")
    by = list(by)
    m = 1 << p
    per_m = regs.groupBy(*by, "M").agg(F.count("*").alias("c"))
    s = per_m.groupBy(*by).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("nonzero"),
        F.coalesce(
            F.sum(F.expr("c * shiftleft(cast(1 as bigint), 40 - M)")), F.lit(0)
        )
        .cast("long")
        .alias("t"),
        F.coalesce(F.sum(F.col("c") * F.col("M")), F.lit(0))
        .cast("long")
        .alias("register_sum"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    total = (F.lit(m).cast("long") - F.col("nonzero")) * F.lit(1 << 40) + F.col("t")
    harm = total.cast("double") / F.lit(float(1 << 40))
    e_raw = F.lit(alpha * m * m) / harm
    v = F.lit(m).cast("long") - F.col("nonzero")
    estimate = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return s.select(
        *by,
        F.col("nonzero").alias("nonzero_buckets"),
        "register_sum",
        F.round(estimate, 6).alias("estimate"),
    )


def hll_overlap_report(
    df: DataFrame, group: str, col: str, p: int = 12
) -> DataFrame:
    """Pairwise set-overlap estimates between groups from their HLL
    register files: for every unordered group pair, (group_a, group_b,
    est_a, est_b, est_union, est_overlap, jaccard) via inclusion-
    exclusion |A∩B| ≈ |A| + |B| - |A∪B| (clamped at 0). The audience-
    overlap / source-contamination matrix at sketch cost: after ONE scan
    builds per-group registers, every pairwise union is a register join —
    the data is never re-read, never shuffled per pair.

    Scale shape: register files are <= 2^p rows per group; the pair
    "join" is registers-vs-registers (group-count^2 x m rows worst case —
    sketch-sized, not data-sized).
    """
    regs = hll_grouped_registers(df, [group], col, p)
    singles = hll_estimate_by(regs, [group], p).select(
        F.col(group), F.col("estimate")
    )
    # unordered pair frame: |groups|^2/2 rows — tiny, broadcast both ways
    groups = regs.select(F.col(group).alias("g")).distinct()
    pair_frame = (
        groups.select(F.col("g").alias("ga"))
        .crossJoin(groups.select(F.col("g").alias("gb")))
        .where(F.col("ga") < F.col("gb"))
    )
    # union registers per pair: stack each side's file under the pair key,
    # then per-bucket max — outer semantics fall out of the stacking
    side_a = regs.join(
        F.broadcast(pair_frame), regs[group] == F.col("ga")
    ).select("ga", "gb", "bucket", "M")
    side_b = regs.join(
        F.broadcast(pair_frame), regs[group] == F.col("gb")
    ).select("ga", "gb", "bucket", "M")
    union_regs = (
        side_a.unionByName(side_b)
        .groupBy("ga", "gb", "bucket")
        .agg(F.max("M").alias("M"))
    )
    union_est = hll_estimate_by(union_regs, ["ga", "gb"], p).select(
        "ga", "gb", F.col("estimate").alias("est_union")
    )
    ea = singles.select(F.col(group).alias("ga"), F.col("estimate").alias("est_a"))
    eb = singles.select(F.col(group).alias("gb"), F.col("estimate").alias("est_b"))
    out = (
        union_est.join(F.broadcast(ea), "ga")
        .join(F.broadcast(eb), "gb")
    )
    overlap = F.greatest(
        F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 6),
        F.lit(0.0),
    )
    return out.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "est_a",
        "est_b",
        "est_union",
        overlap.alias("est_overlap"),
        F.when(
            F.col("est_union") > 0, F.round(overlap / F.col("est_union"), 6)
        ).alias("jaccard"),
    )


def hll_rolling_distinct(
    df: DataFrame,
    ts: str,
    col: str,
    window_days: int = 7,
    p: int = 12,
) -> DataFrame:
    """Trailing N-day distinct-count estimate per day — (day,
    nonzero_buckets, register_sum, estimate) where each day's sketch is
    the union of the per-day register files over [day - N + 1, day]. The
    rolling-DAU/WAU primitive at sketch cost: the raw data is scanned
    ONCE to build daily registers; every window after that is register
    arithmetic.

    Scale shape: daily register files (<= 2^p rows/day) explode to at
    most N target days each — sketch-sized x N, never data-sized — then
    one per-(day, bucket) max and the usual exact-integer estimate. Only
    days present in the data are reported (the trailing window still sees
    absent days' — empty — registers correctly).
    """
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    daily = hll_grouped_registers(
        df.select(F.to_date(F.col(ts)).alias("_day"), F.col(col)),
        ["_day"],
        col,
        p,
    )
    targets = daily.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window_days) - 1))
        ).alias("_off"),
        "_day",
        "bucket",
        "M",
    ).select(
        F.date_add(F.col("_day"), F.col("_off")).alias("day"), "bucket", "M"
    )
    present = daily.select(F.col("_day").alias("day")).distinct()
    rolled = (
        targets.join(F.broadcast(present), "day")
        .groupBy("day", "bucket")
        .agg(F.max("M").alias("M"))
    )
    return hll_estimate_by(rolled, ["day"], p)


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    quantiles: Sequence[float],
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Exact lower weighted quantiles at several probabilities in ONE
    census pass: (group..., total_weight, q_<p> for each p) where q_p is
    the smallest value whose running weight (value ASC) reaches p of the
    group's total — `weighted_median`'s rule generalized to any grid
    (token-weighted length percentiles, spend-weighted price bands).
    Rows with NULL values or non-positive/NULL weights are excluded.

    Scale shape: identical to the weighted median — one hash aggregate to
    the per-group value census, one key-partitioned cumulative window,
    then a single conditional min per quantile (no per-quantile re-sort,
    no global sort).
    """
    qs = sorted(set(float(q) for q in quantiles))
    if not qs or qs[0] <= 0 or qs[-1] > 1:
        raise ValueError("quantiles must be in (0, 1]")
    gc = list(group_cols or [])
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    )
    census = base.groupBy(*gc, F.col(value_col).alias("__v")).agg(
        F.sum(weight_col).alias("__w")
    )
    w_cum = (
        Window.partitionBy(*[F.col(c) for c in gc])
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*[F.col(c) for c in gc])
    ranked = census.select(
        *gc,
        "__v",
        F.sum("__w").over(w_cum).alias("__cum"),
        F.sum("__w").over(w_all).alias("__tot"),
    )
    aggs = [F.round(F.max("__tot"), 6).alias("total_weight")]
    for q in qs:
        name = f"q_{str(q).replace('.', '_')}"
        aggs.append(
            F.round(
                F.min(
                    F.when(
                        F.col("__cum") >= F.lit(q) * F.col("__tot"),
                        F.col("__v"),
                    )
                ),
                6,
            ).alias(name)
        )
    return ranked.groupBy(*gc).agg(*aggs)


def robust_means(
    df: DataFrame,
    value: str,
    by: Sequence[str] = (),
    trim: float = 0.1,
) -> DataFrame:
    """Per-group trimmed AND winsorized means at the ``trim`` fraction:
    (by..., n_rows, mean, trimmed_mean, winsorized_mean) — the robust
    location estimates that survive heavy-tailed value columns (the
    exact-percentile companion to `mad_outliers`). The trimmed mean
    averages values strictly inside the [trim, 1-trim] exact-percentile
    band (band edges INCLUDED); the winsorized mean clamps values to the
    band edges first. NULLs are excluded.

    One exact-percentile aggregate per group (group-sized output) joined
    back to the rows, then one conditional aggregate — two shuffles on
    the group key, no global sort.
    """
    if not (0 < trim < 0.5):
        raise ValueError("trim must be in (0, 0.5)")
    by = list(by)
    base = df.where(F.col(value).isNotNull()).select(
        *by, F.col(value).alias("_v")
    )
    cuts = base.groupBy(*by).agg(
        F.percentile(F.col("_v"), F.lit(float(trim))).alias("_lo"),
        F.percentile(F.col("_v"), F.lit(1.0 - float(trim))).alias("_hi"),
    )
    joined = (
        base.join(cuts.hint("shuffle_hash"), by)
        if by
        else base.crossJoin(F.broadcast(cuts))
    )
    inside = (F.col("_v") >= F.col("_lo")) & (F.col("_v") <= F.col("_hi"))
    clamped = F.least(F.greatest(F.col("_v"), F.col("_lo")), F.col("_hi"))
    return joined.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("_v"), 6).alias("mean"),
        F.round(F.avg(F.when(inside, F.col("_v"))), 6).alias("trimmed_mean"),
        F.round(F.avg(clamped), 6).alias("winsorized_mean"),
    )


def categorical_association(
    df: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """All-pairs association between categorical columns — the
    categorical mirror of `correlation_report`: one row per unordered
    pair (col_x, col_y, n_rows, chi2, cramers_v) with Cramér's V =
    sqrt(chi2 / (n * (min(|X|,|Y|) - 1))). NULL is a category of its own
    (same convention as `mutual_information`); pairs where either column
    is constant report NULL V.

    Scale shape: per pair, ONE contingency census (hash aggregate) with
    marginals from census-partitioned windows and the grand total from a
    broadcast 1-row aggregate — chi-square accumulates over census rows,
    never the raw data; the pair loop unions census-sized frames.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("categorical_association needs at least two columns")
    out = None
    for i, x in enumerate(cols):
        for y in cols[i + 1 :]:
            census = df.groupBy(
                F.col(x).alias("_x"), F.col(y).alias("_y")
            ).agg(F.count(F.lit(1)).alias("_c"))
            total = census.agg(
                F.sum("_c").alias("_n"),
                F.count_distinct("_x").alias("_kx"),
                F.count_distinct("_y").alias("_ky"),
                F.max(F.when(F.col("_x").isNull(), 1).otherwise(0)).alias("_nx"),
                F.max(F.when(F.col("_y").isNull(), 1).otherwise(0)).alias("_ny"),
            )
            wx = Window.partitionBy("_x")
            wy = Window.partitionBy("_y")
            t = census.crossJoin(F.broadcast(total)).select(
                "_c",
                F.sum("_c").over(wx).alias("_cx"),
                F.sum("_c").over(wy).alias("_cy"),
                "_n",
                (F.col("_kx") + F.col("_nx")).alias("_dx"),
                (F.col("_ky") + F.col("_ny")).alias("_dy"),
            )
            # zero cells never appear in the census; the identity
            # chi2 = sum_observed o^2/e - n accounts for them exactly
            # ((0-e)^2/e summed over all cells contributes n - 2n + sum o^2/e)
            e = F.col("_cx") / F.col("_n") * F.col("_cy")
            chi2 = F.sum(F.col("_c") * F.col("_c") / e) - F.max("_n")
            dmin = F.least(F.max("_dx"), F.max("_dy")) - 1
            pair = t.agg(
                F.max("_n").alias("n_rows"),
                F.round(chi2, 6).alias("chi2"),
                F.when(
                    dmin > 0,
                    F.round(
                        F.sqrt(
                            chi2 / (F.max("_n") * dmin.cast("double"))
                        ),
                        6,
                    ),
                ).alias("cramers_v"),
            ).select(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                "n_rows",
                "chi2",
                "cramers_v",
            )
            out = pair if out is None else out.unionByName(pair)
    return out


# exact Poisson(1) CDF prefix, shared verbatim with the SQL oracle (the
# engine and the replica must compare the SAME doubles)
POISSON1_CDF = (
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
    0.9999998885745216,
)
_GOLDEN64 = 0x9E3779B97F4A7C15


def bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value: str,
    by: Sequence[str] = (),
    n_replicas: int = 200,
    seed: int = 42,
    level: float = 0.95,
) -> DataFrame:
    """Seeded Poisson-bootstrap confidence interval for the per-group mean
    (Chamandy et al., Google 2012): each row enters replica r with weight
    ~ Poisson(1) drawn from splitmix64(id·B + r XOR seed-mix) — fully
    deterministic, reproducible on any engine — and the CI comes from
    exact percentiles of the B replicate means. Output: (by..., n_rows,
    mean, se, ci_lo, ci_hi).

    Scale shape: the replica explode happens MAP-SIDE and collapses
    immediately into per-(group, replica) partial sums (hash aggregate
    with map-side combine), so shuffle volume is partitions x B x groups
    — never B x rows; the percentile runs over B replicate rows per
    group. The only Python is one Arrow-batched weight kernel. Replicas
    whose group weight is zero (possible for tiny groups) yield a NULL
    replicate mean, which the percentile skips.

    Rows whose ``id_col`` is NULL or not castable to long are excluded
    up front (a NULL key has no deterministic replica assignment); the
    replica label is the exploded offset itself — never recomputed via
    ``%``, which would mislabel negative ids (Spark's ``%`` follows the
    dividend's sign).
    """
    if n_replicas < 2:
        raise ValueError("n_replicas must be >= 2")
    if not (0 < level < 1):
        raise ValueError("level must be in (0, 1)")
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.text import _splitmix64
    from ..session import ensure_py_files

    ensure_py_files(df.sparkSession)
    seed_mix = np.uint64((int(seed) * _GOLDEN64) % (1 << 64))
    cdf = np.array(POISSON1_CDF, dtype=np.float64)

    # no type hints: `from __future__ import annotations` stringifies them
    # and pyspark cannot resolve function-local pd/np names
    def _pois_fn(keys):
        h = keys.to_numpy().astype(np.int64).view(np.uint64) ^ seed_mix
        u = (_splitmix64(h) >> np.uint64(11)).astype(np.float64) * 2.0**-53
        return pd.Series(np.searchsorted(cdf, u, side="right").astype(np.int32))

    _pois = pandas_udf(_pois_fn, "int")

    by = list(by)
    b = int(n_replicas)
    eligible = df.where(
        F.col(value).isNotNull()
        & F.col(id_col).try_cast("long").isNotNull()
    )
    base = eligible.select(
        *by,
        F.col(value).alias("_v"),
        (F.col(id_col).try_cast("long") * b).alias("_k0"),
    )
    exploded = (
        base.select(
            *by,
            "_v",
            "_k0",
            F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("_r0"),
        )
        .select(
            *by, "_v", "_r0", (F.col("_k0") + F.col("_r0")).alias("_k")
        )
        .withColumn("_w", _pois(F.col("_k")))
    )
    reps = exploded.groupBy(*by, F.col("_r0").alias("_r")).agg(
        F.sum(F.col("_w") * F.col("_v")).alias("_wv"),
        F.sum("_w").alias("_wsum"),
    ).select(
        *by,
        "_r",
        F.when(
            F.col("_wsum") > 0, F.round(F.col("_wv") / F.col("_wsum"), 6)
        ).alias("_m"),
    )
    alpha = (1.0 - float(level)) / 2.0
    stats = eligible.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg(value), 6).alias("mean"),
    )
    ci = reps.groupBy(*by).agg(
        F.round(F.stddev_samp("_m"), 6).alias("se"),
        F.round(F.percentile(F.col("_m"), F.lit(alpha)), 6).alias("ci_lo"),
        F.round(F.percentile(F.col("_m"), F.lit(1.0 - alpha)), 6).alias("ci_hi"),
    )
    joined = (
        stats.join(ci.hint("shuffle_hash"), by)
        if by
        else stats.crossJoin(F.broadcast(ci))
    )
    return joined.select(*by, "n_rows", "mean", "se", "ci_lo", "ci_hi")


def effect_size(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Standardized mean difference between groups ``a`` and ``b``: one
    row (n_a, n_b, mean_a, mean_b, pooled_sd, cohens_d, hedges_g) with
    pooled SD = sqrt(((n_a-1)s_a² + (n_b-1)s_b²)/(n_a+n_b-2)) and Hedges'
    small-sample correction g = d·(1 - 3/(4(n_a+n_b)-9)). The practical-
    significance companion to `ab_test_report`'s p-value machinery. NULL
    values are excluded; d is NULL when the pooled SD is 0.

    One conditional hash aggregate — a single scan; variances come from
    the sum/sum-of-squares moments so the plan stays map-side
    combinable.
    """
    base = df.where(
        F.col(value).isNotNull() & F.col(group).isin([a, b])
    ).select((F.col(group) == a).alias("_ga"), F.col(value).alias("_v"))

    def side(flag):
        cond = F.col("_ga") if flag else ~F.col("_ga")
        n = F.sum(cond.cast("long"))
        s = F.sum(F.when(cond, F.col("_v")))
        ss = F.sum(F.when(cond, F.col("_v") * F.col("_v")))
        return n, s, ss

    na, sa, ssa = side(True)
    nb, sb, ssb = side(False)
    m = base.agg(
        na.alias("n_a"), sa.alias("_sa"), ssa.alias("_ssa"),
        nb.alias("n_b"), sb.alias("_sb"), ssb.alias("_ssb"),
    )
    fa = F.col("n_a").cast("double")
    fb = F.col("n_b").cast("double")
    mean_a = F.col("_sa") / fa
    mean_b = F.col("_sb") / fb
    var_a = (F.col("_ssa") - F.col("_sa") * F.col("_sa") / fa) / (fa - 1)
    var_b = (F.col("_ssb") - F.col("_sb") * F.col("_sb") / fb) / (fb - 1)
    pooled = F.sqrt(
        ((fa - 1) * var_a + (fb - 1) * var_b) / (fa + fb - 2)
    )
    d = (mean_a - mean_b) / pooled
    g = d * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (fa + fb) - 9))
    return m.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(pooled, 6).alias("pooled_sd"),
        F.when(pooled > 0, F.round(d, 6)).alias("cohens_d"),
        F.when(pooled > 0, F.round(g, 6)).alias("hedges_g"),
    )
