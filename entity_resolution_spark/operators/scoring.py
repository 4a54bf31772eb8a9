"""Stage 3 — pairwise scoring of candidate pairs, two-phase.

Reference semantics carried: ``fuzz.ratio(a.strip(), b.strip())`` + threshold
filter (/root/reference/src/entity_resolution/entity_resolution.py:339-344)
with default threshold 80 (:213), extended per north_star with Jaro-Winkler
(paths) and token-Jaccard (identifier sets), blended with the reference's
0.40/0.35/0.25 weights (entity_resolution.py:710-720 — see config.py).

Execution shape — the part that must survive 100 TB:

**Phase 1 (light).** Pairs join only per-file *light* features: basename,
sorted int64 token hashes, normalized-content length (~1 KB/side). The
token-Jaccard is computed JVM-side (``array_intersect``/``size`` — no
Python, no Arrow transfer of token arrays); Jaro-Winkler runs in a tiny
Arrow UDF over short basenames; a length-based upper bound on the edit
ratio closes the blend bound:

    bound = w_c * ub_lev(len_l, len_r) + w_j * 100*jaccard + w_p * 100*jw

Pairs whose *bound* misses the threshold (minus the w_c*0.5 rounding slack
— fuzz_ratio is banker's-rounded and can exceed the unrounded length bound
by up to half a point) can never match — they are scored with
``lev_ratio = 0`` (the value the decision never reads) and skip the
content join entirely.

**Phase 2 (heavy).** Only bound-survivors join the actual contents and run
the bit-parallel LCS ratio (exact-equality shortcut first; content capped
at ``lev_max_chars`` per side with a full-length-bound clamp, so one pair
of megabyte minified bundles cannot become a quadratic straggler task —
see config.py). On realistic
corpora survivors are a few percent of candidates, so the content bytes
(the dominant shuffle payload — KBs per row vs ~100 B of pair metadata)
move for a small fraction of pairs. A naive one-phase scorer shuffles
every candidate pair with both contents attached twice; measured 10x
slower at 1M pairs even at local scale.

All corpus-sized joins carry explicit ``shuffle_hash`` hints: broadcasting
the corpus is wrong at scale, and letting size estimates pick broadcast
caused heap-thrash anti-scaling at local[32].
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..config import PipelineConfig

_OUT_COLS = ["left_id", "right_id", "block_key", "lev_ratio", "token_jaccard", "path_jw", "score"]

# Phase-1 Jaro-Winkler dedup guard: when the candidate pairs carry at most
# this many DISTINCT (l_base, r_base) operand pairs, JW is computed once per
# distinct pair and broadcast-joined back (see score_pairs). Above either cap
# the inline per-pair Arrow path runs instead (no broadcast-size hazard on
# adversarial inputs). The byte cap is the real guard: an explicit
# F.broadcast ignores autoBroadcastJoinThreshold, and 2M long string pairs
# can be GBs, so the census also measures the summed operand bytes and the
# broadcast only happens when the ESTIMATED frame size (operand bytes +
# per-row overhead) fits. The row cap is a secondary fuse.
JW_DEDUP_BROADCAST_MAX = 500_000
JW_DEDUP_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


class ScoringContext:
    """Per-call scoring-stage state: the phase-1 fill wall-clock and the
    live phase-1 cache handle. Each `resolve()` builds its own context and
    threads it through `score_pairs`, so two interleaved pipelines in one
    session report independent timings and release only their own caches
    (module-global state would cross-contaminate both).
    """

    def __init__(self) -> None:
        self.p1_fill_seconds: float = 0.0
        self._phase1: list[DataFrame] = []

    def release_phase1(self) -> None:
        """Unpersist any live phase-1 cache (safe to call anytime; the
        union must be materialized first or its branches will recompute
        phase 1)."""
        while self._phase1:
            self._phase1.pop().unpersist()


def length_bound(l_n: str, r_n: str) -> Column:
    """Upper bound on the edit ratio from the two normalized lengths."""
    l_n, r_n = F.col(l_n), F.col(r_n)
    return F.when(
        (l_n > 0) & (r_n > 0), 200.0 * F.least(l_n, r_n) / (l_n + r_n)
    ).otherwise(F.lit(0.0))


def base_score(cfg: PipelineConfig, jaccard: str, jw: str) -> Column:
    """The blend's token-Jaccard and path-JW terms."""
    return cfg.w_jaccard * 100.0 * F.col(jaccard) + cfg.w_path * 100.0 * F.col(jw)


def phase1_bound(cfg: PipelineConfig, ub: Column, base: Column) -> Column:
    """Phase 1's bound on the blended score; a pair below
    :func:`reject_line` can never match. Re-threshold calls it too, so the
    two agree float for float."""
    return cfg.w_content * ub + base


def reject_line(cfg: PipelineConfig) -> float:
    """The threshold less w_content*0.5: lev_ratio is banker's-rounded, so
    the true blend can exceed the unrounded bound by up to that slack."""
    return cfg.similarity_threshold - cfg.w_content * 0.5


@pandas_udf(T.DoubleType())
def _jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    from ..functions.similarity import batch_jaro_winkler

    return pd.Series(batch_jaro_winkler(a, b))


def score_pairs(
    pairs: DataFrame,
    features: DataFrame,
    cfg: PipelineConfig | None = None,
    ctx: ScoringContext | None = None,
) -> DataFrame:
    """pairs(left_id, right_id, block_key) x features -> scored pairs
    (left_id, right_id, block_key, lev_ratio, token_jaccard, path_jw,
    score) for ALL candidates; callers apply the threshold
    (matched_edges) so the full score distribution stays observable.

    ``lev_ratio`` is exact for every pair whose blend could reach the
    threshold; bound-rejected pairs carry 0 (computing it could not change
    any decision — same convention as the reference's inline threshold
    short-circuit).
    """
    cfg = cfg or PipelineConfig()
    # no module-global scoring state: callers that don't thread their own
    # context get a fresh one, attached to the returned DataFrame as
    # `.scoring_ctx` so they can still read p1_fill_seconds and release
    # the phase-1 cache
    ctx = ctx if ctx is not None else ScoringContext()
    # the phase-1 fill below executes the JW UDF at CALL time — workers
    # must be able to import this package even under a caller-built
    # vanilla session (idempotent; resolve() also calls it)
    from ..session import ensure_py_files

    ensure_py_files(pairs.sparkSession)
    light = features.select(
        "file_id",
        "basename",
        "token_hashes",
        F.length("norm_content").alias("n_chars"),
    )
    left = light.select(
        F.col("file_id").alias("left_id"),
        F.col("basename").alias("l_base"),
        F.col("token_hashes").alias("l_tokens"),
        F.col("n_chars").alias("l_n"),
    )
    right = light.select(
        F.col("file_id").alias("right_id"),
        F.col("basename").alias("r_base"),
        F.col("token_hashes").alias("r_tokens"),
        F.col("n_chars").alias("r_n"),
    )
    p = pairs.join(left.hint("shuffle_hash"), "left_id").join(
        right.hint("shuffle_hash"), "right_id"
    )

    inter = F.size(F.array_intersect("l_tokens", "r_tokens"))
    union_sz = F.size("l_tokens") + F.size("r_tokens") - inter
    jac = F.when(union_sz > 0, inter.cast("double") / union_sz).otherwise(F.lit(0.0))
    jw = _jw_udf(F.col("l_base"), F.col("r_base"))

    # Phase 1 runs as TWO materialized passes, not one projection. In the
    # fused plan, ExtractPythonUDFs hoists the JW UDF into an
    # ArrowEvalPython node BELOW the final Project, so the token_hashes
    # arrays (needed by the jaccard expression evaluated after the Python
    # node) are buffered through the Python-exchange queue for every pair —
    # measured 103 s vs 53 s at 8 cores / 15.26M pairs, and the fused shape
    # scales at only 1.3x for 4x cores (queue buffering + allocation
    # pressure) vs 2.6x split (/tmp A/B recorded in BENCH/BASELINE.md).
    # Pass 1 (pure JVM) computes jaccard + the length bound and DROPS the
    # arrays; pass 2 attaches JW over the slim cached rows (via the
    # distinct-operand census below).
    ctx.release_phase1()
    # basenames coalesce to "" here: the JW kernel maps None -> "" anyway
    # (bit-identical result), and non-null keys keep the dedup join below
    # a plain equi-join
    slim = p.select(
        "left_id",
        "right_id",
        "block_key",
        jac.alias("token_jaccard"),
        length_bound("l_n", "r_n").alias("ub"),
        F.coalesce("l_base", F.lit("")).alias("l_base"),
        F.coalesce("r_base", F.lit("")).alias("r_base"),
    ).persist()
    # The union below reads p1 through two branches (rejected + survivors);
    # without a materialization boundary each branch would re-run the
    # phase-1 joins and the JW UDF — persist is that boundary (columnar
    # and prunable; an eager localCheckpoint was measured ~70% slower).
    # Both caches are filled NOW, before the union job runs: concurrent
    # readers of an unfilled cache each recompute its lineage (measured 2x
    # wall-clock; the plans' boundaries fill in dependency order for the
    # same reason, plans/stages.py). This cache keeps its lineage, unlike
    # a plan boundary: the caller's boundary on the scored union cuts it
    # right after. The fill runs
    # at plan-BUILD time, outside the caller's stage timers — record it so
    # resolve() can attribute it. Caches are tracked and released via
    # release_phase1() / the next call, so repeated score_pairs calls never
    # leak executor memory. (A StageStore write plays this role on a
    # cluster.)
    #
    # JW runs on DISTINCT (l_base, r_base) operand pairs, not per pair:
    # blocking groups candidates by shared basename tokens, so the
    # distinct-operand census is orders of magnitude smaller than the
    # pair table (measured 741 distinct across 3.85M pairs at 24k
    # groups). The census job doubles as slim's cache fill; the kernel
    # then sees only the census rows (one tiny Arrow exchange instead of
    # a 2-string-in/1-double-out round trip over every pair) and the
    # values scatter back through a broadcast hash join — the big path
    # becomes pure JVM, which is also why the fill now scales with cores
    # instead of serializing on the Python exchange. Identical values by
    # construction: the same kernel on the same operands (the per-batch
    # factorize inside batch_jaro_winkler was already exploiting this
    # redundancy batch-locally; this lifts it to the whole frame). On
    # adversarial inputs where the census is pair-sized, the guarded
    # fallback keeps the inline per-pair Arrow path rather than risk an
    # oversized broadcast.
    import time as _time

    _t0 = _time.time()
    base_pairs = slim.select("l_base", "r_base").distinct()
    # this census aggregate is the fill job for slim's cache too: the
    # joins run once here, and every later read is a cache hit. It also
    # measures the summed operand length so the broadcast decision is
    # byte-aware: explicit F.broadcast bypasses autoBroadcastJoinThreshold,
    # so a row count alone cannot prevent an oversized broadcast when the
    # distinct operands are long strings.
    census = base_pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.octet_length("l_base") + F.octet_length("r_base")), F.lit(0)
        ).alias("bytes"),
    ).collect()[0]
    n_distinct = census["n"]
    # UTF-8 operand bytes plus ~48B/row of UnsafeRow + object overhead in
    # the broadcast relation
    est_bytes = int(census["bytes"]) + 48 * n_distinct
    if n_distinct <= JW_DEDUP_BROADCAST_MAX and est_bytes <= JW_DEDUP_BROADCAST_MAX_BYTES:
        jw_map = base_pairs.withColumn("path_jw", jw)
        with_jw = slim.join(F.broadcast(jw_map), ["l_base", "r_base"])
    else:
        with_jw = slim.withColumn("path_jw", jw)
    p1 = with_jw.select(
        "left_id",
        "right_id",
        "block_key",
        "token_jaccard",
        "path_jw",
        "ub",
    ).withColumn("base_score", base_score(cfg, "token_jaccard", "path_jw")).persist()
    ctx._phase1.append(p1)
    p1.count()
    ctx.p1_fill_seconds = round(_time.time() - _t0, 3)
    # p1 is filled — the slim intermediate (with its basename payload) can go
    slim.unpersist()
    bound = phase1_bound(cfg, F.col("ub"), F.col("base_score"))
    reject_below = reject_line(cfg)

    rejected = (
        p1.filter(bound < reject_below)
        .withColumn("lev_ratio", F.lit(0))
        .withColumn("score", F.round("base_score", 6))
        .select(*_OUT_COLS)
    )

    survivors = p1.filter(bound >= reject_below)
    # megafile guard: truncate the content fed to the LCS kernel at
    # lev_max_chars (JVM-side, so the Arrow transfer shrinks too) and carry
    # the true lengths; see PipelineConfig.lev_max_chars for the cost math
    content = features.select(
        "file_id",
        F.substring("norm_content", 1, cfg.lev_max_chars).alias("norm_content"),
        # tail sample, carried only for over-cap rows (empty otherwise, so
        # no extra shuffle bytes for the common case): head-only comparison
        # of truncated pairs errs toward MATCHING — minified bundles often
        # share a long preamble and diverge after the cap — so truncated
        # pairs are additionally compared on their last lev_max_chars
        F.when(
            F.length("norm_content") > cfg.lev_max_chars,
            F.substring("norm_content", -cfg.lev_max_chars, cfg.lev_max_chars),
        )
        .otherwise(F.lit(""))
        .alias("tail"),
        F.length("norm_content").alias("n_full"),
    )
    lc = content.select(
        F.col("file_id").alias("left_id"),
        F.col("norm_content").alias("l_norm"),
        F.col("tail").alias("l_tail"),
        F.col("n_full").alias("l_full"),
    )
    rc = content.select(
        F.col("file_id").alias("right_id"),
        F.col("norm_content").alias("r_norm"),
        F.col("tail").alias("r_tail"),
        F.col("n_full").alias("r_full"),
    )
    heavy = survivors.join(lc.hint("shuffle_hash"), "left_id").join(
        rc.hint("shuffle_hash"), "right_id"
    )
    # The survivors frame is small in BYTES (AQE coalesces it to ~1
    # partition) but huge in CPU (the LCS DP is the single most expensive
    # kernel in the engine) — without this spread the DP runs serially on
    # one core regardless of cluster size. Partition count follows
    # parallelism, not data size, because cost here is per-ROW, not
    # per-byte; 8x over-decomposition keeps tasks small because per-pair
    # cost varies ~quadratically with content length — at 2x, one
    # long-content partition was a straggler that cost ~40% wall-clock on
    # the scaling bench (bimodal 104 s vs 170 s at 8 cores).
    heavy = heavy.repartition(pairs.sparkSession.sparkContext.defaultParallelism * 8)
    # Truncated pairs take min(head ratio, tail ratio, full-length bound):
    # the length bound alone cannot reject two same-length megafiles that
    # agree on the first lev_max_chars but diverge after (bound = 100 when
    # lengths are equal), so the tail sample supplies the divergence signal
    # the head cannot see. lev_ratio for truncated pairs is an approximation
    # by construction; the min errs toward NOT matching. Untruncated pairs
    # keep the bit-exact fuzz.ratio.
    #
    # BOTH ratios come from ONE struct-returning pandas UDF: a second UDF
    # call was a second Arrow round trip of the content columns over every
    # survivor pair — measured ~2x scoring-stage wall-clock at 15.26M pairs
    # even though every tail operand was empty. Inside the batch the tail
    # kernel runs only on the truncated subset (usually none).
    truncated = (F.col("l_full") > cfg.lev_max_chars) | (F.col("r_full") > cfg.lev_max_chars)
    full_ub = 200.0 * F.least("l_full", "r_full") / (F.col("l_full") + F.col("r_full"))
    cap = int(cfg.lev_max_chars)

    @pandas_udf(
        T.StructType(
            [T.StructField("raw", T.IntegerType()), T.StructField("tail", T.IntegerType())]
        )
    )
    def _lev_pair_udf(
        l_norm: pd.Series, r_norm: pd.Series, l_tail: pd.Series, r_tail: pd.Series,
        l_full: pd.Series, r_full: pd.Series,
    ) -> pd.DataFrame:
        import numpy as np

        from ..functions.similarity import batch_fuzz_ratio

        raw = batch_fuzz_ratio(l_norm, r_norm)
        tail = np.zeros(len(raw), dtype=np.int32)
        lf = l_full.to_numpy()
        rf = r_full.to_numpy()
        trunc = (lf > cap) | (rf > cap)
        if trunc.any():
            # an under-cap side compares its WHOLE text (head == full
            # string) against the long side's tail sample
            ln = l_norm.to_numpy(dtype=object)
            rn = r_norm.to_numpy(dtype=object)
            lt = l_tail.to_numpy(dtype=object)
            rt = r_tail.to_numpy(dtype=object)
            ta = np.where(lf > cap, lt, ln)[trunc]
            tb = np.where(rf > cap, rt, rn)[trunc]
            tail[trunc] = batch_fuzz_ratio(pd.Series(ta), pd.Series(tb))
        return pd.DataFrame({"raw": raw, "tail": tail})

    lev = _lev_pair_udf(
        F.col("l_norm"), F.col("r_norm"), F.col("l_tail"), F.col("r_tail"),
        F.col("l_full"), F.col("r_full"),
    )
    scored2 = (
        heavy.withColumn("__lev", lev)
        .withColumn("raw_ratio", F.col("__lev.raw"))
        .withColumn("tail_ratio", F.col("__lev.tail"))
        .withColumn(
            "lev_ratio",
            F.when(
                truncated,
                F.least(F.col("raw_ratio"), F.col("tail_ratio"), F.floor(full_ub).cast("int")),
            ).otherwise(F.col("raw_ratio")),
        )
        .withColumn(
            "score", F.round(cfg.w_content * F.col("lev_ratio") + F.col("base_score"), 6)
        )
        .select(*_OUT_COLS)
    )
    out = rejected.unionByName(scored2)
    out.scoring_ctx = ctx
    return out


def matched_edges(scored: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Threshold filter (reference P1) -> undirected match edges."""
    cfg = cfg or PipelineConfig()
    return scored.filter(F.col("score") >= cfg.similarity_threshold).select(
        "left_id", "right_id"
    )
