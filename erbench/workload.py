"""One benchmark run of one workload, in the fresh process run.py starts.

Usage (normally through run.py, which owns the process group, the memory
sampler and the clean-up):

    python3 erbench/workload.py --workload skewed_resolve --seed 1 \
        --seconds 10 --trace 0 --work <run dir> --out <result.json>

Writes one JSON object to --out: the end-to-end (or, with --trace 1,
per-layer) metrics measured here, the correctness checks and the count of
timed operations attempted and failed. peak_rss_mb is added by run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes. Both resolve corpora use the plain generator's groups; the fold
# corpus is committed as stream batch 0 and then grown by small deltas.
SKEWED = {"n_groups": 600, "header_every": 8, "vendored_files": 30, "vendored_copies": 8}
FOLD = {"n_groups": 600, "new_groups": 20, "mirrors": 20}
SETUP_REPEATS = 3  # untraced runs repeat input generation; setup_s takes the median
F1_GATE = {"skewed_resolve": 0.99, "incremental_fold": 0.99}
SHA_RE = "^[0-9a-f]{64}$"


class Run:
    """Timed operations and correctness checks of one run."""

    def __init__(self):
        self.attempted = 0
        self.checks: list[dict] = []
        self.info: dict = {}
        self._failed_ops: set[int] = set()

    @property
    def failed(self) -> int:
        return len(self._failed_ops)

    def op(self, fn):
        """Time one operation; returns (seconds, result)."""
        self.attempted += 1
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out

    def check(self, name: str, ok: bool, detail="") -> None:
        """A failed check fails the latest timed operation (a set-up check
        fails the first one)."""
        self.checks.append({"name": name, "ok": bool(ok), "detail": str(detail)})
        if not ok:
            self._failed_ops.add(max(self.attempted, 1))


def cluster_digest(clusters) -> int:
    from pyspark.sql import functions as F

    row = clusters.agg(F.bit_xor(F.xxhash64("file_id", "cluster_id")).alias("d")).collect()[0]
    return int(row["d"] or 0)


def cluster_sets(pdf) -> set[frozenset]:
    groups: dict = {}
    for fid, cid in zip(pdf["file_id"].tolist(), pdf["cluster_id"].tolist()):
        groups.setdefault(cid, set()).add(fid)
    return {frozenset(m) for m in groups.values()}


def metric_rows(metrics_df) -> dict[str, float]:
    return {f"{r['stage']}.{r['metric']}": float(r["value"]) for r in metrics_df.collect()}


def run_resolve(spark, files, cfg):
    """One resolve() up to materialised scored pairs and clusters."""
    from entity_resolution_spark.plans.pipeline import resolve

    res = resolve(files, cfg)
    res.scored.count()
    return res, cluster_digest(res.clusters)


def check_resolve(run: Run, tag: str, res, rows: dict, labels, workload: str):
    """The per-resolve gates; returns (clusters pdf, F1)."""
    from pyspark.sql import functions as F

    from corpus import pairwise_f1

    bad_sha = res.features.filter(
        F.col("content_sha256").isNull() | ~F.col("content_sha256").rlike(SHA_RE)
    ).count()
    run.check(f"{tag}.content_sha256", bad_sha == 0, f"{bad_sha} rows without a 64-hex digest")
    run.check(f"{tag}.native_kernel", rows.get("scoring.native_kernel") == 1.0,
              rows.get("scoring.native_kernel"))
    if workload == "skewed_resolve":
        run.check(f"{tag}.salted_blocks", rows.get("blocking.salted_blocks", 0) >= 1,
                  rows.get("blocking.salted_blocks"))
    pdf = res.clusters.toPandas()
    f1 = pairwise_f1(labels, pdf)
    run.check(f"{tag}.pairwise_f1", f1 >= F1_GATE[workload], round(f1, 6))
    return pdf, f1


def skewed_resolve(spark, a, run: Run, tracer, cfg, setup: dict, out: dict):
    from corpus import labeled_pairs, skewed_files, vendored_pairs

    gen = []
    with tracer.span("datagen"):
        for _ in range(1 if tracer.enabled else SETUP_REPEATS):
            t0 = time.perf_counter()
            files = skewed_files(spark, a.seed, **SKEWED).localCheckpoint(eager=True)
            gen.append(time.perf_counter() - t0)
    setup["datagen_s"] = statistics.median(gen)
    n_groups = SKEWED["n_groups"]
    vendored = vendored_pairs(a.seed, n_groups, SKEWED["vendored_files"], SKEWED["vendored_copies"])
    labels = labeled_pairs(a.seed, n_groups, vendored)
    n_files = files.count()
    run.info["input_files"] = n_files

    # one resolve() in the fresh JVM: what each spark-submit batch job pays
    secs, (res, digest) = run.op(lambda: run_resolve(spark, files, cfg))
    rows = metric_rows(res.metrics)
    _, f1 = check_resolve(run, "resolve", res, rows, labels, "skewed_resolve")
    run.info.update(resolve_s=secs, digest=digest, resolve_metrics=rows)
    out.update(first_resolve_s=secs, files_per_s=n_files / secs, op_s=secs, pairwise_f1=f1)
    if tracer.enabled:
        # no untraced warm resolve to compare with here: the tracing
        # overhead is measured on incremental_fold
        traced_op(spark, run, tracer, cfg, files, digest, None, rows, out)


def incremental_fold(spark, a, run: Run, tracer, cfg, setup: dict, out: dict):
    from corpus import delta_rows, labeled_pairs, pairwise_f1
    from entity_resolution_spark.datagen import FILES_SCHEMA, generate_repo_files

    n_groups = FOLD["n_groups"]
    gen = []
    with tracer.span("datagen"):
        for _ in range(1 if tracer.enabled else SETUP_REPEATS):
            t0 = time.perf_counter()
            corpus = generate_repo_files(spark, n_groups, seed=a.seed).localCheckpoint(eager=True)
            delta, mirrored = delta_rows(a.seed, n_groups, 0, FOLD["new_groups"], FOLD["mirrors"])
            gen.append(time.perf_counter() - t0)
    setup["datagen_s"] = statistics.median(gen)
    if tracer.enabled:
        traced_run(spark, a, run, tracer, cfg, out, corpus)
        return
    labels = labeled_pairs(a.seed, n_groups + FOLD["new_groups"], mirrored)
    run.info["input_files"] = {"corpus": corpus.count(), "delta": len(delta)}

    stream = Stream(spark, a.work, cfg)
    t0 = time.perf_counter()
    stream.stage(corpus)
    setup["stage_input_s"] = time.perf_counter() - t0
    # stream batch 0 is the corpus: the first fold runs resolve() over it
    # in the fresh JVM, which also warms the JVM and workers for the fold
    batch0_s, _ = run.op(stream.fold)
    run.check("batch0.committed", stream.versions() == [0], stream.versions())
    setup["batch0_s"] = batch0_s
    out["first_resolve_s"] = batch0_s

    stream.stage(spark.createDataFrame(delta, FILES_SCHEMA))
    spark.catalog.clearCache()
    secs, _ = run.op(stream.fold)
    run.check("fold.committed", stream.versions() == [0, 1], stream.versions())
    run.info["fold_s"] = secs
    out.update(op_s=secs, files_per_s=len(delta) / secs)

    final = stream.clusters()
    run.info["digest"] = cluster_digest(final)
    out["pairwise_f1"] = pairwise_f1(labels, final.toPandas())
    run.check("final.pairwise_f1", out["pairwise_f1"] >= F1_GATE["incremental_fold"],
              round(out["pairwise_f1"], 6))


class Stream:
    """The input directory, versioned state and checkpoint of one standing
    resolution driven by run_continuous_resolution."""

    def __init__(self, spark, work: str, cfg):
        self.spark, self.cfg = spark, cfg
        self.inp, self.state, self.ckpt = (
            os.path.join(work, d) for d in ("input", "state", "checkpoint")
        )
        os.makedirs(self.inp)

    def stage(self, files) -> int:
        """Drop ``files`` into the input directory as one parquet file;
        returns the bytes added."""
        from pyspark.sql import functions as F

        before = _tree_bytes(self.inp)
        files.withColumn("event_time", F.timestamp_seconds(F.lit(1_700_000_000))).coalesce(
            1
        ).write.mode("append").parquet(self.inp)
        return _tree_bytes(self.inp) - before

    def fold(self) -> None:
        from entity_resolution_spark.streaming.continuous import run_continuous_resolution

        run_continuous_resolution(self.spark, self.inp, self.state, self.ckpt, self.cfg)

    def versions(self) -> list[int]:
        from entity_resolution_spark.streaming.continuous import _committed_versions

        return _committed_versions(self.state)

    def clusters(self):
        from entity_resolution_spark.streaming.continuous import latest_state

        return latest_state(self.spark, self.state)[1]


def traced_run(spark, a, run: Run, tracer, cfg, out: dict, corpus):
    """incremental_fold's per-layer run: commit the corpus, fold one delta
    traced, then resolve() everything the stream saw untraced and traced.
    Checks that the folded clusters equal the resolve()'s and that the
    traced resolve reproduces its digest."""
    from composed import traced_fold
    from corpus import delta_rows, labeled_pairs
    from entity_resolution_spark.datagen import FILES_SCHEMA

    stream = Stream(spark, a.work, cfg)
    with tracer.span("datagen"):
        delta, mirrored = delta_rows(a.seed, FOLD["n_groups"], 0, FOLD["new_groups"],
                                     FOLD["mirrors"])
        delta = spark.createDataFrame(delta, FILES_SCHEMA)
        stream.stage(corpus)
    run.op(stream.fold)
    delta_bytes = stream.stage(delta)
    spark.catalog.clearCache()
    fold_rows: list = []
    t0 = time.time()
    run.op(lambda: traced_fold(spark, stream.inp, stream.state, stream.ckpt, cfg, tracer,
                               fold_rows.extend))
    out["windows"].append((t0, time.time()))
    run.check("folds.committed", stream.versions() == [0, 1], stream.versions())
    _fold_trace(out["trace"], fold_rows, _tree_bytes(os.path.join(stream.state, "v1")),
                delta_bytes)
    final = stream.clusters().toPandas()

    union = corpus.unionByName(delta).localCheckpoint(eager=True)
    labels = labeled_pairs(a.seed, FOLD["n_groups"] + FOLD["new_groups"], mirrored)
    spark.catalog.clearCache()
    untraced_s, (res, digest) = run.op(lambda: run_resolve(spark, union, cfg))
    rows = metric_rows(res.metrics)
    union_pdf, _ = check_resolve(run, "union", res, rows, labels, "incremental_fold")
    run.check("final.clusters_equal_union_resolve",
              cluster_sets(final) == cluster_sets(union_pdf),
              f"{len(cluster_sets(final))} vs {len(cluster_sets(union_pdf))} clusters")
    traced_op(spark, run, tracer, cfg, union, digest, untraced_s, rows, out)


def traced_op(spark, run: Run, tracer, cfg, files, digest, untraced_s, rows, out):
    """The composed, traced resolve, after an untraced one that took
    ``untraced_s`` (None when that one ran cold) and reported ``rows``."""
    from pyspark.sql import functions as F

    from composed import traced_resolve

    spark.catalog.clearCache()
    t0 = time.time()
    secs, (reps, scored, metrics, d) = run.op(
        lambda: _materialise(traced_resolve(files, cfg, tracer), tracer)
    )
    out["windows"].append((t0, time.time()))
    run.check("traced.digest_matches_resolve", d == digest, f"{d} vs {digest}")
    trows = metric_rows(metrics)
    if untraced_s is not None:
        out["trace"]["trace.resolve_overhead_s"] = secs - untraced_s
    out["trace"].update({
        "plans.pipeline.rep_ratio": reps.count() / files.count(),
        "operators.candidates.match_yield":
            trows["scoring.matched_pairs"] / max(trows["candidates.pairs"], 1.0),
        "operators.scoring.phase2_share":
            scored.filter(F.col("lev_ratio") > 0).count() / max(scored.count(), 1),
        "operators.candidates.pairs": trows["candidates.pairs"],
        "operators.blocking.max_block_size": trows["blocking.max_block_size"],
        "operators.blocking.salted_blocks": trows["blocking.salted_blocks"],
        "operators.scoring.native_kernel": trows["scoring.native_kernel"],
    })
    # the stage-seconds rows of the untraced resolve().metrics
    for stage in ("features", "exact_collapse", "candidates", "scoring_p1_fill", "scoring",
                  "clustering", "metrics"):
        out["trace"][f"plans.pipeline.stage.{stage}_s"] = rows.get(f"{stage}.seconds", 0.0)


def _materialise(composed, tracer):
    """What run_resolve does after resolve() returns."""
    _feat, reps, scored, clusters, metrics = composed
    with tracer.span("plans.pipeline"):
        scored.count()
        digest = cluster_digest(clusters)
    return reps, scored, metrics, digest


def _fold_trace(trace: dict, rows: list, version_bytes: int, delta_bytes: int) -> None:
    """resolve_incremental's own figures for the traced fold."""
    vals = {f"{r['stage']}.{r['metric']}": float(r["value"]) for r in rows}
    for key, val in vals.items():
        stage, metric = key.rsplit(".", 1)
        if metric == "seconds":
            trace[f"plans.incremental.stage.{stage}_s"] = val
    trace["plans.incremental.pairs_per_new_row"] = (
        vals["candidates.pairs"] / max(vals["input_new.rows"], 1.0)
    )
    # state bytes the fold committed per byte of its delta
    trace["streaming.continuous.write_amplification"] = version_bytes / max(delta_bytes, 1)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith(".")
    )


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["skewed_resolve", "incremental_fold"])
    p.add_argument("--seed", type=int, required=True)
    # part of the benchmark command's interface; each workload runs a fixed
    # sequence of operations (see README.md), which takes longer than this
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()

    sys.path.insert(0, ROOT)
    import entity_resolution_spark

    pkg = os.path.dirname(os.path.abspath(entity_resolution_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise SystemExit(f"entity_resolution_spark imported from {pkg}, not this checkout")
    from entity_resolution_spark.config import PipelineConfig
    from entity_resolution_spark.functions._lcs_native import get_lib
    from entity_resolution_spark.session import get_spark

    from pyspark import SparkContext

    from spans import Tracer, layer_figures, per_layer_names

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
        # keep the JVM's temp files (and no hsperfdata file) outside /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(a.work, 'tmp')} -XX:-UsePerfData",
    }
    events = os.path.join(a.work, "events")
    if a.trace:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false"})
    # hot blocks above 64 representatives take the salted (tiled) path
    cfg = PipelineConfig(max_block_size=64)

    run = Run()
    setup: dict = {}
    out: dict = {"trace": {}, "windows": []}
    t_session = time.time()
    t0 = time.perf_counter()
    spark = get_spark(cores=cores, shuffle_partitions=cores, extra_conf=conf)
    gateway = SparkContext._gateway
    setup["session_s"] = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, enabled=bool(a.trace))
    if tracer.enabled:
        tracer.spans.append({"name": "session", "parent": None, "start": t_session,
                             "end": time.time()})
    try:
        t0 = time.perf_counter()
        native = get_lib() is not None
        setup["native_kernel_s"] = time.perf_counter() - t0
        run.check("setup.native_kernel", native)
        {"skewed_resolve": skewed_resolve, "incremental_fold": incremental_fold}[a.workload](
            spark, a, run, tracer, cfg, setup, out
        )
    finally:
        spark.stop()
        # the JVM exits when its stdin closes; wait for it here so the
        # process tree is gone when this process is
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)

    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        "correct": run.failed == 0,
        "checks": run.checks,
        "setup": setup,
        "info": run.info,
    }
    if a.trace:
        windows = out["windows"] + [
            (s["start"], s["end"]) for s in tracer.spans if s["name"] in ("session", "datagen")
        ]
        figs = layer_figures(events, tracer.spans, cores, windows)
        found = dict(out["trace"])
        for layer, vals in figs.items():
            for name, val in vals.items():
                found[f"{layer}.{name}"] = val
        # every workload reports every per-layer metric; a layer it never
        # enters reads 0
        result["metrics"] = {name: float(found.get(name, 0.0)) for name in per_layer_names()}
    else:
        result["metrics"] = {
            "setup_s": sum(setup.values()),
            "first_resolve_s": out["first_resolve_s"],
            "files_per_s": out["files_per_s"],
            "op_s": out["op_s"],
            "pairwise_f1": out["pairwise_f1"],
            "ok_rate": 1.0 - run.failed / run.attempted,
        }
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
