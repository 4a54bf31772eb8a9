"""Layer spans for the traced run, and per-layer figures from Spark's event log.

A span is recorded around each call into a layer (name, parent, start,
end). While a span is open its layer name is the Spark job group, so the
jobs it submits are tagged in the event log; a job without a known group
(for example one a streaming query submits from its own thread) falls to
the innermost span open when it was submitted. Spans stay in memory until
the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

LAYERS = [
    "session",
    "datagen",
    "operators.blocking",
    "plans.pipeline",
    "operators.candidates",
    "operators.scoring.p1",
    "operators.scoring.p2",
    "operators.clustering",
    "plans.incremental",
    "streaming.continuous",
    "sources.io",
]

# event-log figures per layer; layers with little Spark work keep fewer
FULL = [
    "wall_s",
    "executor_run_s",
    "executor_cpu_s",
    "idle_core_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "jobs",
    "tasks",
    "task_skew",
]
BRIEF = ["wall_s", "executor_run_s", "jobs", "tasks"]
FIGURES = {layer: FULL for layer in LAYERS}
FIGURES["session"] = ["wall_s"]
FIGURES["datagen"] = BRIEF
FIGURES["sources.io"] = BRIEF


class Tracer:
    """Spans of one run. ``enabled=False`` records nothing and sets no job
    group, so untraced runs pay nothing."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent["name"] if parent else None,
               "start": time.time(), "end": None}
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["name"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span duration minus the part covered by its child spans."""
    out: dict[str, float] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        for c in spans:
            if c is not s and c["parent"] == s["name"] and s["start"] <= c["start"] and c["end"] <= s["end"]:
                dur -= c["end"] - c["start"]
        out[s["name"]] = out.get(s["name"], 0.0) + max(dur, 0.0)
    return out


def _innermost(spans: list[dict], t: float) -> str | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best["name"] if best else None


def layer_figures(event_dir: str, spans: list[dict], cores: int,
                  windows: list[tuple[float, float]]) -> dict[str, dict[str, float]]:
    """Aggregate the event log's task metrics by layer, over the jobs
    submitted inside one of ``windows`` (epoch seconds). ``trace`` holds
    the share of their task time that some layer claims, and the failed
    tasks."""
    events = []
    # Spark 4 writes a directory of rolled event files per application
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    layers = set(LAYERS)
    stage_layer: dict[int, str] = {}
    stats = {layer: {"jobs": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0, "cpu_ns": 0,
                     "gc_ms": 0, "sr": 0, "sw": 0, "spill": 0, "durs": []}
             for layer in LAYERS}
    unattributed_ms = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not any(lo <= t <= hi for lo, hi in windows):
                continue
            layer = group if group in layers else _innermost(spans, t)
            if layer not in layers:
                layer = None
            for sid in ev["Stage IDs"]:
                stage_layer.setdefault(sid, layer)
            if layer:
                stats[layer]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_layer:
                continue
            layer = stage_layer[sid]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            if layer is None:
                unattributed_ms += m.get("Executor Run Time", 0)
                continue
            st = stats[layer]
            st["tasks"] += 1
            st["failed_tasks"] += int(bool(info.get("Failed")))
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["sw"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st["durs"].append(max(info["Finish Time"] - info["Launch Time"], 0))
    walls = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for layer in LAYERS:
        st = stats[layer]
        wall = walls.get(layer, 0.0)
        durs = st["durs"]
        med = statistics.median(durs) if durs else 0
        out[layer] = {
            "wall_s": wall,
            "executor_run_s": st["run_ms"] / 1000.0,
            "executor_cpu_s": st["cpu_ns"] / 1e9,
            "idle_core_s": wall * cores - st["run_ms"] / 1000.0,
            "gc_s": st["gc_ms"] / 1000.0,
            "shuffle_read_bytes": float(st["sr"]),
            "shuffle_write_bytes": float(st["sw"]),
            "spill_bytes": float(st["spill"]),
            "jobs": float(st["jobs"]),
            "tasks": float(st["tasks"]),
            "failed_tasks": float(st["failed_tasks"]),
            "task_skew": (max(durs) / med) if med else 0.0,
        }
    attributed_ms = sum(st["run_ms"] for st in stats.values())
    out["trace"] = {
        "attributed_share": attributed_ms / max(attributed_ms + unattributed_ms, 1),
        "failed_tasks": float(sum(st["failed_tasks"] for st in stats.values())),
    }
    return out


# figures the engine reports about itself, and ratios with their bases
ENGINE = [
    "plans.pipeline.stage.features_s",
    "plans.pipeline.stage.exact_collapse_s",
    "plans.pipeline.stage.candidates_s",
    "plans.pipeline.stage.scoring_p1_fill_s",
    "plans.pipeline.stage.scoring_s",
    "plans.pipeline.stage.clustering_s",
    "plans.pipeline.stage.metrics_s",
    "plans.incremental.stage.features_new_s",
    "plans.incremental.stage.exact_collapse_s",
    "plans.incremental.stage.blocking_new_s",
    "plans.incremental.stage.candidates_s",
    "plans.incremental.stage.scoring_p1_fill_s",
    "plans.incremental.stage.scoring_s",
    "plans.incremental.stage.edges_s",
    "plans.incremental.stage.clustering_s",
    "operators.candidates.pairs",
    "operators.blocking.max_block_size",
    "operators.blocking.salted_blocks",
    "operators.scoring.native_kernel",
    "plans.pipeline.rep_ratio",
    "operators.candidates.match_yield",
    "operators.scoring.phase2_share",
    "plans.incremental.pairs_per_new_row",
    "streaming.continuous.write_amplification",
    "trace.resolve_overhead_s",
    "trace.attributed_share",
    "trace.failed_tasks",
]


def per_layer_names() -> list[str]:
    return [f"{layer}.{fig}" for layer in LAYERS for fig in FIGURES[layer]] + ENGINE
