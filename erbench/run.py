"""Record-linkage benchmark: one workload, one seed, one result line.

    python3 erbench/run.py --workload skewed_resolve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload runs in a fresh child
process (erbench/workload.py) in its own session, so its JVM and Python
workers form one process group. This process samples the group's memory
(proportional set size) from /proc while it runs, kills the group on timeout, verifies that
no process of the run survives, deletes the run's scratch directory and
prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

See erbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("skewed_resolve", "incremental_fold")
CHILD_TIMEOUT_S = 165  # a run must end within 180 s, clean-up included
MARKER = "ERBENCH_RUN"  # environment variable every process of a run inherits

UNITS = {
    "setup_s": "s",
    "first_resolve_s": "s",
    "files_per_s": "files/s",
    "op_s": "s",
    "pairwise_f1": "ratio",
    "peak_rss_mb": "MB",
    "ok_rate": "ratio",
}


def _run_pids(sid: int, token: str) -> list[int]:
    """Processes of this run: in the child's session, or carrying its marker
    (a process that left the session still inherits the environment)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            # fields after the parenthesised command: state ppid pgrp session
            if int(stat.rsplit(")", 1)[1].split()[3]) == sid:
                pids.append(pid)
                continue
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if f"{MARKER}={token}".encode() in fh.read().split(b"\0"):
                    pids.append(pid)
        except (OSError, ValueError, IndexError):
            continue  # gone, or not ours to read
    return pids


def _pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: resident pages, with each page shared
    by k processes counted 1/k per process. Plain RSS would count the pages
    that forked Python workers share with their daemon once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue  # gone, or not ours to read
    return total


def _kill(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _reap(child: subprocess.Popen, token: str, grace_s: float) -> list[int]:
    """Stop every process of the run: ``grace_s`` to exit on their own, then
    SIGTERM, then SIGKILL. Returns those still alive after."""
    sid = child.pid
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            _kill(_run_pids(sid, token), sig)
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            child.poll()
            alive = [p for p in _run_pids(sid, token) if not _is_zombie(p)]
            if not alive:
                return []
            time.sleep(0.1)
    child.poll()
    return [p for p in _run_pids(sid, token) if not _is_zombie(p)]


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--driver-mem", default="1g", help="Spark driver heap (the whole JVM in local mode)")
    a = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "entity_resolution_spark", "__init__.py")):
        print(f"error: no entity_resolution_spark package next to {HERE}", file=sys.stderr)
        return 2

    token = uuid.uuid4().hex
    work = os.path.join(ROOT, ".erbench_run", token)
    for sub in ("tmp", "spark-local", "native"):
        os.makedirs(os.path.join(work, sub))
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        MARKER: token,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": a.driver_mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "ERS_NATIVE_CACHE": os.path.join(work, "native"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONHASHSEED": "0",
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    out_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", out_path]

    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                             stdout=sys.stderr, stderr=sys.stderr)

    def on_signal(signum, _frame):
        _reap_and_clean(child, token, work, grace_s=0.0)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    peak = 0
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    timed_out = False
    try:
        while child.poll() is None:
            if time.monotonic() > deadline:
                timed_out = True
                break
            peak = max(peak, _pss_bytes(_run_pids(child.pid, token)))
            time.sleep(0.2)
        result = None
        if not timed_out and child.returncode == 0 and os.path.exists(out_path):
            with open(out_path) as fh:
                result = json.load(fh)
    finally:
        # a child that timed out gets no grace: the run must end within 180 s
        survivors = _reap_and_clean(child, token, work, grace_s=0.0 if timed_out else 10.0)

    if timed_out:
        print(f"error: {a.workload} did not finish within {CHILD_TIMEOUT_S} s", file=sys.stderr)
        return 1
    if survivors:
        print(f"error: processes of the run survived: {survivors}", file=sys.stderr)
        return 1
    if result is None:
        print(f"error: {a.workload} exited with {child.returncode}", file=sys.stderr)
        return 1

    metrics = result["metrics"]
    if not a.trace:
        metrics["peak_rss_mb"] = peak / 2**20
        metrics = {k: {"value": metrics[k], "unit": UNITS[k]} for k in UNITS}
    else:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in metrics.items()}
    for c in result["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}")
    print("setup " + json.dumps(result["setup"]))
    print("info " + json.dumps(result["info"]))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


def _reap_and_clean(child: subprocess.Popen, token: str, work: str, grace_s: float) -> list[int]:
    survivors = _reap(child, token, grace_s)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there
    return survivors


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("jobs", "tasks", "pairs", "max_block_size", "salted_blocks")):
        return "count"
    if name.endswith("native_kernel"):
        return "flag"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
