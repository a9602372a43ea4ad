#!/usr/bin/env python3
"""Crawl-round benchmark: one command, one workload run.

    python3 perfbench/run.py --workload linked_crawl --seed 1 \
        --seconds 30 --trace 0

Runs the workload in a fresh child process (fresh JVM, fresh state dir)
on local[N], N = min(cores available, 4), pinned to N cores, while this
process samples the child tree's resident memory from /proc.  Prints
every metric as "name value unit", then one JSON line:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1, a separate traced pass).  See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("linked_crawl", "ingest_compact")
RUN_TIMEOUT_S = 176  # whole invocation, preparation included
MAX_CORES = 4


class RssSampler(threading.Thread):
    """Peak resident memory of a process and all its descendants, summed
    as PSS (shared pages split between their users), so the Python
    workers Spark forks from one daemon are not counted once each."""

    def __init__(self, pid: int, every_s: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def _tree_pss_kb(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(
                            f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb())
            self._stop_evt.wait(self.every_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def run_pass(args, cores: list[int], trace: bool) -> dict:
    """One child run; → its summary dict plus peak_rss_mb."""
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--size", args.size,
           "--trace", str(int(trace)), "--cores", str(len(cores)),
           "--cache-dir", cache_dir(args),
           "--frontier-dir", frontier_dir(args),
           "--run-dir", run_dir,
           "--trace-dir", os.path.join(WORK, "traces"),
           "--out", out]
    if args.tamper:
        cmd.append("--tamper")
    cmd += ["--spawn", repr(time.time())]
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=child_env(cores, tmp),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        start_new_session=True,
        preexec_fn=lambda: os.sched_setaffinity(0, cores))
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        log = _wait(proc, args.deadline)
    finally:
        sampler.stop()
    try:
        if proc.returncode != 0:
            raise RuntimeError(f"{args.workload} pass exited "
                               f"{proc.returncode}:\n{log[-4000:]}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["e2e"]["peak_rss_mb"] = res["layer"]["peak_rss_mb"] = [
        sampler.peak_kb / 1024.0, "MB"]
    return res


def cache_dir(args) -> str:
    return os.path.join(WORK, "inputs",
                        f"{args.workload}-{args.size}-seed{args.seed}")


def frontier_dir(args) -> str:
    return os.path.join(WORK, "inputs", f"frontier-{args.size}")


def child_env(cores: list[int], tmp: str) -> dict:
    return dict(os.environ,
                PYTHONPATH=ROOT, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp}",
                SPARK_GRAFT_CPUS=str(len(cores)),
                SPARK_GRAFT_DRIVER_MEM="2g",
                # partitioning sized to the data (see README.md)
                SPARK_GRAFT_SHUFFLE=str(len(cores)),
                OSSE_FRONTIER_BUCKETS=str(len(cores)),
                SPARK_GRAFT_AQE="0")


def prepare(args, cores: list[int]) -> None:
    """Inputs and oracle results, made before the measured process
    starts and cached: linked_crawl's corpus and oracle per seed, and
    ingest_compact's frontier (once, in its own Spark process) and feed
    (per seed)."""
    sys.path.insert(0, ROOT)
    import inputs
    size = inputs.SIZES[args.workload][args.size]
    if args.workload == "linked_crawl":
        paths = inputs.linked_corpus(cache_dir(args), args.seed, size)
        inputs.linked_oracle(cache_dir(args), paths, size)
        return
    final = frontier_dir(args)
    if not os.path.isdir(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        os.makedirs(os.path.join(tmp, "tmp"))
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "inputs.py"), tmp,
             args.size, str(len(cores))],
            cwd=tmp, env=child_env(cores, os.path.join(tmp, "tmp")),
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            start_new_session=True,
            preexec_fn=lambda: os.sched_setaffinity(0, cores))
        log = _wait(proc, args.deadline)
        if proc.returncode != 0:
            raise RuntimeError(f"frontier preparation exited "
                               f"{proc.returncode}:\n{log[-4000:]}")
        shutil.rmtree(os.path.join(tmp, "tmp"))
        os.replace(tmp, final)
    paths = inputs.frontier_paths(final, cache_dir(args))
    if not os.path.exists(paths["feed_meta"]):
        inputs.write_feed(paths, args.seed, size)


def _wait(proc, deadline: float) -> str:
    """Output of ``proc`` once it and its process group have ended; it
    is killed at ``deadline``."""
    try:
        log, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        log, _ = proc.communicate()
    finally:
        _reap_group(proc.pid)
    return log.decode("utf-8", "replace").replace("\0", "")


def _reap_group(pgid: int) -> None:
    """Kill whatever the child left in its process group (a JVM that
    outlived its Python driver) and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30,
                    help="nominal measuring time; each workload is a "
                    "fixed call sequence sized to about this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: self-test inputs (tests/test_selftest.py)")
    ap.add_argument("--tamper", action="store_true",
                    help="self-test: corrupt the expected result so "
                    "the correctness check must fail")
    args = ap.parse_args()
    args.deadline = time.time() + RUN_TIMEOUT_S

    if not os.path.isdir(os.path.join(ROOT, "open_source_search_engine_spark")):
        print("perfbench: package open_source_search_engine_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    avail = sorted(os.sched_getaffinity(0))
    cores = avail[:min(len(avail), MAX_CORES)]
    prepare(args, cores)

    res = run_pass(args, cores, trace=bool(args.trace))
    key, have = (("per_layer", res["layer"]) if args.trace else
                 ("end_to_end", res["e2e"]))

    for name, (v, unit) in sorted({**res["e2e"], **res["layer"]}.items()):
        print(f"{name:48s} {v:.6g} {unit}")
    print(f"{'attempted':48s} {res['attempted']}")
    for e in res["errors"]:
        print(f"FAILED {e}")
    metrics = {}
    for m in spec[key]:
        v, unit = have[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit} != {m['unit']}")
        metrics[m["name"]] = {"value": v, "unit": unit}
    print(json.dumps({"correct": not res["failed"],
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
