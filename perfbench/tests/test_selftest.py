"""Self-test of the benchmark at tiny size: every metric BENCHMARK.json
names is emitted with its unit by each workload, untraced and traced,
and a tampered expected result fails the correctness check.

    python -m pytest perfbench/tests/test_selftest.py -q

Each case starts the benchmark's own Spark processes; the whole file
takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
WORKLOADS = ("linked_crawl", "ingest_compact")


def bench(workload: str, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "5",
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, timeout=400)
    assert out.returncode == 0, out.stderr.decode(errors="replace")[-3000:]
    return json.loads(out.stdout.decode().strip().splitlines()[-1])


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,key", [("0", "end_to_end"),
                                       ("1", "per_layer")])
def test_every_metric_emitted_with_unit(workload, trace, key):
    res = bench(workload, "--trace", trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec()[key]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tampered_expected_result_fails(workload):
    res = bench(workload, "--trace", "0", "--tamper")
    assert not res["correct"] and res["failed"] >= 1
