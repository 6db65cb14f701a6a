"""Pins the benchmark's output: metric names and units match BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

The first test is static. The second runs `perfbench/run.py --smoke`,
which drives every workload at tiny scale in one Spark session (about one
minute on a quiet 4-core host, two on a busy one), and checks every line
it prints.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(entries) -> dict:
    return {m["name"]: m["unit"] for m in entries}


def test_declared_metrics_match_benchmark_json():
    spec = _spec()
    assert _units(spec["end_to_end"]) == run.E2E_UNITS
    assert _units(spec["per_layer"]) == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s"
               for m in spec["end_to_end"])


def test_smoke_run_prints_every_metric_with_its_unit():
    spec = _spec()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"],
                       cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.strip()]
    assert {x["workload"] for x in lines} == set(WORKLOADS)
    expected = (_units(spec["end_to_end"]), _units(spec["per_layer"]))
    for x in lines:
        assert set(x) == {"workload", "correct", "attempted", "failed",
                          "metrics"}
        assert x["correct"] is True and x["failed"] == 0
        assert x["attempted"] >= 1
        assert {k: v["unit"] for k, v in x["metrics"].items()} in expected
        assert all(math.isfinite(v["value"]) for v in x["metrics"].values())
    # the smoke run is traced, so its spans files exist
    spans = os.path.join(BENCH, ".work", "spans")
    assert any(f.startswith("smoke-") for f in os.listdir(spans))
