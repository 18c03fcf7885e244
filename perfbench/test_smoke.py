"""Smoke test of the benchmark at a tiny input scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced, and checks that the
result line carries every metric of BENCHMARK.json with its unit; then
checks that a corrupted reference makes every job count as failed.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SCALE = "0.02"


def run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def results() -> dict:
    return {(w, t): run(w, t) for w in WORKLOADS for t in (0, 1)}


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_by_name_and_unit(results, trace):
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    for w in WORKLOADS:
        res = results[(w, trace)]
        assert {k: v["unit"] for k, v in res["metrics"].items()} == spec, w
        assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"] is True, w
        for v in res["metrics"].values():
            assert isinstance(v["value"], (int, float)), w
        if not trace:
            assert all(v["value"] > 0 for v in res["metrics"].values()), w


def test_layers_split_as_designed(results):
    layers = {w: results[(w, 1)]["metrics"] for w in WORKLOADS}
    assert layers["pip_dense"]["geoparse.s"]["value"] == 0
    assert layers["flagship_hot"]["lineage.input_passes"]["value"] > 0
    assert [w for w in WORKLOADS if layers[w]["knn.s"]["value"] != 0] == ["pip_dense"]


def test_corrupted_reference_fails_every_job():
    res = run("pip_dense", 0, "--corrupt-reference")
    assert res["correct"] is False
    assert res["attempted"] >= 1 and res["failed"] == res["attempted"]
