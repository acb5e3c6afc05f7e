"""Tiny-input self-test of the benchmark. From the root of a checkout:

    python3 -m pytest perfbench -q -s

Each workload runs once untraced and once traced on a tiny input. The
test checks the result line's format (its keys, and every metric
``BENCHMARK.json`` names with its unit), that the traced spans nest and
have self time >= 0, and prints the tracing overhead per workload
(traced call time over untraced call time on the same seed). It also
checks that the command fails without printing a result when the
program is not there. Takes several minutes: every run starts a JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7
WORKLOADS = ["dedup_batch", "link_batch", "link_fold", "dedup_fold"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--turns", "800"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, proc.stderr[-3000:]
    return out


def _summary(proc: subprocess.CompletedProcess) -> dict:
    line = [x for x in proc.stderr.splitlines() if x.startswith('{"workload"')][-1]
    return json.loads(line)


def _check_metrics(out: dict, listed: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)) and v["value"] == v["value"], k


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload(workload):
    spec = _spec()
    plain = _run(ROOT, workload, 0)
    untraced = _result(plain)
    _check_metrics(untraced, spec["end_to_end"])
    for name in ("setup_s", "batch_s"):
        assert untraced["metrics"][name]["value"] > 0

    traced_proc = _run(ROOT, workload, 1)
    traced = _result(traced_proc)
    _check_metrics(traced, spec["per_layer"])

    with open(os.path.join(ROOT, ".bench_work", "traces", f"{workload}-seed{SEED}.json")) as f:
        spans = {s["id"]: s for s in json.load(f)["spans"]}
    assert spans
    for s in spans.values():
        assert s["self_s"] >= -1e-9, s
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["op"] == s["op"]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (p, s)
        else:
            assert s["layer"] == "pipeline"

    overhead = traced["metrics"]["trace.call_s"]["value"] / _summary(plain)["timed_s"]
    print(f"\n{workload}: tracing overhead {overhead:.2f}x (traced / untraced call time)")
    assert overhead > 0


def test_fails_without_program():
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run(bare, "dedup_batch", 0)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
