"""BENCHMARK.json's grammar, and a smoke run of every workload.

The smoke runs take a few minutes (one Spark session each):

    python3 -m pytest -q perfbench/tests
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, oracle_fingerprints  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_benchmark_json_grammar():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= len(SPEC["paths"]) <= 16
    for p in SPEC["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and ".." not in p
        assert os.path.isdir(os.path.join(ROOT, p))
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert "\n" not in w["why"] and len(w["why"]) <= 200
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"])
        assert m["better"] in ("lower", "higher")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _metrics(trace: int) -> dict[str, str]:
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in SPEC[key]}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_smoke_run(tmp_path, workload):
    """Every workload at a tiny scale: all executions pass the oracle and
    job-contract checks, every per-layer metric is emitted, and in each
    traced pass build + plan + action cover the pass's own wall clock to
    within 5%."""
    w = WORKLOADS[workload]
    data = tmp_path / "data"
    datagen.generate(str(data), 7, w.tables, 0.001)
    out, spans = tmp_path / "out.json", tmp_path / "spans.json"
    oracle = tmp_path / "oracle.json"
    oracle.write_text(json.dumps(oracle_fingerprints(str(data), w)))
    (tmp_path / "tmp").mkdir()
    subprocess.run(
        [sys.executable, os.path.join(BENCH, "measure.py"), "--workload", workload,
         "--data-dir", str(data), "--oracle", str(oracle), "--seconds", "0",
         "--trace", "1", "--out", str(out), "--spans", str(spans)],
        env=run.child_env(str(tmp_path / "tmp")), cwd=ROOT, check=True, timeout=600,
    )
    report = json.loads(out.read_text())
    result, detail = report["result"], report["detail"]
    assert result["failed"] == 0 and result["correct"], detail["failures"]
    # the cold pass, then the minimum of warm passes plus one traced
    assert result["attempted"] == (2 + measure.MIN_WARM_PASSES) * len(w.queries + w.jobs)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _metrics(1)
    traced = [p for p in detail["warm"] if p["traced"]]
    assert traced and detail["phase_share_traced"] == [p["phase_share"] for p in traced]
    for p in traced:
        lay = p["layers"]
        parts = lay["plans.build_s"] + lay["plans.plan_s"] + lay["exec.action_s"]
        assert parts == pytest.approx(p["wall_s"], rel=0.05)
    kinds = {s["name"] for s in json.loads(spans.read_text())}
    assert {"build", "plan", "action"} <= kinds
    assert ("poll" in kinds) == bool(w.jobs)


def test_cli_prints_the_end_to_end_metrics_last():
    """The full command on the smallest workload, one short run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "mr_clients",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _metrics(0)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_cli_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mr_clients", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
