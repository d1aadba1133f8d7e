"""bench.py driver contract: running it must print exactly one JSON
line with the agreed keys. A broken bench costs a whole round's
BENCH_r{N}.json record, so this is tested like any other interface.
Runs at sf0.001 in a subprocess (fresh interpreter, like the driver).
The run-order tests are Spark-free and use stand-in registries.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from bench import BENCH_ORDER, bench_order


def _registry(**overrides):
    """Stand-in registry: every pinned row as a bench row, plus two
    unpinned bench rows and one non-bench row; ``overrides`` replaces
    (or, with None, drops) entries by name."""
    names = {n: True for n in BENCH_ORDER}
    names.update(zz_extra=True, aa_extra=True, not_bench=False)
    names.update(overrides)
    return {
        n: SimpleNamespace(name=n, bench=b)
        for n, b in names.items()
        if b is not None
    }


def test_bench_order_pins_rows_then_sorts_extras():
    assert bench_order(_registry()) == [
        *BENCH_ORDER, "aa_extra", "zz_extra"
    ]


def test_bench_order_rejects_a_renamed_pinned_row():
    with pytest.raises(KeyError, match=BENCH_ORDER[3]):
        bench_order(_registry(**{BENCH_ORDER[3]: None}))


def test_bench_order_rejects_an_untagged_pinned_row():
    with pytest.raises(KeyError, match=BENCH_ORDER[-1]):
        bench_order(_registry(**{BENCH_ORDER[-1]: False}))


def test_bench_emits_single_json_line():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    # One pass is enough to prove the contract; the driver's real run
    # uses the default median-of-3 (+2 volatile extras).
    env["SPARK_GRAFT_BENCH_REPEATS"] = "1"
    env["SPARK_GRAFT_BENCH_EXTRA_REPEATS"] = "0"
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    json_lines = [
        l for l in proc.stdout.splitlines() if l.strip().startswith("{")
    ]
    assert len(json_lines) == 1, proc.stdout[-2000:]
    out = json.loads(json_lines[0])
    assert out["metric"] == "headline_total"
    assert out["unit"] == "sec"
    assert isinstance(out["value"], (int, float)) and out["value"] > 0
    assert out["sf"] == 0.001
    assert isinstance(out["queries"], dict) and len(out["queries"]) >= 31
    assert abs(sum(out["queries"].values()) - out["value"]) < 0.1
    meth = out["methodology"]
    assert meth["version"] == 3 and meth["timing"] == "median"
    assert meth["repeats"] == 1 and meth["warmup"] is True
    # Tail-truncation-proofing (r06 VERDICT item 3): samples live in the
    # sidecar, not stdout, and the single stdout line must fit whole
    # inside the driver's bounded tail capture.
    assert "samples" not in out
    assert len(json_lines[0]) < 1900, len(json_lines[0])
    # round-16 host-calibration controls: three pinned workloads, one
    # sample per pass, medians on the stdout line
    assert set(out["controls"]) == {"jvm", "shf", "py"}
    assert all(v > 0 for v in out["controls"].values())
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_SUMMARY.json")) as f:
        sidecar = json.load(f)
    assert sidecar["value"] == out["value"]
    assert all(len(v) == 1 for v in sidecar["samples"].values())
    assert all(
        len(v) == 1 for v in sidecar["control_samples"].values()
    )
