"""The /proc CPU reader."""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import procstat  # noqa: E402

T = procstat.CLK_TCK


def _stat(pid: int, comm: str, ppid: int, ut: int, st: int, cut: int, cst: int) -> str:
    fixed = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 30
    return f"{pid} ({comm}) " + " ".join(fixed)


def test_parse_stat_survives_odd_process_names():
    line = _stat(42, "py (worker) x", 7, 3, 4, 5, 6)
    assert procstat.parse_stat(line) == (42, "py (worker) x", 7, 18)


def test_roles_split_driver_jvm_and_python_workers():
    procs = {
        100: ("python3", 1, 2 * T),  # driver
        101: ("java", 100, 10 * T),  # JVM launched by the driver
        102: ("python3", 101, 1 * T),  # pyspark daemon (incl. reaped workers)
        103: ("python3", 102, 3 * T),  # live worker
        104: ("python3", 102, 4 * T),  # live worker
        105: ("bash", 100, 7 * T),  # some other child: not counted
        200: ("java", 1, 50 * T),  # an unrelated JVM
    }
    assert procstat.roles(procs, 100) == {"driver": 2.0, "jvm": 10.0, "pyworker": 8.0}


def test_roles_without_a_jvm():
    assert procstat.roles({5: ("python3", 1, T)}, 5) == {
        "driver": 1.0, "jvm": 0.0, "pyworker": 0.0,
    }


def test_live_driver_cpu_grows_with_work():
    before = procstat.cpu_by_role()
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    d = procstat.delta(before, procstat.cpu_by_role())
    assert 0.2 <= d["driver"] <= 5.0
    assert d["jvm"] == 0.0 and d["pyworker"] == 0.0


def test_process_age():
    assert 0.0 <= procstat.process_age_s() < 24 * 3600
