"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload mr_clients --seed 1 --seconds 25 --trace 0

Generates the workload's inputs from ``--seed`` (the same seed, the
same bytes; the fingerprint is printed and kept in the detail file),
then measures the workload in
a fresh process (``measure.py``) on ``local[2]``, with the JVM's
compiler and GC threads capped (``JVM_THREADS``), and prints one JSON
line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``total_s``, ``cold_s``,
``setup_s``); ``--trace 1`` is a separate run that reports the
per-layer metrics and writes the span file. Details of every pass go to
``.perfbench/out``. Everything the run writes stays under ``.perfbench``
(temp files, Spark local dirs and the engine's warehouse included), and
every process it starts has ended when it returns. See README.md for
the workloads and the layer-to-metric map.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CHILD_TIMEOUT_S = 170
# One C1 and one C2 compiler thread and two GC threads beside measure.py's
# two task threads leave a 4-vCPU machine headroom (README.md, "Why two
# task threads").
JVM_THREADS = "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"

sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import datagen  # noqa: E402
from workloads import WORKLOADS, oracle_fingerprints  # noqa: E402


def _session_members(sid: int) -> list[int]:
    """Pids of live processes in session ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(rest[3]) == sid and rest[0] != "Z":  # field 6: session id
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Terminate, then kill, whatever the child left in its session (a
    JVM or pyspark daemon outliving a crash), and wait until it is gone."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = _session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while _session_members(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def child_env(tmp: str) -> dict[str, str]:
    """Environment of the measured process: every temp file, Spark local
    dir and warehouse under ``tmp``."""
    env = dict(os.environ)
    env.update({
        # Python workers unpickle engine clients, so they import the package.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        # UsePerfData would write /tmp/hsperfdata_<user>, outside the checkout.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_THREADS}",
    })
    return env


def measure(workload, args, tmp: str, out: str, spans: str) -> tuple[dict, int | None]:
    """Generate the inputs into ``tmp``, fingerprint the oracles' results
    on them, and run measure.py on them; return the input manifest and
    measure.py's exit code (None if it timed out)."""
    data_dir = os.path.join(tmp, "data")
    manifest = datagen.generate(data_dir, args.seed, workload.tables, workload.scale)
    print(f"inputs fingerprint {manifest['fingerprint']}", file=sys.stderr)
    # The oracles run here, so DuckDB never shares the measured process.
    oracle = os.path.join(tmp, "oracle.json")
    with open(oracle, "w") as f:
        json.dump(oracle_fingerprints(data_dir, workload), f)
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", workload.name, "--data-dir", data_dir, "--oracle", oracle,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--spans", spans,
    ]
    child = subprocess.Popen(cmd, env=child_env(tmp), cwd=ROOT, stdout=sys.stderr,
                             start_new_session=True)
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run.py: measurement exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        rc = None
    finally:
        _stop_session(child.pid)
        if child.poll() is None:
            child.kill()
        child.wait()
    return manifest, rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mapreduceframework_spark", "__init__.py")):
        print(f"run.py: no mapreduceframework_spark package under {ROOT}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    tag = f"{workload.name}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(WORK, "tmp", f"{tag}-{os.getpid()}")
    os.makedirs(tmp)
    spans = os.path.join(out_dir, f"spans-{tag}.json")
    try:
        manifest, rc = measure(workload, args, tmp, out, spans)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        print(f"run.py: measurement failed (exit {rc})", file=sys.stderr)
        return 1
    with open(out) as f:
        report = json.load(f)
    detail = report["detail"]
    detail["inputs"] = manifest
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    if detail["failures"]:
        print("failures:\n  " + "\n  ".join(detail["failures"]), file=sys.stderr)
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
