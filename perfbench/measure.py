"""One measured run of one workload, in a fresh process (started by run.py).

Order of work:

1. the first set-up: this process's start until ``get_session()``
   returned and a warm-up job (scheduler, codegen, one shuffle) finished
   (per-layer ``session.start_s``);
2. the cold pass: every item once in the fresh session;
3. warm passes until ``--seconds`` have passed and at least five ran,
   each followed by a barrier (``clearCache()``, JVM GC, Python GC) so
   one pass's residue does not leak into the next;
4. five more set-ups, each ``spark.stop()`` then ``get_session()`` and
   the warm-up job, in the same JVM; ``setup_s`` is their median. A
   fresh JVM costs ~7 s more per sample than the run budget allows.

Every pass starts once the JVM's own CPU has fallen below 0.3 cores
(compiles queued by the previous step have drained), so the cold pass
does not carry set-up work and warm passes start alike. The session
runs at most ``MAX_CPUS`` task threads: with the JIT and GC threads,
the pyspark workers and this polling driver beside them, more would
oversubscribe a 4-vCPU machine and make the run measure the scheduler.

A pass's time is the sum of its items' build + plan + action intervals;
output checks, counter reads and barriers fall outside them. A second
clock brackets a pass's whole item loop (``wall_s``), so time the three
phases miss shows as a ``phase_share`` below 1. ``total_s`` is the
median over the warm passes after the first two. The JIT keeps
compiling for about a minute after the cold pass (on ``native`` the
first warm pass burns ~14 CPU-s and later ones 8-10), and how fast
differs from run to run; skipping two passes keeps the measured window
at about the same place on the JIT's curve, and a longer settle would
not fit the run budget.
With ``--trace 1`` warm passes alternate untraced and traced; traced
passes also plan each query separately, read Spark's status store, and
record spans. The per-layer numbers come from the traced passes; the
tracing overhead compares each traced pass with its untraced neighbours.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import procstat  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS,
    Execution,
    check,
    run_job,
    run_query,
)

MIN_WARM_PASSES = 5
SETTLE_PASSES = 2
SETUP_SAMPLES = 5
QUIET_WINDOW_S = 0.25
QUIET_CORES = 0.3
COLD_QUIET_LIMIT_S = 10.0
WARM_QUIET_LIMIT_S = 3.0
MAX_CPUS = 2
CLIENTS = ("CharCountClient", "ModuloHistogramClient", "FilterEvensClient")
# metric -> (StageData accessors summed, unit multiplier)
STAGE_FIELDS = {
    "exec.task_run_s": (("executorRunTime",), 1e-3),
    "exec.jvm_cpu_s": (("executorCpuTime",), 1e-9),
    "shuffle.write_records": (("shuffleWriteRecords",), 1),
    "shuffle.write_bytes": (("shuffleWriteBytes",), 1),
    "shuffle.read_bytes": (("shuffleReadBytes",), 1),
    "shuffle.spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
}


def quiesce(limit_s: float) -> float:
    """Wait until the JVM's background work (the compiles and concurrent
    GC the previous step queued) has died down, at most ``limit_s``;
    return the seconds waited."""
    t0 = time.perf_counter()
    prev = procstat.cpu_by_role()["jvm"]
    while time.perf_counter() - t0 < limit_s:
        time.sleep(QUIET_WINDOW_S)
        now = procstat.cpu_by_role()["jvm"]
        if now - prev < QUIET_CORES * QUIET_WINDOW_S:
            break
        prev = now
    return time.perf_counter() - t0


def warm_up(spark, cpus: int) -> None:
    spark.range(0, 10_000, 1, cpus).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def barrier(spark) -> None:
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def spark_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group, from the
    status store (stages shared by several jobs are counted once;
    skipped stages did no work and are left out)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    out = {"exec.jobs": len(jobs), "exec.stages": 0, "exec.tasks": 0, "map_tasks": 0}
    out.update({k: 0.0 for k in STAGE_FIELDS})
    seen: set[int] = set()
    for jid in sorted(jobs):
        seq = store.job(jid).stageIds()
        for sid in sorted(seq.apply(i) for i in range(seq.size())):
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            if not out["exec.stages"]:
                out["map_tasks"] = sd.numTasks()
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numTasks()
            for key, (attrs, mult) in STAGE_FIELDS.items():
                out[key] += sum(getattr(sd, a)() for a in attrs) * mult
    return out


class Run:
    def __init__(self, spark, workload, data_dir: str, oracle: dict) -> None:
        from mapreduceframework_spark.plans.registry import all_queries

        self.spark, self.w, self.data_dir, self.oracle = spark, workload, data_dir, oracle
        self.specs = all_queries()
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.attempted = 0
        self.failures: list[str] = []

    def _span(self, name: str, start: float, end: float, parent: int | None, **kw) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"run": self.run_id, "id": sid, "parent": parent, "name": name,
             "start": round(start, 6), "end": round(end, 6), **kw}
        )
        return sid

    def _record(self, ex: Execution, pass_no: int) -> None:
        """Spans query|job -> build, plan, action (-> poll, for a job)."""
        kind = "job" if ex.client else "query"
        root = self._span(kind, ex.t0, ex.t0 + ex.total, None, item=ex.name, pass_no=pass_no)
        t = ex.t0
        for phase in ("build", "plan", "action"):
            sid = self._span(phase, t, t + getattr(ex, phase), root)
            t += getattr(ex, phase)
        for start, dur in ex.polls:
            self._span("poll", start, start + dur, sid)

    def one_pass(self, pass_no: int, traced: bool, quiet_limit_s: float) -> dict:
        spark = self.spark
        execs: list[Execution] = []
        waited = quiesce(quiet_limit_s)
        cpu0 = procstat.cpu_by_role()
        t = time.perf_counter()
        for name in self.w.queries:
            execs.append(run_query(spark, self.specs[name], self.data_dir, traced,
                                   f"bench-{self.run_id}-{pass_no}-{name}"))
        for name in self.w.jobs:
            execs.append(run_job(spark, self.data_dir, name))
        wall = time.perf_counter() - t
        cpu = procstat.delta(cpu0, procstat.cpu_by_role())
        for ex in execs:
            self._account(ex)
        out = {
            "pass": pass_no,
            "traced": traced,
            "quiesce_s": waited,
            "cpu_s": cpu,
            "total_s": sum(e.total for e in execs),
            "wall_s": wall,
            "phase_share": sum(e.total for e in execs) / wall,
            "items": {e.name: round(e.total, 6) for e in execs},
        }
        if traced:
            out["layers"] = self._layers(execs, cpu, pass_no)
        barrier(spark)
        return out

    def _account(self, ex: Execution) -> None:
        self.attempted += 1
        why = check(ex, self.oracle[ex.name])
        if why:
            self.failures.append(f"{ex.name}: {why}")
        ex.frame = ex.rows = None

    def _layers(self, execs: list[Execution], cpu: dict, pass_no: int) -> dict:
        lay: dict[str, float] = {
            "plans.build_s": sum(e.build for e in execs),
            "plans.plan_s": sum(e.plan for e in execs),
            "exec.action_s": sum(e.action for e in execs),
            "proc.driver_cpu_s": cpu["driver"],
            "proc.jvm_cpu_s": cpu["jvm"],
            "proc.python_cpu_s": cpu["driver"] + cpu["pyworker"],
            "core.job.polls": sum(len(e.polls) for e in execs),
        }
        for c in CLIENTS:
            lay[f"core.job.intermediate_pairs.{c}"] = 0
            lay[f"core.job.map_tasks.{c}"] = 0
        extra: dict[str, list | float] = {"pyworker_cpu_s": cpu["pyworker"], "get_state_ms": []}
        for ex in execs:
            self._record(ex, pass_no)
            if ex.client:
                extra["get_state_ms"] += [d * 1e3 for _, d in ex.polls]
                extra[f"job_s.{ex.client}"] = ex.total
            if not ex.job_group:
                continue
            ctr = spark_counters(self.spark, ex.job_group)
            for key in ("exec.jobs", "exec.stages", "exec.tasks", *STAGE_FIELDS):
                lay[key] = lay.get(key, 0) + ctr[key]
            if ex.client:
                lay[f"core.job.intermediate_pairs.{ex.client}"] = ctr["shuffle.write_records"]
                lay[f"core.job.map_tasks.{ex.client}"] = ctr["map_tasks"]
        for key in ("exec.jobs", "exec.stages", "exec.tasks", *STAGE_FIELDS):
            lay.setdefault(key, 0)
        lay["_extra"] = extra
        return lay


def overhead(warm: list[dict], first: int) -> float:
    """Median over traced passes from ``first`` on of the pass time minus
    the mean of its untraced neighbours; comparing neighbours cancels
    the JIT's pass-to-pass speed-up."""
    diffs = []
    for i in range(first, len(warm)):
        if warm[i]["traced"]:
            near = [warm[j]["total_s"] for j in (i - 1, i + 1)
                    if 0 <= j < len(warm) and not warm[j]["traced"]]
            diffs.append(warm[i]["total_s"] - sum(near) / len(near))
    return statistics.median(diffs)


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--oracle", required=True, help="oracle fingerprints (JSON)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))

    from mapreduceframework_spark.session import get_session

    def set_up():
        s = get_session(app_name="perfbench", cpus=cpus)
        warm_up(s, cpus)
        return s

    spark = set_up()
    session_start_s = procstat.process_age_s()
    session_start_cpu = procstat.cpu_by_role()
    with open(args.oracle) as f:
        run = Run(spark, w, args.data_dir, json.load(f))

    cold = run.one_pass(0, bool(args.trace), COLD_QUIET_LIMIT_S)
    warm: list[dict] = []
    deadline = time.perf_counter() + args.seconds
    # A traced run alternates untraced and traced passes: one more pass
    # leaves two of each.
    while time.perf_counter() < deadline or len(warm) < MIN_WARM_PASSES + args.trace:
        traced = bool(args.trace) and len(warm) % 2 == 1
        warm.append(run.one_pass(len(warm) + 1, traced, WARM_QUIET_LIMIT_S))

    setups = []
    for _ in range(SETUP_SAMPLES):
        t = time.perf_counter()
        spark.stop()
        spark = set_up()
        setups.append(time.perf_counter() - t)
    spark.stop()

    settled = warm[SETTLE_PASSES:]
    plain = [p["total_s"] for p in settled if not p["traced"]]
    metrics: dict[str, tuple[float, str]] = {}
    if args.trace:
        traced = [p for p in settled if p["traced"]]
        keys = [k for k in traced[0]["layers"] if not k.startswith("_")]
        for k in keys:
            unit = "s" if k.endswith("_s") else ("B" if k.endswith("_bytes") else "count")
            metrics[k] = (statistics.median([p["layers"][k] for p in traced]), unit)
        metrics["session.start_s"] = (session_start_s, "s")
        metrics["trace.overhead_s"] = (overhead(warm, SETTLE_PASSES), "s")
    else:
        metrics["total_s"] = (statistics.median(plain), "s")
        metrics["cold_s"] = (cold["total_s"], "s")
        metrics["setup_s"] = (statistics.median(setups), "s")

    detail = {
        "workload": w.name,
        "trace": args.trace,
        "cpus": cpus,
        "session_start_s": session_start_s,
        "session_start_cpu_s": session_start_cpu,
        "setups_s": setups,
        "cold": cold,
        "warm": warm,
        "total_s_quartiles": quartiles(plain),
        "item_medians_s": {
            n: statistics.median([p["items"][n] for p in settled]) for n in cold["items"]
        },
        "failures": run.failures,
    }
    if args.trace:
        # The phases a traced pass sums against its own wall clock.
        detail["phase_share_traced"] = [p["phase_share"] for p in warm if p["traced"]]
        ms = [x for p in traced for x in p["layers"]["_extra"]["get_state_ms"]]
        if ms:
            detail["get_state_ms"] = {
                "n": len(ms), "p50": statistics.median(ms),
                "p90": statistics.quantiles(ms, n=10)[-1] if len(ms) > 1 else ms[0],
            }
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.spans, "w") as f:
        json.dump(run.spans, f)
    with open(args.out, "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1, default=float)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
