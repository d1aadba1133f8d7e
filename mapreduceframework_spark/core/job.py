"""Job lifecycle + progress: the reference's framework API on Spark.

Reference surface (MapReduceFramework.h:15-24): ``startMapReduceJob``
(async start, returns JobHandle), ``waitForJob``, ``getJobState`` ->
{stage in UNDEFINED/MAP/SHUFFLE/REDUCE, percentage}, ``closeJobHandle``.
Multiple jobs run concurrently in one process
(test4-1_thread_4_process.cpp:125-132).

Spark translation (SURVEY.md section 3.4): the map loop, per-thread
sort, barrier, semaphore, and thread-0 shuffle all collapse into Spark's
task scheduler and sort-based shuffle — fully parallel, unlike the
reference's serial thread-0 shuffle (a scalability bug we do not
replicate, JobContext.cpp:80). What we re-implement deliberately is the
OBSERVABILITY contract: asynchronous start via a Python thread, and
{stage, percentage} snapshots mapped from ``SparkContext.statusTracker``
stage/task counts, scoped per job with ``setJobGroup`` so concurrent
jobs don't see each other's progress (reference: global registry keyed
by JobHandle, MapReduceFramework.cpp:11).

The dataflow itself is two Arrow-batched pandas stages:
- MAP: ``mapInPandas`` — each batch walks rows through ``client.map``
  (emit2 == yield). Per-record Python is the contract here; engineered
  queries use JVM built-ins instead.
- SHUFFLE+REDUCE: hash-repartition on k2 + sort within partitions +
  one ``mapInPandas`` walk over the sorted key runs (r14) — Spark's
  hash shuffle replaces the sort-based single-threaded shuffle, and
  batching thousands of keys per Arrow exchange replaces the
  one-Python-call-per-key dispatch of the naive
  ``groupBy.applyInPandas`` form; each key's full value list still
  feeds ``client.reduce`` exactly once (O9 full-group semantics).
At 100 TB: the shuffle is O(intermediate pairs) like any aggregation;
group payloads must fit a task (same caveat as the reference, whose
groups had to fit in RAM — JobContext.h:80).
"""

from __future__ import annotations

import threading
import uuid
from dataclasses import dataclass
from enum import IntEnum
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from mapreduceframework_spark.core.client import MapReduceClient


class Stage(IntEnum):
    """Mirrors stage_t (MapReduceFramework.h:8-9)."""

    UNDEFINED = 0
    MAP = 1
    SHUFFLE = 2
    REDUCE = 3


@dataclass
class JobState:
    """Mirrors JobState {stage, percentage} (MapReduceFramework.h:11-13)."""

    stage: Stage
    percentage: float


def _classify_stages(stages: list[Any]) -> JobState:
    """Map a statusTracker stage snapshot onto the reference's phase
    machine (JobContext.cpp:28-171). Pure function of the snapshot —
    unit-testable without racing a live scheduler (the snapshot
    combinations below are transient in a real run, so only a
    deterministic test can pin each branch).

    ``stages`` need ``.stageId``, ``.numTasks``, ``.numCompletedTasks``
    and ``.numActiveTasks`` (duck-typed; tests pass namedtuples).

    Phase rules, in order:
    - map stage incomplete -> MAP at its completion pct.
    - map done, result stage idle at 0 completed (or not yet submitted
      as its own entry) -> SHUFFLE: shuffle files written, reduce not
      started — the reference's SHUFFLE phase (JobContext.cpp:80-124).
      ``numActiveTasks == 0`` is what distinguishes "between stages"
      from "first reduce task launched but none finished yet": the
      latter has an active task and must read as REDUCE 0%, never a
      regression back to SHUFFLE (get_state's monotone clamp would mask
      the bug downstream, so this function must get it right itself).
    - otherwise REDUCE at the result stage's completion pct.
    """
    # Ascending stage id == topological order for this 2-stage plan:
    # stage 0 = map side of the shuffle (MAP), last = result (REDUCE).
    stages = sorted(stages, key=lambda s: s.stageId)
    map_stage, result_stage = stages[0], stages[-1]

    def pct(si: Any) -> float:
        return 100.0 * si.numCompletedTasks / si.numTasks if si.numTasks else 0.0

    if pct(map_stage) < 100.0:
        return JobState(Stage.MAP, pct(map_stage))
    if len(stages) == 1 or (
        result_stage.numActiveTasks == 0 and pct(result_stage) == 0.0
    ):
        return JobState(Stage.SHUFFLE, 100.0)
    return JobState(Stage.REDUCE, pct(result_stage))


def _map_stage_df(client: MapReduceClient, df: DataFrame) -> DataFrame:
    key_col, value_col = df.columns[0], df.columns[1]
    inter_fields = [f.strip().split()[0] for f in client.intermediate_schema.split(",")]

    def run_map(batches):
        for pdf in batches:
            out_k, out_v = [], []
            for k, v in zip(pdf[key_col], pdf[value_col]):
                for k2, v2 in client.map(k, v):
                    out_k.append(k2)
                    out_v.append(v2)
            yield pd.DataFrame({inter_fields[0]: out_k, inter_fields[1]: out_v})

    return df.mapInPandas(run_map, schema=client.intermediate_schema)


def _reduce_stage_df(client: MapReduceClient, inter: DataFrame) -> DataFrame:
    """Reduce phase: ``client.reduce(key, values)`` exactly once per
    key, all of a key's values together — the reference's contract
    (MapReduceClient.h:63-65, JobContext.cpp:344-372).

    Shape (round 14): hash-repartition on the key + sort within
    partitions + ONE mapInPandas that walks the sorted key runs.
    The obvious ``groupBy(k).applyInPandas`` is semantically identical
    but makes one Python roundtrip PER KEY — at per-row-distinct key
    cardinality (the FilterEvens shape) that is thousands of tiny
    Arrow exchanges and was measured 12x this job's entire runtime;
    at 100 TB it is a per-key-RPC scale hazard. Here thousands of
    keys ride each Arrow batch and the per-key contract is preserved
    by the batch walk: a key's run can straddle two Arrow batches, so
    complete runs are re-assembled by core/keyruns.iter_key_runs
    (null-safe — None is a legal intermediate key — and hot-key O(K):
    a skewed run buffers as a frame list, never re-concatenated per
    batch)."""
    from mapreduceframework_spark.core.keyruns import iter_key_runs

    k2_col, v2_col = inter.columns[0], inter.columns[1]
    out_fields = [f.strip().split()[0] for f in client.output_schema.split(",")]

    def _reduce_frame(pdf: pd.DataFrame):
        # ONE output frame per input frame, not per key — per-key
        # emission would re-create the tiny-Arrow-batch-per-key cost
        # this rewrite exists to remove. Rows arrive key-sorted, so
        # groups are contiguous runs: a plain run-split walk beats
        # pandas groupby iteration ~3x at per-row-distinct key
        # cardinality (pandas allocates a frame slice per group). The
        # groupby fallback stays for null keys (NaN != NaN would split
        # a null run).
        out_rows: list = []
        if pdf[k2_col].isna().any():
            for key, grp in pdf.groupby(k2_col, sort=False, dropna=False):
                out_rows.extend(client.reduce(key, list(grp[v2_col])))
        else:
            keys = pdf[k2_col].to_list()
            vals = pdf[v2_col].to_list()
            n = len(keys)
            a = 0
            while a < n:
                ka = keys[a]
                b = a + 1
                while b < n and keys[b] == ka:
                    b += 1
                out_rows.extend(client.reduce(ka, vals[a:b]))
                a = b
        if out_rows:
            yield pd.DataFrame(out_rows, columns=out_fields)

    def run_reduce_partition(batches):
        for pdf in iter_key_runs(batches, k2_col):
            yield from _reduce_frame(pdf)

    sorted_inter = inter.repartition(F.col(k2_col)).sortWithinPartitions(
        k2_col
    )
    return sorted_inter.mapInPandas(
        run_reduce_partition, schema=client.output_schema
    )


class Job:
    """JobHandle equivalent. Created by :func:`start_map_reduce_job`."""

    def __init__(self, spark: SparkSession, client: MapReduceClient,
                 input_df: DataFrame, parallelism: int | None) -> None:
        self._spark = spark
        self._group = f"mrjob-{uuid.uuid4().hex[:12]}"
        self._done = threading.Event()
        self._error: BaseException | None = None
        self._rows: list[Row] = []
        self._last_state: JobState | None = None
        self.result_df = run_job(spark, client, input_df, parallelism)

        def action() -> None:
            try:
                # Thread-local job group => statusTracker can attribute
                # this job's stages even with concurrent jobs.
                self._spark.sparkContext.setJobGroup(self._group, "MapReduce job")
                self._rows = self.result_df.collect()
            except BaseException as e:  # noqa: BLE001 - surfaced in wait()
                self._error = e
            finally:
                self._spark.sparkContext.setJobGroup("", "")
                self._done.set()

        self._thread = threading.Thread(target=action, daemon=True)
        self._thread.start()

    # -- reference: getJobState (MapReduceFramework.cpp:61-69) ------------
    def get_state(self) -> JobState:
        """Monotone {stage, percentage} snapshot. AQE materializes each
        query stage as its own Spark job, so raw statusTracker reads can
        transiently regress between jobs; the reference's stages only
        advance (JobContext.cpp:28-171), so we clamp."""
        raw = self._read_state()
        prev = self._last_state
        if prev is not None and (raw.stage, raw.percentage) < (
            prev.stage,
            prev.percentage,
        ):
            return prev
        self._last_state = raw
        return raw

    def _read_state(self) -> JobState:
        if self._done.is_set():
            return JobState(Stage.REDUCE, 100.0)
        tracker = self._spark.sparkContext.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self._group)
        if not job_ids:
            return JobState(Stage.UNDEFINED, 0.0)
        stages: list[Any] = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    stages.append(si)
        if not stages:
            return JobState(Stage.UNDEFINED, 0.0)
        return _classify_stages(stages)

    # -- reference: waitForJob (MapReduceFramework.cpp:52-59) -------------
    def wait(self, timeout: float | None = None) -> None:
        self._done.wait(timeout)
        if self._error is not None:
            raise self._error

    def result(self) -> list[Row]:
        """The OutputVec (unordered bag, reference JobContext.cpp:374-380)."""
        self.wait()
        return self._rows

    def close(self) -> None:
        """closeJobHandle (MapReduceFramework.cpp:71-85): wait + release.
        Raises (never exit(1) — SURVEY.md section 4.2) on job failure."""
        self.wait()
        self._rows = []


def start_map_reduce_job(
    spark: SparkSession,
    client: MapReduceClient,
    input_df: DataFrame,
    multi_thread_level: int | None = None,
) -> Job:
    """startMapReduceJob analog (MapReduceFramework.h:18-20): returns
    immediately; the action runs on a background thread."""
    return Job(spark, client, input_df, multi_thread_level)


def run_job(
    spark: SparkSession,
    client: MapReduceClient,
    input_df: DataFrame,
    multi_thread_level: int | None = None,
) -> DataFrame:
    """Synchronous convenience: build the job's DataFrame without
    launching a background action — for composing into larger plans or
    the driver's queries() surface."""
    if multi_thread_level:
        # multiThreadLevel analog (MapReduceFramework.h:18-20): bounds
        # the map-side task count; reduce-side width stays with
        # spark.sql.shuffle.partitions / AQE.
        input_df = input_df.repartition(multi_thread_level)
    return _reduce_stage_df(client, _map_stage_df(client, input_df))
