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

The dataflow itself is two Arrow-batched Python stages, no pandas:
- MAP: ``mapInArrow`` — each batch's columns become Python lists that
  walk through ``client.map`` (emit2 == yield); the pairs go back as
  one Arrow batch of the intermediate schema's types. When the client
  has a ``combine``, each key's pairs in the batch pass through it
  first (a map-side combiner, Hadoop's contract), so a sum-shaped job
  shuffles one pair per key per batch, not one per emission.
  Per-record Python is the contract here; engineered queries use JVM
  built-ins.
- SHUFFLE+REDUCE: hash-repartition on k2 + sort within partitions +
  one ``mapInArrow`` walk over the sorted key runs (r14) — Spark's
  hash shuffle replaces the sort-based single-threaded shuffle, and
  batching thousands of keys per Arrow exchange replaces the
  one-Python-call-per-key dispatch of the naive
  ``groupBy.applyInPandas`` form; each key's full value list still
  feeds ``client.reduce`` exactly once (O9 full-group semantics).
- GATHER: ``Job`` builds its ``list[Row]`` from ``toArrow()`` when the
  output schema's types come back from Arrow as ``collect()`` would
  give them, and uses ``collect()`` otherwise.
At 100 TB: the shuffle is O(intermediate pairs) like any aggregation;
group payloads must fit a task (same caveat as the reference, whose
groups had to fit in RAM — JobContext.h:80).
"""

from __future__ import annotations

import gc
import threading
import uuid
from collections import defaultdict
from dataclasses import dataclass
from enum import IntEnum
from itertools import repeat
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

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


def _to_list(col: pa.Array) -> list:
    """An Arrow column's values as a Python list, NULL as None. For
    these types numpy's ``tolist()`` gives what ``to_pylist()`` gives,
    ~10x faster (0.005 vs 0.070 s for 150k int64)."""
    n, t = len(col), col.type
    if col.null_count == n:
        return [None] * n
    if col.null_count == 0 and (
        pa.types.is_integer(t) or pa.types.is_floating(t)
        or pa.types.is_boolean(t) or pa.types.is_string(t)
    ):
        return col.to_numpy(zero_copy_only=False).tolist()
    return col.to_pylist()


def _to_array(values: list, t: pa.DataType) -> pa.Array:
    """Python values as an Arrow array of type ``t``. A value of the
    wrong type (a str, bool or float into a long column) raises instead
    of being coerced. ``pa.array(values, type=int64)`` raises for str
    and bool but truncates a float (1.5 becomes 1), so integer columns
    infer first and then cast, which also raises on overflow into a
    narrower int."""
    if not pa.types.is_integer(t):
        return pa.array(values, type=t)
    arr = pa.array(values)
    if pa.types.is_integer(arr.type) or pa.types.is_null(arr.type):
        return arr.cast(t)
    pa.array(values, type=t)  # pyarrow's own error for a str or bool
    raise TypeError(f"Expected integer, got {arr.type} for an {t} column")


def _to_batch(columns: list[list], schema: pa.Schema) -> pa.RecordBatch:
    """Python value columns as a batch of ``schema``'s Arrow types."""
    arrays = [_to_array(c, f.type) for c, f in zip(columns, schema, strict=True)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _rows_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Output rows as a batch; a row of the wrong width raises."""
    return _to_batch(list(zip(*rows, strict=True)), schema)


def _combined(combine: Any, keys: list, values: list) -> tuple[list, list]:
    """``combine(key, values)`` once per distinct key, in first-seen key
    order and with each key's values in emission order; the emitted
    pairs as key and value columns."""
    groups: defaultdict[Any, list] = defaultdict(list)
    for k, v in zip(keys, values):
        groups[k].append(v)
    out_k, out_v = [], []
    for k, vs in groups.items():
        for k2, v2 in combine(k, vs):
            out_k.append(k2)
            out_v.append(v2)
    return out_k, out_v


def _map_stage_df(client: MapReduceClient, df: DataFrame) -> DataFrame:
    """Map phase: ``client.map(key, value)`` once per input record,
    every emitted (k2, v2) pair collected into one Arrow batch per
    input batch. When the client has a ``combine``, it runs once per
    distinct key of the batch's pairs; grouping one batch at a time
    keeps its memory bounded by the batch."""
    schema = to_arrow_schema(StructType.fromDDL(client.intermediate_schema))
    combine = client.combine

    def run_map(batches):
        for batch in batches:
            # Two flat columns, not a list of pair tuples: 75k retained
            # tuples set off garbage collections that doubled the loop.
            out_k, out_v = [], []
            for k, v in zip(_to_list(batch.column(0)), _to_list(batch.column(1))):
                for k2, v2 in client.map(k, v):
                    out_k.append(k2)
                    out_v.append(v2)
            if combine is not None:
                out_k, out_v = _combined(combine, out_k, out_v)
            yield _to_batch([out_k, out_v], schema)

    return df.mapInArrow(run_map, schema=client.intermediate_schema)


def _reduce_stage_df(client: MapReduceClient, inter: DataFrame) -> DataFrame:
    """Reduce phase: ``client.reduce(key, values)`` exactly once per
    key, all of a key's values together — the reference's contract
    (MapReduceClient.h:63-65, JobContext.cpp:344-372).

    Shape (round 14): hash-repartition on the key + sort within
    partitions + ONE mapInArrow that walks the sorted key runs.
    The obvious ``groupBy(k).applyInPandas`` is semantically identical
    but makes one Python roundtrip PER KEY — at per-row-distinct key
    cardinality (the FilterEvens shape) that is thousands of tiny
    Arrow exchanges and was measured 12x this job's entire runtime;
    at 100 TB it is a per-key-RPC scale hazard. Here thousands of
    keys ride each Arrow batch and the per-key contract is preserved
    by the walk: a key's run can straddle Arrow batches, so the open
    run is carried across them and reduced only when a different key
    (or the end of the partition) closes it. A hot key costs O(K).
    NULL keys form one run (None == None); NaN keys need the explicit
    ``k != k`` test, since NaN != NaN would split their run."""
    k2_col = inter.columns[0]
    schema = to_arrow_schema(StructType.fromDDL(client.output_schema))

    def run_reduce_partition(batches):
        key: Any = None
        run: list | None = None  # the open key run's values
        for batch in batches:
            out_rows: list = []
            for k, v in zip(_to_list(batch.column(0)), _to_list(batch.column(1))):
                if run is not None and (k == key or (k != k and key != key)):
                    run.append(v)
                    continue
                if run is not None:
                    out_rows.extend(client.reduce(key, run))
                key, run = k, [v]
            # One output batch per input batch, not per key — per-key
            # emission would re-create the tiny-Arrow-batch-per-key
            # cost this shape exists to remove.
            if out_rows:
                yield _rows_batch(out_rows, schema)
        if run is not None:
            out_rows = list(client.reduce(key, run))
            if out_rows:
                yield _rows_batch(out_rows, schema)

    sorted_inter = inter.repartition(F.col(k2_col)).sortWithinPartitions(
        k2_col
    )
    return sorted_inter.mapInArrow(
        run_reduce_partition, schema=client.output_schema
    )


# Spark types whose Arrow values equal collect()'s Python values.
# Others can differ: collect() gives local-time naive datetimes for
# timestamps, bytes or bytearray for binary (by conf), Rows for structs.
_ARROW_GATHERED = {
    "byte", "short", "integer", "long", "float", "double", "string",
    "boolean", "date", "decimal",
}


# Held while a gather has the garbage collector off, so concurrent jobs
# cannot interleave its save, disable and restore.
_GC_PAUSE = threading.Lock()


def _gather(df: DataFrame) -> list[Row]:
    """``df.collect()``, through Arrow when every column's type allows.
    For 75k two-long rows ``toArrow()`` took 0.06-0.07 s and building
    the Rows 0.04 s, against 0.45 s for ``collect()``'s pickled rows."""
    schema = df.schema
    if not all(f.dataType.typeName() in _ARROW_GATHERED for f in schema):
        return df.collect()
    table = df.toArrow()
    fields = schema.names
    rows: list[Row] = []
    # Each Row is a tracked tuple plus its __dict__, so a large result
    # sets off full collections over the whole process heap: they took
    # 0.09-0.13 s of the 0.13-0.18 s row build above.
    with _GC_PAUSE:
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for batch in table.to_batches():
                chunk = list(map(tuple.__new__, repeat(Row),
                                 zip(*map(_to_list, batch.columns))))
                # What pyspark's _create_row does per row, without its
                # two Python-level calls.
                for r in chunk:
                    r.__dict__["__fields__"] = fields
                rows.extend(chunk)
        finally:
            if gc_was_enabled:
                gc.enable()
    return rows


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
                self._rows = _gather(self.result_df)
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
