"""Generic MapReduce API tests — mirrors the reference's own test suite
(SURVEY.md section 5): golden workloads, concurrent jobs (test4 shape),
and the job lifecycle/progress contract."""

from __future__ import annotations

import datetime
import time
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduceframework_spark.core import (
    CharCountClient,
    MapReduceClient,
    ModuloHistogramClient,
    Stage,
    run_job,
    start_map_reduce_job,
)
from mapreduceframework_spark.sources import load_table


def test_charcount_matches_dataframe_native(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    via_api = {
        (r["ch"], r["cnt"])
        for r in run_job(spark, CharCountClient(), docs).collect()
    }
    native = {
        (r["ch"], r["cnt"])
        for r in docs.select(F.explode(F.split("text", "")).alias("ch"))
        .groupBy("ch")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert via_api == native


def test_histogram_golden_shape(spark, sf_dir):
    """Reference golden property (test1): counts sum to input size and
    keys are exactly the occupied residues."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("k"), F.col("o_orderkey").alias("v")
    )
    n_input = orders.count()
    rows = run_job(spark, ModuloHistogramClient(), orders).collect()
    assert sum(r["cnt"] for r in rows) == n_input
    assert all(0 <= r["key"] < 100 for r in rows)


def test_async_lifecycle_and_progress(spark, sf_dir):
    """startMapReduceJob returns immediately; getJobState reports valid
    {stage, percentage} snapshots; waitForJob then close."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    class SlowCharCount(CharCountClient):
        def map(self, key, value):
            time.sleep(0.002)  # analog of SampleClient's usleep throttle
            yield from super().map(key, value)

    job = start_map_reduce_job(spark, SlowCharCount(), docs, multi_thread_level=8)
    states = []
    while True:
        st = job.get_state()
        states.append(st)
        assert st.stage in (Stage.UNDEFINED, Stage.MAP, Stage.SHUFFLE, Stage.REDUCE)
        assert 0.0 <= st.percentage <= 100.0
        if st.stage == Stage.REDUCE and st.percentage >= 100.0:
            break
        time.sleep(0.05)
    job.wait()
    assert job.result()  # non-empty OutputVec
    # stages never regress (monotone in the enum ordering)
    seq = [s.stage for s in states]
    assert seq == sorted(seq)
    job.close()


def test_concurrent_jobs(spark, sf_dir):
    """test4 shape (reference test4-1_thread_4_process.cpp:125-132):
    4 jobs started before any is waited on; all finish with identical
    results since inputs are identical."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("k"), F.col("o_orderkey").alias("v")
    )
    jobs = [
        start_map_reduce_job(spark, ModuloHistogramClient(), orders)
        for _ in range(4)
    ]
    results = [sorted((r["key"], r["cnt"]) for r in j.result()) for j in jobs]
    assert all(res == results[0] for res in results)
    for j in jobs:
        j.close()


def test_emit_many_flatmap_shape(spark, sf_dir):
    """Explode-shaped client: map emits many records per input."""

    class WordSplit(MapReduceClient):
        intermediate_schema = "word string, one long"
        output_schema = "word string, cnt long"

        def map(self, key, value):
            for w in (value or "").split(" "):
                yield w, 1

        def reduce(self, key, values):
            yield key, len(values)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {
        (r["word"], r["cnt"]) for r in run_job(spark, WordSplit(), docs).collect()
    }
    native = {
        (r["word"], r["cnt"])
        for r in docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == native


def test_job_error_surfaces_as_exception(spark, sf_dir):
    """The reference exits(1) on failure (MapReduceFramework.cpp:13-17);
    we surface a Python exception from wait() instead."""

    class Boom(CharCountClient):
        def reduce(self, key, values):
            raise RuntimeError("client failure")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    job = start_map_reduce_job(spark, Boom(), docs)
    try:
        job.wait()
        raised = False
    except Exception:
        raised = True
    assert raised


def make_identity_client(value_type: str, bad: tuple | None = None) -> MapReduceClient:
    """Passes each (key, value) record through map and reduce unchanged.
    ``bad`` = (stage, value) makes that stage emit ``value`` as the key
    instead."""

    class Identity(MapReduceClient):
        intermediate_schema = f"k long, v {value_type}"
        output_schema = f"k long, v {value_type}"

        def map(self, key, value):
            yield (bad[1] if bad and bad[0] == "map" else key), value

        def reduce(self, key, values):
            for v in values:
                yield (bad[1] if bad and bad[0] == "reduce" else key), v

    return Identity()


TYPED_VALUES = {
    "long": [7, -(2**63), 2**63 - 1],
    "double": [1.5, float("nan"), -0.0],
    "string": ["a", "", "\u00e9\u4e2d"],
    "boolean": [True, False, True],
    "date": [datetime.date(2020, 1, 2), datetime.date(1970, 1, 1),
             datetime.date(1, 1, 1)],
    "timestamp": [datetime.datetime(2020, 1, 2, 3, 4, 5, 6),
                  datetime.datetime(1999, 12, 31, 23, 59, 59),
                  datetime.datetime(1970, 1, 1)],
    "decimal(10,2)": [Decimal("1.50"), Decimal("-3.07"), Decimal("99999999.99")],
    "binary": [b"\x00x", b"", bytes(range(256))],
}


@pytest.mark.parametrize("value_type", list(TYPED_VALUES))
def test_job_result_equals_collect(spark, value_type):
    """Job.result() (gathered through Arrow where the type allows) gives
    what result_df.collect() gives: the same values, Python types and
    __fields__ — and the values that went in, NULL included."""
    values = [*TYPED_VALUES[value_type], None]
    df = spark.createDataFrame(list(enumerate(values)), f"k long, v {value_type}")
    job = start_map_reduce_job(spark, make_identity_client(value_type), df)
    got = sorted(job.result(), key=lambda r: r["k"])
    want = sorted(job.result_df.collect(), key=lambda r: r["k"])
    job.close()

    def shape(rows):
        return [(repr(r), [type(x) for x in r], r.__fields__) for r in rows]

    assert all(isinstance(r, Row) for r in got)
    assert shape(got) == shape(want)
    assert shape(got) == shape(sorted(df.collect(), key=lambda r: r["k"]))


@pytest.mark.parametrize(
    "bad",
    [("map", "x"), ("map", True), ("reduce", True), ("map", 1.5), ("reduce", 2.0)],
    ids=["str-map", "bool-map", "bool-reduce", "float-map", "float-reduce"],
)
def test_wrong_python_type_into_long_column_raises(spark, bad):
    """A str, bool or float emitted into a long column fails the job;
    it is never coerced (bool would otherwise become 0/1, and a float
    would be truncated: 1.5 to 1)."""
    df = spark.createDataFrame([(1, 1), (2, 2)], "k long, v long")
    job = start_map_reduce_job(spark, make_identity_client("long", bad), df)
    with pytest.raises(Exception, match="got bool|with type str|got double"):
        job.wait()


def test_rdd_path_matches_dataframe_path(spark, sf_dir):
    """The literal RDD mapping (flatMap -> groupByKey -> flatMap,
    core/rdd.py) and the DataFrame pipeline produce the same bag for
    the reference's golden client."""
    from mapreduceframework_spark.core.rdd import run_job_rdd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    via_rdd = {
        (r["ch"], r["cnt"]) for r in run_job_rdd(CharCountClient(), docs).collect()
    }
    via_df = {
        (r["ch"], r["cnt"]) for r in run_job(spark, CharCountClient(), docs).collect()
    }
    assert via_rdd == via_df and len(via_rdd) > 0


def test_rdd_path_opaque_python_keys(spark):
    """Opaque, non-SQL key types (here: tuple keys) work on the RDD path
    — the reference's 'any C++ class with operator<' generality that the
    DataFrame path deliberately narrows to Spark SQL types."""
    from mapreduceframework_spark.core.rdd import run_job_rdd

    class TupleKey(MapReduceClient):
        output_schema = "k string, total long"

        def map(self, key, value):
            yield (value % 2 == 0, value % 3 == 0), 1

        def reduce(self, key, values):
            yield f"even={key[0]},mod3={key[1]}", sum(values)

    df = spark.createDataFrame([(i, i) for i in range(30)], "k long, v long")
    out = {r["k"]: r["total"] for r in run_job_rdd(TupleKey(), df).collect()}
    assert out["even=True,mod3=True"] == 5   # 0,6,12,18,24
    assert sum(out.values()) == 30


def test_stage_classification_pins_shuffle_race():
    """Deterministically pin every branch of the statusTracker-snapshot
    -> phase mapping (core/job.py _classify_stages) — especially the
    between-stages snapshot, which is transient in a live run and so
    can only be tested as a pure function. The one that motivated this
    test: a reduce stage whose FIRST task has launched but completed
    nothing must read REDUCE 0%%, not slip back to SHUFFLE on the
    ``pct == 0`` arm."""
    from collections import namedtuple

    from mapreduceframework_spark.core.job import (
        JobState,
        Stage,
        _classify_stages,
    )

    SI = namedtuple(
        "SI", "stageId numTasks numCompletedTasks numActiveTasks"
    )

    # Map running: 3 of 8 tasks done.
    assert _classify_stages([SI(0, 8, 3, 2)]) == JobState(Stage.MAP, 37.5)
    # Map done, reduce stage not yet submitted -> SHUFFLE.
    assert _classify_stages([SI(0, 8, 8, 0)]) == JobState(Stage.SHUFFLE, 100.0)
    # Map done, reduce submitted but idle (0 active, 0 complete) ->
    # the between-stages snapshot: SHUFFLE.
    assert _classify_stages(
        [SI(0, 8, 8, 0), SI(1, 4, 0, 0)]
    ) == JobState(Stage.SHUFFLE, 100.0)
    # First reduce task LAUNCHED (active=1, completed=0): REDUCE 0%,
    # never SHUFFLE — the race the round-5 verdict flagged.
    assert _classify_stages(
        [SI(0, 8, 8, 0), SI(1, 4, 0, 1)]
    ) == JobState(Stage.REDUCE, 0.0)
    # Reduce underway.
    assert _classify_stages(
        [SI(0, 8, 8, 0), SI(1, 4, 3, 1)]
    ) == JobState(Stage.REDUCE, 75.0)
    # Snapshot order must not matter (statusTracker returns no
    # particular order; classification sorts by stageId).
    assert _classify_stages(
        [SI(1, 4, 4, 0), SI(0, 8, 8, 0)]
    ) == JobState(Stage.REDUCE, 100.0)
