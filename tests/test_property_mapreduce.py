"""Property-based equivalence for the generic MapReduceClient API.

The reference's entire correctness story is two golden client programs
(SURVEY.md §5); this upgrades it: for RANDOM inputs and a client whose
map emits 0..2 pairs per record, the Spark pipeline (mapInArrow map ->
hash repartition + sort -> key-run mapInArrow reduce, core/job.py) and
the literal RDD path (core/rdd.py) must both equal a naive in-Python
mapreduce executed from the same client object. That pins the contract
itself — emit2 0..n times, reduce sees all values of exactly one key,
output is an unordered bag — not just two fixed examples. A client's
optional map-side ``combine`` must not change that bag: core/job.py
runs it once per key per Arrow batch, core/rdd.py and the naive
mapreduce never run it.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduceframework_spark.core.client import MapReduceClient
from mapreduceframework_spark.core.job import _map_stage_df, run_job
from mapreduceframework_spark.core.rdd import run_job_rdd


def make_sum_stats_client(modulus: int) -> MapReduceClient:
    """Map: route each value to bucket v % m; even values ALSO emit a
    negated copy into a shifted bucket (exercises 1-to-many emit2 and
    0-emit asymmetry). Reduce: order-insensitive group stats.

    Defined inside a function so cloudpickle serializes the class BY
    VALUE — executors cannot import pytest test modules (same reason
    module-level pandas_udf breaks, see project memory)."""

    class SumStatsClient(MapReduceClient):
        intermediate_schema = "k2 long, v2 long"
        output_schema = "k2 long, total long, n long, vmin long"

        def __init__(self, m: int) -> None:
            self.m = m

        def map(self, key: Any, value: Any) -> Iterator[tuple[int, int]]:
            v = int(value)
            yield v % self.m, v
            if v % 2 == 0:
                yield (v % self.m) + 1000, -v

        def reduce(
            self, key: Any, values: list[Any]
        ) -> Iterator[tuple[int, ...]]:
            vals = [int(x) for x in values]
            yield int(key), sum(vals), len(vals), min(vals)

    return SumStatsClient(modulus)


def naive_mapreduce(
    client: MapReduceClient, pairs: list[tuple[Any, Any]]
) -> list[tuple[Any, ...]]:
    """The reference's dataflow in ~10 lines of Python: map all, group
    by key equality, reduce each group once with its full value list."""
    inter: list[tuple[Any, Any]] = []
    for k, v in pairs:
        inter.extend(client.map(k, v))
    groups: dict[Any, list[Any]] = {}
    for k2, v2 in inter:
        groups.setdefault(k2, []).append(v2)
    out: list[tuple[Any, ...]] = []
    for k2, vals in groups.items():
        out.extend(client.reduce(k2, vals))
    return out


def bag(rows) -> list[str]:
    """Rows as an unordered bag: sorted reprs, so NaN equals NaN and
    None sorts beside numbers."""
    return sorted(repr(tuple(r)) for r in rows)


@pytest.mark.parametrize("runner", [run_job, run_job_rdd], ids=["df", "rdd"])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    values=st.lists(st.integers(min_value=0, max_value=100_000), max_size=80),
    modulus=st.integers(min_value=1, max_value=7),
)
def test_generic_client_matches_naive(spark, runner, values, modulus):
    client = make_sum_stats_client(modulus)
    pairs = [(i, v) for i, v in enumerate(values)]
    want = naive_mapreduce(client, pairs)
    df = spark.createDataFrame(pairs or [], "key long, value long")
    if runner is run_job:
        got_df = runner(spark, client, df)
    else:
        got_df = runner(client, df)
    assert bag(got_df.collect()) == bag(want)


def make_summing_client(modulus: int, combine: bool) -> MapReduceClient:
    """Map: route each value to bucket v % m, and count even values in a
    shifted bucket (1-to-many emit2). Reduce sums each bucket, and with
    ``combine`` the same sum is its map-side combiner."""

    class Summing(MapReduceClient):
        intermediate_schema = "k2 long, v2 long"
        output_schema = "k2 long, total long"

        def __init__(self, m: int) -> None:
            self.m = m

        def map(self, key: Any, value: Any) -> Iterator[tuple[int, int]]:
            yield value % self.m, value
            if value % 2 == 0:
                yield (value % self.m) + 1000, 1

        def reduce(self, key: Any, values: list[Any]) -> Iterator[tuple[int, int]]:
            yield key, sum(values)

    if not combine:
        return Summing(modulus)

    class CombinedSumming(Summing):
        def combine(self, key: Any, values: list[Any]) -> Iterator[tuple[int, int]]:
            yield key, sum(values)

    return CombinedSumming(modulus)


@pytest.mark.parametrize("combine", [False, True], ids=["plain", "combine"])
@pytest.mark.parametrize("runner", [run_job, run_job_rdd], ids=["df", "rdd"])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    values=st.lists(st.integers(min_value=0, max_value=100_000), max_size=80),
    modulus=st.integers(min_value=1, max_value=7),
)
def test_combiner_does_not_change_the_result(spark, runner, combine, values, modulus):
    client = make_summing_client(modulus, combine)
    pairs = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(pairs or [], "key long, value long")
    if runner is run_job:
        got_df = runner(spark, client, df)
    else:
        got_df = runner(client, df)
    assert bag(got_df.collect()) == bag(naive_mapreduce(client, pairs))


def test_combiner_over_many_small_batches(spark):
    """With 7-record Arrow batches every key is combined in many
    batches, and its partial sums still reduce to the naive total."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    client = make_summing_client(5, combine=True)
    pairs = [(i, i * 7 % 1000) for i in range(300)]
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        df = spark.createDataFrame(pairs, "key long, value long")
        got = run_job(spark, client, df).collect()
    finally:
        spark.conf.set(conf, old)
    assert bag(got) == bag(naive_mapreduce(client, pairs))


def test_combiner_shuffles_at_most_one_pair_per_key_per_batch(spark):
    """White box: with a one-pair combiner the map stage emits at most
    batches x distinct keys pairs, not one pair per emission."""
    client = make_summing_client(3, combine=True)
    df = spark.createDataFrame([(i, i) for i in range(300)], "key long, value long")
    batches = df.mapInArrow(
        lambda it: (pa.RecordBatch.from_pydict({"n": [1]}) for _ in it), "n long"
    ).count()
    emitted = sum(len(list(client.map(i, i))) for i in range(300))
    pairs = _map_stage_df(client, df).count()
    assert pairs <= batches * 6 < emitted  # keys 0-2 and 1000-1002


def make_null_nan_client(key_type: str, combine: bool = False) -> MapReduceClient:
    """Map sends every third value to the NULL key and, for double
    keys, every third to NaN; the rest spread over 4 keys. Reduce
    emits each key's count and sum, so a key reduced twice shows up as
    two partial rows. With ``combine``, reduce and its combiner emit
    each key's sum."""
    cast = float if key_type == "double" else int

    class NullNanKeys(MapReduceClient):
        intermediate_schema = f"k2 {key_type}, v2 long"
        output_schema = f"k2 {key_type}, n long, total long"

        def map(self, key: Any, value: Any) -> Iterator[tuple[Any, int]]:
            if value % 3 == 0:
                yield None, value
            elif value % 3 == 1 and key_type == "double":
                # One NaN object, so naive_mapreduce's dict groups it.
                yield math.nan, value
            else:
                yield cast(value % 4), value

        def reduce(self, key: Any, values: list[Any]) -> Iterator[tuple]:
            yield key, len(values), sum(values)

    if not combine:
        return NullNanKeys()

    class CombinedNullNanKeys(NullNanKeys):
        output_schema = f"k2 {key_type}, total long"

        def combine(self, key: Any, values: list[Any]) -> Iterator[tuple]:
            yield key, sum(values)

        def reduce(self, key: Any, values: list[Any]) -> Iterator[tuple]:
            yield key, sum(values)

    return CombinedNullNanKeys()


@pytest.mark.parametrize(
    "key_type, combine",
    [("long", False), ("double", False), ("long", True), ("double", True)],
    ids=["long", "double", "long-combine", "double-combine"],
)
def test_null_and_nan_keys_reduce_once(spark, key_type, combine):
    """NULL is one key (the reference's NULL K2*), and so is NaN: each
    reaches client.reduce once, with all of its values — their partial
    sums from the map side, when the client has a combiner."""
    client = make_null_nan_client(key_type, combine)
    pairs = [(i, i) for i in range(60)]
    df = spark.createDataFrame(pairs, "key long, value long")
    got = run_job(spark, client, df).collect()
    assert bag(got) == bag(naive_mapreduce(client, pairs))


def test_key_runs_straddling_arrow_batches_reduce_once(spark):
    """With 7-record Arrow batches each key's sorted run (NULL and NaN
    runs included) spans many batches; the reduce walk must carry the
    open run across them and reduce every key once."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    client = make_null_nan_client("double")
    pairs = [(i, i) for i in range(300)]
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        df = spark.createDataFrame(pairs, "key long, value long")
        got = run_job(spark, client, df).collect()
    finally:
        spark.conf.set(conf, old)
    assert bag(got) == bag(naive_mapreduce(client, pairs))


def test_banded_rep_pairs_invariants(spark):
    """Property sweep over deterministic pseudo-random fingerprints:
    the banded candidate generator must (a) never pair a rep with
    itself, (b) always order pairs doc_a < doc_b, (c) emit a pair at
    most once even when it collides in BOTH bands, and (d) find every
    pair of identical fingerprints (they collide in all bands)."""
    from pyspark.sql import functions as F

    from mapreduceframework_spark.operators.dedup import banded_rep_pairs

    rows = []
    for i in range(60):
        fp = (i * 2654435761 + 40503) % (1 << 32)
        if i % 7 == 0:
            fp = 12345678  # planted identical-fingerprint cluster
        rows.append((i, fp))
    # distinct reps only (mirror the production flow)
    seen, reps = set(), []
    for i, fp in rows:
        if fp not in seen:
            seen.add(fp)
            reps.append((i, fp, sum(1 for _, f in rows if f == fp)))
    df = spark.createDataFrame(reps, "rep long, fp long, cnt long")
    band_keys = F.array(
        F.struct(F.lit(0).alias("band_id"), (F.col("fp") % 65536).alias("key")),
        F.struct(
            F.lit(1).alias("band_id"), F.expr("fp DIV 65536").alias("key")
        ),
    )
    out = banded_rep_pairs(df, band_keys, ["fp"]).collect()
    pairs = [(r["doc_a"], r["doc_b"]) for r in out]
    assert all(a < b for a, b in pairs)
    assert len(pairs) == len(set(pairs))  # distinct even on 2-band hits
    # identical fingerprints merged into ONE rep upstream, so the only
    # pairs here are genuine cross-rep band collisions; none may share
    # a rep id with itself
    assert all(a != b for a, b in pairs)


def test_sample_frames_stride_parameter(spark):
    """stride=None keeps the registered FRAME_STRIDE behavior;
    stride=1 yields every frame."""
    from pyspark.sql import functions as F

    from mapreduceframework_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, "x" * 50, 50)], "doc_id long, text string, n_chars long"
    )
    with_payload = M.attach_payload(docs)
    default = M.sample_frames(with_payload).count()
    dense = M.sample_frames(with_payload, stride=1).count()
    n_frames = (50 + M.FRAME_BYTES - 1) // M.FRAME_BYTES
    assert dense == n_frames
    assert default == len(range(0, n_frames, M.FRAME_STRIDE))
