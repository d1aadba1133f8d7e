"""The benchmark's workloads and how one execution of each item runs.

An item is either a registry query (``QuerySpec.fn`` then ``toPandas``)
or a MapReduce job driven through the job-handle API
(``start_map_reduce_job`` -> ``get_state`` polls -> ``wait`` ->
``result`` -> ``close``). Every execution is timed in three phases and
its output is checked, outside the timed interval, against the DuckDB
oracle registered for the same name.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd

POLL_S = 0.05  # get_state cadence of the closed job loop


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float  # datagen scale; 0.1 has the shape of the reference sf0.1
    tables: tuple[str, ...]
    queries: tuple[str, ...] = ()  # registry queries, run as DataFrames
    jobs: tuple[str, ...] = ()  # MapReduce jobs, named after their registry twin


# BENCHMARK.json lists these workloads and why each was chosen.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="mr_clients",
            scale=0.1,
            tables=("documents", "orders"),
            jobs=("mr_char_counts", "mr_histogram_mod100", "mr_filter_evens"),
        ),
        Workload(
            name="native",
            scale=0.01,
            tables=(
                "customer", "documents", "embeddings", "lineitem", "nation",
                "orders", "part", "supplier",
            ),
            # Five SQL-shaped queries, then three plans built from the
            # operators/ dedup, text and vector expressions.
            queries=(
                "char_counts", "tpch_q1_pricing", "tpch_q9_product_profit",
                "tpch_q18_large_orders", "sink_bucketed_join",
                "dedup_minhash_lsh", "text_quality_scores", "ann_cosine_ivf",
            ),
        ),
    )
}


def _mr_inputs(spark, data_dir: str, name: str):
    """Client and input DataFrame of a MapReduce job, built exactly as
    its registry twin in ``plans/mapreduce_queries.py`` builds them."""
    from pyspark.sql import functions as F

    from mapreduceframework_spark.core import (
        CharCountClient,
        FilterEvensClient,
        ModuloHistogramClient,
    )
    from mapreduceframework_spark.sources import load_table

    if name == "mr_char_counts":
        docs = load_table(spark, data_dir, "documents").select("doc_id", "text")
        return CharCountClient(), docs
    orders = load_table(spark, data_dir, "orders").select(
        F.lit(None).cast("long").alias("k1"), F.col("o_orderkey").alias("v1")
    )
    if name == "mr_histogram_mod100":
        return ModuloHistogramClient(), orders
    if name == "mr_filter_evens":
        return FilterEvensClient(), orders
    raise KeyError(name)


@dataclass
class Execution:
    """One timed run of one item. ``build``/``plan``/``action`` are
    seconds; ``frame`` is a query's collected output, ``rows`` and
    ``columns`` a job's (made a frame only when checked, outside the
    timed interval); ``states`` the job's (stage, percentage) polls;
    ``polls`` each get_state call's (start, seconds)."""

    name: str
    build: float = 0.0
    plan: float = 0.0
    action: float = 0.0
    frame: pd.DataFrame | None = None
    rows: list | None = None
    columns: list[str] = field(default_factory=list)
    error: str | None = None
    client: str = ""
    job_group: str = ""
    states: list[tuple[int, float]] = field(default_factory=list)
    polls: list[tuple[float, float]] = field(default_factory=list)
    t0: float = 0.0

    @property
    def total(self) -> float:
        return self.build + self.plan + self.action


def run_query(spark, spec, data_dir: str, trace: bool, group: str) -> Execution:
    """Build, (traced only: plan), then collect one registry query. The
    job group lets a traced run find the query's Spark jobs."""
    ex = Execution(spec.name, job_group=group, t0=time.perf_counter())
    sc = spark.sparkContext
    sc.setJobGroup(group, spec.name)
    try:
        t = time.perf_counter()
        df = spec.fn(spark, data_dir)
        ex.build = time.perf_counter() - t
        if trace:
            t = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            ex.plan = time.perf_counter() - t
        t = time.perf_counter()
        ex.frame = df.toPandas()
        ex.action = time.perf_counter() - t
    except Exception as e:  # noqa: BLE001 - counted as a failed execution
        ex.error = f"{type(e).__name__}: {e}"[:500]
    finally:
        sc.setJobGroup("", "")
    return ex


def run_job(spark, data_dir: str, name: str) -> Execution:
    """One MapReduce job through the job-handle API, closed loop: start,
    poll ``get_state`` every 50 ms until REDUCE 100, then ``wait`` ->
    ``result`` -> ``close``. Build is the input DataFrame, plan is the
    synchronous part of ``start_map_reduce_job``, action is the rest."""
    from mapreduceframework_spark.core import Stage, start_map_reduce_job

    ex = Execution(name, t0=time.perf_counter())
    try:
        t = time.perf_counter()
        client, inp = _mr_inputs(spark, data_dir, name)
        ex.client = type(client).__name__
        ex.build = time.perf_counter() - t
        t = time.perf_counter()
        job = start_map_reduce_job(spark, client, inp)
        ex.plan = time.perf_counter() - t
        t = time.perf_counter()
        while True:
            p = time.perf_counter()
            st = job.get_state()
            ex.polls.append((p, time.perf_counter() - p))
            ex.states.append((int(st.stage), float(st.percentage)))
            if st.stage == Stage.REDUCE and st.percentage >= 100.0:
                break
            job.wait(POLL_S)
        job.wait()
        rows = job.result()
        job.close()
        ex.action = time.perf_counter() - t
        # The job group is not part of the public API; a traced run
        # needs it to find the job's Spark stages.
        ex.job_group = getattr(job, "_group", "")
        ex.rows = rows
        ex.columns = [f.strip().split()[0] for f in client.output_schema.split(",")]
    except Exception as e:  # noqa: BLE001 - counted as a failed execution
        ex.error = f"{type(e).__name__}: {e}"[:500]
    return ex


def progress_error(states: list[tuple[int, float]]) -> str | None:
    """The reference's contract: stages only advance and a finished job
    reads REDUCE 100 (Stage.REDUCE == 3)."""
    for a, b in zip(states, states[1:]):
        if b < a:
            return f"progress went backwards: {a} -> {b}"
    if not states or states[-1] != (3, 100.0):
        return f"job did not end at REDUCE 100: {states[-1:] or 'no polls'}"
    return None


def fingerprint(frame: pd.DataFrame) -> tuple[int, str]:
    """Row count and the order-insensitive value hash of tools/drive_contract.py."""
    from drive_contract import bag_hash, normalize

    return len(frame), bag_hash(normalize(frame.copy()))


def oracle_fingerprints(data_dir: str, workload: Workload) -> dict[str, list | None]:
    """Each item's DuckDB oracle result on the generated inputs,
    fingerprinted as ``[rows, hash]``; ``None`` for an item without an
    oracle (checked for errors only). A job's oracle is its registry
    twin's."""
    import duckdb

    from mapreduceframework_spark.plans.registry import all_queries

    specs = all_queries()
    con = duckdb.connect()
    try:
        for t in workload.tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {
            name: None if specs[name].oracle is None
            else list(fingerprint(con.execute(specs[name].oracle).fetchdf()))
            for name in workload.queries + workload.jobs
        }
    finally:
        con.close()


def check(ex: Execution, want: list | None) -> str | None:
    """Why this execution failed, or None: it raised, its job progress
    broke the contract, or its output differs from the oracle's."""
    if ex.error:
        return ex.error
    if ex.client:
        bad = progress_error(ex.states)
        if bad:
            return bad
    if want is not None:
        frame = ex.frame
        if frame is None:
            frame = pd.DataFrame([tuple(r) for r in ex.rows], columns=ex.columns)
        got = fingerprint(frame)
        if got != tuple(want):
            return f"output differs from oracle: rows/hash {got} != {want}"
    return None

