"""Write-path (sink) queries — the O10 output surface exercised as
driver-checked rows, not just pytest.

The reference's only sink is the in-memory OutputVec the client owns
(reference MapReduceFramework.h:22, JobContext.cpp:166-175: emit3
appends under a mutex; the bag is unordered). The engine's sinks are
files (sources/io.py); these queries prove the two layouts that matter
at 100 TB — hive-partitioned parquet (partition pruning on read) and
bucketed tables (shuffle-free co-located joins) — through the full
write -> read-back -> value-hash-oracle loop the driver grades.

Scratch location: everything lands under this process's scratch
directory (``session.process_dir``, like the warehouse: a fresh temp
directory removed at exit), never inside the repo or the read-only
testdata.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceframework_spark.plans.exact import snap_units, snap_units_sql
from mapreduceframework_spark.plans.registry import query
from mapreduceframework_spark.session import process_dir
from mapreduceframework_spark.sources import load_table
from mapreduceframework_spark.sources.io import write_table


def _scratch(sf_dir: str, name: str) -> str:
    """A sink's output dir under this process's scratch directory
    (parallel runs never collide, and the directory is removed at exit;
    overwrite mode makes reruns within a session idempotent)."""
    return os.path.join(
        process_dir("mrf-scratch-"),
        f"{name}-{os.path.basename(sf_dir.rstrip('/'))}",
    )


@query(
    "sink_partitioned_roundtrip",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({snap_units_sql('l_quantity', 100)}) AS BIGINT)
                   AS sum_qty_e2,
               CAST(SUM({snap_units_sql('l_extendedprice', 100)}) AS BIGINT)
                   AS sum_price_e2
        FROM lineitem
        WHERE l_returnflag <> 'N'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("sink", "source", "lakehouse"),
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink round-trip: write lineitem
    partitioned by (l_returnflag, l_linestatus), read it BACK with a
    partition predicate, aggregate. The oracle computes the same
    aggregate from the ORIGINAL table, so a sink that drops, duplicates
    or corrupts rows (or mistypes partition values on the read side)
    hash-mismatches.

    Scale shape: the write is a scan + hive-layout fan-out (no shuffle
    — partitionBy splits within each task's files); the read-back scan
    prunes the l_returnflag='N' subtree at FILE LISTING time
    (PartitionFilters, asserted in tests/test_plans.py), which at
    100 TB is the difference between listing 2/3 of the files and
    reading any of the pruned bytes at all. Aggregation is algebraic
    -> map-side partial. Quantity/price snapped to exact e2 integers
    (doubles would drift by summation order)."""
    out = _scratch(sf_dir, "roundtrip")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
    )
    write_table(li, out, partition_by=["l_returnflag", "l_linestatus"])
    back = spark.read.parquet(out).filter(F.col("l_returnflag") != "N")
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(snap_units("l_quantity", 100)).alias("sum_qty_e2"),
        F.sum(snap_units("l_extendedprice", 100)).alias("sum_price_e2"),
    )


@query(
    "sink_bucketed_join",
    oracle=f"""
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM({snap_units_sql('o.o_totalprice', 100)}) AS BIGINT)
                   AS revenue_e2
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    tags=("sink", "join", "lakehouse"),
    bench=True,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table sink + shuffle-free co-located join: write orders
    and customer as tables bucketed 8 ways on the join key, then
    sort-merge-join them WITHOUT any exchange — both scans are already
    hash-distributed by bucket file layout. The oracle runs the same
    join on the raw parquet, so bucket routing that misplaces or loses
    a row hash-mismatches.

    This is THE join strategy for repeatedly-joined 100 TB fact tables:
    pay the bucketing shuffle once at ingest, then every subsequent
    join on that key is exchange-free (tests/test_plans.py asserts no
    Exchange feeds the SortMergeJoin). The merge hint pins SMJ so the
    plan proves bucketing (a broadcast would also avoid the exchange
    but only because customer is small at test SF)."""
    wh_orders = "mrf_b_orders"
    wh_cust = "mrf_b_customer"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    (
        orders.write.format("parquet")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .saveAsTable(wh_orders)
    )
    (
        cust.write.format("parquet")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .saveAsTable(wh_cust)
    )
    bo = spark.table(wh_orders)
    bc = spark.table(wh_cust).hint("merge")
    return (
        bo.join(bc, bo["o_custkey"] == bc["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(snap_units("o_totalprice", 100)).alias("revenue_e2"),
        )
    )


@query(
    "sink_compact_small_files",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(length(text)) AS BIGINT) AS total_len
        FROM documents
    """,
    tags=("sink", "maintenance", "lakehouse"),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: shatter the documents table
    into 64 tiny part-files (the pathology a streaming sink or an
    over-parallel writer leaves behind), compact with
    sources/io.py::compact_table to ~256 MB-target files, read the
    compacted copy back and aggregate. The oracle aggregates the
    ORIGINAL table, so compaction that drops/duplicates rows
    hash-mismatches; the file-count collapse itself is asserted in
    tests/test_plans.py.

    Why it's a first-class op at 100 TB: a million KB-sized files make
    file listing and per-file open dominate every later scan — the §8
    mitigation is this exact rewrite, sized from real input bytes
    (driver-side listing only, no data collect), coalesce (shuffle-free)
    when shrinking."""
    from mapreduceframework_spark.sources.io import compact_table

    small = _scratch(sf_dir, "smallfiles")
    compacted = _scratch(sf_dir, "compacted")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(small)
    compact_table(spark, small, compacted)
    back = spark.read.parquet(compacted)
    return back.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_len"),
    )


@query(
    "source_csv_json_roundtrip",
    oracle=f"""
        SELECT 'orders_csv' AS src, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({snap_units_sql('o_totalprice', 100)}) AS BIGINT)
                   AS sum_e
        FROM orders
        UNION ALL
        SELECT 'events_json' AS src, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({snap_units_sql('value', 10000)}) AS BIGINT) AS sum_e
        FROM events
    """,
    tags=("source", "sink", "lakehouse"),
)
def source_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format SOURCE round-trip — the read-path twin of the sink
    rows: orders exports to CSV and events to JSON-lines, then both
    read BACK through the engine's schema-pinned FAILFAST scanners
    (sources/io.py read_csv / read_json — never inferSchema, which at
    100 TB is a full extra pass) and aggregate. The oracle computes
    the same aggregates from the original parquet, so any row the text
    writers or parsers drop, duplicate, or corrupt — including double
    round-trip precision, which Spark's writers preserve at full 17
    significant digits — hash-mismatches.

    Scale shape: text scans parallelize by file split exactly like
    parquet (minus column pruning, which is the documented cost of
    text formats); the aggregates are algebraic partial-aggs; sums
    snap to exact integer units after the round-trip."""
    from mapreduceframework_spark.sources.io import read_csv, read_json

    out_csv = _scratch(sf_dir, "src-csv")
    out_json = _scratch(sf_dir, "src-json")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    write_table(orders, out_csv, fmt="csv", header="true")
    write_table(events, out_json, fmt="json")
    o_schema = (
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderstatus string"
    )
    e_schema = "event_id long, user_id long, event_type string, value double"
    o_back = read_csv(spark, out_csv, o_schema)
    e_back = read_json(spark, out_json, e_schema)
    o_agg = o_back.agg(
        F.lit("orders_csv").alias("src"),
        F.count("*").alias("n"),
        F.sum(snap_units("o_totalprice", 100)).alias("sum_e"),
    )
    e_agg = e_back.agg(
        F.lit("events_json").alias("src"),
        F.count("*").alias("n"),
        F.sum(snap_units("value", 10000)).alias("sum_e"),
    )
    return o_agg.unionByName(e_agg)


@query(
    "source_schema_evolution_merge",
    oracle=f"""
        WITH early AS (
            SELECT o_orderkey, o_custkey,
                   {snap_units_sql('o_totalprice', 100)} AS price_e2,
                   CAST(NULL AS VARCHAR) AS o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 0),
        late AS (
            SELECT o_orderkey, o_custkey,
                   {snap_units_sql('o_totalprice', 100)} AS price_e2,
                   o_orderpriority
            FROM orders WHERE o_orderkey % 2 = 1),
        unioned AS (SELECT * FROM early UNION ALL SELECT * FROM late)
        SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(price_e2) AS BIGINT) AS revenue_e2
        FROM unioned GROUP BY 1
    """,
    tags=("sink", "source", "lakehouse"),
)
def source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution ON READ — the lakehouse reality that a 100 TB
    table's old files predate its newest columns: an 'early' parquet
    batch is written WITHOUT o_orderpriority, a 'late' batch WITH it,
    and one mergeSchema read unifies them — rows from pre-evolution
    files surface the added column as NULL (bucketed here into an
    explicit '<pre-evolution>' group so the null semantics are part
    of the checked value). The oracle recomputes from the original
    table with the same column masking, so a reader that drops old
    files, misaligns columns by position, or defaults the missing
    column to anything but NULL hash-mismatches.

    Scale shape: both writes are scan-parallel (no shuffle); the
    merged read costs one extra footer pass to reconcile schemas
    (mergeSchema lists all footers — at 100 TB you pin the merged
    schema in a metastore/Delta log instead, which this query's plan
    shape matches once the schema argument is supplied); the
    aggregate is algebraic map-side."""
    out = _scratch(sf_dir, "evolve")
    o = load_table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        snap_units("o_totalprice", 100).alias("price_e2"),
    )
    late = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        snap_units("o_totalprice", 100).alias("price_e2"),
        "o_orderpriority",
    )
    early.write.mode("overwrite").parquet(os.path.join(out, "b=0"))
    late.write.mode("overwrite").parquet(os.path.join(out, "b=1"))
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_e2").alias("revenue_e2"),
    )


@query(
    "source_orc_roundtrip",
    oracle=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({snap_units_sql('o_totalprice', 100)}) AS BIGINT)
                   AS revenue_e2,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("sink", "source"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip — the third columnar format the
    engine speaks natively beside parquet and csv/json
    (source_csv_json_roundtrip): orders write to ORC (zlib, the
    default) and read back with a predicate + projection, aggregated
    against an oracle computed from the ORIGINAL table, so row loss,
    type coercion drift, or a reader that ignores ORC predicate
    pushdown's results all hash-mismatch.

    Scale shape: write is scan-parallel (no shuffle); the read-back
    carries the same PushedFilters/ReadSchema machinery as parquet
    (ORC is the other first-class columnar source in Spark — min/max
    stripe stats serve the same data-skipping role the zone-map row
    audits); the aggregate is algebraic map-side."""
    out = _scratch(sf_dir, "orc")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        snap_units("o_totalprice", 100).alias("price_e2"),
    )
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_e2").alias("revenue_e2"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
