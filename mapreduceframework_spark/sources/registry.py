"""Table registry: explicit schemas over the driver-generated parquet.

The reference's data model is "user-declared, fixed per job, never
inferred" (reference MapReduceClient.h:9-52 — opaque K/V classes supplied
by the client; SURVEY.md section 1.1). We keep that property: every table
has a pinned StructType; engine paths never rely on schema inference.

At 100 TB the scan is the most expensive operator in every query. Reads
here go through ``spark.read.schema(...).parquet(...)`` so Catalyst can
prune columns and push predicates into the parquet reader — correctness
of that pushdown is asserted in tests/test_plans.py.
"""

from __future__ import annotations

import functools as _functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Pinned schemas for the driver testdata (TESTDATA.md). Nullable=True
# everywhere: parquet files carry no not-null guarantee.
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Physical (on-disk) schema of events.parquet WHEN ts is TIMESTAMP(NANOS)
# (readable only as raw int64 under spark.sql.legacy.parquet.nanosAsLong).
# The driver testdata currently stores TIMESTAMP(MICROS), which Spark's
# vectorized reader handles natively; events_ts_unit() probes the footer
# so both encodings work. Shared with the streaming reader
# (streaming/windows.py).
EVENTS_PHYSICAL_NANOS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_ts_unit(path: str) -> str:
    """Probe the parquet footer for the physical unit of ``ts``.

    Returns ``'ns'`` or ``'us'``. Never guess the unit from values: a
    nanos file misread as micros silently shifts every event 1000x
    (a month collapses into 43 minutes) while remaining a perfectly
    plausible timestamp — only the footer metadata is authoritative.
    Footer-only read: O(KB) per file regardless of file size, safe at
    100 TB. Cached per (file, mtime): a file regenerated in place with a
    different encoding invalidates its cache entry, so a long-lived
    session can't serve a stale unit — the exact failure mode this
    probe exists to prevent.

    Directories probe EVERY part-file and require them to agree: one
    dataset, one encoding is the loader's invariant (load_table picks a
    single read path for the whole scan), and a writer that mixed units
    across part-files would otherwise have all-but-one file silently
    shifted 1000x. O(files) driver-side footer reads — the same order of
    metadata work Spark's own scan planning does, and each footer is
    cached across calls.
    """
    if os.path.isdir(path):
        files = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        units = {
            f: _events_ts_unit_cached(p, os.path.getmtime(p))
            for f in files
            for p in [os.path.join(path, f)]
        }
        if len(set(units.values())) > 1:
            raise ValueError(
                f"mixed ts encodings under {path}: {units} — "
                "a single dataset must use one timestamp unit"
            )
        return next(iter(units.values()))
    return _events_ts_unit_cached(path, os.path.getmtime(path))


@_functools.lru_cache(maxsize=64)
def _events_ts_unit_cached(probe: str, mtime: float) -> str:
    import pyarrow.parquet as pq

    ts_type = pq.ParquetFile(probe).schema_arrow.field("ts").type
    unit = getattr(ts_type, "unit", None)
    if unit not in ("ns", "us", "ms", "s"):
        raise ValueError(f"events.ts at {probe} has unexpected type {ts_type}")
    return unit


def events_nanos_to_ts(df: DataFrame) -> DataFrame:
    """Convert a raw int64-nanos ``ts`` to TimestampType (floor-divide
    to micros — bit-identical to DuckDB/Arrow ns->us truncation)."""
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).select(
        *[f.name for f in TABLES["events"].fields]
    )


def table_schema(name: str) -> T.StructType:
    return TABLES[name]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table with its pinned schema (no inference).

    events.ts needs unit-aware handling: parquet TIMESTAMP(MICROS) reads
    natively as TimestampType, but TIMESTAMP(NANOS) must be read as raw
    int64 (spark.sql.legacy.parquet.nanosAsLong) and floor-divided to
    micros — bit-identical to how DuckDB/Arrow truncate ns -> us. The
    footer, not the values, decides which path runs (events_ts_unit).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and events_ts_unit(path) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return events_nanos_to_ts(
            spark.read.schema(EVENTS_PHYSICAL_NANOS).parquet(path)
        )
    return spark.read.schema(TABLES[name]).parquet(path)


def inline_rows_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Model-sized literal DataFrame WITHOUT the Python-RDD scan that
    ``spark.createDataFrame(list_of_tuples)`` plans.

    That scan is ``default.parallelism`` pickled partitions, and every
    task opens a Python-worker round trip: r17 thread dumps caught 30
    of 32 executor threads blocked in BasePythonRunner socket reads,
    50-1700 ms per task with ~zero CPU, PER tiny literal table (the
    KLL rows carry three each). Rendering the rows as one
    ``inline(array(struct(...)))`` over a one-partition range keeps the
    table entirely JVM-side: one sub-ms task, zero Python workers, and
    the values are bit-identical (lit + cast of driver scalars).

    For literal tables only — the expression tree is O(rows x cols).
    Real in-memory data sources stay on ``sources.io.from_rows`` (the
    declared InputVec-style operator).
    """
    fields = T.StructType.fromDDL(schema).fields
    # Fallbacks keep the helper total: an empty array can't be typed by
    # inline, and past ~1k rows the O(rows x cols) literal tree costs
    # Catalyst more than the Python scan it avoids (driver-collected
    # streaming emissions can reach that at large SF).
    if not rows or len(rows) > 1000:
        return spark.createDataFrame(rows, schema)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for f, v in zip(fields, row)
            ]
        )
        for row in rows
    ]
    return spark.range(0, 1, numPartitions=1).select(
        F.inline(F.array(*structs))
    )


def ensure_min_partitions(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition ONLY when the scan has fewer splits than
    the session's parallelism — a single local parquet file otherwise
    runs a whole explode/flatMap pipeline on one task. At cluster scale
    the scan already has >= cores splits and this is a no-op, so the
    pathological case (shuffling a 100 TB text column) cannot happen."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view, for the SQL surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
