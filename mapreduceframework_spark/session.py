"""SparkSession construction for the engine.

Single place where execution-relevant config lives. Tuned for local[N]
testing but every knob is chosen for cluster-scale behavior:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast):
  at 100 TB the static plan is always wrong somewhere; AQE re-plans at
  shuffle boundaries from observed statistics.
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value).
- Arrow enabled: every pandas-UDF operator in this engine moves batches
  over Arrow, never rows.
- UTC session timezone: parquet timestamps must compare bit-identical
  against the DuckDB oracle (UTC-naive).
- Unix-domain sockets between the JVM and its Python processes
  (``spark.python.unix.domain.socket.enabled``). Over loopback TCP
  each Python stage waited ~40 ms for its first Arrow batch: Nagle's
  algorithm meeting Linux's 40 ms delayed ACK. Collecting a 1-row,
  1-partition ``mapInArrow`` took a warm median of 83-84 ms over TCP
  and 34-39 ms over Unix sockets (local[2], 4-vCPU host); a MapReduce
  job is two such stages. The sockets live in :func:`socket_dir`, never in the default
  ``java.io.tmpdir``: a socket path must fit AF_UNIX's 107 bytes (a
  java.io.tmpdir of 89 bytes or more fails session start with
  ``OSError: AF_UNIX path too long``), and the worker daemon skips
  its auth secret under Unix sockets, so a private 0700 directory is
  the only guard.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

_process_dirs: dict[str, str] = {}


def process_dir(prefix: str, parent: str | None = None) -> str:
    """This process's private directory named ``prefix``: a fresh
    ``mkdtemp`` (mode 0700) the first time, removed when the process
    exits. A name derived from the pid alone outlived its process, and
    a later process given the same pid then failed saveAsTable with
    LOCATION_ALREADY_EXISTS."""
    d = _process_dirs.get(prefix)
    if d is None:
        d = _process_dirs[prefix] = tempfile.mkdtemp(prefix=prefix, dir=parent)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def warehouse_dir() -> str:
    """This process's warehouse: saveAsTable (bucketed tables etc.)
    writes under it, out of the repo working tree."""
    return process_dir("mrf-warehouse-")


def socket_dir() -> str:
    """Where the JVM and its Python processes put their Unix sockets.
    Under /tmp, not ``TMPDIR``: a caller may point TMPDIR deep into a
    checkout, and the socket path must stay short."""
    return process_dir("mrf-sock-", "/tmp")


def get_session(
    app_name: str = "mapreduceframework_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` controls both local parallelism and the shuffle-partition
    count; on a real cluster pass ``master`` via ``extra_conf``/env and
    leave shuffle partitioning to AQE.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescer (parallelismFirst=true) floors each post-
        # shuffle partition at minPartitionSize (default 1m), so a
        # CPU-dense stage over a small shuffle gets strangled: r16
        # profiling caught dedup_embedding_cosine running 11 s of
        # per-pair HOF arithmetic on THREE tasks (3.4 MB / 1 MB) and
        # reco_user_similarity exploding 0.9 MB -> 78 MB of pairs
        # inside ONE coalesced task. r16 set a session-wide 64k floor;
        # the r17 interleaved A/B showed that floor taxing every
        # iterative tiny-shuffle row 8-20% (kmeans, tpch_q2/q6,
        # lakehouse) while only the CPU-dense pair rows need it — it
        # is now scoped PER QUERY via plans/registry.py sql_conf
        # (_SCOPED_CONF_DEFAULTS resets it to the 1m default for
        # everything else). cluster_conf() keeps the default: at the
        # 100 TB design point advisoryPartitionSize dominates and the
        # knob never engages.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The whole-stage-codegen source->class cache holds 100 entries
        # by default; a session cycling through this engine's ~280
        # query shapes evicts constantly, so every pass re-pays Janino
        # compiles (r17 A/B under bench-like pressure, 3 reps:
        # ann_cosine_pq 3.2-5.3 s at 100 entries vs 2.4-2.6 s at 2000;
        # ann_cosine_ivf spiked to 6.0 s on an eviction vs 0.9-1.0 s).
        # Cost is bounded JVM metaspace for cached generated classes —
        # the same knob matters on any long-lived production session
        # running many query shapes.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.warehouse.dir", warehouse_dir())
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
        # The driver compares against DuckDB; ANSI mode (Spark 4 default)
        # stays ON — engine code uses try_* / explicit casts where needed.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
) -> dict[str, str]:
    """Recommended config for a real cluster at the 100 TB design point
    — the local `get_session` knobs re-derived for N executors. Returns
    plain conf dict so deploy tooling can merge it into spark-submit.

    Rationale per knob:
    - shuffle.partitions ~ 2x total cores: enough tasks for AQE to
      coalesce DOWN (cheap) rather than needing to split (impossible
      pre-AQE-skew); at 100 TB a shuffle stage then carries ~25 GB per
      partition pre-coalesce, within spill tolerance.
    - advisoryPartitionSizeInBytes 128m: AQE's coalesce target — keeps
      post-shuffle partitions near the parquet block size so downstream
      scans and writes stay balanced.
    - files.maxPartitionBytes 256m: scan-side split size; 100 TB /
      256 MB = ~400k scan tasks, amortized fine over 4k cores, and big
      enough that task overhead doesn't dominate columnar decode.
    - autoBroadcastJoinThreshold 256m: dimensions up to a few GB
      compressed still broadcast (executors have 16 GB); the fact side
      of every star join stays shuffle-free.
    - skewJoin thresholds: split any post-shuffle partition > 512 MB
      and > 5x median — the adaptive version of the manual salting
      recipes (join_salted_skew / agg_salted_two_stage).
    - runtime bloomFilter on (explicit; Spark 4 defaults it on): for a
      selective fact-fact join where NEITHER side broadcasts, the
      filtered build side injects a bloom filter that prunes the probe
      side's SCAN before the shuffle — the runtime analogue of
      predicate pushdown across a join. creationSideThreshold 100m:
      worth building from any post-filter side under ~100 MB.
    - shuffle.service + dynamicAllocation off by default here: sizing
      assumes a static fleet; flip both on for shared clusters.
    - no Unix-domain Python sockets, unlike get_session: each executor
      would put them under its own temp directory, and executor paths
      such as YARN container directories can exceed AF_UNIX's 107-byte
      limit, which fails every Python task.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "512m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
        "spark.sql.files.maxPartitionBytes": "268435456",
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            "100MB"
        ),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # Long-lived sessions cycling many query shapes thrash the
        # 100-entry codegen class cache (see get_session) — driver-side
        # metaspace for generated classes is cheap at this size.
        "spark.sql.codegen.cache.maxEntries": "2000",
    }
