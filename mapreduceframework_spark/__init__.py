"""PySpark-native analytics engine with the query and data-processing
capabilities of ElsaMarziano/MapReduceFramework, re-expressed Spark-first.

The reference (/root/reference, C++11 pthreads MapReduce kernel) provides a
generic map -> shuffle/group-by-key -> reduce dataflow plus a job
lifecycle/progress API (SURVEY.md section 2). This package provides:

- ``session``: SparkSession construction tuned for analytic workloads.
- ``sources``: explicit-schema table registry over the driver parquet.
- ``plans.queries``: the operator/query registry (name -> Spark callable +
  DuckDB oracle SQL) — the single source of truth consumed by
  ``__spark_entry__.py``, the pytest parity harness, and ``bench.py``.
- ``core``: the generic MapReduceClient API (map/emit2/reduce/emit3 and
  JobHandle/getJobState semantics, reference MapReduceFramework.h:15-24),
  made idiomatic: a mapInArrow map with an optional per-batch combiner,
  a hash repartition + sort + key-run mapInArrow reduce, an Arrow
  gather, and statusTracker progress.
- ``operators``: dedup / similarity / text / multimodal extension operators
  designed for 100 TB scale.
- ``streaming``: Structured Streaming surface over the events table.
- ``pyworker``: the guard against pyspark workers re-reading pyspark.zip's
  directory on every task; installed on import, so every Python worker
  that unpickles engine code carries it.
"""

from mapreduceframework_spark.pyworker import install_zipimport_guard

install_zipimport_guard()

__version__ = "0.1.0"
