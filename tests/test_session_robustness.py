"""Session-state robustness: the driver may hand the engine a session
configured differently than ours — the registry wrapper must repin what
correctness depends on, and AQE must handle skew without manual help.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from mapreduceframework_spark.plans.registry import all_queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_repin_utc_under_foreign_timezone(spark, sf_dir, oracle_con):
    """The DuckDB oracle compares timestamps UTC-naive; a caller-set
    session timezone must not leak into results (plans/registry.py
    wrapper repins spark.sql.session.timeZone per query call)."""
    from tests.conftest import assert_parity

    spec = all_queries()["timeseries_ohlc"]
    assert spec.oracle is not None
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spec.fn(spark, sf_dir)
        # The wrapper must have repinned UTC before building the plan...
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # ...and the result must still match the UTC-naive oracle.
        assert_parity(df, oracle_con, spec.oracle)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling, demonstrated end to end: a join where
    99% of rows share ONE key must execute with the skewed partition
    split (skew=true in the final adaptive plan), given thresholds
    scaled to local data volume. This is the adaptive counterpart of
    the manual salting recipe (join_salted_skew) — the engine's answer
    to hot keys at 100 TB when AQE can see them."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # force a sort-merge join so there is a shuffle to skew-split
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("r")
        )
        joined = left.join(right, "k")
        # Execute THIS DataFrame's own query execution (count() would
        # plan a separate aggregate query and leave joined's plan
        # un-finalized).
        assert len(joined.collect()) > 0
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_warehouse_is_per_process_and_removed_at_exit():
    """Each process gets its own warehouse directory, and its own
    scratch directory for the sink rows' outputs, both removed when the
    process exits. A directory named after the pid alone outlived its
    process, and a later process given the same pid then failed
    saveAsTable with LOCATION_ALREADY_EXISTS."""
    code = (
        "import os\n"
        "from mapreduceframework_spark.session import warehouse_dir\n"
        "from mapreduceframework_spark.plans.sink_queries import _scratch\n"
        "d = warehouse_dir()\n"
        "os.makedirs(os.path.join(d, 'mrf_b_orders'))\n"
        "out = _scratch('/data/sf0.001/', 'roundtrip')\n"
        "os.makedirs(out)\n"
        "print(d, os.path.dirname(out))\n"
    )
    dirs = [
        d
        for _ in range(2)
        for d in subprocess.run(
            [sys.executable, "-c", code], env=dict(os.environ, PYTHONPATH=ROOT),
            capture_output=True, text=True, check=True,
        ).stdout.split()
    ]
    assert len(set(dirs)) == 4
    assert not any(os.path.exists(d) for d in dirs)


def test_python_workers_use_a_private_short_unix_socket_dir(tmp_path):
    """Spark talks to its Python processes over Unix sockets in a
    private /tmp directory, not over loopback TCP (whose delayed ACK
    stalled each Python stage ~40 ms). With TMPDIR and java.io.tmpdir
    at 120 characters, a socket there would exceed AF_UNIX's 107-byte
    path limit and fail session start; the job must still run, and the
    socket directory must be 0700, outside TMPDIR and gone at exit."""
    deep = tmp_path / ("d" * (120 - len(str(tmp_path)) - 1))
    deep.mkdir()
    assert len(str(deep)) == 120
    code = (
        "import json, os\n"
        "from mapreduceframework_spark.core.client import ModuloHistogramClient\n"
        "from mapreduceframework_spark.core.job import start_map_reduce_job\n"
        "from mapreduceframework_spark.session import get_session, socket_dir\n"
        "spark = get_session(app_name='uds-test', cpus=1)\n"
        "df = spark.createDataFrame([(i, i) for i in range(250)], 'k long, v long')\n"
        "job = start_map_reduce_job(spark, ModuloHistogramClient(), df)\n"
        "rows = sorted(tuple(r) for r in job.result())\n"
        "d = socket_dir()\n"
        "print(json.dumps({\n"
        "    'conf': spark.conf.get('spark.python.unix.domain.socket.enabled'),\n"
        "    'dir': d, 'mode': os.stat(d).st_mode & 0o777, 'rows': rows}))\n"
    )
    env = dict(
        os.environ, PYTHONPATH=ROOT, TMPDIR=str(deep),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={deep}",
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["conf"] == "true"
    assert out["mode"] == 0o700
    assert not out["dir"].startswith(str(deep))
    assert out["rows"] == [[k, 2 + (k < 50)] for k in range(100)]
    assert not os.path.exists(out["dir"])
