"""Shared fixtures: one SparkSession per test session, DuckDB oracle con,
and the parity-compare helper mirroring the driver's correctness gate
(row-count + schema-compatible + order-insensitive values)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from mapreduceframework_spark.session import get_session
from mapreduceframework_spark.sources.registry import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="mrf-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize for order-insensitive compare: columns sorted by name,
    rows sorted by stringified values, floats rounded."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            out[c] = s.round(6)
        elif s.dtype.kind in "mM":
            out[c] = pd.to_datetime(s).astype("datetime64[us]")
        else:
            out[c] = s
    df = pd.DataFrame(out, columns=df.columns)
    if len(df) == 0:
        return df
    key = df.astype(str).apply(lambda r: "\x00".join(r.values), axis=1)
    return df.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def assert_parity(spark_df, oracle_con, oracle_query: str) -> None:
    assert_parity_frames(
        spark_df.toPandas(), oracle_con.execute(oracle_query).fetchdf()
    )


def assert_parity_frames(got_raw: pd.DataFrame, want_raw: pd.DataFrame) -> None:
    """Frame-level core of :func:`assert_parity` — callers that already
    collected both sides (e.g. test_oracle_parity.py, which also runs
    the driver's bag_hash compare on the same frames) use this to avoid
    re-executing the query and the oracle. Does not modify its inputs."""
    got = _canon(got_raw)
    want = _canon(want_raw)
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            for i, (a, b) in enumerate(zip(g.astype(float), w.astype(float))):
                na, nb = pd.isna(a), pd.isna(b)
                assert na == nb and (
                    na or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                ), f"col {c} row {i}: spark={a} oracle={b}"
        else:
            mism = (g.astype(str) != w.astype(str))
            if mism.any():
                i = int(mism.idxmax())
                raise AssertionError(
                    f"col {c} first mismatch at row {i}: "
                    f"spark={g.iloc[i]!r} oracle={w.iloc[i]!r}"
                )
