"""The input generator: deterministic per seed and schema-true."""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import datagen  # noqa: E402

ALL = ("region", "nation", "customer", "supplier", "part", "orders",
       "lineitem", "documents", "embeddings")


@pytest.fixture(scope="module")
def two_seeds(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    return {
        (seed, rep): datagen.generate(str(root / f"s{seed}-{rep}"), seed, ALL, 0.002)
        for seed, rep in ((1, 0), (1, 1), (2, 0))
    } | {"root": root}


def test_same_seed_same_bytes(two_seeds):
    a, b = two_seeds[(1, 0)], two_seeds[(1, 1)]
    assert a["fingerprint"] == b["fingerprint"]
    assert a["tables"] == b["tables"]


def test_other_seed_other_bytes_same_shape(two_seeds):
    a, c = two_seeds[(1, 0)], two_seeds[(2, 0)]
    assert a["fingerprint"] != c["fingerprint"]
    for name in ALL:
        assert a["tables"][name]["rows"] == c["tables"][name]["rows"]
    assert a["tables"]["lineitem"]["sha256"] != c["tables"]["lineitem"]["sha256"]


def test_table_bytes_do_not_depend_on_the_other_tables(tmp_path, two_seeds):
    alone = datagen.generate(str(tmp_path), 1, ("orders",), 0.002)
    assert alone["tables"]["orders"] == two_seeds[(1, 0)]["tables"]["orders"]


def test_one_file_one_row_group_and_the_engine_schema(two_seeds):
    from pyspark.sql.pandas.types import from_arrow_schema

    from mapreduceframework_spark.sources.registry import TABLES

    d = two_seeds["root"] / "s1-0"
    for name in ALL:
        meta = two_seeds[(1, 0)]["tables"][name]
        assert meta["row_groups"] == 1
        got = from_arrow_schema(pq.read_schema(d / f"{name}.parquet"))
        want = TABLES[name]
        assert got.names == want.names
        for g, w in zip(got.fields, want.fields):
            # embeddings are stored as float32 lists, read as double
            if name != "embeddings" or g.name != "embedding":
                assert g.dataType == w.dataType, (name, g, w)


def test_value_domains_the_queries_rely_on(tmp_path):
    import duckdb

    datagen.generate(str(tmp_path), 5, ("lineitem", "orders", "documents", "part"), 0.01)
    con = duckdb.connect()
    for t in ("lineitem", "orders", "documents", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')")
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    assert q("SELECT COUNT(*) FROM (SELECT l_orderkey FROM lineitem GROUP BY 1 "
             "HAVING SUM(l_quantity) > 250)") > 0
    assert q("SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem "
             "GROUP BY 1, 2 HAVING COUNT(*) > 1)") > 0
    assert q("SELECT COUNT(*) FROM documents WHERE text LIKE '% dup'") > 0
    assert q("SELECT COUNT(*) - COUNT(DISTINCT text) FROM documents") > 0
    assert q("SELECT COUNT(*) FROM part WHERE p_name LIKE '%red%'") > 0
    assert q("SELECT COUNT(*) FROM documents WHERE n_chars <> length(text)") == 0
