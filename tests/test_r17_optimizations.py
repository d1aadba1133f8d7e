"""Round-17 optimization pins: changes that restructure an operator's
internals must prove exact equivalence against the retired form, not
just end-to-end oracle parity (the oracle samples 3 SFs; these pins add
adversarial inputs — ties, empty clusters — the generator may not hit).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduceframework_spark.operators import vectors as V


def _old_update_pass(q, cents):
    """The retired r16 update pass, verbatim: interpreted-HOF
    assignment + posexplode + groupBy mean. Kept here as the reference
    implementation the r17 numpy mapInArrow pass is pinned against."""
    arr = F.lit(cents)

    def dist_to(ct):
        return F.aggregate(
            F.zip_with("qv", ct, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )

    best = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda i: F.struct(
                dist_to(F.element_at(arr, i + 1)).alias("dist"),
                i.cast("long").alias("cid"),
            ),
        )
    )
    rows = (
        q.select("vec_id", best["cid"].alias("cid"), "qv")
        .select("cid", F.posexplode("qv").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg((F.sum("val").cast("double") / F.count("*")).alias("v"))
        .collect()
    )
    by_cid: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cid.setdefault(r["cid"], {})[r["pos"]] = r["v"]
    return [
        [dims[p] for p in sorted(dims)]
        if (dims := by_cid.get(cid)) is not None
        else old
        for cid, old in enumerate(cents)
    ]


def test_kmeans_update_pass_matches_hof_fold(spark):
    """Exact (bit-level) equality of the centroid trace: the numpy
    mapInArrow update pass vs the retired HOF fold, on data built to
    exercise distance ties (symmetric points), empty clusters (k >
    natural clusters), and negative codes. Floats compared with ==,
    not approx — the whole point is IEEE-identical arithmetic."""
    import random

    rnd = random.Random(1234)
    d = 16
    rows = []
    # three tight blobs + exact-tie points midway between blob centers
    centers = [[0] * d, [100] * d, [-100] * d]
    vid = 0
    for c in centers:
        for _ in range(30):
            rows.append(
                (vid, [v + rnd.randint(-3, 3) for v in c])
            )
            vid += 1
    for _ in range(10):  # exactly equidistant to centers 0 and 1
        rows.append((vid, [50] * d))
        vid += 1
    q = spark.createDataFrame(rows, "vec_id long, qv array<long>")

    k, updates = 8, 3
    first_k = q.orderBy("vec_id").limit(k).collect()
    first_k.sort(key=lambda r: r["vec_id"])
    cents_ref = [[float(v) for v in r["qv"]] for r in first_k]
    for _ in range(updates):
        cents_ref = _old_update_pass(q, cents_ref)

    asg, cents_new = V.kmeans_lloyd(q, k=k, updates=updates)
    assert cents_new == cents_ref  # exact, element-wise, bit-level

    # and the final assignment (consumed by the registered queries)
    # agrees with an assignment under the reference centroids
    arr = F.lit(cents_ref)

    def dist_to(ct):
        return F.aggregate(
            F.zip_with("qv", ct, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )

    best = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.struct(
                dist_to(F.element_at(arr, i + 1)).alias("dist"),
                i.cast("long").alias("cid"),
            ),
        )
    )
    ref = {
        (r["vec_id"], r["cid"])
        for r in q.select("vec_id", best["cid"].alias("cid")).collect()
    }
    got = {(r["vec_id"], r["cid"]) for r in asg.select("vec_id", "cid").collect()}
    assert got == ref


@pytest.mark.parametrize(
    "bad",
    # each total is a whole number of 2-vectors; flatten() drops a null list
    [[(2, [5]), (3, [6, 7, 8])], [(2, None), (3, [5, 6, 7, 8])], [(2, [5, None])]],
    ids=["ragged", "null_list", "null_element"],
)
def test_kmeans_update_rejects_out_of_contract_vectors(spark, bad):
    """Rows of the wrong length or with nulls must fail the update, not
    be reshaped into wrong vectors. One shuffle partition keeps every
    row in one Arrow batch, whose total length alone would pass."""
    rows = [(0, [1, 2]), (1, [3, 4]), *bad]
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        q = spark.createDataFrame(rows, "vec_id long, qv array<long>").coalesce(1)
        with pytest.raises(Exception, match="non-null list of 2 non-null values"):
            V.kmeans_lloyd(q, k=2, updates=1)
    finally:
        spark.conf.set(key, old)


def test_sq_l2_rejects_out_of_contract_lengths(spark):
    """The unrolled PQ distance covers exactly 8 components: a length-8
    pair gives the exact integer, a NULL array gives NULL, and a 7- or
    9-long pair must raise instead of returning NULL or dropping a tail."""
    from mapreduceframework_spark.plans.ann_queries import _sq_l2

    def sq(a, b):
        df = spark.createDataFrame([(a, b)], "a array<long>, b array<long>")
        return df.select(_sq_l2(F.col("a"), F.col("b")).alias("d")).first()["d"]

    a8, b8 = list(range(8)), [3 * i - 5 for i in range(8)]
    assert sq(a8, b8) == sum((x - y) ** 2 for x, y in zip(a8, b8))
    assert sq(None, b8) is None
    for n in (7, 9):
        with pytest.raises(Exception, match="must both have length 8"):
            sq(list(range(n)), list(range(n)))


def test_guarded_unroll_dot_matches_fold(spark):
    """The r17 unrolled dot/dot_ll fast paths must be bit-identical to
    the HOF folds they replace — including signed zeros, nulls, and
    non-EMB_D lengths (which must take the fold branch)."""
    import random

    rnd = random.Random(7)

    def fold_d(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def fold_l(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    rows_d = []
    for i in range(200):
        d = 64 if i < 150 else rnd.choice([1, 8, 63, 65])
        rows_d.append(
            (
                [rnd.uniform(-2, 2) for _ in range(d)],
                [rnd.uniform(-2, 2) for _ in range(d)],
            )
        )
    rows_d.append(([0.0] * 64, [-1.0] * 64))  # all terms -0.0
    rows_d.append(([None] + [1.0] * 63, [1.0] * 64))  # null element
    df = spark.createDataFrame(rows_d, "a array<double>, b array<double>")
    # dot() itself stays a fold (the unroll regressed the cosine rows —
    # see its docstring); pin the building block _guarded_unroll on
    # doubles so a future consumer can rely on its exactness.
    unrolled_d = V._guarded_unroll(
        F.col("a"),
        F.col("b"),
        lambda x, y: x * y,
        F.lit(0.0),
        fold_d(F.col("a"), F.col("b")),
    )
    got = df.select(
        unrolled_d.alias("u"),
        fold_d(F.col("a"), F.col("b")).alias("f"),
    ).collect()
    for r in got:
        assert (r["u"] is None) == (r["f"] is None)
        if r["u"] is not None:
            import struct

            # bit-level compare (catches +0.0 vs -0.0)
            assert struct.pack("d", r["u"]) == struct.pack("d", r["f"])

    rows_l = [
        (
            [rnd.randint(-127, 127) for _ in range(d)],
            [rnd.randint(-127, 127) for _ in range(d)],
        )
        for d in [64] * 50 + [3, 63, 65]
    ]
    dfl = spark.createDataFrame(rows_l, "a array<long>, b array<long>")
    gotl = dfl.select(
        V.dot_ll(F.col("a"), F.col("b")).alias("u"),
        fold_l(F.col("a"), F.col("b")).alias("f"),
    ).collect()
    assert all(r["u"] == r["f"] for r in gotl)


def test_inline_rows_df_values_and_plan(spark):
    """inline_rows_df must produce the same rows as createDataFrame and
    plan ZERO Python-RDD scans (the r17 finding: every literal-table
    scan cost 32 Python-worker round trips)."""
    from mapreduceframework_spark.sources.registry import inline_rows_df

    rows = [(1, "lo", 10), (2, "hi", None), (3, "lo", -5)]
    schema = "q_pct long, side string, pr long"
    a = inline_rows_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    # names + datatypes must match; nullability may tighten (literal
    # non-null values are provably non-null), which the driver's
    # schema-compatible compare accepts.
    assert [(f.name, f.dataType) for f in a.schema] == [
        (f.name, f.dataType) for f in b.schema
    ]
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # single JVM task, no python RDD: the plan has no Scan ExistingRDD
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert a.rdd.getNumPartitions() == 1
    # empty and oversized inputs fall back to createDataFrame
    assert inline_rows_df(spark, [], schema).count() == 0
    big = [(i, "x", i) for i in range(1001)]
    assert inline_rows_df(spark, big, schema).count() == 1001


def test_inline_rows_df_parses_parameterized_types(spark):
    """The schema is DDL: a comma inside ``decimal(10,2)`` is part of
    the type, not a field separator."""
    from decimal import Decimal

    from mapreduceframework_spark.sources.registry import inline_rows_df

    rows = [(1, Decimal("1.25"))]
    schema = "id long, d decimal(10,2)"
    a = inline_rows_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema.simpleString() == b.schema.simpleString()
    assert a.collect() == b.collect()
