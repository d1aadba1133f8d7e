"""Join operators Spark lacks natively, composed Spark-first.

The reference has no joins at all; a reference user would write a
reduce-side repartition join as a MapReduceClient (map tags records with a
source id, reduce pairs the tag-lists per key — possible because reduce
sees all values of one key, reference JobContext.cpp:133-172 /
MapReduceClient.h:61-64). Spark's built-in equi/semi/anti/outer joins
replace that wholesale; this module adds the two families that need
composition: as-of joins and range joins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    out_schema: str,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    allow_exact_matches: bool = True,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same key (pd.merge_asof
    "backward" semantics; inner — unmatched left rows are dropped).
    ``direction="forward"`` flips it to the earliest right row at-or
    -after (next-event semantics); ``allow_exact_matches=False`` makes
    either bound strict — together they cover DuckDB's ``ASOF JOIN``
    on ``>=``, ``>``, ``<=``, ``<``.

    Implementation (round 14): both sides union into ONE tagged
    relation, hash-shuffle ONCE on the key, sort within partitions by
    key, and a single ``mapInPandas`` pass runs ``pd.merge_asof(...,
    by=key)`` per Arrow batch — the vectorized C path matching
    THOUSANDS of keys per Python call. The previous
    ``cogroup(...).applyInPandas`` shape was semantically identical
    but made one Python roundtrip per key (measured ~8x this join's
    whole runtime at per-user cardinality; a per-key-RPC hazard at
    100 TB). A key's rows can straddle two Arrow batches, so complete
    runs are re-assembled by core/keyruns.iter_key_runs (hot-key O(K)
    buffering).
    Skew story unchanged: one co-partitioned shuffle, and a hot key
    can be pre-split by bucketing ``left_ts`` coarsely into the key.

    ``out_schema`` is the DDL schema of the result; ``right_cols`` the
    right-side columns to carry (default: all but key/ts). Note the
    union makes each side's columns nullable, so integer columns
    cross into pandas as float64 — exact below 2^53, which covers
    microsecond epochs to year ~2255 and any realistic id space.
    """
    rcols = right_cols or [
        c for c in right.columns if c not in (right_key, right_ts)
    ]
    lcols = [c for c in left.columns if c != left_key]
    overlap = set(lcols) & set([right_ts, *rcols])
    reserved = {"_k", "_side"} & set(
        [*left.columns, right_key, right_ts, *rcols]
    )
    if overlap or reserved:
        raise ValueError(
            f"asof_join column name collision: "
            f"{overlap or ''}{reserved or ''}"
        )

    l_tagged = left.select(
        F.col(left_key).alias("_k"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in lcols],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in [right_ts, *rcols]
        ],
    )
    r_tagged = right.select(
        F.col(right_key).alias("_k"),
        F.lit(1).alias("_side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        *[F.col(c) for c in [right_ts, *rcols]],
    )
    unioned = (
        l_tagged.unionByName(r_tagged)
        .repartition(F.col("_k"))
        .sortWithinPartitions("_k")
    )
    out_fields = [f.strip().split()[0] for f in out_schema.split(",")]

    def merge_block(pdf: pd.DataFrame) -> pd.DataFrame | None:
        ldf = pdf[pdf["_side"] == 0]
        rdf = pdf[pdf["_side"] == 1]
        if ldf.empty or rdf.empty:
            return None  # inner semantics: unmatched left rows drop
        ldf = ldf[["_k", *lcols]].sort_values(left_ts, kind="mergesort")
        rdf = rdf[["_k", right_ts, *rcols]].sort_values(
            right_ts, kind="mergesort"
        )
        out = pd.merge_asof(
            ldf,
            rdf,
            left_on=left_ts,
            right_on=right_ts,
            by="_k",
            direction=direction,
            allow_exact_matches=allow_exact_matches,
        )
        out = out.dropna(subset=[right_ts])
        if not len(out):
            return None
        out = out.rename(columns={"_k": left_key})
        return out[out_fields]

    from mapreduceframework_spark.core.keyruns import iter_key_runs

    def run(batches):
        for pdf in iter_key_runs(batches, "_k"):
            out = merge_block(pdf)
            if out is not None:
                yield out

    return unioned.mapInPandas(run, schema=out_schema)


def cogroup_apply_batched(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    fn,
    out_schema: str,
) -> DataFrame:
    """Cogrouped-apply without per-group Python dispatch: the
    semantics of ``left.groupBy(k).cogroup(right.groupBy(k))
    .applyInPandas(per_key_fn)`` for functions that are KEY-VECTORIZED
    (``fn(left_pdf, right_pdf)`` handles every key in its slice via
    pandas groupby, not one key per call).

    Same shape as :func:`asof_join` (round 14): both sides union into
    ONE tagged relation, hash-shuffle ONCE on the key, sort within
    partitions by key, and a single ``mapInPandas`` pass hands ``fn``
    whole-key-run slices re-assembled by core/keyruns.iter_key_runs —
    THOUSANDS of keys per Python call, versus one call per key with
    the native cogroup API (measured 65 s / 150k keys at sf0.1 — a
    per-key-RPC hazard at 100 TB) or a fixed call count with the
    coarse-bucket workaround (1024 calls regardless of data volume).
    Here the call count tracks Arrow batch volume, the same unit the
    rest of the engine amortizes over.

    ``fn`` sees each key's rows exactly once and never split across
    calls (the keyruns guarantee), so per-key aggregates compose
    correctly. Keys present on only one side arrive with the other
    slice empty — ``fn`` decides the join semantics, exactly as with
    the native API. The union makes each side's columns nullable, so
    integer columns cross into pandas as float64 — exact below 2^53
    (any realistic id space); ``fn`` casts its outputs.
    """
    lcols = [c for c in left.columns if c != left_key]
    rcols = [c for c in right.columns if c != right_key]
    overlap = set(lcols) & set(rcols)
    reserved = {"_k", "_side"} & set([*left.columns, *right.columns])
    if overlap or reserved:
        raise ValueError(
            f"cogroup_apply_batched column collision: "
            f"{overlap or ''}{reserved or ''}"
        )
    l_tagged = left.select(
        F.col(left_key).alias("_k"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in lcols],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in rcols
        ],
    )
    r_tagged = right.select(
        F.col(right_key).alias("_k"),
        F.lit(1).alias("_side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        *[F.col(c) for c in rcols],
    )
    unioned = (
        l_tagged.unionByName(r_tagged)
        .repartition(F.col("_k"))
        .sortWithinPartitions("_k")
    )

    from mapreduceframework_spark.core.keyruns import iter_key_runs

    def run(batches):
        for pdf in iter_key_runs(batches, "_k"):
            ldf = pdf[pdf["_side"] == 0][["_k", *lcols]]
            rdf = pdf[pdf["_side"] == 1][["_k", *rcols]]
            out = fn(ldf, rdf)
            if out is not None and len(out):
                yield out

    return unioned.mapInPandas(run, schema=out_schema)


def range_join(
    fact: DataFrame,
    bands: DataFrame,
    value: Column,
    lo: Column,
    hi: Column,
) -> DataFrame:
    """Range (band) join: match each fact row to the band where
    ``lo <= value < hi``.

    For a small band table (the overwhelmingly common case) this is a
    broadcast nested-loop join — zero shuffle of the fact side, the only
    plan that survives 100 TB. For band tables too large to broadcast,
    bucketize ``value`` to the band grid and equi-join on the bucket.
    """
    return fact.join(F.broadcast(bands), (value >= lo) & (value < hi), "inner")


def binned_range_join(
    fact: DataFrame,
    intervals: DataFrame,
    value: str,
    lo: str,
    hi: str,
    bin_width: float,
) -> DataFrame:
    """Range join against an interval table TOO LARGE TO BROADCAST —
    the scale path ``range_join``'s docstring promises.

    A non-equi join with no equi conjunct is a (broadcast) nested-loop
    join in Spark: O(|fact| x |intervals|) comparisons, and if the
    interval side outgrows the broadcast threshold the fallback is a
    catastrophic shuffle nested loop. The standard fix is interval
    binning: quantize the value domain into fixed-width bins, explode
    each interval ``[lo, hi)`` to every bin it overlaps (``floor(lo/w)
    .. ceil(hi/w)-1``), tag each fact row with its single bin
    (``floor(value/w)``), equi-join on the bin key, then re-check the
    exact predicate as a residual filter.

    The non-equi join becomes a hash-partitioned equi join: both sides
    shuffle ONCE on the bin key, cost O(|fact| + |intervals| x
    overlap_fanout + candidate pairs). ``bin_width`` trades interval
    duplication (small bins) against candidate false positives (big
    bins); a width near the median interval length keeps both O(1) per
    row. Bin-key skew (hot value ranges) is ordinary aggregation skew —
    AQE skew-join handles it, unlike nested-loop joins which AQE cannot
    split. Empty intervals (``hi <= lo``) match nothing and are dropped
    up front, which also keeps the bin sequence ascending.
    """
    w = float(bin_width)
    iv = intervals.filter(F.col(lo) < F.col(hi)).withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / w).cast("long"),
                (F.ceil(F.col(hi) / w) - 1).cast("long"),
            )
        ),
    )
    fb = fact.withColumn("__bin", F.floor(F.col(value) / w).cast("long"))
    residual = (F.col(value) >= F.col(lo)) & (F.col(value) < F.col(hi))
    return fb.join(iv, "__bin").filter(residual).drop("__bin")
