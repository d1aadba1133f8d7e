"""Query/operator registry — the single source of truth.

Every operator the engine claims is registered here as a ``QuerySpec``:
a name, a Spark callable ``(spark, sf_dir) -> DataFrame``, and (when the
semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL.
``__spark_entry__.py`` (driver contract), the pytest parity harness, and
``bench.py`` all read this registry, so one registration covers the
correctness gate, local tests, and the benchmark.

Contract inherited from the driver: the compare sorts columns by name and
hashes values order-insensitively, so (a) every computed column is aliased
identically on both sides, (b) float aggregates are rounded on both sides
to dodge summation-order ULP drift, (c) integer sums are cast to BIGINT on
the DuckDB side (DuckDB widens SUM(BIGINT) to HUGEINT).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    doc: str = ""
    sql_conf: tuple[tuple[str, str], ...] = ()  # per-query runtime confs


REGISTRY: dict[str, QuerySpec] = {}

# Runtime SQL confs that individual queries may override via
# ``sql_conf`` (r17, VERDICT r16 item 1). Every registered query pins
# each knob at BUILD time — to its declared value or back to the listed
# default — so a value tuned for one query cannot leak into the next
# query sharing the SparkSession. The r16 session-wide 64k AQE
# coalescing floor was exactly that leak: it bought 1.8-2.3x on the
# CPU-dense pair-fanout rows (dedup_embedding_cosine,
# reco_user_similarity — measured again in the r17 interleaved A/B)
# but taxed every iterative tiny-shuffle row 8-20% (kmeans, tpch_q2,
# tpch_q6, lakehouse_incremental_agg) by keeping their per-round
# model-sized shuffles 32 tasks wide. Scoped per query, both families
# get their right width. Values here are the ENGINE defaults (the
# reset state), not tunings; cluster_conf() is unaffected.
# Build order cannot change values: noDataMicroBatches only matters to
# streaming rows, which run their stream to completion inside the build
# (streaming/windows.py run_available_now); the batch knobs are read at
# action time but only tune speed (both were A/B'd value-identical).
# That is the rule for adding a key here: the conf is pinned when a
# query builds but read when its action runs, so a key may be added
# only if it cannot change a batch query's result.
_SCOPED_CONF_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
    # InferFiltersFromGenerate synthesizes size(g)>0 / isnotnull(g)
    # above every explode; filter pushdown then SUBSTITUTES the
    # generator expression below the gated round-robin exchange, so
    # the single-task scan evaluates the whole interpreted shingle
    # pipeline (twice: size + isnotnull) before the exchange can
    # spread it — r17 profiling caught a 2.1 s, 1-task, 5000-row scan
    # stage doing exactly that in dedup_ngram_jaccard. The duplicate
    # evaluation exists at ANY scale (without the exchange the
    # inferred filter still re-computes the generator in the same
    # stage). Queries whose generator is expensive exclude the rule;
    # explode itself already emits nothing for empty/null arrays, so
    # the rule is a pure optimization and values are unchanged.
    # Measured (interleaved A/B, n=7): decontaminate 2.73->1.08 s,
    # boilerplate 2.65->1.52, prefix-filter 4.30->3.07, tfidf
    # 1.44->1.23, bpe_vocab 1.07->0.87, ngram_jaccard 2.77->2.51;
    # flat-to-negative on bm25/bigram/simhash/dsir (left default).
    "spark.sql.optimizer.excludedRules": "",
    # availableNow appends a NO-DATA micro-batch after the data batches
    # to advance the watermark and flush pending state. Streaming rows
    # whose emission does not depend on that flush (complete/update
    # modes re-emit state every batch; dropDuplicates appends in the
    # arrival batch) can skip it — measured 1.1-1.6x per row with
    # row-identical output (r17 A/B, n=3-4 reps, exact value-set
    # equality per rep). The OUTER stream-stream joins NEED the flush
    # (left_join emitted 182 of 19842 rows without it) and every
    # non-overriding row keeps the engine default true.
    "spark.sql.streaming.noDataMicroBatches.enabled": "true",
}

# Streaming rows that measurably win by skipping the trailing no-data
# micro-batch (value-identical; see _SCOPED_CONF_DEFAULTS rationale).
NO_TRAILING_NODATA_BATCH = {
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
}

# The one rule the shingle rows exclude (see _SCOPED_CONF_DEFAULTS).
NO_INFER_FROM_GENERATE = {
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}

# dedup_ngram_jaccard additionally excludes constraint inference: its
# final jac >= 0.5 filter infers isnotnull(nsh), which substitutes to
# isnotnull(size(<shingle pipeline>)) on the single-task scan — a
# third full interpreted evaluation. A/B n=7: 1.76 -> 1.26 s on top of
# the generate exclusion; the other shingle rows measured flat and
# keep the narrower exclusion.
NO_INFER_FROM_GENERATE_OR_CONSTRAINTS = {
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate,"
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints"
    ),
}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    sql_conf: dict[str, str] | None = None,
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query under ``name``.

    ``sql_conf``: runtime SQL confs set when this query builds (other
    _SCOPED_CONF_DEFAULTS keys reset to default). Callers may build
    several queries before acting and still get each one's values; a
    batch action runs under the latest build's speed knobs, which is
    why a key may join _SCOPED_CONF_DEFAULTS only if it cannot change a
    batch query's result (it is pinned at build time, read at action
    time). Keys outside _SCOPED_CONF_DEFAULTS are rejected so an
    override without a reset-to-default rule cannot slip in.
    """
    for k in sql_conf or ():
        if k not in _SCOPED_CONF_DEFAULTS:
            raise ValueError(
                f"sql_conf key {k!r} has no default in "
                "_SCOPED_CONF_DEFAULTS; add one so other queries reset it"
            )

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        overrides = dict(sql_conf or {})

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The caller may hand us a session with a non-UTC timezone;
            # the DuckDB oracle compares timestamps UTC-naive. Pin it.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            for k, dflt in _SCOPED_CONF_DEFAULTS.items():
                spark.conf.set(k, overrides.get(k, dflt))
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(
            name=name,
            fn=wrapped,
            oracle=oracle,
            tags=tags,
            bench=bench,
            doc=(fn.__doc__ or "").strip(),
            sql_conf=tuple(sorted((sql_conf or {}).items())),
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Import every query module and return the full registry in
    registration order (module import order below, then decorator order
    within each module). Callers look queries up by name; none depends
    on the order."""
    # Imports are side-effectful (decorator registration); keep the list
    # explicit so a missing module is an error, not silent shrinkage.
    from mapreduceframework_spark.plans import (  # noqa: F401
        analytics_queries,
        ann_queries,
        core_queries,
        dedup_queries,
        extension_queries,
        graph_queries,
        join_queries,
        lakehouse_queries,
        mapreduce_queries,
        multimodal_queries,
        sampling_queries,
        sink_queries,
        sketch_queries,
        streaming_queries,
        text_queries,
        tpch_queries,
        udf_queries,
        window_queries,
    )

    return dict(REGISTRY)
