#!/usr/bin/env python
"""Benchmark harness — the 55-row headline (recorded as BENCH_r{N}.json).

Runs every registry query tagged ``bench=True`` (the headline set) against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1, "methodology": {...}}

Measurement contract (methodology v3, round 7): after a one-time warm-up
block (JVM/codegen, Python daemon workers, parquet FS metadata, a
broadcast codepath), the full query set runs THREE complete passes in
pinned order and each query reports the MEDIAN of its end-to-end
timings (plan construction + execution to an order-insensitive
hash-reduction action). ``value`` is the sum of per-query medians.
Passes are interleaved at the set level — query A's samples are
minutes apart — so a transient host spike lands in at most one sample
and the median discards it. v3 additions (r06 VERDICT items 3-4): the
volatile dedup/ANN family (``VOLATILE``) gets two extra passes
(median-of-5; their r06 samples swung 2-4x while TPC-H swung <2x), a
``clearCache()`` + JVM/Python GC barrier runs between passes so pass
N's heap/cache residue cannot pollute pass N+1, and raw samples go to
the BENCH_SUMMARY.json sidecar + stderr, so stdout carries one compact
line with the headline fields first. Data is NOT pre-read into cache
by the warm-up; each query still scans its sources (the OS page cache
does warm across passes, as it would on any long-lived cluster).

The emitted JSON carries a ``methodology`` object (version / timing /
repeats / warmup) so cross-round tooling can detect protocol changes
programmatically instead of diffing docstrings: r02-r03 = v0 (cold
single-shot, rotating order), r04-r05 = v1 (warm-up + pinned order,
single-shot), r06 = v2 (warm-up + pinned order + median-of-3), r07+ =
v3 (v2 + volatile median-of-5 + inter-pass GC barrier + sidecar).
Round 16 adds a ``controls`` object (same v3 protocol for the query
rows, so version stays 3): three pinned host-calibration workloads —
``jvm`` (pure codegen agg), ``shf`` (one shuffled groupBy), ``py``
(Arrow mapInPandas round trip) — sampled once per pass; their medians
let cross-round tooling separate host drift from engine change
without a live A/B (see BASELINE.md "BENCH HOST-CALIBRATION
CONTROLS").

Query ORDER is pinned (``BENCH_ORDER``, = BENCH_r03's list) so per-query
timings are comparable across rounds: the first query absorbs whatever
one-time cost the warm-up missed (r03: join_range_binned 3.1s first vs
0.58s mid-run in r02), so it must be the same query every round. Every
pinned name must be a registered ``bench=True`` query. New bench-tagged
queries append after the pinned list, sorted by name.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

# BENCH_r03.json's exact query order — append-only; never reorder.
BENCH_ORDER = (
    "join_range_binned",
    "tpch_q1_pricing",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping",
    "tpch_q5_local_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "window_topk_per_group",
    "window_range_frame",
    "streaming_tumbling_counts",
    "udf_pandas_grouped_agg",
    "graph_pagerank_trade",
    "cdc_merge_orders",
    "ann_cosine_ivf",
    "embedding_quantize_int8",
    "kmeans_quantized_clusters",
    "multimodal_decode_features",
    "text_bm25_topk",
    "text_tfidf_top_terms",
    "pipeline_curate_corpus",
    "events_tumbling_counts",
    "events_session_windows",
    "events_sessionize_gaps",
    "char_counts",
    "word_counts",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "ann_cosine_bruteforce",
)

REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

# The dedup/ANN family shows 2-4x swing across passes (r06 samples:
# dedup_simhash [2.56, 7.30, 4.73], ann_cosine_bruteforce
# [0.73, 2.46, 3.79]) while TPC-H rows swing <2x — host/GC residue
# lands disproportionately on the shuffle-heavy candidate-pair queries.
# These get EXTRA_REPEATS additional samples (median-of-5) so one or
# two contaminated passes cannot move the recorded median.
VOLATILE = frozenset({
    "dedup_simhash",
    "dedup_clusters",
    "ann_cosine_bruteforce",
    "dedup_substring_chunks",
    # First r7 samples spread 2.9x ([1.70, 3.43, 1.20]) — the Python-
    # codec mapInPandas stage is GC-adjacent like the dedup family.
    "multimodal_phash_dedup",
    # r8: same candidate-pair shape as dedup_minhash_lsh (shares its
    # signature/band pipeline) — inherits the family's volatility.
    "similarity_join_minhash",
    # r8: exact prefix-filtered sibling — same shingle pipeline and
    # candidate-join shape, same GC-adjacent volatility.
    "similarity_join_prefix_filter",
    # r9: k-means iteration + candidate-pair verify — the union of the
    # two shapes that needed adjudication before (kmeans was r8's one
    # false 2x breach; the pair family is the volatile list's core).
    "dedup_semantic_clusters",
})
EXTRA_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_REPEATS", "2"))


# Host-calibration controls (round 16, VERDICT r15 item 3): three
# PINNED engine-independent workloads whose cost is a property of the
# HOST — raw JVM codegen throughput, shuffle machinery, and the
# Python/Arrow worker boundary — not of any registry query or data
# file. They are sampled once after each main pass (median-of-REPEATS,
# interleaved like the queries so a transient spike lands in at most
# one sample) and recorded as a ``controls`` object on the stdout line
# and in the sidecar. Purpose: the r14->r15 cycle burned a full
# adjudication round proving a 1.2-1.8x ENVIRONMENT-wide drift with
# ad-hoc control cohorts; with these in every BENCH_r{N}.json the
# 2x-rule can be host-normalized from the artifacts alone (see
# BASELINE.md "BENCH HOST-CALIBRATION CONTROLS" for the normalization
# rule). Sizes chosen so each control runs ~0.2-1 s warm on the
# reference host — heavy enough to measure, light enough to add <10 s
# to the whole bench. NEVER retune these constants: a size change
# breaks cross-round comparability exactly like moving a query anchor.
def control_workloads(spark) -> dict:
    return {
        "jvm": lambda: spark.range(40_000_000)
        .selectExpr("sum(hash(id)) AS h")
        .collect(),
        "shf": lambda: spark.range(4_000_000)
        .selectExpr("id % 1000 AS k")
        .groupBy("k")
        .count()
        .selectExpr("sum(hash(k, count)) AS h")
        .collect(),
        "py": lambda: spark.range(400_000)
        .repartition(32)
        .mapInPandas(lambda it: it, "id long")
        .selectExpr("sum(id) AS s")
        .collect(),
    }


def bench_order(queries: dict) -> list[str]:
    """Run order of the ``bench=True`` rows of ``queries``: the pinned
    ``BENCH_ORDER``, then every other bench row sorted by name. Index,
    don't filter: a renamed or untagged pinned row raises ``KeyError``
    instead of silently leaving the headline."""
    specs = {n: s for n, s in queries.items() if s.bench}
    extra = sorted(n for n in specs if n not in BENCH_ORDER)
    return [specs[n].name for n in BENCH_ORDER] + extra


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from mapreduceframework_spark.plans.registry import all_queries
    from mapreduceframework_spark.session import get_session

    spark = get_session(app_name="mapreduceframework_spark-bench")
    # Absorb one-time infra warmup so the first query of each kind
    # reflects the query, not initialization: JVM/codegen, and the
    # per-core Python daemon workers every pandas-UDF stage reuses
    # (spark.python.worker.reuse) — on a long-lived cluster both are
    # already warm.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.range(n).repartition(n).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # Touch the parquet source path once (schema inference + FS metadata +
    # a broadcast-join codepath) so the first timed query doesn't pay it.
    from mapreduceframework_spark.sources import load_table

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nation.join(region.hint("broadcast"), nation.n_regionkey == region.r_regionkey).count()

    specs = all_queries()
    ordered = bench_order(specs)

    def run_one(name: str, tag: str) -> None:
        spec = specs[name]
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        # Force full execution of every operator in the plan (count()
        # alone would let Catalyst prune aggregations); summing a hash
        # of all columns cannot be optimized away and is
        # order-insensitive.
        df.selectExpr("sum(hash(*)) AS h").collect()
        dt = time.perf_counter() - t0
        samples[name].append(dt)
        print(f"# {tag} {name}: {dt:.3f}s", file=sys.stderr)

    def pass_barrier() -> None:
        # r06 showed pass-N residue polluting pass N+1 (adjacent
        # volatile rows spiking together): drop cached data, force a
        # JVM+Python GC so the next pass starts from a quiet heap.
        import gc

        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        gc.collect()

    controls = control_workloads(spark)
    control_samples: dict[str, list[float]] = {c: [] for c in controls}

    def run_controls(tag: str) -> None:
        for cname, fn in controls.items():
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            control_samples[cname].append(dt)
            print(f"# {tag} control {cname}: {dt:.3f}s", file=sys.stderr)

    samples: dict[str, list[float]] = {name: [] for name in ordered}
    for rep in range(REPEATS):
        for name in ordered:
            run_one(name, f"pass {rep + 1}/{REPEATS}")
        # controls BEFORE the barrier: they should see the same heap/
        # cache climate the queries of this pass just ran in
        run_controls(f"pass {rep + 1}/{REPEATS}")
        pass_barrier()
    # Volatile family: two extra passes -> median-of-5 per query, so a
    # single contaminated pass cannot set the recorded median.
    vol = [n for n in ordered if n in VOLATILE]
    for rep in range(EXTRA_REPEATS):
        for name in vol:
            run_one(name, f"extra {rep + 1}/{EXTRA_REPEATS}")
        pass_barrier()

    timings = {name: round(statistics.median(ts), 3) for name, ts in samples.items()}
    # Headline fields lead and the bulky per-query dict trails; raw
    # samples go to the sidecar + stderr, not stdout.
    out = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        # stdout methodology carries only the asserted fields; the
        # static protocol descriptors (order/pass_barrier/extra
        # -repeats) live in the sidecar.
        "methodology": {
            "version": 3,
            "timing": "median",
            "repeats": REPEATS,
            "warmup": True,
        },
        "controls": {
            c: round(statistics.median(ts), 3)
            for c, ts in control_samples.items()
        },
        "queries": timings,
    }
    sidecar = dict(out)
    # The volatile-row list and raw samples live in the sidecar only,
    # keeping the one stdout line compact (its length is asserted by
    # tests/test_bench_contract.py).
    sidecar["methodology"] = dict(
        out["methodology"],
        extra_repeats_volatile=EXTRA_REPEATS,
        order="pinned-r03",
        pass_barrier="clearCache+gc",
        volatile=sorted(VOLATILE),
    )
    sidecar["samples"] = {
        name: [round(t, 3) for t in ts] for name, ts in samples.items()
    }
    sidecar["control_samples"] = {
        c: [round(t, 3) for t in ts] for c, ts in control_samples.items()
    }
    sidecar_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SUMMARY.json"
    )
    with open(sidecar_path, "w") as f:
        json.dump(sidecar, f, indent=1)
    print(f"# samples: {json.dumps(sidecar['samples'])}", file=sys.stderr)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
