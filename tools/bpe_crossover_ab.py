#!/usr/bin/env python
"""Measure the codegen-vs-Arrow BPE encoder crossover (VERDICT r10
item 6).

`operators/text.py` ships two interchangeable encoders for the
vocab-table BPE plan (encode DISTINCT words once, join counts back):

- the EXPRESSION encoder (`bpe_encode`): one codegen string pass per
  merge — cost grows linearly with the merge-table size M;
- the ARROW encoder (`bpe_token_count_arrow`): min-rank greedy loop
  with dict lookups — cost is O(applied merges x word length) per
  word, INDEPENDENT of M.

This tool times both on the same distinct-word workload across a
ladder of merge-table sizes, so the "swap encoders at production vocab
size" recommendation in the seam comment is a measured crossover, not
an assertion.

The workload is a SEEDED SYNTHETIC vocabulary, and deliberately so:
the synthetic corpus' real vocabulary is 31 distinct words and its BPE
trainer exhausts all pairs at 89 merges — it physically cannot
exercise a production merge table. A production tokenizer encodes a
30k-100k-word vocab against a 32k-50k-merge table; the generator below
reproduces that shape (Zipf-weighted letter unigrams, 3-12-letter
words, Zipfian counts) and the merges are LEARNED from a sample of it
with the classic Sennrich trainer, so the greedy loop does
representative merge work (a non-matching pad table would flatter the
Arrow path).

Usage:
    python tools/bpe_crossover_ab.py [--n 5] [--vocab 20000] \
        [--train-sample 2000] [--max-merges 1024]

Prints one JSON line per (M, encoder) cell: median/min/max seconds,
plus a final summary naming the crossover M. Results recorded in
BASELINE.md ("Arrow-BPE crossover" note).
"""

from __future__ import annotations

import atexit
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

# Module-level: pandas_udf resolves the 'pd.Series' type hints through
# the module globals, and with `from __future__ import annotations` a
# function-local import is invisible to that resolution (the
# operators/text.py r10 gotcha).
import pandas as pd

# Repo root from __file__, not cwd — the tool must import the package
# it measures regardless of where it is launched from (as
# tools/drive_contract.py does).
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LADDER = (48, 128, 256, 512, 1024)


def synth_vocab(n_words: int, seed: int = 11) -> list[tuple[str, int]]:
    """Deterministic production-shaped vocabulary: ``n_words`` distinct
    words of 3-12 letters drawn from a Zipf-weighted alphabet (English
    -ish letter skew so pair frequencies are non-uniform and merges
    are meaningful), with Zipfian word counts."""
    rng = random.Random(seed)
    letters = "etaoinshrdlcumwfgypbvkjxqz"
    weights = [1.0 / (i + 1) for i in range(len(letters))]
    words: set[str] = set()
    while len(words) < n_words:
        k = rng.randint(3, 12)
        words.add("".join(rng.choices(letters, weights, k=k)))
    ordered = sorted(words)
    rng.shuffle(ordered)
    return [(w, max(1, int(n_words / (i + 1)))) for i, w in enumerate(ordered)]


def train_merges(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE trainer (Sennrich et al. 2016): count adjacent
    symbol pairs over the word-frequency table, merge the most
    frequent, repeat; ties broken count-DESC then pair-ASC — the same
    convention the repo's 48-merge table was learned with
    (operators/text.py:170)."""
    vocab = {tuple(w): c for w, c in word_counts}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_vocab: dict[tuple, int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + c
        vocab = new_vocab
    return merges


def main() -> int:
    args = sys.argv[1:]
    n, n_vocab, n_train, max_merges = 5, 20_000, 2_000, 1024
    flags = {"--n": "n", "--vocab": "n_vocab",
             "--train-sample": "n_train", "--max-merges": "max_merges"}
    vals = {"n": n, "n_vocab": n_vocab, "n_train": n_train,
            "max_merges": max_merges}
    i = 0
    while i < len(args):
        key = flags.get(args[i])
        if key is None:
            print(__doc__)
            return 2
        try:
            vals[key] = int(args[i + 1])
        except (IndexError, ValueError):
            print(__doc__)
            return 2
        i += 2
    n, n_vocab = vals["n"], vals["n_vocab"]
    n_train, max_merges = vals["n_train"], vals["max_merges"]

    from pyspark.sql import functions as F

    # The SHIPPED kernels — the A/B must measure these, not copies
    # that could drift (review finding r11): bpe_encode's pass
    # construction parameterized by merge table, and the min-rank
    # greedy loop the Arrow path wraps.
    from mapreduceframework_spark.operators.text import (
        bpe_encode,
        greedy_word_tokens,
    )
    from mapreduceframework_spark.session import get_session

    # A deeper driver stack: Catalyst converts the M-deep replace chain
    # recursively, and at M >= a few hundred the default JVM thread
    # stack overflows during column-tree conversion — measured below as
    # a hard feasibility cliff, and part of the finding. 64 MB lets the
    # tree convert far enough to observe the TIMING crossover first.
    spark = get_session(
        app_name="bpe-crossover-ab",
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xss64m",
            "spark.executor.extraJavaOptions": "-Xss64m",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    vocab = synth_vocab(n_vocab)
    print(
        f"# vocab: {len(vocab)} distinct words, "
        f"{sum(c for _, c in vocab)} weighted occurrences",
        file=sys.stderr,
    )
    # Train on the count-heaviest sample (the head of the Zipf) — the
    # full-vocab trainer is O(merges x vocab x len) in pure Python and
    # the merges only need to be REAL, not optimal for the tail.
    train_set = sorted(vocab, key=lambda wc: -wc[1])[:n_train]
    merges = train_merges(train_set, max_merges)
    print(f"# trained {len(merges)} merges", file=sys.stderr)

    ladder = [m for m in LADDER if m <= len(merges)]
    if not ladder or ladder[-1] < len(merges):
        ladder.append(len(merges))

    # Materialize the word table once as parquet so every timed cell
    # pays the identical scan (not a cached/uncached asymmetry).
    tmp = tempfile.mkdtemp(prefix="bpe_ab_")
    # Removed on interpreter exit even if a ladder cell raises —
    # repeated runs must not accumulate orphaned vocab tables.
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    spark.createDataFrame(vocab, "w string, cnt long").repartition(
        32
    ).write.mode("overwrite").parquet(f"{tmp}/vocab")

    def expr_units(m: int):
        s = bpe_encode(F.col("w"), tuple(merges[:m]))
        return (
            F.length(s)
            - F.length(F.replace(s, F.lit("||"), F.lit("|")))
            + 1
        )

    def expr_cell(m: int) -> float:
        df = spark.read.parquet(f"{tmp}/vocab")
        t0 = time.monotonic()
        df.select(
            F.sum(F.col("cnt") * expr_units(m)).alias("total")
        ).collect()
        return time.monotonic() - t0

    def arrow_cell(m: int) -> float:
        from pyspark.sql.functions import pandas_udf

        rank = {p: r for r, p in enumerate(merges[:m])}

        @pandas_udf("long")
        def tok(ws: pd.Series) -> pd.Series:
            return ws.map(lambda w: greedy_word_tokens(w, rank)).astype(
                "Int64"
            )

        df = spark.read.parquet(f"{tmp}/vocab")
        t0 = time.monotonic()
        df.select(
            F.sum(F.col("cnt") * tok(F.col("w"))).alias("total")
        ).collect()
        return time.monotonic() - t0

    # Correctness guard: both encoders must agree on total tokens at
    # every ladder point before their timings mean anything. An
    # expression-side failure (Catalyst stack overflow on the M-deep
    # tree) is recorded as the feasibility cliff, not a crash.
    expr_dead: dict[int, str] = {}
    for m in ladder:
        rank = {p: r for r, p in enumerate(merges[:m])}
        py_total = sum(c * greedy_word_tokens(w, rank) for w, c in vocab)
        df = spark.read.parquet(f"{tmp}/vocab")
        try:
            spark_total = df.select(
                F.sum(F.col("cnt") * expr_units(m))
            ).collect()[0][0]
        except Exception as e:  # noqa: BLE001 — Py4J error classes vary
            # Only the known feasibility cliff (JVM StackOverflowError
            # converting the M-deep replace chain) counts as
            # "infeasible at M"; any other failure (OOM, read error,
            # analysis bug) must surface, not silently skip the
            # equality assert for this ladder point.
            if "StackOverflowError" not in str(e):
                raise
            expr_dead[m] = type(e).__name__
            print(
                f"# expr encoder INFEASIBLE at M={m}: "
                f"{type(e).__name__}",
                file=sys.stderr,
            )
            continue
        assert spark_total == py_total, (m, spark_total, py_total)
    print(
        "# encoder equality holds at every feasible ladder point",
        file=sys.stderr,
    )

    results: dict[int, dict[str, float]] = {}
    for m in ladder:
        cells: dict[str, list[float]] = {"arrow": []}
        if m not in expr_dead:
            cells["expr"] = []
        for _ in range(n):  # interleaved: same host conditions per pair
            if "expr" in cells:
                cells["expr"].append(expr_cell(m))
            cells["arrow"].append(arrow_cell(m))
        row = {}
        for k, v in cells.items():
            row[k] = statistics.median(v)
            print(
                json.dumps(
                    {
                        "merges": m,
                        "encoder": k,
                        "median": round(statistics.median(v), 3),
                        "min": round(min(v), 3),
                        "max": round(max(v), 3),
                        "n": n,
                    }
                )
            )
        results[m] = row

    crossover = next(
        (
            m
            for m in ladder
            if m in expr_dead or results[m]["expr"] > results[m]["arrow"]
        ),
        None,
    )
    print(
        json.dumps(
            {
                "summary": "bpe-crossover",
                "vocab": n_vocab,
                "ladder": ladder,
                "crossover_merges": crossover,
                "expr_infeasible_at": expr_dead,
                "ratios_expr_over_arrow": {
                    m: round(r["expr"] / r["arrow"], 2)
                    for m, r in results.items()
                    if "expr" in r
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
