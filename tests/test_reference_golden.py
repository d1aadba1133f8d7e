"""Bit-exact parity with the reference's checked-in golden outputs.

The reference's golden tests seed glibc's rand() (std::srand(l)) and
push 100,000 random ints through map = (r % 100, 1), reduce = group
size (reference test1-1_thread_1_process.cpp:109-148,
test4-1_thread_4_process.cpp:110-132). This module reimplements glibc's
generator exactly (TYPE_3 additive feedback, stdlib/random_r.c
semantics) so OUR engine consumes the SAME 100k inputs the reference
did — and must reproduce the golden files
Test~1/test1-1_thread_1_process.txt (1 job) and
test4-1_thread_4_process.txt (4 concurrent jobs) byte-for-value.

Every test also checks the engine against a histogram computed here by
a plain ``Counter`` over the same inputs, so the engine is checked even
where the reference checkout (and its golden files) is absent; the
golden files are compared as well whenever they exist.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pytest

from mapreduceframework_spark.core.client import ModuloHistogramClient
from mapreduceframework_spark.core.job import run_job, start_map_reduce_job

GOLDEN_DIR = Path("/root/reference/Test~1")


def glibc_rand(seed: int, n: int) -> list[int]:
    """glibc rand(): TYPE_3 additive-feedback generator. 34-word state
    seeded by the 16807 LCG (seed 0 coerced to 1), 310 warm-up outputs
    discarded, then out = ((r[i-3] + r[i-31]) mod 2^32) >> 1."""
    if seed == 0:
        seed = 1
    buf = [0] * 34
    buf[0] = seed
    for i in range(1, 31):
        buf[i] = (16807 * buf[i - 1]) % 2147483647
    for i in range(31, 34):
        buf[i] = buf[i - 31]
    out = []
    for i in range(34, 344 + n):
        v = (buf[i - 3] + buf[i - 31]) % (1 << 32)
        buf.append(v)
        if i >= 344:
            out.append(v >> 1)
    return out


def parse_golden(name: str) -> dict[int, list[int]] | None:
    """{job_number: [count per key, ascending key order]}, or None when
    the golden file is absent."""
    path = GOLDEN_DIR / name
    if not path.exists():
        return None
    jobs: dict[int, list[int]] = {}
    for line in path.read_text().splitlines():
        if not line.strip():
            continue
        head, val = line.rsplit("\t", 1)
        job = int(head.split()[1])
        jobs.setdefault(job, []).append(int(val))
    return jobs


def expected_histogram(seed: int) -> dict[int, int]:
    """{r % 100: count} over the seed's 100k glibc rand() outputs —
    the reference test's map/reduce, computed without the engine."""
    return dict(Counter(v % 100 for v in glibc_rand(seed, 100_000)))


@pytest.fixture(scope="module")
def golden1():
    return parse_golden("test1-1_thread_1_process.txt")


@pytest.fixture(scope="module")
def golden4():
    return parse_golden("test4-1_thread_4_process.txt")


def _input_df(spark, seed: int):
    vals = glibc_rand(seed, 100_000)
    return spark.createDataFrame(
        list(enumerate(vals)), "key long, value long"
    )


def test_golden_single_job(spark, golden1):
    """test1: one job, seed 0 — our engine's histogram must equal the
    independent count and, when present, the reference's golden file
    exactly, count for count."""
    out = run_job(spark, ModuloHistogramClient(), _input_df(spark, 0))
    rows = out.orderBy("key").collect()
    counts = [r["cnt"] for r in rows]
    assert {r["key"]: r["cnt"] for r in rows} == expected_histogram(0)
    if golden1 is not None:
        assert counts == golden1[1]
    assert sum(counts) == 100_000


def test_golden_four_concurrent_jobs(spark, golden4):
    """test4: four jobs seeded 0..3, all started before any is closed
    (reference test4-1_thread_4_process.cpp:125-132) — exercises the
    concurrent multi-job API (O13) against the independent counts and,
    when present, the 4x100-line golden file.
    Seeds 0 and 1 coincide because glibc coerces seed 0 to 1; the
    golden file shows the same coincidence, which is itself evidence
    the generator replication is faithful."""
    jobs = [
        start_map_reduce_job(
            spark, ModuloHistogramClient(), _input_df(spark, seed)
        )
        for seed in range(4)
    ]
    outputs = []
    for jobno, job in enumerate(jobs, start=1):
        rows = sorted(job.result(), key=lambda r: r["key"])
        counts = [r["cnt"] for r in rows]
        hist = {r["key"]: r["cnt"] for r in rows}
        assert hist == expected_histogram(jobno - 1), f"job {jobno} mismatch"
        if golden4 is not None:
            assert counts == golden4[jobno], f"job {jobno} golden mismatch"
        outputs.append(hist)
    assert outputs[0] == outputs[1]  # the seed-0 == seed-1 coincidence
    if golden4 is not None:
        assert golden4[1] == golden4[2]
