"""Unit tests for core/keyruns.iter_key_runs — the complete-key-run
batcher of the as-of joins (operators/joins.py). Pure pandas; no Spark
session needed."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapreduceframework_spark.core.keyruns import iter_key_runs


def _frames(rows, sizes):
    """Split [(k, v), ...] into DataFrames of the given sizes."""
    out, i = [], 0
    for s in sizes:
        chunk = rows[i : i + s]
        out.append(
            pd.DataFrame({"k": [r[0] for r in chunk],
                          "v": [r[1] for r in chunk]})
        )
        i += s
    assert i == len(rows)
    return out


def _runs_of(frames):
    got = []
    for f in iter_key_runs(frames, "k"):
        got.append(list(zip(f["k"].tolist(), f["v"].tolist())))
    return got


def _reassembled(frames):
    return [r for chunk in _runs_of(frames) for r in chunk]


@pytest.mark.parametrize("sizes", [
    [9], [1] * 9, [3, 3, 3], [2, 5, 2], [4, 1, 4],
])
def test_every_split_reassembles_and_never_splits_a_run(sizes):
    rows = [(1, 0), (1, 1), (2, 2), (2, 3), (2, 4), (3, 5), (4, 6),
            (4, 7), (5, 8)]
    assert _reassembled(_frames(rows, sizes)) == rows
    for chunk in _runs_of(_frames(rows, sizes)):
        keys = [k for k, _ in chunk]
        # complete runs only: a chunk's key set never reappears later
        assert keys == sorted(keys, key=keys.index)  # contiguity
    seen = []
    for chunk in _runs_of(_frames(rows, sizes)):
        for k in {k for k, _ in chunk}:
            assert k not in seen, f"key {k} split across yields"
        seen += [k for k, _ in chunk]


def test_hot_key_buffers_without_requadrating():
    # A single key spanning many batches must be buffered as appended
    # frames (the O(K) path), and still come out as ONE run.
    rows = [(7, i) for i in range(1000)] + [(8, 1000)]
    frames = _frames(rows, [10] * 100 + [1])
    runs = _runs_of(frames)
    assert [r for chunk in runs for r in chunk] == rows
    # the hot key is exactly one yielded run
    hot = [chunk for chunk in runs if chunk[0][0] == 7]
    assert len(hot) == 1 and len(hot[0]) == 1000


def test_null_keys_form_one_run():
    rows = [(1.0, 0), (np.nan, 1), (np.nan, 2), (2.0, 3)]
    frames = _frames(rows, [2, 2])
    runs = _runs_of(frames)
    nan_runs = [
        c for c in runs if any(pd.isna(k) for k, _ in c)
    ]
    assert len(nan_runs) == 1 and len(nan_runs[0]) == 2
    flat = [v for c in runs for _, v in c]
    assert sorted(flat) == [0, 1, 2, 3]


def test_empty_batches_are_skipped():
    rows = [(1, 0), (1, 1), (2, 2)]
    frames = _frames(rows, [2, 0, 1])
    assert _reassembled(frames) == rows
