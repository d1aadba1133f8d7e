"""Complete-key-run batching over key-sorted Arrow batch streams.

Used by operators/joins.py's as-of joins, which walk mapInPandas batch
iterators whose rows are key-sorted within the partition and must hand
downstream logic only COMPLETE key runs — a key's rows may straddle
Arrow batch boundaries, so each batch's trailing run is buffered
until the key changes.

The buffer is a LIST of frames, appended per batch and concatenated
once when the run completes — never re-concatenated per batch — so a
hot key with K rows across m batches costs O(K), not the O(K^2/B) of
the naive concat-carry (the skew hazard the call sites' 100 TB
framing warns about).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd


def _keys_eq(a, b) -> bool:
    """Null-safe key equality (NaN != NaN would split a null run)."""
    a_na, b_na = pd.isna(a), pd.isna(b)
    if a_na or b_na:
        return bool(a_na and b_na)
    return bool(a == b)


def _concat(frames: list[pd.DataFrame]) -> pd.DataFrame:
    return frames[0] if len(frames) == 1 else pd.concat(
        frames, ignore_index=True
    )


def iter_key_runs(
    batches: Iterable[pd.DataFrame], key_col: str
) -> Iterator[pd.DataFrame]:
    """Yield frames containing only complete key runs.

    ``batches`` must be key-sorted within the stream (Spark:
    ``repartition(key).sortWithinPartitions(key)`` upstream of
    ``mapInPandas``). Every yielded frame holds one or more WHOLE
    runs; a single run never spans two yielded frames. Yields follow
    input order, so downstream per-key logic sees each key exactly
    once.
    """
    carry: list[pd.DataFrame] = []
    carry_key = None  # meaningful only while carry is non-empty
    for pdf in batches:
        if not len(pdf):
            continue
        first_key = pdf[key_col].iloc[0]
        last_key = pdf[key_col].iloc[-1]
        if (
            carry
            and _keys_eq(carry_key, first_key)
            and _keys_eq(first_key, last_key)
        ):
            # The whole batch continues the buffered run: append, do
            # NOT concatenate (the hot-key O(K) guarantee).
            carry.append(pdf)
            continue
        # Split off this batch's trailing (possibly continuing) run.
        if pd.isna(last_key):
            trailing = pdf[key_col].isna()
        else:
            trailing = pdf[key_col] == last_key
        n_tail = int(trailing.iloc[::-1].cumprod().sum())
        cut = len(pdf) - n_tail
        head = pdf.iloc[:cut]
        to_yield: list[pd.DataFrame] = []
        if carry:
            if _keys_eq(carry_key, first_key):
                # The buffered run completes inside this batch's head.
                to_yield = carry + ([head] if len(head) else [])
            else:
                yield _concat(carry)
                if len(head):
                    to_yield = [head]
        elif len(head):
            to_yield = [head]
        if to_yield:
            yield _concat(to_yield)
        carry = [pdf.iloc[cut:]]
        carry_key = last_key
    if carry:
        yield _concat(carry)
