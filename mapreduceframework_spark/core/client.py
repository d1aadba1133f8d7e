"""The generic MapReduce client contract, re-expressed for Spark.

Reference contract (MapReduceClient.h:55-65): the user supplies
``map(K1*, V1*, ctx)`` which calls ``emit2(K2*, V2*)`` 0..n times, and
``reduce(IntermediateVec*, ctx)`` which receives ALL pairs of exactly one
key and calls ``emit3(K3*, V3*)`` 0..n times. Keys are comparator-only;
values are opaque (MapReduceClient.h:9-44).

Here the same contract is a pair of generators — ``emit`` becomes
``yield`` — plus declared Arrow-friendly schemas. The deliberate
narrowing (documented, SURVEY.md section 7 hard-part 3): keys and values
are Spark SQL types rather than arbitrary C++ classes; key equality is
the type's equality, which for orderable atomic types coincides with the
reference's order-equivalence rule ``!(a<b) && !(b<a)``
(JobContext.cpp:102-104). Truly opaque payloads can use BinaryType.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from collections import Counter
from collections.abc import Callable, Iterable, Iterator
from typing import Any


class MapReduceClient(ABC):
    """User job: subclass, implement ``map`` and ``reduce``.

    Schemas are Spark DDL strings. ``intermediate_schema`` must be a
    two-field "<k2 name> <type>, <v2 name> <type>" schema; the first
    field is the shuffle key. ``output_schema`` is the reduce output row.
    The instance is pickled into executor tasks — keep it stateless (the
    reference's clients are too: all state flows through emit).

    ``combine`` is an optional map-side combiner, Hadoop's contract
    (the reference has none): ``combine(key, values)`` receives some of
    one key's intermediate values and yields (k2, v2) pairs of the
    intermediate schema under that same key. ``reduce`` must give the
    same result whether ``combine`` ran 0, 1 or many times, over any
    split of a key's values — an associative, commutative sum is the
    usual shape. core/job.py runs it once per key per map-side Arrow
    batch; core/rdd.py never runs it.
    """

    #: shuffle key + value, e.g. "ch string, n long"
    intermediate_schema: str = "k2 string, v2 long"
    #: reduce output, e.g. "ch string, total long"
    output_schema: str = "k3 string, v3 long"
    #: optional map-side combiner, see the class docstring
    combine: Callable[[Any, list[Any]], Iterator[tuple[Any, Any]]] | None = None

    @abstractmethod
    def map(self, key: Any, value: Any) -> Iterator[tuple[Any, Any]]:
        """Per input record; yield (k2, v2) 0..n times (emit2
        semantics, reference MapReduceFramework.cpp:22-32)."""

    @abstractmethod
    def reduce(self, key: Any, values: list[Any]) -> Iterator[tuple[Any, ...]]:
        """Called once per distinct key with ALL its values (reference
        MapReduceClient.h:61-64); yield output rows 0..n times (emit3)."""


class CharCountClient(MapReduceClient):
    """The reference's SampleClient (SampleClient.cpp:32-66): map emits a
    per-document character histogram (user-level map-side combine),
    reduce sums counts per character, and the same sum combines each
    map batch's counts across its documents."""

    intermediate_schema = "ch string, n long"
    output_schema = "ch string, cnt long"

    def map(self, key: Any, value: str) -> Iterator[tuple[str, int]]:
        yield from Counter(value or "").items()

    def combine(self, key: str, values: list[int]) -> Iterator[tuple[str, int]]:
        yield key, sum(values)

    def reduce(self, key: str, values: list[int]) -> Iterator[tuple[str, int]]:
        yield key, sum(values)


class ModuloHistogramClient(MapReduceClient):
    """The reference's golden-test client
    (test1-1_thread_1_process.cpp:59-77): map emits (k % 100, 1), reduce
    emits the group size — the sum of the ones, so that partial counts
    combined on the map side add up to the same size."""

    intermediate_schema = "key long, one long"
    output_schema = "key long, cnt long"

    def map(self, key: Any, value: int) -> Iterator[tuple[int, int]]:
        yield int(value) % 100, 1

    def combine(self, key: int, values: list[int]) -> Iterator[tuple[int, int]]:
        yield key, sum(values)

    def reduce(self, key: int, values: list[int]) -> Iterator[tuple[int, int]]:
        yield key, sum(values)


class FilterEvensClient(MapReduceClient):
    """Emit-zero-shaped client (contract allows 0 emissions,
    MapReduceClient.h:58): keeps odd values only, identity reduce. Its
    keys are distinct, so a combiner would have nothing to merge."""

    intermediate_schema = "k long, v long"
    output_schema = "k long, v long"

    def map(self, key: Any, value: int) -> Iterator[tuple[int, int]]:
        if int(value) % 2 == 1:
            yield int(value), int(value)

    def reduce(self, key: int, values: list[int]) -> Iterator[tuple[int, int]]:
        for v in values:
            yield key, v


def as_rows(pairs: Iterable[tuple[Any, Any]]) -> list[tuple[Any, Any]]:
    """Helper for tests: materialize emissions."""
    return list(pairs)
