"""Seeded input generator for the benchmark.

Writes the engine's tables (the schemas pinned in
``mapreduceframework_spark/sources/registry.py``) as one parquet file per
table, with the value domains of the engine's reference test data: a
TPC-H-shaped star schema plus a text corpus and an embedding table. The
benchmark cannot read data from outside its checkout, so it synthesises
the inputs instead of copying them.

Properties the measured queries depend on, kept on purpose:

* ``documents``: a 30-word vocabulary, 10-100 words per document; 5% of
  documents are another document plus the word ``dup`` (the near
  duplicates the dedup operators find) and a few are exact copies.
* ``lineitem``: about 4 lines per order, ``(l_orderkey, l_linenumber)`` not
  unique, quantities 1-50 so that some orders pass TPC-H Q18's
  ``SUM(l_quantity) > 250``; prices, discounts and taxes carry at most
  two decimals (the engine's exact-decimal TPC-H rows rely on it).
* ``embeddings``: unit-norm 64-d float32 vectors with labels 0-9.

The same seed gives the same bytes (numpy's PCG64 stream plus pyarrow's
default writer, no pandas metadata); :func:`fingerprint` digests them.
Each table is written with the writer's defaults, so it is one file with
one row group; the engine's scan parallelism follows that layout.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.14, 0.15])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
ADJ = np.array("large hot blue old cold red green small".split())
NOUN = np.array("ring bolt plate nut gear pipe wire spring".split())
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ORDER_STATUS = np.array(["O", "P", "F"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["O", "F"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Rows per table at scale 1.0 (the reference data's sf1 proportions).
ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


# The reference data keeps at least 500 documents and embeddings at
# every scale factor.
MIN_ROWS = {"documents": 500, "embeddings": 500}


def _rows(name: str, scale: float) -> int:
    return max(MIN_ROWS.get(name, 10), int(round(ROWS_SF1[name] * scale)))


def _str(values: np.ndarray) -> pa.Array:
    return pa.array(values.tolist(), pa.string())


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    d = rng.integers(lo, hi, n).astype("int64") * DAY_US
    return pa.array(EPOCH_1995.astype("int64") + d, pa.timestamp("us"))


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _region() -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })


def _nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, n, -999.99, 9999.99)),
        "c_mktsegment": _str(SEGMENTS[rng.integers(0, 5, n)]),
    })


def _supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, n, -999.99, 9999.99)),
    })


def _part(rng: np.random.Generator, n: int) -> pa.Table:
    names = np.char.add(
        np.char.add(ADJ[rng.integers(0, len(ADJ), n)], " "),
        NOUN[rng.integers(0, len(NOUN), n)],
    )
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _str(names),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()
        ),
        "p_type": _str(PTYPES[rng.integers(0, len(PTYPES), n)]),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0),
    })


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": _str(ORDER_STATUS[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_cents(rng, n, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n, 0, 2404),
        "o_orderpriority": _str(PRIORITIES[rng.integers(0, 5, n)]),
    })


def _lineitem(
    rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int
) -> pa.Table:
    # Lines land on orders at random, in random row order (Poisson(4)
    # lines per order), so some orders carry 7+ lines and pass Q18's
    # quantity threshold.
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_cents(rng, n, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _str(RETURN_FLAGS[rng.integers(0, 3, n)]),
        "l_linestatus": _str(LINE_STATUS[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, n, 1, 2499),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for _ in range(n):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    # Near duplicates: another document's text plus " dup" (jaccard ~0.99
    # on word 3-grams); exact duplicates: a verbatim copy.
    near = rng.choice(n, size=n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    exact = rng.choice(n, size=max(2, n // 600), replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _str(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype("float32").ravel(), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _build(name: str, rng: np.random.Generator, scale: float) -> pa.Table:
    if name == "region":
        return _region()
    if name == "nation":
        return _nation()
    if name == "customer":
        return _customer(rng, _rows("customer", scale))
    if name == "supplier":
        return _supplier(rng, _rows("supplier", scale))
    if name == "part":
        return _part(rng, _rows("part", scale))
    if name == "orders":
        return _orders(rng, _rows("orders", scale), _rows("customer", scale))
    if name == "lineitem":
        return _lineitem(
            rng, _rows("lineitem", scale), _rows("orders", scale),
            _rows("part", scale), _rows("supplier", scale),
        )
    if name == "documents":
        return _documents(rng, _rows("documents", scale))
    if name == "embeddings":
        return _embeddings(rng, _rows("embeddings", scale))
    raise KeyError(f"no generator for table {name!r}")


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def fingerprint(manifest: dict) -> str:
    """One digest over every table's file digest, in table-name order."""
    parts = [f"{t}:{manifest['tables'][t]['sha256']}" for t in sorted(manifest["tables"])]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def generate(out_dir: str, seed: int, tables: tuple[str, ...], scale: float) -> dict:
    """Write ``tables`` for ``seed`` at ``scale`` into ``out_dir`` and
    return the manifest: rows, row groups and sha256 per file, plus the
    combined fingerprint. Each table draws from its own seeded stream,
    so a table's bytes do not depend on which other tables are built."""
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict = {"seed": seed, "scale": scale, "tables": {}}
    for name in sorted(tables):
        rng = np.random.Generator(np.random.PCG64([seed, zlib.crc32(name.encode())]))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(_build(name, rng, scale), path)
        meta = pq.ParquetFile(path).metadata
        manifest["tables"][name] = {
            "rows": meta.num_rows,
            "row_groups": meta.num_row_groups,
            "sha256": file_sha256(path),
        }
    manifest["fingerprint"] = fingerprint(manifest)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

