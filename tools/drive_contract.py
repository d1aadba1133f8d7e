#!/usr/bin/env python
"""Drive the driver contract end-to-end, the way the round driver does:
import __spark_entry__, smoke entry(spark), then hash-compare every
queries()[name] against oracle_sql()[name] via DuckDB.

Usage: python tools/drive_contract.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def bag_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    hashes = sorted(
        hashlib.md5(("|".join(map(str, r))).encode()).hexdigest()
        for r in pdf.itertuples(index=False)
    )
    return hashlib.md5("".join(hashes).encode()).hexdigest()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        elif pdf[c].dtype.kind in "mM":
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
    return pdf


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as mod
    from mapreduceframework_spark.session import get_session

    # Python workers unpickle engine code, so they must import the
    # package too, from whatever directory this is run in.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    # Progress bars would share stdout lines with the OK records.
    spark = get_session(
        app_name="drive-contract", cpus=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    df = mod.entry(spark)
    n = df.count()
    print(f"entry: {n} rows, schema {df.schema.simpleString()}")
    assert n > 0, "entry() returned no rows"

    qs, osql = mod.queries(), mod.oracle_sql()
    print(f"queries: {len(qs)}  with-oracle: {len(osql)}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    names = args.names or sorted(qs)
    bad: list[str] = []
    for name in names:
        try:
            sdf = normalize(qs[name](spark, args.sf).toPandas())
            if name not in osql:
                print(f"OK {name} (rows-only: {len(sdf)} rows)")
                continue
            odf = normalize(con.execute(osql[name]).fetchdf())
            ok = len(sdf) == len(odf) and bag_hash(sdf) == bag_hash(odf)
            print(("OK " if ok else "MISMATCH ") + f"{name} ({len(sdf)} vs {len(odf)} rows)")
            if not ok:
                bad.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            bad.append(name)

    print("RESULT:", "ALL MATCH" if not bad else f"BAD: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
