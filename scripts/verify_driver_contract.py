#!/usr/bin/env python
"""Driver-mirror verification: exercise __spark_entry__.py exactly as the
round driver does.

1. smoke: ``entry(spark)`` on sf0.001 must return >=0 rows, stable schema.
2. correctness: each ``queries()[name]`` at sf0.01 vs ``oracle_sql()[name]``
   in DuckDB — row count + sorted-column-names schema + order-insensitive
   value hash.

Exit 0 iff everything matches. Usage: python scripts/verify_driver_contract.py
[--sf-dir /root/testdata/sf0.01] [--only name1,name2]
[--distributed]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ram_datapipeline_spark.catalog import TABLE_NAMES
from ram_datapipeline_spark.session import get_spark


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash: sort columns by name, render every cell to a
    canonical string, sort rows, sha256."""
    pdf = pdf[sorted(pdf.columns)]

    def cell(v):
        if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
            return "\\N"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--times-out",
        default="",
        help="write per-query wall times (spark-only and total incl. "
        "oracle+hash) as JSON — the full-sweep bench trend record "
        "(VERDICT r11 #3)",
    )
    ap.add_argument(
        "--distributed",
        action="store_true",
        help="set dedup.LOCAL_CC_MAX_EDGES and graph.LOCAL_LPA_MAX_EDGES "
        "to 0 for the run, so connected components and label propagation "
        "take their distributed over-gate paths",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    if args.distributed:
        from ram_datapipeline_spark.operators import dedup, graph

        dedup.LOCAL_CC_MAX_EDGES = 0
        graph.LOCAL_LPA_MAX_EDGES = 0

    spark = get_spark(app_name="verify-driver-contract")

    # 1. smoke
    t0 = time.time()
    df = entry_mod.entry(spark)
    n = df.count()
    print(f"[smoke] entry() -> {n} rows, schema={df.schema.simpleString()} "
          f"({time.time()-t0:.1f}s)")
    if n < 0:
        return 1

    # 2. correctness vs duckdb
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(args.sf_dir, name + '.parquet')}')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    failures = []
    times: dict[str, dict[str, float]] = {}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        spark_pdf = fn(spark, args.sf_dir).toPandas()
        t_spark = round(time.time() - t0, 3)
        # iterative operators (graph, kcore, CC) persist intermediates for
        # the duration of the session by contract — drop them between
        # queries so the 134-query sweep doesn't accumulate cache
        spark.catalog.clearCache()
        if name not in oracles:
            times[name] = {"spark_s": t_spark, "total_s": t_spark}
            print(f"[rows-only] {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            continue
        duck_pdf = con.execute(oracles[name]).df()
        sh, dh = value_hash(spark_pdf), value_hash(duck_pdf)
        ok = (
            len(spark_pdf) == len(duck_pdf)
            and sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
            and sh == dh
        )
        status = "OK " if ok else "FAIL"
        times[name] = {
            "spark_s": t_spark, "total_s": round(time.time() - t0, 3)
        }
        print(
            f"[{status}] {name}: rows {len(spark_pdf)}/{len(duck_pdf)} "
            f"hash {'=' if sh == dh else f'{sh[:12]}!={dh[:12]}'} ({time.time()-t0:.1f}s)"
        )
        if not ok:
            failures.append(name)
    if args.times_out:
        import json

        with open(args.times_out, "w") as fh:
            json.dump(
                {"sf_dir": args.sf_dir, "times": times}, fh, indent=1
            )
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("all queries match their oracles")
    return 0


if __name__ == "__main__":
    sys.exit(main())
