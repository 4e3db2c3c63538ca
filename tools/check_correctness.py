"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
same sf, compare row count, column names, and an order-insensitive value
multiset (columns sorted by name).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
                                         [--skip q1,q2]

``--skip`` excludes named queries (used by the sf10 sweep to leave out
the one quadratic-BY-DESIGN verification tier whose DuckDB oracle is an
all-pairs join — BENCH/gate_sf10_r05.txt's header gives the rationale
and the tiers that cover the same semantics at that scale).
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, int):
        return str(v)
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        f = float(v)
        return str(int(f)) if f == int(f) else repr(round(f, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def main():
    args = sys.argv[1:]
    skip: set[str] = set()
    if "--skip" in args:
        i = args.index("--skip")
        skip = set(args[i + 1].split(","))
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from data_quality_checker_spark.session import get_spark

    spark = get_spark(app_name="check-correctness", master="local[8]")
    # mirror the driver harness: it verifies rows with Arrow conversion
    # OFF, where createDataFrame rejects numpy scalars that an
    # Arrow-enabled session silently converts (the r3 ann_ivfpq red row)
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    # oracles_for retargets fixture-backed oracles to THIS sf (explicit
    # pin + fixture regeneration, not substring-sniffing), so the full
    # gate — flagship label oracles included — runs at any scale
    from data_quality_checker_spark import queries as qreg

    oracles = qreg.oracles_for(sf_dir)
    failures = []
    for name, fn in qs.items():
        if (only and name not in only) or name in skip:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        status = []
        if sorted(scols) != sorted(ocols):
            status.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            status.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not status:
            sm = rows_multiset(scols, srows)
            om = rows_multiset(ocols, orows)
            if sm != om:
                diff_s = list((sm - om).items())[:3]
                diff_o = list((om - sm).items())[:3]
                status.append(f"values spark-only={diff_s} oracle-only={diff_o}")
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            print(f"PASS  {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
