"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and (where present) its
``oracle_sql()`` on DuckDB over the same parquet, then compares
row-count + column names + order-insensitive canonicalized value hash.

DuckDB runs under a fixed memory limit and thread count (it would take
80 % of RAM by default), and each oracle query under a fixed wall cap: a
timer interrupts the connection, and an interrupted oracle is a FAIL.

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from kinesis2elastic_spark.catalog import TABLES
from kinesis2elastic_spark.session import get_spark

DUCKDB_MEMORY_LIMIT = "4GB"
DUCKDB_THREADS = 2
ORACLE_WALL_CAP_S = 1020


def canon(v) -> str:
    """Canonicalize one value for hashing (dtype-insensitive)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    colnames = ",".join(cols[i] for i in order)
    canon_rows = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(canon_rows).encode()).hexdigest()[:16]
    return len(rows), colnames, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{DUCKDB_MEMORY_LIMIT}'")
    con.execute(f"SET threads={DUCKDB_THREADS}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        timed_out = threading.Event()

        def cap() -> None:
            timed_out.set()
            con.interrupt()

        timer = threading.Timer(ORACLE_WALL_CAP_S, cap)
        timer.start()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception:
            if timed_out.is_set():
                print(f"FAIL  {name}: duckdb timeout after {ORACLE_WALL_CAP_S}s")
            else:
                print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        finally:
            timer.cancel()
        sn, sc, sh = table_hash(scols, srows)
        on, oc, oh = table_hash(ocols, orows)
        ok = (sn, sc, sh) == (on, oc, oh)
        if ok:
            n_pass += 1
            print(f"PASS  {name}: {sn} rows  hash {sh}  ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            print(f"FAIL  {name}: spark=({sn},{sc},{sh}) duckdb=({on},{oc},{oh})")
            if sn == on and sc == oc:
                # find first differing canonical row for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = sorted("|".join(canon(r[i]) for i in so) for r in srows)
                oset = sorted("|".join(canon(r[i]) for i in oo) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        print(f"      spark : {a[:300]}\n      duckdb: {b[:300]}")
                        break
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
