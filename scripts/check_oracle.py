"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at a
given SF, compare row count, column names, and an order-insensitive
value hash. Usage: python scripts/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from sparkstreaming_realtime_spark import TABLES
from sparkstreaming_realtime_spark.plans import oracle_sql, queries
from sparkstreaming_realtime_spark.session import get_spark


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--stock"]
    stock = "--stock" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if stock:
        # Environment-coupling guard: a *vanilla*
        # session, exactly what the driver harness builds — no UTC
        # pin, no nanosAsLong, no Arrow/AQE confs. Every data-shape
        # normalization must live in read_table, not in get_spark.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("stock-gate")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        # a fixture table is either a single parquet FILE (driver
        # testdata) or a DIRECTORY of part files (anything Spark
        # wrote, e.g. the scale-probe fixtures) — glob the latter
        import os as _os

        src = f"{sf_dir}/{t}.parquet"
        if _os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    qs, os_ = queries(), oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in os_:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            cur = con.execute(os_[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            hs, ho = table_hash(scols, srows), table_hash(ocols, orows)
            if hs != ho:
                problems.append(f"valuehash spark={hs} oracle={ho}")
        dt = time.time() - t0
        if problems:
            failures += 1
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems))
        else:
            print(f"PASS {name} ({dt:.1f}s, {len(srows)} rows)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
