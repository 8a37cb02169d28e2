"""Replicates the driver's correctness gate locally: runs every
queries() entry through Spark AND its oracle_sql() through DuckDB on
the same parquet tables, then compares row count, schema (column
names), and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from hugegraph_computer_spark.session import default_cpus, get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    cpus = default_cpus()
    spark = get_spark(
        app_name="check", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    qs, oq = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            df = fn(spark, sf_dir)
            cols = sorted(df.columns)
            srows = [r.asDict() for r in df.collect()]
        except Exception as e:  # keep checking the rest
            print(f"{name:28s} ERROR {type(e).__name__}: {str(e)[:160]}")
            failures += 1
            continue
        t_spark = time.monotonic() - t0
        if name not in oq:
            print(f"{name:28s} rows={len(srows):7d} spark={t_spark:6.1f}s (rows-only, no oracle)")
            continue
        t0 = time.monotonic()
        try:
            rel = con.sql(oq[name])
            ocols = sorted(rel.columns)
            idx = {c: rel.columns.index(c) for c in rel.columns}
            orows_raw = rel.fetchall()
        except Exception as e:
            print(f"{name:28s} ORACLE-ERROR {type(e).__name__}: {str(e)[:160]}")
            failures += 1
            continue
        t_duck = time.monotonic() - t0
        status = []
        if cols != ocols:
            status.append(f"SCHEMA {cols} vs {ocols}")
        if len(srows) != len(orows_raw):
            status.append(f"ROWS {len(srows)} vs {len(orows_raw)}")
        if not status:
            a = norm(srows, cols)
            b = sorted(
                (
                    tuple(
                        round(row[idx[c]], 9) if isinstance(row[idx[c]], float) else row[idx[c]]
                        for c in cols
                    )
                    for row in orows_raw
                ),
                key=lambda t: tuple(str(x) for x in t),
            )
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
                status.append(f"VALUES ({sum(1 for x, y in zip(a, b) if x != y)} rows differ) e.g. {diffs[:2]}")
        ok = "OK " if not status else "FAIL"
        print(
            f"{name:28s} {ok} rows={len(srows):7d} spark={t_spark:6.1f}s duck={t_duck:5.1f}s"
            + ("  " + "; ".join(status) if status else "")
        )
        failures += bool(status)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
