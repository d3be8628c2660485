"""Driver-style correctness harness: run every queries() entry in Spark AND
its oracle_sql() twin in DuckDB on the same sf dir; compare row count,
column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [--all] [sf_dir] [query ...]

``--all`` is accepted and ignored: queries() is the whole registry.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = "documents embeddings".split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    if isinstance(v, (dt.datetime,)):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int,)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except Exception:
        pass
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    out.sort()
    return sorted(c for c in cols), out


def main():
    argv = [a for a in sys.argv[1:] if a != "--all"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app="check-oracle", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_sec = time.monotonic() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle; rows-only) [{spark_sec:.1f}s]")
            if len(srows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        sc, sv = _normalize([tuple(r) for r in srows], scols)
        dc, dv = _normalize(drows, dcols)
        if sc != dc:
            print(f"FAIL  {name}: columns {sc} vs {dc}")
            failures.append(name)
            continue
        if len(sv) != len(dv):
            print(f"FAIL  {name}: rowcount {len(sv)} vs {len(dv)}")
            failures.append(name)
            continue
        bad = [(a, b) for a, b in zip(sv, dv) if a != b]
        if bad:
            print(f"FAIL  {name}: {len(bad)}/{len(sv)} value mismatches; first: {bad[0]}")
            failures.append(name)
            continue
        print(f"PASS  {name}: {len(sv)} rows [{spark_sec:.1f}s]")
        if len(sv) == 0:
            print(f"  WARN {name}: zero rows (trivially passing)")
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
