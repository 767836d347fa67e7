"""Local correctness harness mirroring the driver's gate.

For every key in __spark_entry__.queries(): run the Spark DataFrame
and the DuckDB oracle SQL on the same parquet dir, then compare
row count, sorted column names, and the full (column-name-sorted,
row-sorted) value multiset. Floats must match exactly — that is what
an order-insensitive value-hash implies — so any near-miss is
reported separately as a hash risk.

Usage: python check.py [key-substring ...] [--sf DIR]
"""
from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out, [cols[i] for i in order]


# Wire-type families that serialize identically for equal values across the
# two engines (Spark simpleString ↔ DuckDB type).  Anything outside this map
# — e.g. DuckDB HUGEINT or an unexpectedly widened DECIMAL vs Spark BIGINT —
# is exactly the class of mismatch that the driver's serialized value-hash
# catches while a float-normalizing python comparison does not
# (seen: q_agg_distinct in CORRECTNESS_r02).
_TYPE_OK = {
    # int-width differences are tolerated by the driver's hash: q_window_rank
    # (Spark rank() → int, DuckDB rank() → BIGINT) was hash-green in r02.
    # HUGEINT / widened DECIMAL are NOT (q_agg_distinct was hash-red).
    ("int", "BIGINT"), ("bigint", "INTEGER"),
    ("bigint", "BIGINT"), ("int", "INTEGER"), ("smallint", "SMALLINT"),
    ("tinyint", "TINYINT"), ("double", "DOUBLE"), ("float", "FLOAT"),
    ("string", "VARCHAR"), ("boolean", "BOOLEAN"), ("date", "DATE"),
    ("timestamp", "TIMESTAMP"), ("timestamp_ntz", "TIMESTAMP"),
    ("timestamp", "TIMESTAMP_NS"), ("timestamp_ntz", "TIMESTAMP_NS"),
}


def type_mismatches(sschema, dcols, dtypes):
    """(col, spark_type, duck_type) triples that risk a driver hash miss."""
    dmap = {c: str(t) for c, t in zip(dcols, dtypes)}
    bad = []
    for f in sschema.fields:
        st, dt = f.dataType.simpleString(), dmap.get(f.name)
        if dt is None:
            continue
        if (st, dt) in _TYPE_OK or st.upper() == dt:
            continue
        bad.append((f.name, st, dt))
    return bad


def main():
    argv, args, sf = sys.argv[1:], [], "/root/testdata/sf0.01"
    i = 0
    while i < len(argv):
        if argv[i] == "--sf":
            sf = argv[i + 1]
            i += 2
        else:
            if not argv[i].startswith("--"):
                args.append(argv[i])
            i += 1

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as E
    from engine.session import get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf}/{t}.parquet"
        if os.path.isdir(path):  # a Spark-written table (the x10 fixture)
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs, oracles = E.queries(), E.oracle_sql()
    keys = [k for k in sorted(qs) if not args or any(a in k for a in args)]
    passed = failed = rows_only = 0
    for k in keys:
        t0 = time.time()
        try:
            df = qs[k](spark, sf)
            scols = df.columns
            srows = df.collect()
        except Exception as e:
            print(f"FAIL {k}: SPARK ERROR {type(e).__name__}: {str(e)[:400]}")
            failed += 1
            continue
        if k not in oracles:
            print(f"ok?  {k}: rows-only, {len(srows)} rows  ({time.time()-t0:.1f}s)")
            rows_only += 1
            continue
        try:
            rel = con.sql(oracles[k])
            dcols, dtypes = rel.columns, rel.types
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {k}: DUCKDB ERROR {type(e).__name__}: {str(e)[:400]}")
            failed += 1
            continue
        tbad = type_mismatches(df.schema, dcols, dtypes)
        if tbad:
            print(f"FAIL {k}: wire-type mismatch {tbad}")
            failed += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {k}: row count spark={len(srows)} duckdb={len(drows)}")
            failed += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {k}: schema spark={sorted(scols)} duckdb={sorted(dcols)}")
            failed += 1
            continue
        s, cols = canon(srows, scols)
        d, _ = canon(drows, dcols)
        if s == d:
            print(f"PASS {k}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            passed += 1
        else:
            bad = next(i for i in range(len(s)) if s[i] != d[i])
            print(f"FAIL {k}: value mismatch at sorted-row {bad}")
            print(f"  cols   {cols}")
            print(f"  spark  {s[bad]}")
            print(f"  duckdb {d[bad]}")
            failed += 1
    print(f"\n{passed} pass / {failed} fail / {rows_only} rows-only "
          f"of {len(keys)} keys")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
