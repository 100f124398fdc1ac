"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry at a given sf dir and compare against
oracle_sql() via DuckDB — row count, sorted column names, and
order-insensitive value multiset. Prints one line per query.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01]
       [--only name1,name2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    try:  # Decimal → canonical float-ish string
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.10g}"
    except ImportError:
        pass
    return str(v)


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = "\x1f".join(norm_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return sorted(cols), out


def compare(scols, srows, ocols, orows) -> list[str]:
    """Check a Spark result (column names, rows as
    sequences in that column order) against its DuckDB oracle: row
    count, sorted column names and the order-insensitive multiset of
    normalized values. Returns the differences; empty when equal."""
    sc, sm = df_multiset(scols, srows)
    oc, om = df_multiset(ocols, orows)
    status = []
    if len(srows) != len(orows):
        status.append(f"rowcount {len(srows)} vs {len(orows)}")
    if sc != oc:
        status.append(f"cols {sc} vs {oc}")
    elif sm != om:
        miss = [k for k in om if om[k] != sm.get(k, 0)][:3]
        extra = [k for k in sm if sm[k] != om.get(k, 0)][:3]
        status.append(f"values differ; oracle-only={miss} "
                      f"spark-only={extra}")
    return status


def oracle_db(sf: str):
    """A DuckDB connection with one view per sf table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf}/{t}.parquet'")
    return con


def parse_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    return ap.parse_args(argv)


def main() -> int:
    args = parse_args()

    import __spark_entry__ as entry
    from crawler_spark.plans.session import get_spark

    spark = get_spark("check_oracle", cores=8, shuffle_partitions=8)
    con = oracle_db(args.sf)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:20s} spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name:20s} rows={len(srows)} (no oracle) "
                  f"{time.time()-t0:.1f}s")
            if len(srows) == 0:
                print(f"WARN  {name:20s} produced 0 rows")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:20s} duckdb error: {e}")
            n_fail += 1
            continue
        status = compare(scols, [[r[c] for c in scols] for r in srows],
                         ocols, orows)
        if status:
            print(f"FAIL  {name:20s} {'; '.join(status)}")
            n_fail += 1
        else:
            print(f"OK    {name:20s} rows={len(srows)} "
                  f"{time.time()-t0:.1f}s")
    print(f"done: {n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
