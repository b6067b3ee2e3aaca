"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row counts, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return repr(value)
    return repr(value)


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon(r[i]) for i in order))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from dce_spark.spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows  (no oracle)")
            assert len(srows) >= 0
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:
            print(f"{name:28s} ORACLE ERROR: {exc}")
            failures.append(name)
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        s_canon = rows_canon(scols, [[r[c] for c in scols] for r in srows])
        d_canon = rows_canon(dcols, list(drows))
        ok_vals = s_canon == d_canon
        status = "OK" if (ok_cols and ok_count and ok_vals) else "MISMATCH"
        print(
            f"{name:28s} {status}: spark={len(srows)} duck={len(drows)} "
            f"cols={'=' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'}"
        )
        if not ok_vals and ok_cols and ok_count:
            diff = [
                (a, b) for a, b in zip(s_canon, d_canon) if a != b
            ][:3]
            for a, b in diff:
                print(f"   spark: {a}\n   duck : {b}")
        if status != "OK":
            failures.append(name)
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL ORACLES MATCH")


if __name__ == "__main__":
    main()
