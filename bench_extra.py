#!/usr/bin/env python3
"""Focused per-query benchmark (guide §1.4): times individual declared
queries with the noop sink so the computation is isolated from the
collecting sink, and optionally dumps .explain("formatted") plans.

This is a side harness for optimization work; the frozen bench.py
remains the measurement of record.

Usage:
  python bench_extra.py [--sf DIR] [--repeats N] [--plans OUTDIR] \
      [--cpus N] [query ...]

--sf defaults to the sf0.1 testdata, --cpus to the cores this process
may run on.

Prints one JSON line: {"sf": ..., "queries": {name: min_sec},
"queries_all": {name: [s, s, ...]}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>.txt formatted plans")
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from dce_spark.spark.session import get_spark

    spark = get_spark(
        app_name="dce-bench-extra",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus * 2, 8),
    )

    all_queries = entrymod.queries()
    names = args.queries or list(all_queries)
    unknown = [n for n in names if n not in all_queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # one untimed warm pass (workers/JIT), mirroring bench.py
    try:
        all_queries[names[0]](spark, args.sf).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass

    out_q: dict = {}
    out_all: dict = {}
    for name in names:
        fn = all_queries[name]
        if args.plans:
            Path(args.plans).mkdir(parents=True, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (Path(args.plans) / f"{name}.txt").write_text(plan)
        walls = []
        for _ in range(args.repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out_q[name] = min(walls)
        out_all[name] = walls
        print(f"# {name}: min={min(walls)} all={walls}", file=sys.stderr)
    print(json.dumps({"sf": args.sf, "queries": out_q,
                      "queries_all": out_all}))


if __name__ == "__main__":
    main()
