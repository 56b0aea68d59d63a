#!/usr/bin/env python3
"""Run any of the engine's named queries from the command line.

    spark-submit --py-files geomesa_spark.zip jobs/run_query.py \
        --name knn --sf-dir /root/testdata/sf0.01
    python jobs/run_query.py --list
    python jobs/run_query.py --name xz3_bbox_time --explain

Every entry of ``__spark_entry__.queries()`` (the same registry the
correctness driver gates) is addressable by name; the result row count,
wall time and (optionally) the formatted physical plan are printed, and
``--out`` writes the full result as parquet. ``--oracle`` additionally
checks the result against the query's DuckDB twin over the same tables
with the typed comparison of ``tools/check_oracles.py``
(``geomesa_spark.oracle.mismatch``) and reports the first difference.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--name", help="query name (see --list)")
    ap.add_argument("--list", action="store_true",
                    help="print the available query names and exit")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--out", help="write the result as parquet here")
    ap.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan")
    ap.add_argument("--oracle", action="store_true",
                    help="also check the result against its DuckDB twin")
    ap.add_argument("--show", type=int, default=0, metavar="N",
                    help="print the first N result rows")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    import __spark_entry__ as entry

    qs = entry.queries()
    if args.list or not args.name:
        for n in qs:
            print(n)
        if not args.name:
            return
    if args.name not in qs:
        ap.error(f"unknown query {args.name!r}; see --list")

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName(f"run-query-{args.name}")
             .config("spark.sql.shuffle.partitions", str(max(8, args.cpus)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    else:
        n = df.count()
    wall = round(time.perf_counter() - t0, 3)
    if args.show:
        df.show(args.show, truncate=False)

    rec = {"query": args.name, "rows": n, "seconds": wall,
           "sf_dir": args.sf_dir}
    if args.oracle:
        from geomesa_spark.oracle import connect, mismatch
        diff = mismatch(df, connect(args.sf_dir),
                        entry.oracle_sql(args.sf_dir).get(args.name))
        rec["oracle"] = "match" if diff is None else diff
    spark.stop()
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
