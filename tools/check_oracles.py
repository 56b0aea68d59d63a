#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and check it against its ``oracle_sql()``
twin on DuckDB over the same parquet tables, with the one typed
comparison (``geomesa_spark.oracle.mismatch``).

    python tools/check_oracles.py [name ...]   # SF from $SPARK_GRAFT_SF_DIR
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from geomesa_spark.oracle import connect, mismatch

    only = set(sys.argv[1:])
    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = connect(SF_DIR)
    oracles = entry.oracle_sql(SF_DIR)
    failed = []
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        diff = mismatch(fn(spark, SF_DIR), con, oracles.get(name))
        print(f"{name:26s} {'OK' if diff is None else 'MISMATCH ' + diff}")
        if diff is not None:
            failed.append(name)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("all oracle checks passed")


if __name__ == "__main__":
    main()
