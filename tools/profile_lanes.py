#!/usr/bin/env python3
"""Per-lane profiling: split build (driver-side plan construction) from
execution (count action), and count the Spark jobs each lane launches.

Usage, from the root of the tree to profile:
    python3 tools/profile_lanes.py <lane> [<lane> ...] [--passes N]

The lanes are imported from the current directory's package, not from
this script's checkout, so one copy of the script profiles any tree
(tools/ab.py runs it in two). Prints one JSON line per lane:
  {"lane": ..., "build_s": ..., "exec_s": ..., "jobs": N, "rows": N,
   "passes": k}
build_s / exec_s are best-of-N; jobs and rows (the count() result) are
from the last pass (both are deterministic per lane).
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    passes = 2
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        del args[i:i + 2]
    names = args
    if not os.path.isfile(os.path.join(os.getcwd(), "cql_replicator_spark",
                                       "queries.py")):
        sys.exit("no cql_replicator_spark package in the current directory; "
                 "run from the root of a checkout")
    sys.path.insert(0, os.getcwd())

    from cql_replicator_spark.queries import REGISTRY, queries
    from cql_replicator_spark.session import get_spark

    queries()
    spark = get_spark("profile", extra_conf={
        "spark.ui.enabled": "false",
        "spark.sql.shuffle.partitions": os.environ.get(
            "SPARK_GRAFT_CPUS", "32"),
    })
    sc = spark.sparkContext

    # warm-up (mirrors bench.py)
    from pyspark.sql import functions as F
    from cql_replicator_spark.session import load_tables
    t = load_tables(spark, SF_DIR)
    w = t["orders"].select("o_orderkey").limit(10_000)
    w.join(w.withColumnRenamed("o_orderkey", "k"),
           w.o_orderkey == F.col("k")).groupBy().count().count()

    for name in names:
        best_build = best_exec = float("inf")
        jobs = rows = 0
        for _ in range(passes):
            ids0 = set(sc.statusTracker().getJobIdsForGroup() or [])
            t0 = time.perf_counter()
            df = REGISTRY[name].build(spark, SF_DIR)
            t1 = time.perf_counter()
            rows = df.count()
            t2 = time.perf_counter()
            ids1 = set(sc.statusTracker().getJobIdsForGroup() or [])
            jobs = len(ids1 - ids0)
            best_build = min(best_build, t1 - t0)
            best_exec = min(best_exec, t2 - t1)
        print(json.dumps({
            "lane": name,
            "build_s": round(best_build, 3),
            "exec_s": round(best_exec, 3),
            "jobs": jobs,
            "rows": rows,
            "passes": passes,
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
