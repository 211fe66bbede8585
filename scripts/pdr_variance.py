"""Targeted variance probe for pipeline_dedup_report (VERDICT r12 item 3).

Measures the query N times in one fresh session and reports per-rep wall
time, Spark job count per rep, and storage-memory state, so the 1.82 s vs
5.62 s driver-run spread can be attributed: per-job scheduler overhead
(this query launches the most Spark JOBS of any in the suite — the CC
loop's per-round convergence actions), storage eviction of the leaked
persists, or genuine plan instability.

Usage: python scripts/pdr_variance.py [query] [reps] [sf_dir]
Prints one JSON line: {"reps": [...], "jobs_per_rep": [...], ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    query = sys.argv[1] if len(sys.argv) > 1 else "pipeline_dedup_report"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .appName("pdr-variance")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from duckdb_age_spark.contract import QUERIES

    fn = QUERIES[query]
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    times, jobs, rows = [], [], []
    for _ in range(reps):
        j0 = max(tracker.getJobIdsForGroup(None) or [-1])
        t0 = time.time()
        n = fn(spark, sf_dir).count()
        times.append(round(time.time() - t0, 3))
        j1 = max(tracker.getJobIdsForGroup(None) or [-1])
        jobs.append(j1 - j0)
        rows.append(n)
    try:
        n_cached = int(len(sc._jsc.sc().getRDDStorageInfo()))
    except Exception:
        n_cached = -1
    out = {
        "reps": times,
        "jobs_per_rep": jobs,
        "rows": rows,
        "median": sorted(times)[len(times) // 2],
        "spread": round(max(times) / min(times), 2),
        "cached_rdds_at_end": n_cached,
        "query": query,
        "sf_dir": sf_dir,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
