#!/usr/bin/env python
"""One-off per-stage profile of a single query at a given sf_dir.

Runs the query once, then dumps the top-N completed stages by executor
task time from the Spark REST API, with shuffle bytes and row counts —
the raw material for deciding WHERE the wall clock goes before touching
any operator.  Companion to scripts/scale_evidence.py (which records the
single heaviest stage per query for the committed evidence log); this one
is interactive and prints everything.

Usage: python scripts/stage_profile.py <sf_dir> <query> [top_n]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UI_PORT = 4087


def _api(path: str):
    with urllib.request.urlopen(f"http://localhost:{UI_PORT}/api/v1{path}", timeout=30) as r:
        return json.load(r)


def main() -> int:
    sf_dir, name = sys.argv[1], sys.argv[2]
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 20

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stage-profile")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.ui.retainedStages", "5000")
        .config("spark.ui.retainedJobs", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from duckdb_age_spark import contract

    fn = contract.QUERIES[name]
    t0 = time.time()
    df = fn(spark, sf_dir)
    rows = df.count()
    wall = time.time() - t0
    app = _api("/applications")[0]["id"]
    stages = _api(f"/applications/{app}/stages?status=complete")
    stages.sort(key=lambda s: -s.get("executorRunTime", 0))
    print(json.dumps({"query": name, "sf_dir": sf_dir, "wall_s": round(wall, 1), "rows": rows,
                      "n_stages": len(stages)}))
    for st in stages[:top_n]:
        print(json.dumps({
            "stage": st["stageId"],
            "run_s": round(st.get("executorRunTime", 0) / 1000, 1),
            "cpu_s": round(st.get("executorCpuTime", 0) / 1e9, 1),
            "tasks": st.get("numCompleteTasks"),
            "in_rec": st.get("inputRecords"),
            "sh_r_mb": round(st.get("shuffleReadBytes", 0) / 1e6, 1),
            "sh_w_mb": round(st.get("shuffleWriteBytes", 0) / 1e6, 1),
            "sh_w_rec": st.get("shuffleWriteRecords"),
            "name": (st.get("name") or "")[:70],
        }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
