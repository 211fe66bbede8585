#!/usr/bin/env python
"""Capture .explain("formatted") for named contract queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> <suffix> <query> [<query> ...]
       python scripts/capture_plans.py r15 before dedup_clusters graph_hits

Writes plans/<tag>/<query>_<suffix>.txt with the formatted physical plan of
the DataFrame each contract query returns at $SPARK_GRAFT_SF_DIR (default
sf0.1).  Planning only — no job is executed — so it is safe to run while a
bench sweep occupies the box is NOT true (JVM startup bursts); run it in a
quiet window.  Session config mirrors bench.py so the captured plan is the
plan the bench actually runs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))


def main() -> int:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    from duckdb_age_spark.conf import apply_recommended_conf

    builder = apply_recommended_conf(
        SparkSession.builder.master(f"local[{CPUS}]").appName("capture-plans"),
        shuffle_partitions=int(CPUS),
    )
    builder = (
        builder
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from duckdb_age_spark.jvm import register_jvm_crypto

        register_jvm_crypto(spark)
    except Exception:
        pass

    from duckdb_age_spark import contract

    for name in names:
        df = contract.QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
