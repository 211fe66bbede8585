#!/usr/bin/env python
"""Interleaved wall-time measurement of named contract queries in ONE session.

Usage: python scripts/qtime.py <reps> <query> [<query> ...]

Runs the named queries round-robin (rep 1 of each, rep 2 of each, ...) so
box-weather drift hits all of them equally, then prints per-query medians.
Same session config as bench.py.  The timed action is a noop-sink write of
the full result — what a caller receives; a .count() lets Catalyst prune
UDF stages and exchanges out of the plan.  Env: SPARK_GRAFT_SF_DIR
(default sf0.1), SPARK_GRAFT_CPUS (default: the machine's core count).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))


def main() -> int:
    reps, names = int(sys.argv[1]), sys.argv[2:]

    from pyspark.sql import SparkSession

    from duckdb_age_spark.conf import apply_recommended_conf

    builder = apply_recommended_conf(
        SparkSession.builder.master(f"local[{CPUS}]").appName("qtime"),
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

    samples: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            contract.QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
    print()
    for name in names:
        s = sorted(samples[name])
        med = s[len(s) // 2]
        print(
            f"{name:36s} median {med:7.3f}  min {s[0]:7.3f}  all "
            + " ".join(f"{x:.2f}" for x in samples[name])
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
