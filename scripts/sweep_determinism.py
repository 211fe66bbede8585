#!/usr/bin/env python
"""Determinism sweep for the money-sum query family (VERDICT r5 item 1).

Runs each hazard-family query N times under rotating Spark configs
(shuffle partitions 2..64, small/large scan splits — every knob that
changes float-sum reduction order — and the broadcast threshold, whose -1
also moves the graph operators and MinHash LSH off their driver regimes
onto the distributed plans) and asserts the canonicalized result hash NEVER
changes.  With the exact integer-unit sums of
operators/exact.py the hash is invariant by construction; this sweep is
the regression gate that proves it (the r5 tpch_q9 driver flake class).

Usage: python scripts/sweep_determinism.py [sf_dir] [iters] [query ...]
(query names override the default hazard FAMILY — used to sweep the
queries a round's code changes touched)
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILY = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q14",
    "tpch_q15",
    "tpch_q17",
    "tpch_q22",
    "events_tumbling",
    "cube_priority_status",
    # the MinHash LSH consumers: the threshold rotation moves them between
    # the small-corpus driver regime and the distributed plan
    "dedup_minhash_pairs",
    "dedup_clusters",
    "pipeline_dedup_report",
    "dedup_ngram_verify",
    "dedup_containment",
]

# (shuffle.partitions, files.maxPartitionBytes, autoBroadcastJoinThreshold)
# — small byte splits shatter the parquet scan into many input partitions,
# changing partial-sum order; a threshold of -1 turns off broadcast joins
# and the driver regimes (operators/iterate.collect_small) of connected
# components, PageRank and MinHash LSH, so their distributed plans run
CONFIGS = [
    ("2", "134217728", "10485760"),
    ("7", "1048576", "-1"),
    ("16", "4194304", "1048576"),
    ("32", "134217728", "-1"),
    ("64", "524288", "10485760"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    family = sys.argv[3:] or FAMILY

    from pyspark.sql import SparkSession

    from duckdb_age_spark.conf import apply_recommended_conf
    from scripts.check_oracle import canon

    # the shuffle partition count rotates per iteration (CONFIGS), so the
    # recipe leaves it unset here
    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))}]")
            .appName("determinism-sweep")
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    baseline: dict[str, str] = {}
    misses = 0
    t0 = time.time()
    for i in range(iters):
        sp, mpb, bcast = CONFIGS[i % len(CONFIGS)]
        spark.conf.set("spark.sql.shuffle.partitions", sp)
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        for name in family:
            df = canon(qs[name](spark, sf_dir).toPandas())
            h = hashlib.md5(df.to_csv(index=False).encode()).hexdigest()
            if name not in baseline:
                baseline[name] = h
            elif baseline[name] != h:
                print(f"HASH MISS {name} iter={i} conf=({sp},{mpb},{bcast}): {h} != {baseline[name]}")
                misses += 1
        print(f"iter {i + 1}/{iters} conf=({sp},{mpb},{bcast}) ok ({time.time() - t0:.0f}s)")
    print(f"\n{misses} hash misses over {iters} iters x {len(family)} queries")
    return 1 if misses else 0


if __name__ == "__main__":
    raise SystemExit(main())
