#!/usr/bin/env python
"""Generate scaled-up replicas of the sf0.1 fixture for scale-evidence runs.

Replicates every table N times with disjoint key offsets so per-replica
join structure (orders↔lineitem↔customer, part/supplier dims, co-purchase
graph) is preserved while global cardinalities scale linearly — the
workload a 100 TB cluster job sees, shrunk to what this box can hold.
Document texts get a replica-tag prefix token so near-dup structure scales
instead of exploding into cross-replica exact duplicates (hot-bucket caps
exist for that; here we measure the LINEAR regime).

Output goes to .scale/sf{X}/ under the repo root (gitignored).  Never touches
/root/testdata.

Usage: python scripts/make_scale_data.py <replicas> [out_name]
   e.g. python scripts/make_scale_data.py 10 sf1
        python scripts/make_scale_data.py 100 sf10
"""

from __future__ import annotations

import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"

# per-table key columns and their offset strides (disjoint ranges per replica)
OFFSETS = {
    "orders": {"o_orderkey": 10**9, "o_custkey": 10**6},
    "lineitem": {"l_orderkey": 10**9, "l_partkey": 10**6, "l_suppkey": 10**4},
    "customer": {"c_custkey": 10**6, "c_nationkey": 0},
    "part": {"p_partkey": 10**6},
    "supplier": {"s_suppkey": 10**4, "s_nationkey": 0},
    "events": {"event_id": 10**9, "user_id": 10**6},
    "documents": {"doc_id": 10**9},
    "embeddings": {"vec_id": 10**9},
    # dimension tables stay identical per replica (replica 0 only)
    "nation": None,
    "region": None,
}


def main() -> int:
    n = int(sys.argv[1])
    name = sys.argv[2] if len(sys.argv) > 2 else f"sf{n / 10:g}"
    out_dir = os.path.join(REPO, ".scale", name)

    from pyspark.sql import SparkSession, functions as F

    from duckdb_age_spark.conf import apply_recommended_conf

    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))}]")
            .appName(f"make-scale-{name}"),
            shuffle_partitions=32,
        )
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        # match the driver fixtures' int64-µs ts layout (Spark's default
        # INT96 output reads back as ns in pyarrow and trips layout sniffs)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    from duckdb_age_spark.sources.tables import read_table

    def write_single_file(df, table: str) -> None:
        # the driver fixtures are single parquet FILES and the events
        # ts-layout sniff (sources/tables.py) opens the path with pyarrow,
        # so mirror that layout: write one part, then move it into place.
        # Spark still parallelizes reads of a single file by row-group
        # ranges, so local parallelism is unaffected.
        import glob

        tmp = f"{out_dir}/_tmp_{table}"
        # small row groups keep the single file SPLITTABLE: a row group is
        # the atomic scan unit, and the 128 MB default turns a coalesced
        # file into 1-2 tasks — measured as a 23 s single-task cosine stage
        # at sf10 before this option (see SCALE_EVIDENCE.md)
        df.coalesce(1).write.mode("overwrite").option(
            "parquet.block.size", str(4 * 1024 * 1024)
        ).parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{out_dir}/{table}.parquet")
        shutil.rmtree(tmp)

    reps = spark.range(n).select(F.col("id").cast("long").alias("_r"))
    for table, offs in OFFSETS.items():
        # read_table normalizes either events-ts layout to TimestampType,
        # so the scaled copy always lands as standard micros parquet
        src = read_table(spark, SRC, table)
        if offs is None:
            write_single_file(src, table)
            print(f"{table}: copied ({src.count()} rows)")
            continue
        out = src.crossJoin(F.broadcast(reps))
        for col, stride in offs.items():
            if stride:
                out = out.withColumn(col, F.col(col) + F.col("_r") * F.lit(stride))
        if table == "documents":
            # distinct text per replica -> near-dup structure scales linearly
            out = out.withColumn(
                "text", F.concat(F.lit("r"), F.col("_r").cast("string"), F.lit(" "), F.col("text"))
            )
        out = out.drop("_r")
        write_single_file(out, table)
        print(f"{table}: x{n} -> {spark.read.parquet(f'{out_dir}/{table}.parquet').count()} rows")
    print(f"done: {out_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
