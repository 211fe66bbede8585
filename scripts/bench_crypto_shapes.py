#!/usr/bin/env python
"""Spark-path crypto cost breakdown at realistic partition shapes.

VERDICT r2 item 2: the bench corpus (sf0.1 documents) is ~156 rows per
partition — far below the >=10k rows/partition a 100 TB table would feed
each task — so round-1's rejected fixes (mapInArrow, thread pool, Arrow
batch sizing) were measured in a regime dominated by fixed per-task cost.
This script separates the three cost components by sweeping shapes:

    t_encrypt = a * n_tasks + b * n_rows + c * n_bytes

and re-tests Arrow batch sizing in the >=10k-rows/partition regime where
it can actually matter.  Results are recorded in ROADMAP.md section 1.

Method notes:
* payloads are generated once and cached; a no-UDF baseline scan
  (sum(octet_length(payload))) is timed per shape and subtracted, so the
  reported net is the encrypt stage alone (Arrow pipe + Python + kernel).
* median of REPS runs after one warm pass, same policy as bench.py.
* the in-process kernel cost for each payload size is measured alongside,
  so "Spark overhead" = net - kernel is explicit.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# (label, n_partitions, rows_per_partition, payload_bytes)
SHAPES = [
    ("A sf0.1-like", 32, 156, 2048),
    ("B big-part", 32, 10000, 2048),
    ("C big-part 64KiB", 32, 1000, 65536),
    ("D bulk 1MiB", 32, 50, 1048576),
    ("E many-task", 320, 1000, 2048),
]


def _median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def _time(fn, reps: int = REPS) -> float:
    fn()  # warm
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return _median(samples)


def kernel_us_per_row(payload_bytes: int) -> float:
    """In-process single-core encrypt cost for this payload size."""
    from duckdb_age_spark.contract import KP1
    from duckdb_age_spark.crypto import format as fmt
    from duckdb_age_spark.crypto import keys

    pub = keys.parse_recipient(KP1.public_key)
    pt = b"x" * payload_bytes
    n = max(4, min(200, (8 << 20) // max(payload_bytes, 1)))
    for _ in range(3):
        fmt.encrypt(pt, [pub])
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(n):
            fmt.encrypt(pt, [pub])
        best = min(best, time.perf_counter() - t0)
    return best / n * 1e6


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from duckdb_age_spark.conf import apply_recommended_conf

    # AQE may stay on: every timed stage reads a cached repartition(n), and
    # AQE never coalesces an explicit partition count
    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{CPUS}]").appName("crypto-shapes"),
            shuffle_partitions=CPUS,
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from duckdb_age_spark.contract import KP1
    from duckdb_age_spark.register import register

    register(spark)
    # warm the python worker pool
    spark.range(CPUS * 4).repartition(CPUS).select(
        F.call_function("age_encrypt", F.lit(b"warmup"), F.lit(KP1.public_key))
    ).count()

    rows = []
    for label, n_part, rows_pp, nbytes in SHAPES:
        total_rows = n_part * rows_pp
        df = (
            spark.range(total_rows)
            .repartition(n_part)
            .select(F.expr(f"repeat('x', {nbytes})").cast("binary").alias("payload"))
            .cache()
        )
        df.count()
        base = _time(lambda: df.agg(F.sum(F.octet_length("payload"))).collect())
        enc = df.select(
            F.octet_length(
                F.call_function("age_encrypt", F.col("payload"), F.lit(KP1.public_key))
            ).alias("n")
        )
        t = _time(lambda: enc.agg(F.sum("n")).collect())
        net = max(t - base, 1e-9)
        kern = kernel_us_per_row(nbytes)
        mb = total_rows * nbytes / 1e6
        rows.append(
            {
                "label": label,
                "tasks": n_part,
                "rows": total_rows,
                "bytes": total_rows * nbytes,
                "payload": nbytes,
                "base_s": round(base, 3),
                "net_s": round(net, 3),
                "mb_per_s": round(mb / net, 1),
                "mb_per_s_per_core": round(mb / net / CPUS, 2),
                "spark_us_per_row_per_core": round(net * CPUS / total_rows * 1e6, 1),
                "kernel_us_per_row": round(kern, 1),
            }
        )
        print(json.dumps(rows[-1]), flush=True)
        df.unpersist()

    # Arrow batch sizing, re-tested in the >=10k rows/partition regime
    label, n_part, rows_pp, nbytes = SHAPES[1]
    df = (
        spark.range(n_part * rows_pp)
        .repartition(n_part)
        .select(F.expr(f"repeat('x', {nbytes})").cast("binary").alias("payload"))
        .cache()
    )
    df.count()
    batch_results = {}
    for batch in (10000, 2000, 500):
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
        enc = df.select(
            F.octet_length(
                F.call_function("age_encrypt", F.col("payload"), F.lit(KP1.public_key))
            ).alias("n")
        )
        batch_results[batch] = round(_time(lambda: enc.agg(F.sum("n")).collect()), 3)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    df.unpersist()
    print(json.dumps({"arrow_batch_sweep_shape_B_sec": batch_results}), flush=True)

    # least-squares fit: net = a*tasks + b*rows + c*bytes
    try:
        import numpy as np

        A = np.array([[r["tasks"], r["rows"], r["bytes"]] for r in rows], dtype=float)
        y = np.array([r["net_s"] for r in rows], dtype=float)
        coef, *_ = np.linalg.lstsq(A, y, rcond=None)
        fit = {
            "per_task_ms": round(coef[0] * 1e3, 2),
            "per_row_us_wallclock": round(coef[1] * 1e6, 2),
            "per_mb_ms_wallclock": round(coef[2] * 1e9, 2),
            "residual_s": [round(float(p - o), 3) for p, o in zip(A @ coef, y)],
        }
        print(json.dumps({"fit": fit}), flush=True)
    except Exception as e:  # numpy always present, but keep the sweep usable
        print(json.dumps({"fit_error": str(e)}), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
