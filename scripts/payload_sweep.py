#!/usr/bin/env python
"""Payload-size sweep of both Spark crypto paths (VERDICT r7 item 3).

Measures encrypt and roundtrip throughput at 2 KiB / 64 KiB / 1 MiB payloads
for:

* the **python** path — the shipping pandas-UDF pipeline, where every
  payload byte crosses JVM -> Arrow -> Python and back; and
* the **jvm** path — the agespark Java UDFs (jvm/age-spark-udf.jar), where
  the cipher runs inside the executor JVM and bytes never leave it.

This turns ROADMAP's "~30-64 MB/s/core structural cap at >=1 MiB payloads"
from a prose claim into a recorded measurement, and quantifies how much of
that cap the JVM path removes.  Results land in PAYLOAD_SWEEP.json at the
repo root; bench.py embeds that file under extra["payload_sweep"] so the
committed BENCH_extra.json carries the numbers.

Kernel controls bracket the sweep (same box-drift discipline as bench.py).

Run:  python scripts/payload_sweep.py          (local[$SPARK_GRAFT_CPUS])
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())))
SIZES = [("2KiB", 2048), ("64KiB", 64 * 1024), ("1MiB", 1024 * 1024)]
TOTAL_BYTES = 512 * 1024 * 1024  # per (size, path) measurement
REPS = 3

PUB = "age1j2tqev8spvn9s9ktkr750ntl03sy20f7dck0mdyetway3cj2naasngwz3u"
PRIV = "AGE-SECRET-KEY-1DMYUTPVUSD3M7HMU4K5KXNZ65JZVC9J04MSVV2J8Y4NE8GZCVU6ST7DRT2"


def main() -> int:
    from bench import _kernel_bench

    kernel_start = _kernel_bench()

    from pyspark.sql import SparkSession, functions as F
    import duckdb_age_spark as age
    from duckdb_age_spark.conf import apply_recommended_conf

    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{CPUS}]").appName("payload-sweep"),
            shuffle_partitions=CPUS,
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    age.register(spark)  # python path + the measured arrow batch tuning
    from duckdb_age_spark.jvm import register_jvm_crypto
    from duckdb_age_spark.secrets import default_manager

    register_jvm_crypto(spark)
    default_manager.create_secret(
        "sweepkey", public_key=PUB, private_key=PRIV, replace=True
    )

    results: dict[str, dict] = {}
    for label, size in SIZES:
        n_rows = max(CPUS, TOTAL_BYTES // size)
        mb = n_rows * size / 1e6
        # distinct-per-row payloads (a constant would let nothing cache-bust);
        # generation cost is excluded by materializing before timing
        tail = 20
        payload = F.expr(
            f"cast(concat(repeat('x', {size - tail}),"
            f" lpad(cast(id as string), {tail}, '0')) as binary)"
        )
        df = (
            spark.range(n_rows)
            .repartition(CPUS)
            .select(payload.alias("pt"))
            .persist()
        )
        df.count()  # materialize inputs outside the timed region

        per_path: dict[str, dict] = {}
        for path, enc, dec in [
            ("python", "age_encrypt", "age_decrypt"),
            ("jvm", "age_encrypt_jvm", "age_decrypt_jvm"),
        ]:
            enc_col = F.call_function(enc, F.col("pt"), F.lit(PUB))
            rt_col = F.call_function(dec, enc_col, F.lit(PRIV))

            def timed(col) -> float:
                samples = []
                for _ in range(REPS):
                    t0 = time.time()
                    df.select(col.alias("out")).agg(
                        F.sum(F.octet_length("out"))
                    ).collect()
                    samples.append(time.time() - t0)
                return sorted(samples)[len(samples) // 2]

            enc_s = timed(enc_col)
            rt_s = timed(rt_col)
            per_path[path] = {
                "encrypt_mb_per_s": round(mb / enc_s, 1),
                "encrypt_mb_per_s_per_core": round(mb / enc_s / CPUS, 1),
                "roundtrip_mb_per_s": round(mb / rt_s, 1),
                "roundtrip_mb_per_s_per_core": round(mb / rt_s / CPUS, 1),
                "encrypt_sec": round(enc_s, 3),
                "roundtrip_sec": round(rt_s, 3),
            }
            print(f"{label} {path}: {per_path[path]}", file=sys.stderr)

        if label == "1MiB":
            # Secret-NAME dispatch on the JVM path (VERDICT r8 item 4's
            # done-criterion, measured r10): resolution happens driver-side
            # at plan-build time, so this should match the literal-key jvm
            # cell — this cell turns "should" into a recorded number.
            from duckdb_age_spark.jvm import decrypt_col, encrypt_col

            enc_named = encrypt_col(F.col("pt"), "sweepkey")
            rt_named = decrypt_col(enc_named, "sweepkey")
            enc_s = timed(enc_named)
            rt_s = timed(rt_named)
            per_path["jvm_named_secret"] = {
                "encrypt_mb_per_s": round(mb / enc_s, 1),
                "encrypt_mb_per_s_per_core": round(mb / enc_s / CPUS, 1),
                "roundtrip_mb_per_s": round(mb / rt_s, 1),
                "roundtrip_mb_per_s_per_core": round(mb / rt_s / CPUS, 1),
                "encrypt_sec": round(enc_s, 3),
                "roundtrip_sec": round(rt_s, 3),
            }
            print(f"{label} jvm_named_secret: {per_path['jvm_named_secret']}", file=sys.stderr)
        df.unpersist()
        results[label] = {"rows": n_rows, "mb": round(mb, 1), **per_path}

    spark.stop()
    kernel_end = _kernel_bench()

    out = {
        "cpus": CPUS,
        "total_bytes_per_cell": TOTAL_BYTES,
        "reps": REPS,
        "kernel_start": kernel_start,
        "kernel_end": kernel_end,
        "sizes": results,
    }
    path = os.path.join(REPO, "PAYLOAD_SWEEP.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
