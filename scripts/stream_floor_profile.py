#!/usr/bin/env python
"""Profile the fixed cost of an availableNow drain (VERDICT r15 item 2).

Times a minimal STATELESS drain (readStream over the events parquet →
projection → memory sink) and one stateful drain (windowed counts,
complete), with

  * spark.sql.streaming.noDataMicroBatches.enabled: true (default) vs
    false — the trailing no-data batch only exists to advance the
    watermark for operators that emit on watermark-pass; bounded drains
    of eager-emitting operators pay a full batch of planning/commit for
    nothing.

Prints per-variant medians plus the per-batch durationMs breakdown from
query progress, so the floor decomposes into planning / walCommit /
addBatch / state commit.  The session is the recipe's
(``apply_recommended_conf``), so checkpoint and state-store files go
through the fork-free ``file://`` classes; a checkpoint on tmpfs would
change nothing, since the stock classes' cost was starting ``chmod`` and
``readlink`` processes, not disk I/O.

Usage: python scripts/stream_floor_profile.py [reps]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as usual.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))


def drain(stream_df, output_mode):
    spark = stream_df.sparkSession
    name = f"prof_{uuid.uuid4().hex[:8]}"
    w = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    t0 = time.perf_counter()
    q = w.start()
    t_start = time.perf_counter() - t0
    q.awaitTermination()
    t_total = time.perf_counter() - t0
    prog = [json.loads(p.json) for p in q.recentProgress]
    spark.sql(f"DROP VIEW IF EXISTS {name}")
    return t_start, t_total, prog


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5

    from pyspark.sql import SparkSession, functions as F

    from duckdb_age_spark.conf import apply_recommended_conf

    builder = apply_recommended_conf(
        SparkSession.builder.master(f"local[{CPUS}]").appName("stream-floor"),
        shuffle_partitions=int(CPUS),
    )
    spark = (
        builder.config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from duckdb_age_spark.streaming import stream_events, windowed_counts_stream

    variants = [("+nodata", "true"), ("-nodata", "false")]

    # INTERLEAVED: rep 1 of every (variant, kind), then rep 2, ... so JVM
    # warmup and box weather hit all variants equally (the first, sequential
    # version of this script produced a monotone 0.84->0.53 "improvement"
    # that tracked run ORDER, not the knobs).
    cells = [(label, nodata, kind) for label, nodata in variants
             for kind in ("stateless", "stateful")]
    totals = {c: [] for c in cells}
    breakdowns = {c: [] for c in cells}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for _ in range(reps):
            for label, nodata, kind in cells:
                spark.conf.set(
                    "spark.sql.streaming.noDataMicroBatches.enabled", nodata
                )
                ev = stream_events(spark, SF_DIR)
                if kind == "stateless":
                    df = ev.select("event_id", "event_type")
                    mode = "append"
                else:
                    df = windowed_counts_stream(ev, window="1 hour")
                    mode = "complete"
                _t_start, t_total, prog = drain(df, mode)
                totals[(label, nodata, kind)].append(t_total)
                breakdowns[(label, nodata, kind)].append(prog)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for cell in cells:
        label, _nodata, kind = cell
        ts = sorted(totals[cell])
        med = ts[len(ts) // 2]
        bks = breakdowns[cell]
        n_batches = [len(p) for p in bks]
        rep = bks[len(bks) // 2]
        dur: dict[str, int] = {}
        for p in rep:
            for k, v in (p.get("durationMs") or {}).items():
                dur[k] = dur.get(k, 0) + int(v)
        print(
            f"{label:12s} {kind:9s} median {med:6.3f}s  all "
            + " ".join(f"{x:.2f}" for x in totals[cell])
            + f"  batches {n_batches}  durationMs {json.dumps(dur, sort_keys=True)}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
