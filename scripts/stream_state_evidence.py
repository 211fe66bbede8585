#!/usr/bin/env python
"""Streaming state-boundedness evidence (VERDICT r6 item 7 / r7 item 7):
drain an update-mode streaming aggregation over a TIME-CHUNKED copy of the
events fixture (single-file micro-batches in event-time order, the shape a
production file/kafka feed actually has) and record, from the streaming
progress, the state-store row count per batch.

Two queries:

* ``topk``  — the leaderboard aggregation (windowed_user_counts_stream,
  1-day windows, 10 chunks).  Claim: state is bounded by (active users ×
  windows inside the watermark horizon), NOT stream length.
* ``tvd``   — the drift monitor's state half (windowed_counts_stream,
  1-HOUR windows, 40 chunks, maxFilesPerTrigger=1 — the long-retention /
  many-windows chaos shape).  Claim (streaming/__init__.py): state is one
  row per (open window × event type) inside the horizon, so peak state
  stays far below the all-time windows×types cardinality complete mode
  would pin.

Appends one JSON line to SCALE_EVIDENCE.jsonl:
  {"sf", "query", "total_groups", "max_state_rows", "final_state_rows",
   "n_batches", "wall_s"}

Usage: python scripts/stream_state_evidence.py <sf_dir> <sf_label> [topk|tvd]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir, sf_label = sys.argv[1], sys.argv[2]
    query = sys.argv[3] if len(sys.argv) > 3 else "topk"

    from pyspark.sql import SparkSession, functions as F

    from duckdb_age_spark.conf import apply_recommended_conf

    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))}]")
            .appName("stream-state-evidence"),
            shuffle_partitions=32,
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from duckdb_age_spark.sources import read_table
    from duckdb_age_spark.streaming import (
        windowed_counts_stream,
        windowed_user_counts_stream,
    )

    if query == "topk":
        events = read_table(spark, sf_dir, "events").select("ts", "user_id")
        schema = "ts timestamp, user_id long"
        n_chunks = 10
        total_groups = events.groupBy(F.window("ts", "1 day"), "user_id").count().count()

        def build(stream):
            return windowed_user_counts_stream(stream, window="1 day")

    elif query == "tvd":
        events = read_table(spark, sf_dir, "events").select("ts", "event_type", "value")
        schema = "ts timestamp, event_type string, value double"
        n_chunks = 40
        total_groups = (
            events.groupBy(F.window("ts", "1 hour"), "event_type").count().count()
        )

        def build(stream):
            return windowed_counts_stream(stream, window="1 hour", watermark="2 hours")

    elif query == "hll":
        # fixed-size-sketch claim: state rows = OPEN WINDOWS (one 2^8-long
        # register array each), while the exact-distinct alternative would
        # pin (window × user) rows — total_groups records that cardinality
        # so the compression ratio is explicit in the evidence row
        from duckdb_age_spark.streaming import _hll_stateful_stage

        events = read_table(spark, sf_dir, "events").select("ts", "user_id")
        schema = "ts timestamp, user_id long"
        n_chunks = 20
        total_groups = events.groupBy(F.window("ts", "1 day"), "user_id").count().count()

        def build(stream):
            return _hll_stateful_stage(stream, 86400, 8, None)

    else:
        sys.exit(f"unknown query {query!r} (want topk|tvd|hll)")

    stage = tempfile.mkdtemp(prefix="stream_state_")
    src = os.path.join(stage, "src")
    try:
        # time-ordered chunk files: range-partition by ts so part-0000k
        # holds the k-th time slice, then pin increasing mtimes (the file
        # source schedules micro-batches by mtime)
        events.repartitionByRange(n_chunks, "ts").write.mode("overwrite").parquet(src)
        parts = sorted(glob.glob(f"{src}/part-*.parquet"))
        for i, p in enumerate(parts):
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = build(stream)
        name = f"sse_{uuid.uuid4().hex[:8]}"
        t0 = time.time()
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            # applyInPandasWithState runs in append; the windowed aggs in update
            .outputMode("append" if query == "hll" else "update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p["stateOperators"]
        ]
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    if not state_rows:
        # A drain with zero batches (or a Spark version that reshapes
        # recentProgress) must not blow up AFTER the work is done with a
        # bare max() ValueError — exit with a diagnosable message instead
        # (ADVICE r7).
        sys.exit("no stateOperators progress captured — nothing to record")

    rec = {
        "sf": sf_label,
        "query": {
            "topk": "streaming_topk_users_state",
            "tvd": "streaming_tvd_drift_state",
            "hll": "streaming_hll_users_state",
        }[query],
        "total_groups": total_groups,
        "max_state_rows": max(state_rows),
        "final_state_rows": state_rows[-1],
        "n_batches": len(state_rows),
        "wall_s": round(wall, 2),
    }
    line = json.dumps(rec)
    print(line)
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_EVIDENCE.jsonl"),
        "a",
    ) as f:
        f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
