#!/usr/bin/env python
"""Measured scale evidence (VERDICT r5 item 10): run the shuffle-heaviest
queries at increasing data scales and record — from the Spark REST API —
what actually moved: shuffle read/write bytes+records, stage counts, and
task-time skew (max/median of the heaviest-shuffle stage).  Replaces
"would survive 100×" arguments with numbers.

Usage: python scripts/scale_evidence.py <sf_dir> <sf_label> [query ...]
Appends one JSON line per query to SCALE_EVIDENCE.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UI_PORT = 4077

DEFAULT_QUERIES = [
    "tpch_q9",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "sim_topk_kmeans",
    "sim_topk_lsh",
    "graph_pagerank",
    "graph_triangles_degree",
    "text_tfidf_keywords",
    "events_session_window",
    "streaming_join",
]


def _api(path: str):
    with urllib.request.urlopen(f"http://localhost:{UI_PORT}/api/v1{path}", timeout=30) as r:
        return json.load(r)


def _stages(app: str) -> dict[tuple[int, int], dict]:
    out = {}
    for st in _api(f"/applications/{app}/stages?status=complete"):
        out[(st["stageId"], st["attemptId"])] = st
    return out


def main() -> int:
    sf_dir, sf_label = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT_QUERIES

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))}]")
        .appName("scale-evidence")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.ui.retainedStages", "5000")
    )
    # probe variants (VERDICT r10 item 6): comma-separated k=v pairs, e.g.
    # SPARK_GRAFT_EXTRA_CONF=spark.sql.files.maxPartitionBytes=16m to force
    # splits-per-core >> 1 and show scan-split quantization averaging out
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(",")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    app = spark.sparkContext.applicationId

    import __spark_entry__ as e

    qs = e.queries()
    results = []
    for name in names:
        before = set(_stages(app))
        t0 = time.time()
        rows = qs[name](spark, sf_dir).count()
        wall = time.time() - t0
        stages = _stages(app)
        new = [st for key, st in stages.items() if key not in before]
        sw_bytes = sum(st.get("shuffleWriteBytes", 0) for st in new)
        sw_recs = sum(st.get("shuffleWriteRecords", 0) for st in new)
        sr_bytes = sum(st.get("shuffleReadBytes", 0) for st in new)
        # task skew of the heaviest-shuffle stage
        skew_max = skew_med = rec_med = rec_max = None
        heavy = max(new, key=lambda st: st.get("shuffleWriteBytes", 0), default=None)
        if heavy and heavy.get("shuffleWriteBytes", 0) > 0:
            try:
                summ = _api(
                    f"/applications/{app}/stages/{heavy['stageId']}/{heavy['attemptId']}"
                    "/taskSummary?quantiles=0.5,1.0"
                )
                med, mx = summ["executorRunTime"]
                skew_med, skew_max = med / 1000.0, mx / 1000.0
                # Per-task RECORD skew separates data imbalance (a plan
                # problem that compounds at 100 TB) from run-time noise
                # (JIT warmup / GC on seconds-long tasks, which does not):
                # records max/med ~1 with time max/med ~2 means the keys
                # distribute evenly and the ratio is environmental.
                sw = summ.get("shuffleWriteMetrics", {}).get("writeRecords")
                if sw:
                    rec_med, rec_max = sw
            except Exception:
                pass
        rec = {
            "sf": sf_label,
            "query": name,
            "rows": rows,
            "wall_s": round(wall, 2),
            "n_stages": len(new),
            "shuffle_write_bytes": sw_bytes,
            "shuffle_write_records": sw_recs,
            "shuffle_read_bytes": sr_bytes,
            "heavy_stage_task_med_s": skew_med,
            "heavy_stage_task_max_s": skew_max,
            "heavy_stage_task_med_records": rec_med,
            "heavy_stage_task_max_records": rec_max,
        }
        results.append(rec)
        print(json.dumps(rec), flush=True)
        with open("SCALE_EVIDENCE.jsonl", "a") as f:
            f.write(json.dumps(rec) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
