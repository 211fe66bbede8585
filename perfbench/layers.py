"""The traced run and the per-layer metrics it reports.

A traced run first runs untraced passes in one session, then the same
passes in a second session with Spark's event log and a streaming progress
listener on.  The traced passes' spans are folded with the event log into
per-layer figures (medians over the warm traced passes); the tracing
overhead is the traced minus the untraced median pass time.

Every workload reports every metric: a layer a workload leaves idle reads
0, which is the "flat" half of the prediction table in ``PREDICTIONS.md``.
"""

from __future__ import annotations

import os
import statistics
import time

from spans import MB, Tracer, fold_jobs, fold_progress, fold_spans, make_progress_listener, probe_job_seconds, read_event_log

# every benchmark call a span wraps, named <module>.<function>
OPS = [
    "dedup.drop_exact_dups",
    "dedup.minhash_lsh_pairs",
    "dedup.connected_components",
    "dedup.keep_canonical",
    "graph.pagerank_exact",
    "streaming.windowed_counts_stream",
]
OP_FIELDS = {"s": "wall_s", "jobs": "jobs", "self_s": "self_s", "shuffle_write_mb": "shuffle_write"}
TABLES = ("notes", "attachments")
STREAMING = ("batches_per_drain", "trigger_ms", "query_planning_ms", "add_batch_ms",
             "wal_commit_ms", "state_rows", "state_commit_ms", "state_mem_mb")
QUALITY = ("dedup.candidate_pairs", "dedup.pair_precision", "dedup.planted_recall", "dedup.kept_docs")
BATCH_ROWS = 1000  # one Arrow batch: register()'s maxRecordsPerBatch


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _timed_per_row(fn, items) -> tuple[float, list]:
    t0 = time.perf_counter()
    out = [fn(x) for x in items]
    return (time.perf_counter() - t0) / len(items), out


def kernel_metrics(sample: list[bytes], manager, recipient_name: str, identity_name: str) -> dict:
    """Crypto kernel and Python-boundary figures on the workload's own
    payloads: per-row ``crypto.format`` calls, then the UDF batch functions
    on one Arrow-batch-sized Series.  Median of three repetitions."""
    import pandas as pd

    from duckdb_age_spark import functions
    from duckdb_age_spark.crypto import format as fmt
    from duckdb_age_spark.crypto.keys import parse_identity, parse_recipient

    snap = manager.snapshot()
    rec = parse_recipient(snap[recipient_name]["public_key"])
    ident = parse_identity(snap[identity_name]["private_key"])
    sample = sample[:BATCH_ROWS]
    mb = sum(len(x) for x in sample) / MB
    n = len(sample)
    reps = {k: [] for k in ("enc", "dec", "hdr", "benc", "bdec")}
    for _ in range(3):
        enc_s, cts = _timed_per_row(lambda p: fmt.encrypt(p, [rec]), sample)
        dec_s, _ = _timed_per_row(lambda c: fmt.decrypt(c, ident), cts)
        hdr_s, _ = _timed_per_row(lambda p: fmt.encrypt(p, [rec]), [b""] * 200)
        t0 = time.perf_counter()
        functions.encrypt_batch(pd.Series(sample), pd.Series([recipient_name] * n), snap)
        benc = (time.perf_counter() - t0) / n
        t0 = time.perf_counter()
        functions.decrypt_batch(pd.Series(cts), pd.Series([identity_name] * n), snap)
        bdec = (time.perf_counter() - t0) / n
        for k, v in zip(reps, (enc_s, dec_s, hdr_s, benc, bdec)):
            reps[k].append(v)
    m = {k: _median(v) for k, v in reps.items()}
    us = 1e6
    return {
        "crypto.encrypt_us_per_row": m["enc"] * us,
        "crypto.decrypt_us_per_row": m["dec"] * us,
        "crypto.header_us": m["hdr"] * us,
        "crypto.encrypt_mb_per_s": mb / (m["enc"] * n),
        "crypto.decrypt_mb_per_s": mb / (m["dec"] * n),
        "functions.encrypt_batch_us_per_row": m["benc"] * us,
        "functions.decrypt_batch_us_per_row": m["bdec"] * us,
        "functions.encrypt_boundary_us_per_row": (m["benc"] - m["enc"]) * us,
        "functions.decrypt_boundary_us_per_row": (m["bdec"] - m["dec"]) * us,
    }


def pass_metrics(rows: list[dict], pass_idx: int, res: dict, jobs: dict, workload, cores: int) -> dict:
    """Per-layer figures of one traced pass from its folded spans."""
    p = rows[pass_idx]
    calls = [r for r in rows if r["parent"] == pass_idx]
    out = {
        "spark.jobs": p["jobs"],
        "spark.stages": p["stages"],
        "spark.tasks": p["tasks"],
        "spark.executor_cpu_s": p["cpu_s"],
        "spark.executor_run_s": p["run_s"],
        "spark.gc_s": p["gc_s"],
        "spark.shuffle_write_mb": p["shuffle_write"] / MB,
        "spark.shuffle_read_mb": p["shuffle_read"] / MB,
        "spark.spill_mb": p["spill"] / MB,
        "spark.core_busy": p["run_s"] / (p["wall_s"] * cores),
        "spark.task_skew": p["task_skew"],
        "driver.self_s": sum(c["self_s"] for c in calls),
        "driver.jobs_per_call": sum(c["jobs"] for c in calls) / max(len(calls), 1),
        "functions.py_rows": p["py_rows"],
        "functions.py_mb_sent": p["py_sent"] / MB,
        "functions.py_mb_returned": p["py_returned"] / MB,
    }
    for op in OPS:
        mine = [c for c in calls if c["name"] == op]
        for suffix, key in OP_FIELDS.items():
            val = sum(c[key] for c in mine)
            out[f"{op}.{suffix}"] = val / MB if suffix == "shuffle_write_mb" else val
    by_name = {c["name"]: c for c in calls}
    routes = res.get("routes", {})
    plain = getattr(workload, "plain_bytes", {})
    for t in TABLES:
        out[f"sources.write_encrypted_s.{t}"] = by_name.get(f"sources.write_encrypted.{t}", {}).get("wall_s", 0.0)
        out[f"sources.read_encrypted_s.{t}"] = by_name.get(f"sources.read_encrypted.{t}", {}).get("wall_s", 0.0)
    source_jobs = [j for c in calls if c["name"].startswith("sources.") for j in c["job_ids"]]
    out["sources.route_probe_s"] = probe_job_seconds(jobs, source_jobs)
    total_plain = sum(plain.values())
    out["sources.stored_bytes_per_plain_byte"] = res.get("stored_bytes", 0) / total_plain if total_plain else 0.0
    out["jvm.byte_share"] = (
        sum(b for t, b in plain.items() if routes.get(t) == "jvm") / total_plain if total_plain else 0.0
    )
    out["jvm.attachments_write_s"] = out["sources.write_encrypted_s.attachments"] if routes.get("attachments") == "jvm" else 0.0
    out["jvm.attachments_read_s"] = out["sources.read_encrypted_s.attachments"] if routes.get("attachments") == "jvm" else 0.0
    return out


def traced_run(run, seconds: float) -> tuple[dict, dict]:
    from session import CORES
    from workloads import IDENTITY, RECIPIENT

    # untraced half: the baseline for the tracing overhead
    sess = run.session()
    tracer = Tracer(sess.spark, enabled=False, check=sess.cache_empty)
    plain = run.passes(sess, tracer, seconds / 2)
    sess.stop()
    run.account(tracer)

    log_dir = os.path.join(run.work, "eventlog")
    sess = run.session(event_log=log_dir)
    progress: list[dict] = []
    listener = make_progress_listener(progress)
    sess.spark.streams.addListener(listener)
    tracer = Tracer(sess.spark, enabled=True, check=sess.cache_empty)
    traced = run.passes(sess, tracer, seconds / 2)
    quality = {}
    if traced and hasattr(run.workload, "quality"):
        quality = run.workload.quality(sess.spark, traced[-1])
    drains = sum(len(p.get("drains_s", [])) for p in traced)
    deadline = time.time() + 10
    while sum(1 for p in progress if "terminated" in p) < drains and time.time() < deadline:
        time.sleep(0.1)  # listener events arrive asynchronously
    sess.spark.streams.removeListener(listener)
    sess.stop()
    run.account(tracer)
    if not plain or not traced:
        raise RuntimeError("no pass completed: " + "; ".join(run.failures[:3]))

    jobs = fold_jobs(read_event_log(log_dir))
    rows = fold_spans(tracer.spans, jobs)
    warm = traced[1:] or traced
    index = {id(sp): i for i, sp in enumerate(tracer.spans)}
    per_pass = [pass_metrics(rows, index[id(p["span"])], p, jobs, run.workload, CORES) for p in warm]
    metrics = {k: _median(m[k] for m in per_pass) for k in per_pass[0]}
    metrics |= kernel_metrics(run.workload.payload_sample(BATCH_ROWS), run.manager, RECIPIENT, IDENTITY)
    stream = fold_progress(progress)
    stream["batches_per_drain"] = stream.pop("batches", 0)
    metrics |= {f"streaming.{k}": stream.get(k, 0.0) for k in STREAMING}
    metrics |= {k: quality.get(k, 0.0) for k in QUALITY}
    plain_warm = plain[1:] or plain
    traced_pass = _median(p["pass_s"] for p in warm)
    metrics["trace.pass_s"] = traced_pass
    metrics["trace.overhead_s"] = traced_pass - _median(p["pass_s"] for p in plain_warm)
    units = metric_units()
    detail = {
        "untraced_passes": len(plain_warm),
        "traced_passes": len(warm),
        "event_log_jobs": len(jobs),
        "streaming_drains_seen": stream.get("drains", 0),
        "spans": [
            {k: r[k] for k in ("name", "parent", "wall_s", "self_s", "jobs", "cpu_s", "shuffle_write")}
            for r in rows
        ],
    }
    return {k: {"value": float(v), "unit": units.get(k, "count")} for k, v in metrics.items()}, detail


def metric_units() -> dict[str, str]:
    """Unit of every per-layer metric, by name."""
    units = {
        "crypto.encrypt_us_per_row": "us", "crypto.decrypt_us_per_row": "us", "crypto.header_us": "us",
        "crypto.encrypt_mb_per_s": "MB/s", "crypto.decrypt_mb_per_s": "MB/s",
        "functions.encrypt_batch_us_per_row": "us", "functions.decrypt_batch_us_per_row": "us",
        "functions.encrypt_boundary_us_per_row": "us", "functions.decrypt_boundary_us_per_row": "us",
        "functions.py_rows": "count", "functions.py_mb_sent": "MB", "functions.py_mb_returned": "MB",
        "jvm.byte_share": "ratio", "jvm.attachments_write_s": "s", "jvm.attachments_read_s": "s",
        "sources.route_probe_s": "s", "sources.stored_bytes_per_plain_byte": "ratio",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
        "spark.core_busy": "ratio", "spark.task_skew": "ratio",
        "driver.self_s": "s", "driver.jobs_per_call": "count",
        "streaming.batches_per_drain": "count", "streaming.trigger_ms": "ms",
        "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
        "streaming.wal_commit_ms": "ms", "streaming.state_rows": "count",
        "streaming.state_commit_ms": "ms", "streaming.state_mem_mb": "MB",
        "dedup.candidate_pairs": "count", "dedup.pair_precision": "ratio",
        "dedup.planted_recall": "ratio", "dedup.kept_docs": "count",
        "trace.pass_s": "s", "trace.overhead_s": "s",
    }
    for t in TABLES:
        units[f"sources.write_encrypted_s.{t}"] = "s"
        units[f"sources.read_encrypted_s.{t}"] = "s"
    for op in OPS:
        units |= {f"{op}.s": "s", f"{op}.jobs": "count", f"{op}.self_s": "s", f"{op}.shuffle_write_mb": "MB"}
    return units
