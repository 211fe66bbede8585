"""Tests of the benchmark's own machinery: seeded inputs, the event-log
fold, and the metric names it emits.  No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            path = os.path.join(base, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# -- generator ---------------------------------------------------------------


@pytest.mark.parametrize("workload", ["crypto_sink", "operator_jobs"])
def test_same_seed_gives_identical_bytes(tmp_path, workload):
    a = gen.write_inputs(workload, 7, str(tmp_path / "a"))
    b = gen.write_inputs(workload, 7, str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert {k: v for k, v in a.items() if k.startswith("planted")} == {
        k: v for k, v in b.items() if k.startswith("planted")
    }


@pytest.mark.parametrize("workload", ["crypto_sink", "operator_jobs"])
def test_other_seed_gives_other_bytes(tmp_path, workload):
    gen.write_inputs(workload, 7, str(tmp_path / "a"))
    gen.write_inputs(workload, 8, str(tmp_path / "b"))
    da, db = _tree_digest(str(tmp_path / "a")), _tree_digest(str(tmp_path / "b"))
    assert da.keys() == db.keys()
    assert all(da[k] != db[k] for k in da)


def test_inputs_have_the_stated_sizes(tmp_path):
    s = gen.SIZES["crypto_sink"]
    notes = gen.crypto_sink_tables(3)["notes"]
    lengths = [len(v) for v in notes.column("body").to_pylist()]
    assert len(lengths) == s["notes_rows"]
    assert s["notes_min_bytes"] <= min(lengths) and max(lengths) <= s["notes_max_bytes"]
    o = gen.SIZES["operator_jobs"]
    docs, planted = gen.documents_table(3)
    n_near = int(o["base_docs"] * o["near_dup_share"])
    assert docs.num_rows == o["base_docs"] + int(o["base_docs"] * o["exact_dup_share"]) + n_near
    assert len(planted["near"]) == n_near
    assert gen.edges_table(3).num_rows == o["edges"]
    assert gen.events_table(3).num_rows == o["events"]


# -- event-log fold ----------------------------------------------------------


def _job(jid, start_ms, end_ms, group, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms, "Stage IDs": stages,
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _task(stage, launch_ms, finish_ms, cpu_ns, run_ms, shuffle_write, acc=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms,
                      "Accumulables": [{"ID": i, "Update": u} for i, u in acc]},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": run_ms, "JVM GC Time": 10,
                         "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
                         "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7}},
    }


def _synthetic_log() -> list[dict]:
    plan = {"nodeName": "ArrowEvalPython", "metrics": [
        {"name": spans.PY_ROWS, "accumulatorId": 90}, {"name": spans.PY_SENT, "accumulatorId": 91}],
        "children": [{"nodeName": "Scan parquet", "metrics": [{"name": "number of output rows", "accumulatorId": 1}]}]}
    events = [{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan}]
    # span pb-0 runs 100.0-110.0 s; its jobs cover 101-103 and 102-105 (union 4 s)
    events += _job(0, 101_000, 103_000, "pb-0", [0])
    events += _job(1, 102_000, 105_000, "pb-0", [1])
    # a job without our group (a streaming micro-batch) inside the child span
    events += _job(2, 107_500, 108_500, "stream-run-id", [2])
    events += [
        _task(0, 101_000, 102_000, 2_000_000_000, 900, 1024, acc=[(90, 40), (91, 4096), (1, 999)]),
        _task(0, 101_000, 103_000, 1_000_000_000, 1900, 2048, acc=[(90, 60)]),
        _task(1, 102_000, 105_000, 500_000_000, 2900, 0),
        _task(2, 107_500, 108_500, 250_000_000, 900, 0),
    ]
    return events


def _synthetic_spans() -> list[spans.Span]:
    parent = spans.Span("pass", 100.0, 110.0, group="pb-0")
    child = spans.Span("streaming.windowed_counts_stream", 107.0, 109.0, parent=0, group="pb-1")
    return [parent, child]


def test_fold_counts_jobs_cpu_shuffle_and_python_rows():
    jobs = spans.fold_jobs(_synthetic_log())
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0]["tasks"] == 2
    assert jobs[0]["cpu_s"] == pytest.approx(3.0)
    assert jobs[0]["run_s"] == pytest.approx(2.8)
    assert jobs[0]["shuffle_write"] == 3072
    assert jobs[0]["shuffle_read"] == 24
    # only accumulators of the Python node count, not the scan's row count
    assert jobs[0]["py_rows"] == 100
    assert jobs[0]["py_sent"] == 4096


def test_fold_spans_self_time_and_job_attribution():
    rows = spans.fold_spans(_synthetic_spans(), spans.fold_jobs(_synthetic_log()))
    parent, child = rows
    # the streaming job carries no span group: it joins the innermost open span
    assert child["jobs"] == 1 and child["job_ids"] == [2]
    assert child["self_s"] == pytest.approx(1.0)
    # parent: 10 s wall minus the union of its jobs (101-105) and its child (107-109)
    assert parent["jobs"] == 3
    assert parent["self_s"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert parent["cpu_s"] == pytest.approx(3.75)
    assert parent["task_skew"] == pytest.approx(1.0)  # no stage has 4 tasks


def test_fold_recorded_spark_log():
    """A real (trimmed) Spark 4 event log, recorded with job group ``pb-0``:
    a parquet write of a pandas-UDF column through a shuffle and an
    aggregate, then a ``first()``."""
    events = spans.read_event_log(os.path.join(HERE, "data"))
    jobs = spans.fold_jobs(events)
    assert len(jobs) >= 2
    sites = {j["call_site"].split(" at ")[0] for j in jobs.values()}
    assert sites == {"parquet", "first"}
    assert all(j["end"] is not None and j["end"] >= j["start"] for j in jobs.values())
    total = {k: sum(j[k] for j in jobs.values()) for k in ("tasks", "cpu_s", "shuffle_write", "py_rows")}
    want_tasks = sum(1 for e in events if e["Event"] == "SparkListenerTaskEnd")
    want_cpu = sum(e["Task Metrics"]["Executor CPU Time"] for e in events if e["Event"] == "SparkListenerTaskEnd") / 1e9
    assert total["tasks"] == want_tasks
    assert total["cpu_s"] == pytest.approx(want_cpu)
    assert total["shuffle_write"] > 0
    assert total["py_rows"] > 0
    start = min(j["start"] for j in jobs.values()) - 1.0
    end = max(j["end"] for j in jobs.values()) + 1.0
    (row,) = spans.fold_spans([spans.Span("pass", start, end, group="pb-0")], jobs)
    assert row["jobs"] == len(jobs)
    assert 0.0 < row["self_s"] <= end - start


def test_probe_seconds_count_only_the_routing_probe():
    jobs = {
        0: {"start": 1.0, "end": 1.5, "call_site": "first at duckdb_age_spark/sources/encrypted.py:60"},
        1: {"start": 2.0, "end": 4.0, "call_site": "parquet at NativeMethodAccessorImpl.java:0"},
        2: {"start": 5.0, "end": 5.25, "call_site": "first at elsewhere.py:3"},
    }
    assert spans.probe_job_seconds(jobs, [0, 1, 2]) == pytest.approx(0.5)


def test_fold_progress_medians_per_drain():
    progress = [
        {"runId": "a", "batchId": 0, "numInputRows": 10, "durationMs": {"triggerExecution": 100, "addBatch": 60},
         "stateOperators": [{"numRowsTotal": 5, "commitTimeMs": 7, "memoryUsedBytes": 1024 * 1024}]},
        {"runId": "b", "batchId": 0, "numInputRows": 10, "durationMs": {"triggerExecution": 300, "addBatch": 80},
         "stateOperators": [{"numRowsTotal": 9, "commitTimeMs": 3, "memoryUsedBytes": 0}]},
        {"terminated": "a"},
    ]
    out = spans.fold_progress(progress)
    assert out["drains"] == 2 and out["batches"] == 1
    assert out["trigger_ms"] == 200 and out["add_batch_ms"] == 70
    assert out["state_rows"] == 7 and out["state_mem_mb"] == pytest.approx(0.5)


# -- metric names ------------------------------------------------------------


def test_benchmark_json_names_are_valid_and_unique():
    spec = _spec()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]] + [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


def test_every_emitted_metric_is_declared():
    import run

    spec = _spec()
    e2e = run.end_to_end(
        type("R", (), {"setups": [1.0], "peak_rss": 1.0})(),
        {"pass_cpu_s": 1.0},
        [{"pass_cpu_s": 1.0}],
    )
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    units = layers.metric_units()
    assert units == declared
    assert all(NAME.match(n) for n in units)


def test_tree_cpu_counts_reaped_children():
    import subprocess

    import session

    before = session.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert session.tree_cpu_s() - before > 0.05
