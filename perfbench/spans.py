"""Spans around the benchmark's calls into the program, and the fold of
Spark's own event log and streaming progress into per-layer figures.

Untraced runs use :class:`Tracer` only for wall-clock spans and the cache
hygiene check.  A traced run also tags each span's Spark jobs with a job
group, records streaming progress through a ``StreamingQueryListener``, and
after the session stops folds the event log into the spans.  Nothing here
reaches inside ``duckdb_age_spark``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

MB = 1024.0 * 1024.0

# SparkPlan nodes that run Python code; their SQL metrics give the Python
# boundary's row and byte counts.
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
                "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_ROWS = "number of output rows"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""


class Tracer:
    """Records one span per benchmark call.  ``check`` runs after every
    span (the cache-hygiene assertion); a span whose body raises or whose
    check fails counts as a failed op."""

    def __init__(self, spark=None, enabled: bool = False, check=None):
        self.spark = spark
        self.enabled = enabled
        self.check = check
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def _set_group(self, group: str | None) -> None:
        if self.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, time.time(), parent=parent, group=f"pb-{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        ok = False
        try:
            yield sp
            ok = True
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self.spans[parent].group if parent is not None else None)
            self.attempted += 1
            leak = self.check is not None and not self.check()
            if leak:
                self.failures.append(f"{name}: CacheManager not empty after the call")
            if not ok or leak:
                self.failed += 1

    def record_check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(f"{name}: {p}" for p in problems[:5])


# -- event log --------------------------------------------------------------


def read_event_log(directory: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if name.startswith(".") or not os.path.isfile(path):
            continue
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if any(plan.get("nodeName", "").startswith(p) for p in PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m["name"] in (PY_SENT, PY_RETURNED, PY_ROWS):
                out[int(m["accumulatorId"])] = m["name"]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def fold_jobs(events: list[dict]) -> dict[int, dict]:
    """Per job: submission/completion (epoch s), job group, call site, and
    the sums of its tasks' metrics."""
    py_acc: dict[int, str] = {}
    sql_desc: dict[str, str] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
            if kind.endswith("SQLExecutionStart"):
                sql_desc[str(ev.get("executionId"))] = ev.get("description", "")
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id") or "",
                # PySpark's call site of the action, e.g. "first at x.py:60"
                "call_site": sql_desc.get(str(props.get("spark.sql.execution.id")), ""),
                "stages": set(ev.get("Stage IDs", [])),
                "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                "py_rows": 0, "py_sent": 0, "py_returned": 0,
                "stage_task_s": {},
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            job["tasks"] += 1
            job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            job["stage_task_s"].setdefault(ev["Stage ID"], []).append(dur)
            for acc in info.get("Accumulables", []):
                name = py_acc.get(int(acc.get("ID", -1)))
                if name is None:
                    continue
                upd = int(acc.get("Update", 0) or 0)
                key = {PY_ROWS: "py_rows", PY_SENT: "py_sent", PY_RETURNED: "py_returned"}[name]
                job[key] += upd
    return jobs


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def assign_jobs(spans: list[Span], jobs: dict[int, dict]) -> dict[int, list[int]]:
    """Span index -> job ids.  A job belongs to the span whose group it
    carries; jobs run under another group (streaming micro-batches carry
    their query's run id) go to the innermost span open at submission."""
    by_group = {sp.group: i for i, sp in enumerate(spans)}
    out: dict[int, list[int]] = {i: [] for i in range(len(spans))}
    for jid, job in jobs.items():
        idx = by_group.get(job["group"])
        if idx is None:
            inside = [i for i, sp in enumerate(spans) if sp.start <= job["start"] <= sp.end]
            if not inside:
                continue
            idx = max(inside, key=lambda i: spans[i].start)
        out[idx].append(jid)
    return out


def fold_spans(spans: list[Span], jobs: dict[int, dict]) -> list[dict]:
    """Per span: wall, jobs (its own plus its children's), work sums and
    self time (wall minus the union of its own jobs' intervals and its
    child spans)."""
    own = assign_jobs(spans, jobs)
    kids: dict[int, list[int]] = {i: [] for i in range(len(spans))}
    for i, sp in enumerate(spans):
        if sp.parent is not None:
            kids[sp.parent].append(i)

    def subtree(i: int) -> list[int]:
        out = list(own[i])
        for k in kids[i]:
            out.extend(subtree(k))
        return out

    rows = []
    for i, sp in enumerate(spans):
        jids = subtree(i)
        covered = [(max(jobs[j]["start"], sp.start), min(jobs[j]["end"] or sp.end, sp.end)) for j in own[i]]
        covered += [(spans[k].start, spans[k].end) for k in kids[i]]
        covered = [(s, e) for s, e in covered if e > s]
        row = {
            "name": sp.name, "parent": sp.parent, "start": sp.start, "end": sp.end,
            "wall_s": sp.end - sp.start,
            "self_s": (sp.end - sp.start) - _union_length(covered),
            "jobs": len(jids),
            "stages": sum(len(jobs[j]["stages"]) for j in jids),
        }
        for key in ("tasks", "cpu_s", "run_s", "gc_s", "shuffle_write", "shuffle_read", "spill",
                    "py_rows", "py_sent", "py_returned"):
            row[key] = sum(jobs[j][key] for j in jids)
        skews = []
        for j in jids:
            for durs in jobs[j]["stage_task_s"].values():
                med = statistics.median(durs)
                if len(durs) >= 4 and med > 0:
                    skews.append(max(durs) / med)
        row["task_skew"] = max(skews, default=1.0)
        row["job_ids"] = sorted(jids)
        rows.append(row)
    return rows


def probe_job_seconds(jobs: dict[int, dict], job_ids: list[int]) -> float:
    """Seconds spent in the size-probe jobs of ``sources.encrypted``: the
    ``first()`` the routing probe runs, identified by its call site."""
    total = 0.0
    for j in job_ids:
        job = jobs[j]
        site = job["call_site"]
        if site.startswith("first at") and "encrypted.py" in site and job["end"] is not None:
            total += job["end"] - job["start"]
    return total


# -- streaming progress -----------------------------------------------------


def make_progress_listener(sink: list):
    """A ``StreamingQueryListener`` appending every progress event, as a
    dict, to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            sink.append({"terminated": str(event.runId)})

    return _Listener()


def fold_progress(progress: list[dict]) -> dict:
    """Streaming figures, per drain (one query run) then medians."""
    runs: dict[str, list[dict]] = {}
    for p in progress:
        if "batchId" in p:
            runs.setdefault(p["runId"], []).append(p)
    if not runs:
        return {}
    per_run = []
    for batches in runs.values():
        real = [b for b in batches if b.get("numInputRows", 0) > 0] or batches
        dur = lambda key: sum(b.get("durationMs", {}).get(key, 0) for b in batches)  # noqa: E731
        states = [s for b in real for s in b.get("stateOperators", [])]
        per_run.append({
            "batches": len(real),
            "trigger_ms": dur("triggerExecution"),
            "query_planning_ms": dur("queryPlanning"),
            "add_batch_ms": dur("addBatch"),
            "wal_commit_ms": dur("walCommit"),
            "state_rows": sum(s.get("numRowsTotal", 0) for s in states),
            "state_commit_ms": sum(s.get("commitTimeMs", 0) for s in states),
            "state_mem_mb": sum(s.get("memoryUsedBytes", 0) for s in states) / MB,
        })
    return {k: statistics.median(r[k] for r in per_run) for k in per_run[0]} | {"drains": len(per_run)}
