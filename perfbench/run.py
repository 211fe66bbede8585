"""Benchmark driver.

    python3 perfbench/run.py --workload crypto_sink --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed`` under ``.perfbench_work/``, times the set-up several times, runs
one cold pass and then about ``--seconds`` of warm passes, checks every pass's
outputs, and prints one JSON object as the last stdout line.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs untraced passes, then a
traced session (event log + streaming listener), and reports the per-layer
metrics of ``BENCHMARK.json`` plus the tracing overhead.

A detail line (``{"detail": ...}``) precedes the result: sample counts,
every workload-specific figure by name, and any failures.  The exit code is
1 when any operation or output check failed, 2 when the checkout is not a
repository checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from session import peak_rss_mb, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1024.0 * 1024.0
SETUPS = 2  # set-ups per run; the first also launches the JVM


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Run:
    """One benchmark run: inputs, sessions and the passes' samples."""

    def __init__(self, args, root: str):
        from session import scrub_environment

        from duckdb_age_spark.crypto.keys import keygen_from_seed
        from duckdb_age_spark.secrets import SecretManager
        from workloads import IDENTITY, RECIPIENT, WORKLOADS

        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        scrub_environment(self.work)
        t0 = time.perf_counter()
        self.workload = WORKLOADS[args.workload](args.seed, self.work)
        self.gen_s = time.perf_counter() - t0
        pair = keygen_from_seed(f"perfbench-{args.seed}".encode())
        self.recipient = pair.public_key
        self.manager = SecretManager()
        self.manager.sql(f"CREATE SECRET {RECIPIENT} (TYPE age, PUBLIC_KEY '{pair.public_key}')")
        self.manager.sql(f"CREATE SECRET {IDENTITY} (TYPE age, PRIVATE_KEY '{pair.private_key}')")
        self.setups: list[float] = []
        self.digests: set[str] = set()
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.peak_rss = 0.0

    def session(self, event_log: str | None = None):
        from session import Session

        s = Session(self.work, self.manager, self.recipient, event_log=event_log)
        self.setups.append(s.setup_s)
        return s

    def passes(self, sess, tracer, seconds: float) -> list[dict]:
        """The cold pass, then ``seconds`` worth (at least one) of warm
        passes at the workload's nominal pass time.  The count does not
        depend on how fast the box is today, so every run computes the same
        statistic."""
        want = 1 + max(1, int(seconds // self.workload.nominal_pass_s))
        out = []
        broken = 0
        while len(out) < want and broken < 3:
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            try:
                with tracer.span("pass") as sp:
                    res = self.workload.run_pass(sess.spark, tracer)
            except Exception as exc:  # the span counted it failed; report why
                broken += 1
                tracer.failures.append(f"pass: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            res["pass_s"] = time.perf_counter() - t0
            res["pass_cpu_s"] = tree_cpu_s() - cpu0
            res["span"] = sp
            try:
                problems, digest = self.workload.check(res)
            except Exception as exc:
                problems, digest = [f"check raised {type(exc).__name__}: {str(exc)[:300]}"], None
            tracer.record_check(f"{self.workload.name} outputs", problems)
            if digest is not None:
                self.digests.add(digest)
            out.append(res)
        self.peak_rss = max(self.peak_rss, peak_rss_mb())
        return out

    def account(self, tracer) -> None:
        self.attempted += tracer.attempted
        self.failed += tracer.failed
        self.failures.extend(tracer.failures)

    def finish_checks(self) -> None:
        self.attempted += 1
        if len(self.digests) > 1:
            self.failed += 1
            self.failures.append(f"result digest changed across passes: {sorted(self.digests)}")


def workload_figures(name: str, warm: list[dict], wl, calls: dict) -> dict:
    """The workload-specific end-to-end figures, by the names of the
    prediction table in PREDICTIONS.md."""
    a = _median([p["phase_a_s"] for p in warm])
    b = _median([p["phase_b_s"] for p in warm])
    if name == "crypto_sink":
        mb = sum(wl.plain_bytes.values()) / MB
        return {"write_mb_per_s": mb / a, "read_mb_per_s": mb / b}
    drains = [d for p in warm for d in p["drains_s"]]
    return {
        "curate_s": a,
        "iterate_s": b,
        "fixpoint_s": calls.get("graph.pagerank_exact", 0.0),
        "drain_s.p50": _median(drains),
        "drain_s.p90": f"absent: {len(drains)} drains, a p90 needs at least 100",
    }


def call_seconds(tracer, warm: list[dict]) -> dict:
    """Median wall seconds per benchmark call name over the warm passes."""
    index = {id(sp): i for i, sp in enumerate(tracer.spans)}
    per: dict[str, list[float]] = {}
    for p in warm:
        sums: dict[str, float] = {}
        for sp in tracer.spans:
            if sp.parent == index[id(p["span"])]:
                sums[sp.name] = sums.get(sp.name, 0.0) + sp.end - sp.start
        for name, v in sums.items():
            per.setdefault(name, []).append(v)
    return {name: round(_median(v), 4) for name, v in per.items()}


def end_to_end(run: Run, first: dict, warm: list[dict]) -> dict:
    return {
        "setup_s": _metric(_median(run.setups), "s"),
        "first_pass_cpu_s": _metric(first["pass_cpu_s"], "s"),
        "pass_cpu_s": _metric(_median([p["pass_cpu_s"] for p in warm]), "s"),
        "peak_rss_mb": _metric(run.peak_rss, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "duckdb_age_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository (duckdb_age_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    spec = load_spec(root)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    from session import cpu_steal_share, cpu_times
    from spans import Tracer

    cpu_start = cpu_times()
    run = Run(args, root)
    try:
        if args.trace:
            from layers import traced_run

            metrics, detail = traced_run(run, args.seconds)
            wanted = [m["name"] for m in spec["per_layer"]]
        else:
            sess = run.session()
            tracer = Tracer(sess.spark, enabled=False, check=sess.cache_empty)
            done = run.passes(sess, tracer, args.seconds)
            sess.stop()
            run.account(tracer)
            while len(run.setups) < SETUPS:
                run.session().stop()
            if not done:
                raise RuntimeError("no pass completed: " + "; ".join(run.failures[:3]))
            first, warm = done[0], done[1:] or done[:1]
            metrics = end_to_end(run, first, warm)
            calls = call_seconds(tracer, warm)
            detail = workload_figures(args.workload, warm, run.workload, calls) | {
                "first_pass_s": first["pass_s"],
                "pass_s": _median([p["pass_s"] for p in warm]),
                "warm_passes": len(warm),
                "setup_samples": run.setups,
                "pass_samples": [p["pass_s"] for p in warm],
                "pass_cpu_samples": [p["pass_cpu_s"] for p in warm],
                "first_pass_calls_s": call_seconds(tracer, [first]),
                "calls_s": calls,
            }
            wanted = [m["name"] for m in spec["end_to_end"]]
        run.finish_checks()
    finally:
        from session import shutdown_jvm

        shutdown_jvm()
        shutil.rmtree(run.work, ignore_errors=True)

    missing = sorted(set(wanted) - set(metrics))
    extra = sorted(set(metrics) - set(wanted))
    if missing or extra:
        run.failures.append(f"metric names differ from BENCHMARK.json: missing {missing}, extra {extra}")
        run.failed += 1
    detail |= {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_sizes": run.workload.input_sizes(), "input_gen_s": run.gen_s,
        "fail_ratio": run.failed / max(run.attempted, 1), "failures": run.failures[:20],
        "cpu_steal_share": cpu_steal_share(cpu_start, cpu_times()),
    }
    print(json.dumps({"detail": detail}, default=str))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
