"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload operator_jobs --seeds 1-10 --out perfbench/results/set1.jsonl

Run from the repository root.  Each run's result line (and detail line) is
appended to ``--out`` as one JSON object; the summary goes to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with Python's default quantile method."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def summarize(records: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    names = sorted({k for r in records for k in r["result"]["metrics"]})
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in records if name in r["result"]["metrics"]]
        if len(vals) < 2:
            continue
        med, iqr = spread(vals)
        out[name] = {"n": len(vals), "median": med, "spread": iqr, "bound": bounds.get(name)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    records = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        rec = {
            "workload": args.workload, "seed": seed, "trace": args.trace, "exit": proc.returncode,
            "run_wall_s": time.time() - t0,
            "detail": json.loads(lines[-2])["detail"] if len(lines) >= 2 else None,
            "result": json.loads(lines[-1]) if lines else None,
        }
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(f"seed {seed}: exit {proc.returncode} wall {rec['run_wall_s']:.1f}s "
              + json.dumps({k: round(v["value"], 3) for k, v in (rec["result"] or {}).get("metrics", {}).items()}
                           if not args.trace else {}), flush=True)
        records.append(rec)
    ok = [r for r in records if r["result"] and r["exit"] == 0]
    for name, s in summarize(ok, bounds).items():
        flag = "" if s["bound"] is None or s["spread"] < s["bound"] / 3 else "  <-- over a third of the bound"
        print(f"{name:>16}: median {s['median']:.4f}  spread {s['spread']:.3f}  bound {s['bound']}{flag}")
    return 0 if len(ok) == len(records) else 1


if __name__ == "__main__":
    sys.exit(main())
