#!/usr/bin/env python3
"""Run the benchmark several times per workload, one seed per run, and report
each end-to-end metric's median, quartiles and spread (interquartile range
as a share of the median) next to the bound BENCHMARK.json gives it.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/results/set1.json
    python3 perfbench/steadiness.py --compare perfbench/results/set1.json \
        perfbench/results/set2.json

Run from the root of a checkout. ``--compare`` checks the second set's
medians against the first's, metric by metric, within each metric's bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

SPEC = json.loads(Path("BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    return {
        "median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
        "bound": bound, "within_third_of_bound": spread < bound / 3,
        "values": values,
    }


def run_set(workloads: list[str], runs: int, first_seed: int) -> dict:
    out: dict = {}
    for w in workloads:
        records = []
        for i in range(runs):
            seed = first_seed + i
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            rec = {"seed": seed, "exit": proc.returncode,
                   "run_s": round(time.perf_counter() - t0, 1)}
            if proc.returncode == 0:
                rec.update(json.loads(lines[-2]))
                rec["result"] = json.loads(lines[-1])
            records.append(rec)
            print(w, json.dumps({k: v for k, v in rec.items() if k != "result"}),
                  {k: round(v["value"], 3) for k, v in rec.get("result", {}).get("metrics", {}).items()},
                  flush=True)
        ok = [r for r in records if r["exit"] == 0]
        out[w] = {
            "runs": records,
            "metrics": {
                name: summarize([r["result"]["metrics"][name]["value"] for r in ok], m["bound"])
                for name, m in BOUNDS.items()
            } if len(ok) >= 2 else {},
        }
    return out


def compare(first: dict, second: dict) -> bool:
    ok = True
    for w, s1 in first.items():
        for name, a in s1["metrics"].items():
            b = second[w]["metrics"][name]
            lower = BOUNDS[name]["better"] == "lower"
            worse = (b["median"] - a["median"]) / a["median"] * (1 if lower else -1)
            good = worse <= BOUNDS[name]["bound"]
            ok &= good
            print(f"{w:14s} {name:16s} {a['median']:12.4f} -> {b['median']:12.4f} "
                  f"worse by {worse:+.3f} (bound {BOUNDS[name]['bound']}) {'ok' if good else 'FAIL'}")
    return ok


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        a, b = (json.loads(Path(p).read_text())["workloads"] for p in args.compare)
        sys.exit(0 if compare(a, b) else 1)
    workloads = args.workload or [w["name"] for w in SPEC["workloads"]]
    result = {
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "run_seconds": SPEC["run_seconds"],
        "workloads": run_set(workloads, args.runs, args.first_seed),
    }
    for w, s in result["workloads"].items():
        for name, m in s["metrics"].items():
            print(f"{w:14s} {name:16s} median {m['median']:12.4f} spread {m['spread']:.4f} "
                  f"bound {m['bound']} {'ok' if m['within_third_of_bound'] else 'WIDE'}")
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(result, indent=1) + "\n")


if __name__ == "__main__":
    main()
