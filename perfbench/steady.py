"""Steadiness tool: run workloads repeatedly and report the spread of
every end-to-end metric, the way bounds are judged.

    python3 perfbench/steady.py --runs 10 [--workloads validate_full prep_corpus]
        [--first-seed 1] [--log runs.jsonl]

Each run is ``perfbench/run.py`` in its own process with a new seed,
back to back, workload after workload. For each workload and metric
it prints the median, the first and third quartiles
(``statistics.quantiles(n=4)``), the spread (Q3 - Q1) / median beside
the metric's bound from BENCHMARK.json, the failed share, the wall of
the runs, and per run the host's steal seconds and external CPU load
(reference readings: they explain an outlier, they never discard a
run). Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "wall_s": wall, "exit": proc.returncode}
    if proc.returncode != 0 or len(lines) < 2:
        rec["stderr_tail"] = proc.stderr[-2000:]
        return rec
    rec.update(json.loads(lines[-2]))
    rec["result"] = json.loads(lines[-1])
    return rec


def summarize(recs: list[dict], bounds: dict[str, float]) -> dict:
    ok = [r for r in recs if "result" in r]
    out = {
        "runs": len(recs),
        "runs_ok": len(ok),
        "wall_total_s": round(sum(r["wall_s"] for r in recs), 1),
        "wall_median_s": round(statistics.median(r["wall_s"] for r in recs), 1),
        "failed_share": sorted(
            {r["result"]["failed"] / r["result"]["attempted"] for r in ok}
        ),
        "all_correct": all(r["result"]["correct"] for r in ok),
        "steal_s": [r["host"]["steal_s"] for r in ok],
        "external_cpu_s": [r["host"]["external_cpu_s"] for r in ok],
        "metrics": {},
    }
    names = sorted({m for r in ok for m in r["result"]["metrics"]})
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in ok]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        out["metrics"][name] = {
            "median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4),
            "spread": round(spread, 4), "bound": bound,
            "within_third": None if bound is None else spread <= bound / 3,
            "values": [round(v, 4) for v in vals],
        }
    return out


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="append every run record to this JSON-lines file")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for wl in args.workloads:
        recs = []
        for i in range(args.runs):
            rec = run_once(wl, args.first_seed + i, args.seconds, args.trace)
            recs.append(rec)
            print(json.dumps({k: v for k, v in rec.items() if k != "result"}), file=sys.stderr)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
        report[wl] = summarize(recs, bounds)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
