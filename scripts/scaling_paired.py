"""Paired two-parallelism scaling evidence on a noisy shared host.

The sandbox host carries external load (load-average spikes with no
local process consuming CPU), so single-shot measurements at each
parallelism level are dominated by whenever the neighbors wake up.
This harness keeps ONE warmed JVM per level alive and alternates timed
runs N, 4N, N, 4N, ... so both levels sample the same contention
windows; the reported figure is the median of per-pair efficiencies
e_i = wall_N_i / (4 × wall_4N_i), plus the best-case pair.

Usage: python scripts/scaling_paired.py [rows] [pairs] [N_cores] [4N_cores]
                                        [out_json] [job]
job = "suite" (default, full drift-inclusive check suite) or "scan"
(pure tokens decode+sum, F.aggregate over every element — the
hardware-ceiling control, measured under the SAME paired adaptive
protocol as the suite so the two efficiencies are comparable).
Writes BENCH_scaling_last.json (or out_json).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from teleharvest_spark.benchproto import WarmedChild  # noqa: E402

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
PAIRS = int(sys.argv[2]) if len(sys.argv) > 2 else 5
N_CORES = int(sys.argv[3]) if len(sys.argv) > 3 else 8
N4_CORES = int(sys.argv[4]) if len(sys.argv) > 4 else 32
OUT = sys.argv[5] if len(sys.argv) > 5 else os.path.join(ROOT, "BENCH_scaling_last.json")
JOB = sys.argv[6] if len(sys.argv) > 6 else "suite"
if JOB not in ("suite", "scan"):
    raise SystemExit(f"job must be 'suite' or 'scan', got {JOB!r}")
if OUT in ("suite", "scan"):
    raise SystemExit(
        f"out_json is argv[5] and job is argv[6]; {OUT!r} looks like a job — "
        "pass the output path first")
DATA = f"/tmp/scaling_sequences_{ROWS}.parquet"

def start(cores: int, gen: bool) -> WarmedChild:
    # child source + adaptive-warmup protocol live in
    # teleharvest_spark/benchproto.py, shared with bench.py's
    # fresh-JVM suite section so the two measurements stay comparable
    return WarmedChild(cores, DATA, ROWS, job=JOB, gen=gen)


def _total_busy_jiffies() -> int:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    # user nice system irq softirq steal guest — everything but idle+iowait
    vals = [int(x) for x in parts[1:11]]
    return sum(vals) - vals[3] - vals[4]


def _subtree_jiffies(root_pids: set[int]) -> int:
    """Sum utime+stime over every process whose ancestry reaches one of
    ``root_pids`` — the CPU our own measurement children (and their
    JVMs/UDF workers) consumed."""
    import os

    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, jiffies)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        # fields after the parenthesised comm: index from the last ')'
        rest = s[s.rindex(")") + 2:].split()
        procs[int(d)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    total = 0
    for pid, (_, jiff) in procs.items():
        cur = pid
        seen = set()
        while cur > 1 and cur not in seen:
            if cur in root_pids:
                total += jiff
                break
            seen.add(cur)
            cur = procs.get(cur, (0, 0))[0]
    return total


def timed_run(child: WarmedChild, all_children: list[WarmedChild]) -> tuple[float, float]:
    """Returns (wall_sec, external_cores): external_cores is the mean
    number of host CPUs busy with work that is NOT ours during the run
    (total busy jiffies minus our children's subtrees) — the per-pair
    load telemetry VERDICT r2 item 3 asked for."""
    import time

    roots = {c.pid for c in all_children}
    t0 = time.monotonic()
    busy0, ours0 = _total_busy_jiffies(), _subtree_jiffies(roots)
    wall = child.run()
    elapsed = time.monotonic() - t0
    busy1, ours1 = _total_busy_jiffies(), _subtree_jiffies(roots)
    hz = 100  # USER_HZ on this kernel
    ext = max(0.0, ((busy1 - busy0) - (ours1 - ours0)) / hz / max(elapsed, 1e-9))
    return wall, round(ext, 2)


def main() -> None:
    import os
    gen = not os.path.isdir(DATA)
    n8 = start(N_CORES, gen=gen)
    n32 = start(N4_CORES, gen=False)
    kids = [n8, n32]
    pairs = []
    for i in range(PAIRS):
        w8, ext8 = timed_run(n8, kids)
        w32, ext32 = timed_run(n32, kids)
        eff = round(w8 / (4 * w32), 3)
        pairs.append({
            "wall_N": w8, "wall_4N": w32, "efficiency": eff,
            "ext_cores_N": ext8, "ext_cores_4N": ext32,
        })
        print(json.dumps(pairs[-1]), flush=True)
    for p in (n8, n32):
        p.close()  # kills + reaps a lingering JVM instead of raising
    effs = [p["efficiency"] for p in pairs]
    best_pair = max(pairs, key=lambda p: p["efficiency"])
    # quiet pairs: both runs saw < 1 external core busy on average
    quiet = [p for p in pairs if p["ext_cores_N"] < 1.0 and p["ext_cores_4N"] < 1.0]
    report = {
        "protocol": (
            "paired alternating runs, one warmed JVM per level "
            "(adaptive warmup: consecutive walls within 15%, max 5 "
            "passes), "
            + ("full drift-inclusive check suite" if JOB == "suite"
               else "pure tokens decode+sum scan (hardware-ceiling "
                    "control)")
            + ", same input; median pairwise efficiency controls for "
            "external host load; ext_cores_* = measured mean non-our "
            "CPUs busy during each run (/proc/stat minus our process "
            "subtrees)"
        ),
        "rows": ROWS,
        "job": JOB,
        "pairs": pairs,
        "median_efficiency": round(statistics.median(effs), 3),
        "quiet_pairs": len(quiet),
        "quiet_median_efficiency": (
            round(statistics.median([p["efficiency"] for p in quiet]), 3) if quiet else None
        ),
        "best_pair": best_pair,
        "N_cores": N_CORES,
        "4N_cores": N4_CORES,
        "median_seq_per_sec_N": round(ROWS / statistics.median([p["wall_N"] for p in pairs]), 1),
        "median_seq_per_sec_4N": round(ROWS / statistics.median([p["wall_4N"] for p in pairs]), 1),
    }
    print(json.dumps(report, indent=2))
    with open(OUT, "w") as f:
        json.dump(report, f, indent=2)


if __name__ == "__main__":
    main()
