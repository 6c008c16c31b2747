"""Steadiness mode: run sets of benchmark runs of the same code, each run on
its own seed, and report per set and metric the median, the quartiles and
the spread (quartile distance / median), the shift of the median between
sets, and the wall time of every run.

    python3 perfbench/steadiness.py --sets 2 --runs 10

Run from the root of a checkout. Every workload of BENCHMARK.json runs for
its ``run_seconds``, untraced, on seeds ``FIRST_SEED``, ``FIRST_SEED + 1``,
... (set after set). Workloads are interleaved run by run so that slow
spells of the host spread over all of them. The summary goes to standard
output as JSON.
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
ROOT = os.path.dirname(HERE)
#: the seeds of README.md's figures start here
FIRST_SEED = 2000


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(proc.stderr[-3000:])
    note = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench:")]
    return {"workload": workload, "seed": seed, "rc": proc.returncode, "wall_s": wall, "result": result,
            "note": note[-1] if note else None}


def summarize(runs: list[dict]) -> dict:
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w and r["result"]]
        row = {"runs": len(mine), "wall_s": [round(r["wall_s"], 2) for r in mine],
               "failed_share": sorted({r["result"]["failed"] / r["result"]["attempted"] for r in mine})}
        for m in mine[0]["result"]["metrics"] if mine else []:
            vals = [r["result"]["metrics"][m]["value"] for r in mine]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            row[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}
        out[w] = row
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    sets = []
    for s in range(args.sets):
        runs = []
        for i in range(args.runs):
            seed = FIRST_SEED + s * args.runs + i
            for w in workloads:
                r = one_run(w, seed, spec["run_seconds"])
                print(f"set {s} {w} seed {seed} rc {r['rc']} wall {r['wall_s']:.1f}s {r['note']}",
                      file=sys.stderr, flush=True)
                runs.append(r)
        sets.append({"runs": runs, "summary": summarize(runs)})
    report = {"args": {**vars(args), "first_seed": FIRST_SEED, "seconds": spec["run_seconds"]},
              "sets": [s["summary"] for s in sets]}
    if len(sets) > 1:
        shift = {}
        for w in workloads:
            a, b = sets[0]["summary"].get(w, {}), sets[1]["summary"].get(w, {})
            shift[w] = {m: b[m]["median"] / a[m]["median"] - 1 for m in a
                        if isinstance(a[m], dict) and m in b and a[m]["median"]}
        report["median_shift"] = shift
    all_runs = [r for s in sets for r in s["runs"]]
    report["mean_wall_s"] = {w: statistics.mean(r["wall_s"] for r in all_runs if r["workload"] == w) for w in workloads}
    report["runs"] = all_runs
    print(json.dumps(report, indent=1))
    return 0 if all(r["rc"] == 0 for r in all_runs) else 1


if __name__ == "__main__":
    sys.exit(main())
