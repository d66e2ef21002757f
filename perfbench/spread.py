#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's spread.

    python3 perfbench/spread.py --workload dashboard_live --seeds 1-10 [--seconds 15] [--trace 0]

For every metric of the last line: the median of its values and the
distance between the first and third quartile (`statistics.quantiles`,
n=4) as a share of the median; a spread at or below a third of the
metric's bound in BENCHMARK.json means the benchmark is steady for it.
Then the medians of the other figures each run prints by name
(`catchup_eps`, `freshness_ms_p50`, ...).
Runs are sequential; each prints nothing until the summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.path.dirname(HERE), ".bench_build", "work")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    values, reported, failed, notes = {}, {}, 0, {}
    for s in seeds(a.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            failed += 1
            notes[s] = proc.stderr[-500:]
            continue
        res = json.loads(lines[-1])
        if not res["correct"]:
            failed += 1
            notes[s] = [l for l in lines if " note: " in l]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        with open(os.path.join(WORK, a.workload, "result.json")) as fh:
            for k, v in json.load(fh)["human"].items():
                if v is not None:
                    reported.setdefault(k, []).append(v)
    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        summary[k] = {"median": med, "spread": (q3 - q1) / med if med else None,
                      "values": vs}
    print(json.dumps({"workload": a.workload, "runs_failed": failed, "failures": notes,
                      "metrics": summary,
                      "reported_medians": {k: statistics.median(v)
                                           for k, v in reported.items()}}, indent=1))


if __name__ == "__main__":
    main()
