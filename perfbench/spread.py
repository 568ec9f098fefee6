#!/usr/bin/env python3
"""Runs each workload with several seeds and reports, per end-to-end metric,
the median and the spread (distance between the first and third quartile,
as a share of the median), next to the bound in BENCHMARK.json.

    python3 perfbench/spread.py --runs 10 [--workload stream_replay] [--first-seed 100]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in names:
        vals, failed = {}, 0
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.monotonic()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True, cwd=ROOT)
            line = r.stdout.strip().splitlines()[-1] if r.returncode == 0 else None
            if line is None:
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                failed += 1
                continue
            res = json.loads(line)
            if not res["correct"] or res["failed"]:
                failed += 1
                print(f"{w} seed {seed}: incorrect, {res['failed']}/{res['attempted']} failed\n"
                      + "\n".join(l for l in r.stderr.splitlines() if "FAIL" in l or l.startswith("error")),
                      file=sys.stderr)
            for n, m in res["metrics"].items():
                vals.setdefault(n, []).append(m["value"])
            print(f"{w} seed {seed} ({time.monotonic() - t0:.1f} s): " + " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        report[w] = {"bad_runs": failed, "metrics": {
            n: {"median": statistics.median(v), "spread": spread(v), "bound": bounds.get(n), "values": v}
            for n, v in vals.items()}}
        for n, m in report[w]["metrics"].items():
            print(f"{w:18s} {n:18s} median {m['median']:.4g}  spread {m['spread']:.3f}  "
                  f"bound {m['bound']}", file=sys.stderr, flush=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
