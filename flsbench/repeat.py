#!/usr/bin/env python3
"""Runs the benchmark several times per workload, one seed per run, and
reports each metric's median and quartile spread (IQR ÷ median, from
`statistics.quantiles(values, n=4)`) next to its bound in BENCHMARK.json.

    python3 flsbench/repeat.py --runs 10 --out flsbench/results/baseline.json

Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write every result and the summary here (JSON)")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out = {"runs": {}, "summary": {}, "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    for w in workloads:
        results = []
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = [sys.executable, "flsbench/run.py", "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
            detail = next((json.loads(l[len("[flsbench] "):]) for l in reversed(lines[:-1])
                           if l.startswith("[flsbench] {")), None)
            results.append({"seed": seed, "wall_s": time.time() - t0,
                            "result": json.loads(lines[-1]), "detail": detail})
            print(f"{w} seed {seed}: {time.time() - t0:.0f}s correct={results[-1]['result']['correct']}",
                  file=sys.stderr, flush=True)
        out["runs"][w] = results
        summary = {}
        for name in results[0]["result"]["metrics"]:
            v = [r["result"]["metrics"][name]["value"] for r in results]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            summary[name] = {"median": med, "spread": spread, "bound": bounds.get(name)}
            b = bounds.get(name)
            flag = "" if b is None else ("ok" if spread < b / 3 else "SPREAD > bound/3")
            print(f"{w:15s} {name:38s} median={med:14.4f} spread={spread:.3f} "
                  f"bound={b} {flag}")
        out["summary"][w] = summary
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
