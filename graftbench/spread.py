#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 graftbench/spread.py --workload tail_scrape --seeds 1-10

Runs the benchmark once per seed (from the repository root, as the
command in BENCHMARK.json expects) and prints, per metric, the median, the
quartiles as Python's statistics.quantiles(values, n=4) gives them, and
their distance as a share of the median next to the metric's bound from
BENCHMARK.json. Raw results go to --out as JSON lines.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = []
    for s in seeds(args.seeds):
        p = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed", str(s),
                               "--seconds", str(spec["run_seconds"]),
                               "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: FAILED (exit {p.returncode})", flush=True)
            continue
        r = json.loads(last)
        results.append(r)
        rec = [json.loads(l)["record"] for l in p.stdout.splitlines()
               if l.startswith('{"record"')]
        steal = f"steal_s={rec[-1]['steal_s']:.2f} " if rec else ""
        print(f"seed {s}: correct={r['correct']} failed={r['failed']} " +
              steal +
              " ".join(f"{k}={v['value']:.4g}"
                       for k, v in r["metrics"].items()), flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": s, **r}) + "\n")
    if len(results) < 2:
        sys.exit("too few successful runs")
    for m in spec["end_to_end"]:
        vs = [r["metrics"][m["name"]]["value"] for r in results]
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        share = (q3 - q1) / med
        flag = "ok" if share < m["bound"] / 3 else (
            "within bound" if share <= m["bound"] else "OVER BOUND")
        print(f"{m['name']:26s} median={med:10.4g} q1={q1:10.4g} "
              f"q3={q3:10.4g} spread={share:6.3f} bound={m['bound']} {flag}")


if __name__ == "__main__":
    main()
