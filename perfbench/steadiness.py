#!/usr/bin/env python3
"""Steadiness study: run every BENCHMARK.json workload on several seeds and
report, per end-to-end metric, the median and the spread (distance between
the first and third quartile, as a share of the median) next to the bound.

    python3 perfbench/steadiness.py --seeds 101-110 --out F

Run from the repository root. Workloads alternate their order from seed to
seed. Each run's result line and wall time are kept in F (JSON), so the
report can be rebuilt with `--report F`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(bench, seeds):
    runs = []
    names = [w["name"] for w in bench["workloads"]]
    for i, seed in enumerate(seeds):
        for w in names if i % 2 == 0 else names[::-1]:
            t = time.time()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                                                   "--seconds", str(bench["run_seconds"]),
                                                   "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            runs.append({"workload": w, "seed": seed, "rc": p.returncode,
                         "wall_s": round(time.time() - t, 3),
                         "result": json.loads(lines[-1]) if lines else None})
            print(f"{w} seed {seed}: rc {p.returncode}, {runs[-1]['wall_s']:.1f} s", file=sys.stderr)
    return runs


def report(bench, runs):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {}
    for w in [w["name"] for w in bench["workloads"]]:
        rs = [r for r in runs if r["workload"] == w]
        ok = [r for r in rs if r["rc"] == 0 and r["result"] and r["result"]["correct"]]
        per = {}
        for m, bound in bounds.items():
            v = [r["result"]["metrics"][m]["value"] for r in ok]
            if len(v) < 2:
                continue
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            per[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                      "bound": bound, "values": v}
        out[w] = {"runs": len(rs), "correct": len(ok),
                  "wall_s_median": statistics.median(r["wall_s"] for r in rs), "metrics": per}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="101-110", help="seed range, e.g. 101-110")
    ap.add_argument("--out", help="write runs and report to this JSON file")
    ap.add_argument("--report", help="rebuild the report from a file written by --out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.report:
        with open(a.report) as f:
            runs = json.load(f)["runs"]
    else:
        runs = collect(bench, seeds_of(a.seeds))
    rep = report(bench, runs)
    for w, r in rep.items():
        print(f"{w}: {r['correct']}/{r['runs']} correct runs, median wall {r['wall_s_median']:.1f} s")
        for m, s in r["metrics"].items():
            flag = "ok" if s["spread"] <= s["bound"] / 3 else ("within bound" if s["spread"] <= s["bound"] else "OVER")
            print(f"  {m:14s} median {s['median']:10.3f}  spread {s['spread']:.3f}  bound {s['bound']}  {flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "report": rep}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
