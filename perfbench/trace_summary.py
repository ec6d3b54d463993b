#!/usr/bin/env python3
"""Per-layer metrics and summaries from a traced run (`run.py --trace 1`).

A traced run's directory holds `harness.json` (per-face build/plan/execute
seconds) and `trace.jsonl`: spans (face -> build/plan/exec -> job -> stage,
sharing the face's id), per (pass, face, layer) counters from the job
listener, and per-face plan counts.

    python3 perfbench/trace_summary.py RUN_DIR [--untraced-suite-s X] [--out F]

prints self time per layer, the tracing overhead (traced suite_s minus an
untraced run's suite_s, when given), the counter-repeatability report and
the per-layer metrics, and writes them as JSON to F when given.
"""
import argparse
import json
import os
import statistics
import sys

# what a face's steady-pass counters must repeat on, pass after pass
REPEAT_KEYS = ("jobs", "tasks", "shuffle_write_b", "shuffle_read_b", "input_records")


def load(run_dir):
    with open(os.path.join(run_dir, "harness.json")) as f:
        res = json.load(f)
    spans, counters, plans = [], [], []
    with open(os.path.join(run_dir, "trace.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            {"span": spans, "counters": counters, "plan": plans}[r["type"]].append(r)
    return res, spans, counters, plans


def per_pass_sums(rows, passes, value, key=lambda r: r["pass"]):
    out = {p: 0.0 for p in passes}
    for r in rows:
        if key(r) in out:
            out[key(r)] += value(r)
    return out


def med(d):
    return statistics.median(d.values()) if d else 0.0


def failure_kinds(errors):
    kinds = {"build": 0, "exec": 0, "check": 0}
    for e in errors.values():
        body = e.split(": ", 1)[1] if e.startswith("pass ") else e
        if body.startswith("build"):
            kinds["build"] += 1
        elif body.startswith(("plan", "exec")):
            kinds["exec"] += 1
        else:
            kinds["check"] += 1
    return kinds


def per_layer(run_dir, res, ok, errors):
    """Per-layer metrics of a traced run over the faces in `ok`."""
    _, spans, counters, plans = load(run_dir)
    samples = [s for s in res["samples"] if s[1] in ok]
    steady = sorted({s[0] for s in samples if s[0] >= 1})
    first = [0]
    counters = [c for c in counters if c["face"] in ok]
    plans = [p for p in plans if p["face"] in ok]

    def layer(name):
        return [c for c in counters if c["layer"] == name]

    def secs(passes, idx):
        return per_pass_sums([{"pass": s[0], "v": s[idx]} for s in samples], passes, lambda r: r["v"])

    build, exe = layer("build"), layer("exec")
    timed = [c for c in counters if c["layer"] in ("build", "plan", "exec")]
    exec_s = secs(steady, 4)
    exec_task = per_pass_sums(exe, steady, lambda c: c["task_s"])
    # execute time no job covers: the exec spans' self time
    gap = per_pass_sums([(s, own) for s, own in span_self(spans) if s["kind"] == "exec" and s["face"] in ok],
                        steady, lambda r: r[1] / 1e6, key=lambda r: r[0]["pass"])
    plan_sum = lambda k: med(per_pass_sums(plans, steady, lambda r: r[k]))  # noqa: E731
    leaves = sum(p["leaves"] for p in plans if p["pass"] in steady)
    cache_scans = sum(p["cache_scans"] for p in plans if p["pass"] in steady)
    cpus = res["cpus"]
    kinds = failure_kinds(errors)
    mb = 1e6
    m = {
        "build.s": (med(secs(steady, 2)), "s"),
        "build.jobs": (med(per_pass_sums(build, steady, lambda c: c["jobs"])), "count"),
        "build.tasks": (med(per_pass_sums(build, steady, lambda c: c["tasks"])), "count"),
        "build.task_s": (med(per_pass_sums(build, steady, lambda c: c["task_s"])), "s"),
        "first.build_s": (med(secs(first, 2)), "s"),
        "first.build_jobs": (med(per_pass_sums(build, first, lambda c: c["jobs"])), "count"),
        "plan.s": (med(secs(steady, 3)), "s"),
        "plan.exchanges": (plan_sum("exchanges"), "count"),
        "plan.cache_scans": (plan_sum("cache_scans"), "count"),
        "plan.file_scans": (plan_sum("file_scans"), "count"),
        "exec.s": (med(exec_s), "s"),
        "exec.jobs": (med(per_pass_sums(exe, steady, lambda c: c["jobs"])), "count"),
        "exec.stages": (med(per_pass_sums(exe, steady, lambda c: c["stages"])), "count"),
        "exec.tasks": (med(per_pass_sums(exe, steady, lambda c: c["tasks"])), "count"),
        "exec.driver_gap_s": (med(gap), "s"),
        "exec.task_s": (med(exec_task), "s"),
        "exec.cpu_s": (med(per_pass_sums(exe, steady, lambda c: c["cpu_s"])), "s"),
        "exec.core_util": (statistics.median(exec_task[p] / (exec_s[p] * cpus) for p in steady)
                           if steady else 0.0, "ratio"),
        "exec.sched_delay_s": (med(per_pass_sums(exe, steady, lambda c: c["sched_delay_s"])), "s"),
        "exec.shuffle_write_mb": (med(per_pass_sums(exe, steady, lambda c: c["shuffle_write_b"])) / mb, "MB"),
        "exec.shuffle_read_mb": (med(per_pass_sums(exe, steady, lambda c: c["shuffle_read_b"])) / mb, "MB"),
        "exec.gc_s": (med(per_pass_sums(exe, steady, lambda c: c["gc_s"])), "s"),
        "exec.spill_mb": (med(per_pass_sums(exe, steady, lambda c: c["spill_b"])) / mb, "MB"),
        "scan.input_mrecords": (med(per_pass_sums(timed, steady, lambda c: c["input_records"])) / 1e6, "Mrecords"),
        "scan.input_mb": (med(per_pass_sums(timed, steady, lambda c: c["input_b"])) / mb, "MB"),
        "pool.size": (float(res["pool_size"]), "count"),
        "pool.memo": (float(res["pool_memo"]), "count"),
        "pool.cache_scan_share": (cache_scans / leaves if leaves else 0.0, "ratio"),
        "store.output_mb": (med(per_pass_sums(timed, first, lambda c: c["output_b"])) / mb, "MB"),
        "store.output_records": (med(per_pass_sums(timed, first, lambda c: c["output_records"])), "count"),
        "build.failed": (float(kinds["build"]), "count"),
        "exec.failed": (float(kinds["exec"]), "count"),
        "check.failed": (float(kinds["check"]), "count"),
    }
    return m, sum(1 for s in samples if s[0] >= 1), len(steady)


def _cover(intervals, lo, hi):
    covered, reach = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > s and e > reach:
            covered += e - max(s, reach)
            reach = e
    return covered


def span_self(spans):
    """(span, self microseconds) for every span: its duration minus the
    part of it its child spans cover."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return [(s, s["end_us"] - s["start_us"] - _cover(kids.get(s["id"], []), s["start_us"], s["end_us"]))
            for s in spans]


def self_times(spans, passes):
    """Per span kind: count, total and self seconds per pass over `passes`."""
    out = {}
    for s, own in span_self(spans):
        if s["pass"] not in passes:
            continue
        key = s["kind"] if s["kind"] in ("face", "job", "stage") else f"layer.{s['kind']}"
        t = out.setdefault(key, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        t["count"] += 1
        t["total_s"] += (s["end_us"] - s["start_us"]) / 1e6
        t["self_s"] += own / 1e6
    n = max(1, len(passes))
    return {k: {"per_pass_count": v["count"] / n, "per_pass_total_s": v["total_s"] / n,
                "per_pass_self_s": v["self_s"] / n} for k, v in sorted(out.items())}


def repeatability(counters, steady):
    """Faces whose steady-pass counters differ between steady passes."""
    per = {}
    for c in counters:
        if c["pass"] in steady and c["layer"] in ("build", "plan", "exec"):
            acc = per.setdefault(c["face"], {}).setdefault(c["pass"], dict.fromkeys(REPEAT_KEYS, 0))
            for k in REPEAT_KEYS:
                acc[k] += c[k]
    unsteady = {}
    for face, by_pass in sorted(per.items()):
        vals = [tuple(by_pass.get(p, dict.fromkeys(REPEAT_KEYS, 0)).values()) for p in steady]
        if len(set(vals)) > 1:
            unsteady[face] = {k: [v[i] for v in vals] for i, k in enumerate(REPEAT_KEYS)}
    return {"steady_passes": len(steady), "faces": len(per), "differing": unsteady}


def per_face(res, counters, plans, steady):
    """Per-face steady medians: layer seconds and the main counters."""
    out = {}
    for p, f, b, pl, e, rows, err in res["samples"]:
        if p in steady and err is None:
            out.setdefault(f, {"build_s": [], "plan_s": [], "exec_s": []})
            out[f]["build_s"].append(b)
            out[f]["plan_s"].append(pl)
            out[f]["exec_s"].append(e)
    faces = {f: {k: statistics.median(v) for k, v in d.items()} for f, d in out.items()}
    for c in counters:
        if c["pass"] == max(steady) and c["face"] in faces:
            d = faces[c["face"]]
            for k in ("jobs", "tasks", "shuffle_write_b", "input_records"):
                d[f"{c['layer']}.{k}"] = d.get(f"{c['layer']}.{k}", 0) + c[k]
    for p in plans:
        if p["pass"] == max(steady) and p["face"] in faces:
            faces[p["face"]]["plan.exchanges"] = p["exchanges"]
    return faces


def summarize(run_dir, untraced_suite_s=None):
    res, spans, counters, plans = load(run_dir)
    steady = sorted({s[0] for s in res["samples"] if s[0] >= 1})
    errors = {s[1]: s[6] for s in res["samples"] if s[6] is not None}
    ok = {s[1] for s in res["samples"]} - set(errors)
    metrics, _, _ = per_layer(run_dir, res, ok, errors)
    suites = {}
    for p, f, b, pl, e, *_ in res["samples"]:
        if p in steady and f in ok:
            suites[p] = suites.get(p, 0.0) + b + pl + e
    traced = statistics.median(suites.values())
    return {
        "faces": len(ok) + len(errors),
        "failed": errors,
        "traced_suite_s": traced,
        "untraced_suite_s": untraced_suite_s,
        "tracing_overhead_s": None if untraced_suite_s is None else traced - untraced_suite_s,
        "self_time": self_times(spans, steady),
        "repeatability": repeatability(counters, steady),
        "per_layer": {k: v for k, (v, _) in metrics.items()},
        "per_face": per_face(res, counters, plans, steady),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("run_dir")
    ap.add_argument("--untraced-suite-s", type=float)
    ap.add_argument("--out")
    a = ap.parse_args()
    s = summarize(a.run_dir, a.untraced_suite_s)
    print(f"faces {s['faces']}, failed {len(s['failed'])}, traced suite_s {s['traced_suite_s']:.3f}")
    if s["tracing_overhead_s"] is not None:
        print(f"tracing overhead {s['tracing_overhead_s']:+.3f} s "
              f"({s['tracing_overhead_s'] / s['untraced_suite_s']:+.1%} of untraced suite_s)")
    print("self time per steady pass:")
    for k, v in s["self_time"].items():
        print(f"  {k:14s} n={v['per_pass_count']:8.1f} total {v['per_pass_total_s']:9.3f} s"
              f"  self {v['per_pass_self_s']:9.3f} s")
    r = s["repeatability"]
    print(f"counter repeatability: {len(r['differing'])} of {r['faces']} faces differ "
          f"across {r['steady_passes']} steady passes")
    for f, d in r["differing"].items():
        print(f"  {f}: {d}")
    for k, v in s["per_layer"].items():
        print(f"  {k:24s} {v:14.4f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(s, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
