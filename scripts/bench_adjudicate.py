#!/usr/bin/env python3
"""Bench-drift adjudication on deterministic per-query counters.

`graft.Bench` prints a `counters` line next to its per-query seconds:
each face's steady [jobs, tasks, shuffle_write_b, input_records], the
per-counter min over its two timed sweeps. These repeat between runs of
one commit and host load cannot move them, so they decide drift. Wall
time is only advisory.

  * `record` saves a Bench window (seconds, counters, the run's cpus and
    sf, and any faces that threw) under bench/windows/. It fails on
    output without a counters line.
  * `report` groups a round's windows by key "<sf>|<cpus>" and compares
    each face's counters (per-counter min over the windows of that key)
    with bench/reference.json's counters under the same key, never
    across keys. Jobs, tasks and input records must not rise; shuffle
    bytes may rise within SHUFFLE_BAND, because compressed block sizes
    jitter by a few bytes. A rise on an untouched face is a counter
    mover and `report` exits 1, as it does when a face threw; a rise on
    a `--touched` face is expected. Wall-time movers (raw best seconds
    > max(ref * 1.25, ref + 0.1)) are listed as advisory and never fail.
    `--update-ref` stores, per key, the per-counter max over the windows
    for every passing and touched face (a counter mover keeps its
    reference), and folds new wall-time minima in.

Usage:
  bench_adjudicate.py record --label r20_w1 --bench-json /tmp/bench.out
  bench_adjudicate.py report --round 20 --touched ann_,dedup_ \\
      bench/windows/r20_*.json [--update-ref]
"""
import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF = os.path.join(REPO, "bench", "reference.json")
WINDOWS = os.path.join(REPO, "bench", "windows")

COUNTERS = ("jobs", "tasks", "shuffle_write_b", "input_records")
SHUFFLE = COUNTERS.index("shuffle_write_b")
SHUFFLE_BAND = 0.01


def parse_bench_lines(text):
    """Returns Bench's raw total line (the one with a `queries` map) and
    its counters line; stderr noise and sbt banners are skipped."""
    bench = counters = None
    for line in text.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if obj.get("metric") == "counters":
            counters = obj
        elif obj.get("metric") == "total" and "queries" in obj:
            bench = obj
    if bench is None:
        raise SystemExit("no Bench JSON line with a queries map found")
    if counters is None:
        raise SystemExit("no Bench counters line found")
    return bench, counters


def cmd_record(args):
    text = (open(args.bench_json).read() if args.bench_json
            else sys.stdin.read())
    bench, counters = parse_bench_lines(text)
    out = {
        "label": args.label,
        "total": bench["value"],
        "sf": counters["sf"],
        "cpus": counters["cpus"],
        "queries": bench["queries"],
        "counters": counters["queries"],
        "errors": bench.get("errors", {}),
    }
    os.makedirs(WINDOWS, exist_ok=True)
    path = os.path.join(WINDOWS, args.label + ".json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"recorded {path}: total={out['total']}s key={key(out)} "
          f"n={len(out['queries'])}")


def key(window):
    """Reference key "<sf>|<cpus>", sf by directory name (sf0.01)."""
    if "counters" not in window:
        raise SystemExit(f"window {window.get('label')} has no counters "
                         "(recorded before the counter gate)")
    return f"{os.path.basename(window['sf'].rstrip('/'))}|{window['cpus']}"


def cell(k):
    """A key for a markdown table cell (its "|" escaped)."""
    return k.replace("|", "\\|")


def load_ref():
    ref = {"seconds": {}, "counters": {}, "updated_round": None}
    if os.path.exists(REF):
        with open(REF) as f:
            ref.update(json.load(f))
    return ref


def wall_moved(best, ref):
    return best > max(ref * 1.25, ref + 0.1)


def risen(best, ref):
    """Names of the counters in `best` that rose above `ref`."""
    return [COUNTERS[i] for i, (b, r) in enumerate(zip(best, ref))
            if b > (r * (1 + SHUFFLE_BAND) if i == SHUFFLE else r)]


def cmd_report(args):
    ref = load_ref()
    touched = [t for t in args.touched.split(",") if t]
    wins = []
    for path in args.windows:
        with open(path) as f:
            wins.append(json.load(f))
    by_key = {}
    for w in wins:
        by_key.setdefault(key(w), []).append(w)

    movers, expected, advisory = [], [], []
    errors = sorted({(key(w), n) for w in wins for n in w.get("errors", {})})
    for k, ws in sorted(by_key.items()):
        ref_c = ref["counters"].setdefault(k, {})
        ref_s = ref["seconds"].setdefault(k, {})
        samples = {}
        for w in ws:
            for n, c in w["counters"].items():
                samples.setdefault(n, []).append(c)
        held = set()
        for n, cs in sorted(samples.items()):
            best = [min(v) for v in zip(*cs)]
            rose = risen(best, ref_c[n]) if n in ref_c else []
            if rose and any(t in n for t in touched):
                expected.append((k, n, ref_c[n], best, rose))
            elif rose:
                movers.append((k, n, ref_c[n], best, rose))
                held.add(n)
        seconds = {}
        for w in ws:
            for n, t in w["queries"].items():
                seconds[n] = min(t, seconds.get(n, t))
        for n, t in sorted(seconds.items()):
            if n in ref_s and wall_moved(t, ref_s[n]):
                advisory.append((k, n, ref_s[n], t))
        if args.update_ref:
            for n, cs in samples.items():
                if n not in held:
                    ref_c[n] = [max(v) for v in zip(*cs)]
            for n, t in seconds.items():
                ref_s[n] = round(min(t, ref_s.get(n, t)), 3)
    # the reference is written before the report prints, so a stdout
    # closed early (| head) cannot lose the write
    if args.update_ref:
        ref["updated_round"] = args.round
        with open(REF, "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)

    print(f"## Bench adjudication — round {args.round}")
    print()
    print("| window | key | total s | faces |")
    print("|---|---|---|---|")
    for w in wins:
        print(f"| {w['label']} | {cell(key(w))} | {w['total']:.1f} "
              f"| {len(w['counters'])} |")
    print()

    def table(title, rows):
        print(title)
        print()
        print("| key | face | risen | ref | best |")
        print("|---|---|---|---|---|")
        for k, n, r, b, rose in rows:
            print(f"| {cell(k)} | {n} | {', '.join(rose)} | {r} | {b} |")
        print()

    if movers:
        table("### Counter movers on UNTOUCHED faces", movers)
    else:
        print("### No counter movers on untouched faces — drift gate clean")
        print()
    if expected:
        table("### Counter rises on TOUCHED faces (expected)", expected)
    if errors:
        print("### Faces that threw")
        print()
        for k, n in errors:
            print(f"- {k} {n}")
        print()
    if advisory:
        print("### Wall-time movers (advisory: raw best vs all-time min)")
        print()
        print("| key | face | ref s | best s | delta |")
        print("|---|---|---|---|---|")
        for k, n, r, b in sorted(advisory, key=lambda x: x[3] / x[2],
                                 reverse=True):
            print(f"| {cell(k)} | {n} | {r:.3f} | {b:.3f} "
                  f"| +{(b/r-1)*100:.0f}% |")
        print()
    if args.update_ref:
        print("reference updated: "
              + ", ".join(f"{k} {len(v)} faces"
                          for k, v in sorted(ref["counters"].items())))
    print(f"drift gate: {len(movers)} counter movers, "
          f"{len(errors)} failed faces")
    return 1 if movers or errors else 0


def main():
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    pr = sub.add_parser("record")
    pr.add_argument("--label", required=True)
    pr.add_argument("--bench-json",
                    help="file with Bench stdout (default: stdin)")
    pr.set_defaults(fn=cmd_record)
    pp = sub.add_parser("report")
    pp.add_argument("--round", type=int, required=True)
    pp.add_argument("--touched", default="",
                    help="comma list of face names/substrings the round's "
                         "diff touched (their counter rises are expected)")
    pp.add_argument("--update-ref", action="store_true")
    pp.add_argument("windows", nargs="+")
    pp.set_defaults(fn=cmd_report)
    args = p.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
