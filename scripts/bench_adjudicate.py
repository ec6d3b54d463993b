#!/usr/bin/env python3
"""Mechanical bench-drift adjudication (VERDICT r15 #5).

Two rounds in a row closed on a narrative "host drift" thesis. This
script makes the call mechanical:

  * `record` stamps a Bench window (the full per-query JSON line) with
    uptime/loadavg and saves it under bench/windows/.
  * `report` takes a round's windows, computes each query's BEST
    (min) time across them, and compares against the committed
    all-time per-query reference (bench/reference.json). A query
    moved if best > max(ref * 1.25, ref + 0.1). Movers on queries the
    round TOUCHED are expected and listed separately; movers on
    untouched queries are flagged, and a query flagged in two
    CONSECUTIVE rounds is marked PROFILE — profile it, don't narrate.
    `--update-ref` folds the round's new minima and flag history back
    into the reference.

    Round 18+: windows carry per-query CONTAMINATION evidence (Bench
    times an all-core fixed-work canary before every measurement
    and samples loadavg every 10 s in-run). Bests are taken over
    CLEAN samples only (canary within 1.5x of the cross-window
    floor); a query with no clean sample anywhere is UNADJUDICATED —
    reported, but neither flagged nor cleared — so a co-tenant burst
    inside a window no longer manufactures a cross-family flag
    cohort, and a flag now means "moved while the host was at its
    own speed". Pre-r18 windows (no canary) keep the old behavior.

  * `resolve` closes a PROFILE escalation AGAINST A RECORDED ARTIFACT
    (round 17: an isolated-JVM profile or an A/B against the prior
    round's commit proving the mover is environmental, not a plan
    change). It clears the query's flag streak and records
    {round, artifact, isolated steady} under reference.json's
    `resolved` map, so the escalation doesn't re-fire every round on
    a host whose baseline has shifted — while a FUTURE mover starts a
    fresh streak and gets compared against the recorded isolated
    steady state. A resolve without an existing artifact file is
    refused: the artifact IS the exoneration.

Usage:
  bench_adjudicate.py record --label r16_w1 --bench-json /tmp/bench.out
  bench_adjudicate.py report --round 16 --touched ann_,dedup_ \\
      bench/windows/r16_*.json [--update-ref]
  bench_adjudicate.py resolve --round 17 \\
      --artifact bench/profiles/r17_flags.json [names...]
"""
import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF = os.path.join(REPO, "bench", "reference.json")
WINDOWS = os.path.join(REPO, "bench", "windows")


def parse_bench_lines(text):
    """The Bench main prints the per-query totals line, and (round 18+)
    a load_probe line with mid-run loadavg stats plus the per-query
    contention canary. Returns (bench, probe); probe is None for
    pre-r18 output (stderr noise and sbt banners are skipped)."""
    bench = probe = None
    for line in text.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if obj.get("metric") == "load_probe":
            probe = obj
        elif obj.get("metric") == "total" and "queries" in obj:
            bench = obj
    if bench is None:
        raise SystemExit("no Bench JSON line with a queries map found")
    return bench, probe


def cmd_record(args):
    text = (open(args.bench_json).read() if args.bench_json
            else sys.stdin.read())
    bench, probe = parse_bench_lines(text)
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/uptime") as f:
        uptime_s = float(f.read().split()[0])
    out = {
        "label": args.label,
        "total": bench["value"],
        "sf": bench.get("sf"),
        "passes": bench.get("passes"),
        "loadavg": [float(x) for x in load],
        "uptime_s": uptime_s,
        "queries": bench["queries"],
    }
    if probe is not None:
        # mid-run signals (VERDICT r17 #1): loadavg sampled every 10 s
        # DURING the sweeps, and the all-core CPU canary timed
        # immediately before the pass that produced each query's min —
        # the per-(window, query) contamination evidence report uses
        out["loadavg_run"] = probe.get("loadavg")
        out["canary"] = probe.get("canary")
        if probe.get("retry") is not None:
            # clean-retry provenance (round 18): how many queries had to
            # be re-measured in quiet gaps, how many recovered a clean
            # bracket, and how long the bench waited for quiet
            out["retry"] = probe["retry"]
    os.makedirs(WINDOWS, exist_ok=True)
    path = os.path.join(WINDOWS, args.label + ".json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"recorded {path}: total={out['total']}s "
          f"load={','.join(load)} n={len(out['queries'])}")


def load_ref():
    if os.path.exists(REF):
        with open(REF) as f:
            return json.load(f)
    return {"queries": {}, "flags": {}, "updated_round": None}


def moved(best, ref):
    return best > max(ref * 1.25, ref + 0.1)


def cmd_report(args):
    ref = load_ref()
    touched = [t for t in (args.touched or "").split(",") if t]
    wins = []
    for path in args.windows:
        with open(path) as f:
            wins.append(json.load(f))
    if not wins:
        raise SystemExit("no windows given")
    names = sorted(set().union(*[w["queries"].keys() for w in wins]))

    # Contamination-aware bests (VERDICT r17 #1). The canary floor is
    # the cross-window minimum of the ~12 ms fixed-work all-core
    # canary; a per-(window, query) sample is CLEAN if its co-located
    # canary is within 1.5x (+5 ms) of that floor — i.e. the host was
    # at its own speed when that number was taken. Flags are evaluated
    # on best-of-CLEAN samples; a query with no clean sample in any
    # window is UNADJUDICATED (neither flagged nor cleared): flagging
    # it would re-litigate the environment, clearing it would hide a
    # real regression behind a burst. Pre-r18 windows carry no canary
    # and count as clean (the old behavior).
    all_canary = [c for w in wins for c in (w.get("canary") or {}).values()
                  if c and c > 0]
    # The floor is COMMITTED (reference.json carries the all-time
    # canary min, folded by --update-ref like the query floors): a
    # round whose every window ran on a contended host must not grade
    # itself clean against its own degraded best moment — cleanliness
    # means "the host at the speed the reference floors were set at".
    ref_floor = ref.get("canary_floor")
    cands = ([ref_floor] if ref_floor else []) + \
        ([min(all_canary)] if all_canary else [])
    canary_floor = min(cands) if cands else None

    def canary_ok(c):
        return c <= max(canary_floor * 1.5, canary_floor + 0.005)

    # Window-level gate: a window where the MEDIAN bracketing canary is
    # over the clean threshold spent most of its wall under contention —
    # its individually-clean-looking samples are still suspect (the
    # canary sees CPU-queue contention; an always-busy co-tenant also
    # steals memory bandwidth and page cache, which a 12 ms ALU loop
    # does not feel but a scan-heavy query does). Only samples from
    # majority-clean windows can vouch a flag.
    def window_clean(w):
        if canary_floor is None:
            return True
        cs = sorted(v for v in (w.get("canary") or {}).values() if v and v > 0)
        if not cs:
            return True
        return canary_ok(cs[len(cs) // 2])

    def is_clean(w, n):
        if canary_floor is None:
            return True
        if not window_clean(w):
            return False
        c = (w.get("canary") or {}).get(n)
        if c is None or c <= 0:
            return True
        return canary_ok(c)

    best, unadjudicated = {}, []
    for n in names:
        clean_ts = [w["queries"][n] for w in wins
                    if n in w["queries"] and is_clean(w, n)]
        if clean_ts:
            best[n] = min(clean_ts)
        else:
            best[n] = min(w["queries"][n] for w in wins if n in w["queries"])
            unadjudicated.append(n)

    # classify BEFORE any update mutates the reference
    pre_queries = dict(ref["queries"])
    movers, expected, new_queries, contaminated = [], [], [], []
    for n in names:
        if n not in pre_queries:
            new_queries.append(n)
            continue
        r = pre_queries[n]
        if not moved(best[n], r):
            continue
        if n in unadjudicated:
            contaminated.append((n, r, best[n]))
        elif any(n.startswith(t) or t in n for t in touched):
            expected.append((n, r, best[n]))
        else:
            movers.append((n, r, best[n]))
    flags = dict(ref.get("flags", {}))
    pre_flags = {n: list(v) for n, v in flags.items()}

    # update the reference FIRST: a piped stdout (| head) may close
    # before the report finishes printing, and the write must not be
    # lost to a BrokenPipeError raised mid-report
    if args.update_ref:
        for n in names:
            prev = ref["queries"].get(n)
            ref["queries"][n] = round(min(best[n], prev)
                                      if prev is not None else best[n], 3)
        for n, _, _ in movers:
            flags.setdefault(n, [])
            if args.round not in flags[n]:
                flags[n].append(args.round)
        # a query that did NOT move this round on a clean sample clears
        # its streak; an unadjudicated one keeps it as it was
        for n in list(flags):
            if n in ref["queries"] and n in best and \
                    n not in unadjudicated and \
                    not moved(best[n], ref["queries"][n]):
                del flags[n]
        ref["flags"] = flags
        ref["updated_round"] = args.round
        if canary_floor is not None:
            # min-fold the canary floor like the query floors: over
            # rounds it converges to the host's true quiet speed
            ref["canary_floor"] = round(canary_floor, 5)
        os.makedirs(os.path.dirname(REF), exist_ok=True)
        with open(REF, "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)

    print(f"## Bench adjudication — round {args.round}")
    print()
    if canary_floor is not None:
        print(f"Canary floor {canary_floor*1000:.1f} ms; clean = "
              f"canary <= max(1.5x floor, floor+5ms). "
              f"{len(unadjudicated)} queries with no clean sample.")
        print()
    print("| window | total s | queries | load@rec | load in-run "
          "min/mean/max | canary med ms | verdict | clean % | uptime h |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w in wins:
        lr = w.get("loadavg_run") or {}
        lrs = (f"{lr['min']:.1f}/{lr['mean']:.1f}/{lr['max']:.1f}"
               if "max" in lr else "-")
        cm = w.get("canary") or {}
        cs = sorted(v for v in cm.values() if v and v > 0)
        med = f"{cs[len(cs)//2]*1000:.1f}" if cs else "-"
        verdict = ("-" if not cs else
                   "clean" if window_clean(w) else "CONTAMINATED")
        n_c = sum(1 for n in w["queries"] if is_clean(w, n))
        pct = (f"{100*n_c/len(w['queries']):.0f}" if cm else "-")
        print(f"| {w['label']} | {w['total']:.1f} | {len(w['queries'])} "
              f"| {'/'.join(str(x) for x in w['loadavg'])} "
              f"| {lrs} | {med} | {verdict} | {pct} "
              f"| {w['uptime_s']/3600:.1f} |")
    print()

    if movers:
        print("### Movers on UNTOUCHED queries (best window vs all-time min)")
        print()
        print("| query | ref s | best s | delta | flagged rounds | status |")
        print("|---|---|---|---|---|---|")
        for n, r, b in sorted(movers, key=lambda x: x[2] - x[1],
                              reverse=True):
            hist = pre_flags.get(n, [])
            status = "PROFILE" if args.round - 1 in hist else "watch"
            shown = hist if args.round in hist else hist + [args.round]
            print(f"| {n} | {r:.3f} | {b:.3f} | +{(b/r-1)*100:.0f}% "
                  f"| {shown} | {status} |")
        print()
    else:
        print("### No movers on untouched queries — drift gate clean")
        print()
    if contaminated:
        print("### Contaminated — every sample burst-hit, UNADJUDICATED "
              "(not flagged, not cleared)")
        print()
        print("| query | ref s | best (dirty) s | delta |")
        print("|---|---|---|---|")
        for n, r, b in sorted(contaminated):
            print(f"| {n} | {r:.3f} | {b:.3f} | +{(b/r-1)*100:.0f}% |")
        print()
    if expected:
        print("### Movers on TOUCHED queries (expected — new/changed faces)")
        print()
        print("| query | ref s | best s | delta |")
        print("|---|---|---|---|")
        for n, r, b in sorted(expected):
            print(f"| {n} | {r:.3f} | {b:.3f} | +{(b/r-1)*100:.0f}% |")
        print()
    if new_queries:
        print(f"### New queries entering the reference: "
              f"{len(new_queries)}")
        print()
    if args.update_ref:
        print(f"reference updated: {len(ref['queries'])} queries, "
              f"{len(flags)} active flags")


def cmd_resolve(args):
    ref = load_ref()
    art_abs = os.path.join(REPO, args.artifact) \
        if not os.path.isabs(args.artifact) else args.artifact
    if not os.path.exists(art_abs):
        raise SystemExit(f"artifact {args.artifact} does not exist — "
                         "a resolve needs a recorded measurement")
    with open(art_abs) as f:
        art = json.load(f)
    art_qs = art.get("queries", {})
    names = args.names or sorted(n for n in ref.get("flags", {})
                                 if n in art_qs)
    flags = ref.setdefault("flags", {})
    resolved = ref.setdefault("resolved", {})
    closed = []
    for n in names:
        if n not in flags:
            print(f"{n}: no active flag — skipped")
            continue
        if n not in art_qs:
            print(f"{n}: not covered by the artifact — NOT resolved")
            continue
        entry = {"round": args.round,
                 "artifact": os.path.relpath(art_abs, REPO),
                 "flag_history": flags.pop(n)}
        steady = art_qs[n].get("steady") or art_qs[n].get("r17_steady")
        if steady is not None:
            entry["isolated_steady"] = steady
        resolved[n] = entry
        closed.append(n)
    with open(REF, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
    print(f"resolved {len(closed)} flags against "
          f"{os.path.relpath(art_abs, REPO)}: {', '.join(closed)}")
    print(f"{len(flags)} flags remain active")


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
                    help="comma list of query names/prefixes the round's "
                         "diff touched (their movers are expected)")
    pp.add_argument("--update-ref", action="store_true")
    pp.add_argument("windows", nargs="+")
    pp.set_defaults(fn=cmd_report)
    pv = sub.add_parser("resolve")
    pv.add_argument("--round", type=int, required=True)
    pv.add_argument("--artifact", required=True,
                    help="recorded measurement justifying the resolve "
                         "(profile_flags or A-B artifact)")
    pv.add_argument("names", nargs="*",
                    help="flags to close (default: every active flag "
                         "the artifact covers)")
    pv.set_defaults(fn=cmd_resolve)
    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:
        # stdout piped into head: the reference write (if any) already
        # happened before the report printing; exit quietly
        os._exit(0)
