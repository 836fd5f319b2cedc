#!/usr/bin/env python3
"""Cross-round bench trend (VERDICT r9 #4): reads the committed
bench_history/*.json artifacts and prints, for the latest run vs the
previous run at the same sf, the per-query median ratio — flagging
>1.5x drifts — plus the q-query (language engine) and p-query
(pipeline suite) median ratios that the per-round verdict's
Performance section wants.

Two runs are compared only when they ran on the same scale dir (`sf`)
AND the same local[N] width (`cpus`, recorded by Bench since the 4-core
host); the older artifacts carry no `cpus` and pair only with each other.

Usage:
  python3 tools/trend.py                 # latest vs previous, same sf + cpus
  python3 tools/trend.py A.json B.json   # explicit pair (A = older)
  python3 tools/trend.py --all           # every consecutive same-host pair
  python3 tools/trend.py --sf1           # latest vs previous x10 (sf1) run
                                         # (VERDICT r10 #5: the sf1 point is
                                         # the most load-bearing scale
                                         # evidence; one point cannot drift)
"""
import json, sys, glob, os

THRESHOLD = 1.5


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip())


def quiet(d):
    # baseline eligibility (VERDICT r12 #3): a run that self-flagged
    # contention — contended_record (pre-suite quiet-gate, r13+) or
    # host_contended (in-suite calib spread) — must never be the
    # previous-medians baseline: its inflated medians make the next quiet
    # run look like an across-the-board improvement and hide real drift.
    # Bench no longer writes these flags (perfbench judges window noise);
    # the historical artifacts still carry them.
    return not (d.get("contended_record", False) or d.get("host_contended", False))


def noise_marks(d):
    # VERDICT r14 #5: the r14 contention-flag refinement moved the window
    # rule in the flag-favorable direction (sustained-median instead of
    # single-spike). A record can now be baseline-eligible (quiet) while
    # still carrying residual noise evidence — non-empty unstable_spikes
    # (old-rule hits, record-only) or in_suite_elevated > 0 (some in-suite
    # calib samples ran >1.5x the in-suite median, just not enough to
    # flag). Such a record may serve as a baseline, but never silently:
    # this marker travels with every comparison that uses one.
    marks = []
    spikes = d.get("unstable_spikes") or []
    if spikes:
        marks.append("unstable_spikes=" + ",".join(
            s.get("query", "?") if isinstance(s, dict) else str(s)
            for s in spikes))
    elevated = (d.get("calib_stats") or {}).get("in_suite_elevated", 0) or 0
    if elevated > 0:
        marks.append(f"in_suite_elevated={elevated}")
    return marks


def same_host(a, b):
    return a.get("sf") == b.get("sf") and a.get("cpus") == b.get("cpus")


def history():
    # full-suite artifacts only: _probe files hold forced hotspot/fidelity
    # runs (2-7 queries) and would make a useless trend baseline
    files = sorted(f for f in glob.glob("bench_history/bench_*.json")
                   if not f.endswith("_probe.json"))
    return [(f, load(f)) for f in files]


def median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2] if xs else float("nan")


def compare(prev_name, prev, cur_name, cur):
    pq, cq = prev.get("queries", {}), cur.get("queries", {})
    shared = sorted(k for k in cq if k in pq and pq[k] > 0 and cq[k] > 0)
    contended = cur.get("host_contended", False)
    retries = {k: v.get("retry") for k, v in cur.get("query_detail", {}).items()
               if isinstance(v, dict) and "retry" in v}
    print(f"\n== {os.path.basename(prev_name)} -> {os.path.basename(cur_name)} "
          f"(sf={cur.get('sf')}, cpus={cur.get('cpus')}, {len(shared)} shared "
          f"queries, host_contended={contended})")
    if not same_host(prev, cur):
        print(f"   WARNING: different hosts (sf {prev.get('sf')} vs {cur.get('sf')}, "
              f"cpus {prev.get('cpus')} vs {cur.get('cpus')}) — ratios compare "
              f"machines, not code")
    pm, cm = noise_marks(prev), noise_marks(cur)
    if pm:
        print(f"   NOTE: baseline {os.path.basename(prev_name)} is quiet but "
              f"carries noise evidence ({'; '.join(pm)}) — ratios may be "
              f"mildly deflated")
    if cm:
        print(f"   NOTE: current run carries noise evidence ({'; '.join(cm)})")
    ratios = {k: cq[k] / pq[k] for k in shared}
    qr = [r for k, r in ratios.items() if k.startswith("q")]
    pr = [r for k, r in ratios.items() if k.startswith("p")]
    print(f"   median ratio: all={median(list(ratios.values())):.3f}  "
          f"q-queries={median(qr):.3f}  p-queries={median(pr):.3f}")
    flagged = [(k, r) for k, r in ratios.items() if r > THRESHOLD]
    if not flagged:
        print(f"   no per-query drift > {THRESHOLD}x")
    for k, r in sorted(flagged, key=lambda x: -x[1]):
        retry = retries.get(k)
        note = f"  retry={retry:.3f}s ({retry / pq[k]:.2f}x prev)" if retry else ""
        tag = " [contended run]" if contended else ""
        print(f"   FLAG {k}: {pq[k]:.3f}s -> {cq[k]:.3f}s = {r:.2f}x{tag}{note}")
    new = sorted(k for k in cq if k not in pq)
    gone = sorted(k for k in pq if k not in cq)
    if new:
        print(f"   new queries (+{sum(cq[k] for k in new if cq[k] > 0):.1f}s "
              f"of total): {', '.join(new)}")
    if gone:
        print(f"   removed queries: {', '.join(gone)}")
    tot_p = sum(v for v in pq.values() if v > 0)
    tot_c = sum(v for v in cq.values() if v > 0)
    shared_c = sum(cq[k] for k in shared)
    print(f"   totals: prev={tot_p:.1f}s cur={tot_c:.1f}s "
          f"(shared-only cur={shared_c:.1f}s)")


def pick_pairs(runs, mode):
    """(prev, cur) pairs of (file, artifact) for `mode` ("latest", "all" or
    "sf1"); every pair is same_host. A contended run is never the baseline
    while a quiet one exists."""
    if mode == "all":
        return [(a, b) for a, b in zip(runs, runs[1:]) if same_host(a[1], b[1])]
    if mode == "sf1":
        runs = [r for r in runs
                if os.path.basename(str(r[1].get("sf", ""))) == "sf1"]
        if not runs:
            print("no sf1 run in bench_history")
            return []
    cur = runs[-1]
    prevs = [r for r in runs[:-1] if same_host(r[1], cur[1])]
    quiet_prevs = [r for r in prevs if quiet(r[1])]
    if quiet_prevs:
        prevs = quiet_prevs
    elif prevs:
        print("WARNING: no quiet baseline on this host — comparing against "
              "a contended run; ratios are deflated")
    if not prevs:
        print(f"no previous run at sf={cur[1].get('sf')} cpus={cur[1].get('cpus')}")
        return []
    return [(prevs[-1], cur)]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) == 2:
        compare(args[0], load(args[0]), args[1], load(args[1]))
        return
    runs = history()
    if len(runs) < 2:
        print("need at least two bench_history files")
        return
    mode = ("sf1" if "--sf1" in sys.argv
            else "all" if "--all" in sys.argv else "latest")
    for (pn, p), (cn, c) in pick_pairs(runs, mode):
        compare(pn, p, cn, c)


if __name__ == "__main__":
    main()
