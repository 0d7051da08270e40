#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or check the spread of one set.

    python3 perfbench/compare.py BASE_DIR NEW_DIR   # parent vs change
    python3 perfbench/compare.py RUNS_DIR           # spread of one set

Each directory holds run artifacts (perfbench/runs/*.json). Runs whose
(sf, cpus) differ are refused: a baseline only holds on the machine state
it was cut on.

For every workload x end-to-end metric the table gives each side's median
and quartiles (statistics.quantiles, n=4) and a verdict:

  gain        the new side wins at least 9 of 10 pairs (runs paired by
              seed; ties count for neither) and the medians differ by more
              than the base side's quartile spread
  regression  the new median is worse than the base by more than the bound
  unresolved  a side's quartile spread exceeds the bound, unless every new
              run is better than every base run
  same        none of the above

A ratio whose base is 0 prints as n/a. Traced runs (trace 1) add the
per-layer medians and the tracing overhead: traced versus untraced
end-to-end medians of the same set.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# Median foreign-core readings of two sets further apart than this mean the
# sets ran on differently loaded machines (hypervisor steal moved a sql
# pass by up to 60% on a 4-core box).
FOREIGN_TOLERANCE = 0.25


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        sys.exit(f"no run artifacts in {d}")
    return runs


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def quart(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def share(num, base):
    return None if base == 0 else num / base


def pct(x):
    return "n/a" if x is None else f"{100 * x:+.1f}%"


def machine(runs):
    return {(r["stamp"]["sf"], r["stamp"]["cpus"]) for r in runs}


def by_workload(runs, trace):
    out = {}
    for r in runs:
        if r["stamp"]["trace"] == trace:
            out.setdefault(r["stamp"]["workload"], []).append(r)
    return out


def values(runs, key, name):
    return [r[key][name] for r in runs if name in r[key]]


def spread(xs):
    q1, med, q3 = quart(xs)
    return share(q3 - q1, med), med, q1, q3


def verdict(m, base, new):
    lower = m["better"] == "lower"

    def better(x, y):
        return x < y if lower else x > y
    bvals = [r["e2e"][m["name"]] for r in base]
    nvals = [r["e2e"][m["name"]] for r in new]
    sb, mb, q1, q3 = spread(bvals)
    sn, mn, _, _ = spread(nvals)
    bseed = {r["stamp"]["seed"]: r["e2e"][m["name"]] for r in base}
    pairs = [(bseed[r["stamp"]["seed"]], r["e2e"][m["name"]]) for r in new if r["stamp"]["seed"] in bseed]
    wins = sum(1 for b, n in pairs if better(n, b))
    if pairs and wins >= 0.9 * len(pairs) and abs(mn - mb) > (q3 - q1):
        return "gain"
    all_better = all(better(n, b) for n in nvals for b in bvals)
    if (sb is None or sb > m["bound"] or sn is None or sn > m["bound"]) and not all_better:
        return "unresolved"
    rel = share(mn - mb, mb)
    if rel is not None and (rel if lower else -rel) > m["bound"]:
        return "regression"
    return "same"


def fmt(xs):
    q1, med, q3 = quart(xs)
    return f"{med:12.4g} [{q1:.4g}, {q3:.4g}]"


def check_machine(*sets):
    ms = set()
    for s in sets:
        ms |= machine(s)
    if len(ms) != 1:
        sys.exit(f"refusing to compare runs from different machine states (sf, cpus): {sorted(ms)}")


def report_spread(runs, b):
    check_machine(runs)
    ok = True
    for w, rs in sorted(by_workload(runs, 0).items()):
        print(f"== {w}: {len(rs)} untraced runs, {sum(r['failed'] for r in rs)} failed ops, "
              f"{sum(1 for r in rs if not r['correct'])} incorrect, foreign cores "
              f"{fmt([r['stamp']['foreign_cores'] for r in rs]).strip()}")
        for m in b["end_to_end"]:
            sp, med, q1, q3 = spread(values(rs, "e2e", m["name"]))
            flag = "ok" if sp is not None and sp <= m["bound"] / 3 else (
                "within bound" if sp is not None and sp <= m["bound"] else "TOO WIDE")
            if m["name"] != "setup_s" and flag == "TOO WIDE":
                ok = False
            print(f"  {m['name']:<18} median {med:12.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
                  f"spread {pct(sp)} (bound {m['bound']:.2f}) {flag}")
    overhead(runs, b)
    return ok


def overhead(runs, b):
    traced, plain = by_workload(runs, 1), by_workload(runs, 0)
    for w, rs in sorted(traced.items()):
        print(f"== {w}: {len(rs)} traced runs")
        if w in plain:
            for m in b["end_to_end"]:
                t = statistics.median(values(rs, "e2e", m["name"]))
                p = statistics.median(values(plain[w], "e2e", m["name"]))
                print(f"  overhead {m['name']:<18} traced {t:.4g} vs untraced {p:.4g}: {pct(share(t - p, p))}")
        for m in b["per_layer"]:
            xs = values(rs, "layers", m["name"])
            if xs:
                print(f"  {m['name']:<28} {fmt(xs)} {m['unit']}")


def main():
    b = spec()
    if len(sys.argv) == 2:
        sys.exit(0 if report_spread(load(sys.argv[1]), b) else 1)
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    check_machine(base, new)
    bw, nw = by_workload(base, 0), by_workload(new, 0)
    for w in sorted(set(bw) | set(nw)):
        if w not in bw or w not in nw:
            print(f"== {w}: only in {'base' if w in bw else 'new'}")
            continue
        print(f"== {w}: {len(bw[w])} base runs, {len(nw[w])} new runs")
        fb, fn = (statistics.median(r["stamp"]["foreign_cores"] for r in s) for s in (bw[w], nw[w]))
        print(f"  foreign cores, median: base {fb:.2f}, new {fn:.2f}"
              + ("  WARNING: the machine was not equally loaded; verdicts may be the machine's"
                 if abs(fb - fn) > FOREIGN_TOLERANCE else ""))
        print(f"  {'metric':<18} {'base median [q1, q3]':>34} {'new median [q1, q3]':>34} {'change':>8}  verdict")
        for m in b["end_to_end"]:
            bx, nx = values(bw[w], "e2e", m["name"]), values(nw[w], "e2e", m["name"])
            change = share(statistics.median(nx) - statistics.median(bx), statistics.median(bx))
            print(f"  {m['name']:<18} {fmt(bx):>34} {fmt(nx):>34} {pct(change):>8}  "
                  f"{verdict(m, bw[w], nw[w])}")
    for label, s in (("base", base), ("new", new)):
        if by_workload(s, 1):
            print(f"-- traced runs of {label}")
            overhead(s, b)


if __name__ == "__main__":
    main()
