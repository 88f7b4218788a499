#!/usr/bin/env python3
"""Compares two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as perfbench/run.py writes them to
perfbench/work/runs/ (copy that directory aside after each set). For every
workload and end-to-end metric it prints each set's median and quartiles,
the share of seed-matched pairs the new set wins, and a verdict (improved,
no worse, worse or unresolved) by the pair rule in stats.verdict, using the
metric's bound from BENCHMARK.json. From the traced runs (--trace 1) it
prints the per-layer medians of both sets and their delta, and each set's
tracing overhead: traced pass time over untraced pass time.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402


def load(d):
    """{(workload, trace): {seed: metrics}} of the run records in d."""
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        run = r["run"]
        res = r["result"]
        metrics = res["per_layer"] if run["trace"] else res["end_to_end"]
        runs.setdefault((run["workload"], run["trace"]), {})[run["seed"]] = metrics
    return runs


def pairs(base, new):
    """(base, new) run pairs: same seed where both have it, else by order."""
    common = sorted(set(base) & set(new))
    if common:
        return [(base[s], new[s]) for s in common]
    return list(zip([base[s] for s in sorted(base)], [new[s] for s in sorted(new)]))


def fmt(x):
    return f"{x:.4g}"


def spread(xs):
    q1, m, q3 = stats.quartiles(xs)
    return f"{fmt(m)} [{fmt(q1)}, {fmt(q3)}]"


def compare(base, new, out=sys.stdout):
    for wl in sorted({w for w, _ in base} | {w for w, _ in new}):
        print(f"== {wl}", file=out)
        b, n = base.get((wl, 0), {}), new.get((wl, 0), {})
        ps = pairs(b, n)
        if ps:
            print(f"  {'metric':16s} {'base median [q1, q3]':28s} {'new median [q1, q3]':28s} "
                  f"{'wins':>5s}  verdict", file=out)
            for m in workloads.END_TO_END:
                k = m["name"]
                pk = [(x[k], y[k]) for x, y in ps]
                v, share = stats.verdict(pk, m["bound"], m["better"])
                print(f"  {k:16s} {spread([x for x, _ in pk]):28s} {spread([y for _, y in pk]):28s} "
                      f"{share:5.2f}  {v}", file=out)
        else:
            print("  no untraced runs in both sets", file=out)
        tb, tn = base.get((wl, 1), {}), new.get((wl, 1), {})
        if tb and tn:
            print(f"  {'per-layer':26s} {'base':>10s} {'new':>10s} {'delta':>10s}", file=out)
            for m in workloads.PER_LAYER:
                k = m["name"]
                mb = stats.median([r.get(k, 0.0) for r in tb.values()])
                mn = stats.median([r.get(k, 0.0) for r in tn.values()])
                print(f"  {k:26s} {fmt(mb):>10s} {fmt(mn):>10s} {fmt(mn - mb):>10s}", file=out)
        for name, untraced, traced in (("base", b, tb), ("new", n, tn)):
            if untraced and traced:
                u = stats.median([r["pass_s"] for r in untraced.values()])
                t = stats.median([r["trace.pass_s"] for r in traced.values()])
                print(f"  tracing overhead ({name}): traced pass {fmt(t)} s over untraced "
                      f"{fmt(u)} s = {t / u - 1:+.1%}", file=out)


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    compare(load(sys.argv[1]), load(sys.argv[2]))


if __name__ == "__main__":
    main()
