#!/usr/bin/env python3
"""Compare two sets of fsbench run records, or report tracing overhead.

    python3 fsbench/compare.py PARENT_DIR CHANGE_DIR
    python3 fsbench/compare.py --overhead RECORDS_DIR

A records directory holds the JSON records run.py writes (by default to
.bench_build/fsbench/records/); copy each side's records to its own
directory before comparing.

Per workload and metric, the comparison prints each side's median and
quartiles, the pairwise win share of the change (pairs matched by seed,
else by order; ties count for neither side) and a verdict:

  improved    the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's interquartile distance
  regressed   the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's own spread (IQR / median) is wider than the
              bound, and not every change run beats every parent run
  unchanged   otherwise

End-to-end metrics come from untraced runs and carry the direction and
bound of BENCHMARK.json; per-layer metrics come from traced runs, have
no bound and get a verdict only when they move (improved/regressed read
as "lower"/"higher" there).

--overhead prints, per workload, the median of each end-to-end metric in
traced runs minus its median in untraced runs.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """The records in `d` whose run printed a result (every value present)."""
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        section = r["layers"] if r["trace"] else r["e2e"]
        if all(isinstance(v, (int, float)) for v in section.values()):
            recs.append(r)
    if not recs:
        sys.exit(f"compare: no usable records in {d}")
    return recs


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(parent, change, key):
    """(parent value, change value) pairs, matched by seed where both sides have it."""
    ps = {r["seed"]: r for r in parent}
    cs = {r["seed"]: r for r in change}
    common = sorted(set(ps) & set(cs))
    if common:
        return [(key(ps[s]), key(cs[s])) for s in common]
    return list(zip(map(key, parent), map(key, change)))


def verdict(pv, cv, prs, lower_better, bound):
    """Apply the rule in the module docstring; `bound` None means no bound."""
    pmed, cmed = statistics.median(pv), statistics.median(cv)
    q1, _, q3 = quartiles(pv)
    better = (lambda c, p: c < p) if lower_better else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in prs)
    share = wins / len(prs) if prs else 0.0
    if share >= 0.9 and abs(cmed - pmed) > (q3 - q1) and better(cmed, pmed):
        return "improved", share
    losses = sum(better(p, c) for p, c in prs)
    if bound is None:
        if prs and losses / len(prs) >= 0.9 and abs(cmed - pmed) > (q3 - q1):
            return "regressed", share
        return "unchanged", share
    worse = (cmed - pmed) / abs(pmed) if pmed else 0.0
    if not lower_better:
        worse = -worse
    spread = (q3 - q1) / abs(pmed) if pmed else 0.0
    if spread > bound and not all(better(c, p) for c in cv for p in pv):
        return "unresolved", share
    if worse > bound:
        return "regressed", share
    return "unchanged", share


def fmt(x):
    return f"{x:.4g}"


def compare(parent_dir, change_dir):
    parent, change = load(parent_dir), load(change_dir)
    e2e = spec()
    for w in sorted({r["workload"] for r in parent + change}):
        for traced in (False, True):
            p = [r for r in parent if r["workload"] == w and r["trace"] == traced]
            c = [r for r in change if r["workload"] == w and r["trace"] == traced]
            if not p or not c:
                continue
            section = "layers" if traced else "e2e"
            print(f"== {w} ({'per-layer, traced' if traced else 'end-to-end'}; "
                  f"{len(p)} parent / {len(c)} change runs)")
            print(f"{'metric':52} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
                  f"{'win':>5}  verdict")
            for m in p[0][section]:
                key = lambda r, m=m: r[section][m]
                pv, cv = [key(r) for r in p], [key(r) for r in c]
                if traced:
                    lower, bound = True, None
                else:
                    lower, bound = e2e[m]["better"] == "lower", e2e[m]["bound"]
                v, share = verdict(pv, cv, pairs(p, c, key), lower, bound)
                if traced and v != "unchanged":
                    v = "lower" if v == "improved" else "higher"
                pq, cq = quartiles(pv), quartiles(cv)
                print(f"{m:52} {'/'.join(map(fmt, pq)):>30} {'/'.join(map(fmt, cq)):>30} "
                      f"{share:5.2f}  {v}")
            canary = lambda rs: statistics.median(
                r["noise"]["canary_end_ms"] / r["noise"]["canary_start_ms"] for r in rs)
            print(f"  canary end/start median: parent {canary(p):.3f}, change {canary(c):.3f}")


def overhead(records_dir):
    recs = load(records_dir)
    for w in sorted({r["workload"] for r in recs}):
        t = [r for r in recs if r["workload"] == w and r["trace"]]
        u = [r for r in recs if r["workload"] == w and not r["trace"]]
        if not t or not u:
            print(f"== {w}: needs traced and untraced runs")
            continue
        print(f"== {w}: tracing overhead ({len(t)} traced, {len(u)} untraced runs)")
        for m in u[0]["e2e"]:
            tm = statistics.median(r["e2e"][m] for r in t)
            um = statistics.median(r["e2e"][m] for r in u)
            rel = f"{(tm - um) / um:+.1%}" if um else ""
            print(f"{m:32} traced {fmt(tm):>10}  untraced {fmt(um):>10}  "
                  f"diff {fmt(tm - um):>10} {rel}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("dirs", nargs="+")
    a = ap.parse_args()
    if a.overhead:
        if len(a.dirs) != 1:
            ap.error("--overhead takes one records directory")
        overhead(a.dirs[0])
    else:
        if len(a.dirs) != 2:
            ap.error("give PARENT_DIR and CHANGE_DIR")
        compare(*a.dirs)


if __name__ == "__main__":
    main()
