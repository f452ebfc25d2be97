#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage: compare.py BASE.jsonl NEW.jsonl [--benchmark BENCHMARK.json]

Each file holds one JSON record per run, as perfbench/run.py appends
them to .bench_build/perfbench/results.jsonl. For every workload and
end-to-end metric it prints both medians, quartiles and spreads, and
flags a change worse than the metric's bound in BENCHMARK.json.

It then diffs the deterministic counters of traced runs per query
(jobs, stages, tasks, shuffle bytes). A counter that does not repeat
across the runs of one file is listed as unstable and not gated; a
stable counter that grows is flagged. Last, it reports the tracing
overhead of each file: traced minus untraced median per metric.

Exit status 1 when anything is flagged.
"""
import argparse
import collections
import json
import os
import statistics
import sys

COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def metric_values(runs, trace):
    """{workload: {metric: [values]}} over the runs with that trace flag."""
    out = collections.defaultdict(lambda: collections.defaultdict(list))
    for r in runs:
        if r["trace"] == trace:
            for k, m in r["metrics"].items():
                out[r["workload"]][k].append(m["value"])
    return out


def counter_values(runs):
    """{(workload, query, counter): [values]} over the traced runs."""
    out = collections.defaultdict(list)
    for r in runs:
        if r["trace"] == 1 and r["workload"] != "stream":
            for q, figs in r.get("per_query", {}).items():
                for c in COUNTERS:
                    if c in figs:
                        out[(r["workload"], q, c)].append(figs[c])
    return out


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(here, "..", "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, new = load(a.base), load(a.new)
    flagged = 0

    print("== end-to-end (untraced runs): median [q1, q3], spread = (q3 - q1) / median")
    bv, nv = metric_values(base, 0), metric_values(new, 0)
    for w in sorted(set(bv) | set(nv)):
        for k in sorted(set(bv[w]) | set(nv[w])):
            if not bv[w][k] or not nv[w][k]:
                print(f"{w:<10} {k:<18} present in only one file")
                continue
            b1, bm, b3 = quartiles(bv[w][k])
            n1, nm, n3 = quartiles(nv[w][k])
            change = (nm - bm) / bm if bm else 0.0
            m = spec.get(k, {"better": "lower", "bound": 0.0})
            worse = change if m["better"] == "lower" else -change
            verdict = "WORSE" if worse > m["bound"] else "ok"
            flagged += verdict == "WORSE"
            print(f"{w:<10} {k:<18} base {bm:12.4f} [{b1:.4f}, {b3:.4f}] "
                  f"spread {(b3 - b1) / bm if bm else 0:6.1%} (n={len(bv[w][k])}) | "
                  f"new {nm:12.4f} [{n1:.4f}, {n3:.4f}] "
                  f"spread {(n3 - n1) / nm if nm else 0:6.1%} (n={len(nv[w][k])}) | "
                  f"{change:+7.1%} bound {m['bound']:.0%} {verdict}")

    print("== counters per query (traced runs): exact diff of stable counters")
    bc, nc = counter_values(base), counter_values(new)
    unstable, same = [], 0
    for key in sorted(set(bc) | set(nc)):
        w, q, c = key
        bs, ns = bc.get(key, []), nc.get(key, [])
        if not bs or not ns:
            print(f"{w:<10} {q:<22} {c:<20} present in only one file")
            continue
        if len(set(bs)) > 1 or len(set(ns)) > 1:
            unstable.append(f"{w}/{q}/{c} base {sorted(set(bs))} new {sorted(set(ns))}")
            continue
        if bs[0] == ns[0]:
            same += 1
        else:
            grew = ns[0] > bs[0]
            flagged += grew
            print(f"{w:<10} {q:<22} {c:<20} {bs[0]:.0f} -> {ns[0]:.0f} "
                  f"{'GREW' if grew else 'shrank'}")
    print(f"{same} stable counters unchanged")
    if unstable:
        print("unstable (not gated): " + "; ".join(unstable))

    print("== tracing overhead: traced minus untraced median, per file")
    for label, runs in (("base", base), ("new", new)):
        un, tr = metric_values(runs, 0), metric_values(runs, 1)
        for w in sorted(set(un) & set(tr)):
            for k in sorted(set(un[w]) & set(tr[w])):
                u, t = statistics.median(un[w][k]), statistics.median(tr[w][k])
                print(f"{label:<5} {w:<10} {k:<18} {t - u:+12.4f} "
                      f"({(t - u) / u if u else 0:+.1%})")
    print(f"== {flagged} flagged")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
