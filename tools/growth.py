#!/usr/bin/env python3
"""Per-query growth across scale factors, from graft.Bench detail lines.

Usage:
    python3 tools/growth.py bench_sf0.001.json bench_sf0.01.json bench_sf0.1.json

Each argument is the detail line graft.Bench writes to
target/bench_last.json (one run per scale factor, same SPARK_GRAFT_CPUS
and SPARK_DRIVER_MEM). Files are ordered by the `sf` each one carries.
For every query the script prints wall and task cpu at each scale factor
and the ratio of each step, as one markdown table (a query that failed at
some scale factor is marked there), then the failures by name and a
summary.

A query is flagged super-linear when its cpu ratio on the LAST step
exceeds that step's nominal row growth (the ratio of the two scale
factors: 10 for sf0.01 -> sf0.1). Earlier steps are reported but not
flagged: at sf0.001 fixed per-query cost dominates, and its bytes grow
only ~4x to sf0.01, not 10x.
"""

import json
import re
import statistics
import sys


def load(path):
    with open(path) as f:
        d = json.loads(f.read().strip().splitlines()[-1])
    m = re.search(r"sf([0-9.]+)", d["sf"])
    if not m:
        sys.exit(f"{path}: cannot read a scale factor from sf={d['sf']!r}")
    return float(m.group(1)), d


def ratio(a, b):
    return b / a if a and b is not None else None


def fmt(x, nd=2):
    return "-" if x is None else f"{x:.{nd}f}"


def main(paths):
    if len(paths) < 2:
        sys.exit(__doc__)
    by_sf = {}
    for p in paths:
        sf, d = load(p)
        if sf in by_sf:
            sys.exit(f"{by_sf[sf][0]} and {p} both carry scale factor {sf:g}; "
                     "give one Bench run per scale factor")
        by_sf[sf] = (p, d)
    runs = [(sf, d) for sf, (_, d) in sorted(by_sf.items())]
    sfs = [sf for sf, _ in runs]
    nominal = sfs[-1] / sfs[-2]
    names = sorted(set().union(*(d["queries"] for _, d in runs)))
    steps = [f"{a:g}->{b:g}" for a, b in zip(sfs, sfs[1:])]
    cols = ([f"wall {sf:g}" for sf in sfs] + [f"wall x {s}" for s in steps]
            + [f"cpu {sf:g}" for sf in sfs] + [f"cpu x {s}" for s in steps])
    print("| query | " + " | ".join(cols) + " | flag |")
    print("|---" * (len(cols) + 2) + "|")
    flagged, last_cpu, last_wall = [], [], []
    for q in names:
        wall = [d["queries"].get(q) for _, d in runs]
        cpu = [d["cpu_sec"].get(q) for _, d in runs]
        wr = [ratio(a, b) for a, b in zip(wall, wall[1:])]
        cr = [ratio(a, b) for a, b in zip(cpu, cpu[1:])]
        flag = cr[-1] is not None and cr[-1] > nominal
        failed = [f"failed sf{sf:g}" for sf, d in runs
                  if q in d.get("failures", [])]
        if flag:
            flagged.append((cr[-1], q, cpu[-2], cpu[-1], wr[-1]))
        if cr[-1] is not None:
            last_cpu.append(cr[-1])
        if wr[-1] is not None:
            last_wall.append(wr[-1])
        cells = ([fmt(x, 3) for x in wall] + [fmt(x) for x in wr]
                 + [fmt(x, 3) for x in cpu] + [fmt(x) for x in cr])
        marks = (["SUPER"] if flag else []) + failed
        print(f"| {q} | " + " | ".join(cells) + f" | {' '.join(marks)} |")
    print()
    for sf, d in runs:
        fails = d.get("failures", [])
        missing = [q for q in names if q not in d["queries"]]
        print(f"sf{sf:g}: {len(d['queries'])} queries, total wall "
              f"{d['value']:.1f} s, failures {len(fails)}"
              + (": " + ", ".join(fails) if fails else "")
              + (f"; missing {', '.join(missing)}" if missing else ""))
    for label, xs in (("cpu", last_cpu), ("wall", last_wall)):
        if xs:
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"{steps[-1]} {label} ratio over {len(xs)} queries: "
                  f"median {med:.2f}, quartiles {q1:.2f} / {q3:.2f}")
    print(f"super-linear on {steps[-1]} (cpu ratio > {nominal:g}): "
          f"{len(flagged)}")
    for r, q, c0, c1, w in sorted(flagged, reverse=True):
        print(f"  {q}: cpu {c0:.3f} -> {c1:.3f} s ({r:.2f}x), "
              f"wall x {fmt(w)}")


if __name__ == "__main__":
    main(sys.argv[1:])
