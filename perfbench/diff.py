#!/usr/bin/env python3
"""Compares two sets of benchmark artifacts, workload by workload.

    python3 perfbench/diff.py <base> <new>

`base` and `new` are artifact files or directories of them (as written to
`.bench_build/perfbench/artifacts/`). Artifacts are grouped by workload and
by traced / untraced run; each metric's median over the group's seeds is
compared, every ratio is printed next to its base value, and with two or
more runs a side's quartile spread (distance between the quartiles as a
share of the median) is printed after it.
"""
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    groups = {}
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        groups.setdefault((a["workload"], a["trace"]), []).append(a)
    return groups


def medians(arts):
    vals = {}
    for a in arts:
        for k, v in a["metrics"].items():
            vals.setdefault(k, (v["unit"], []))[1].append(v["value"])
    return {k: (u, statistics.median(xs), len(xs),
                stats.quartile_spread(xs) if len(xs) > 1 else None)
            for k, (u, xs) in vals.items()}


def diff(base, new):
    lines = []
    for key in sorted(set(base) | set(new)):
        workload, trace = key
        lines.append(f"== {workload} ({'per-layer' if trace else 'end-to-end'}) ==")
        if key not in base or key not in new:
            lines.append(f"  only in {'new' if key in new else 'base'}")
            continue
        b, n = medians(base[key]), medians(new[key])
        for m in sorted(set(b) | set(n)):
            if m not in b or m not in n:
                lines.append(f"  {m}: only in {'new' if m in n else 'base'}")
                continue
            unit, bv, bn, bs = b[m]
            _, nv, nn, ns = n[m]
            ratio = f"{nv / bv:.3f}x" if bv else "n/a (base 0)"
            spread = "" if bs is None or ns is None else f"; spreads {ns:.3f} and {bs:.3f}"
            lines.append(f"  {m}: {nv:.6g} {unit} vs base {bv:.6g} {unit} "
                         f"= {ratio} (medians of {nn} and {bn} runs{spread})")
    return lines


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    print("\n".join(diff(load(argv[0]), load(argv[1]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
