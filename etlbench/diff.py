#!/usr/bin/env python3
"""Compare two benchmark result files of one workload.

    python3 etlbench/diff.py BEFORE AFTER

Each side is a run result (`.bench_results/<workload>-s<seed>-t<trace>.json`,
as run.py writes it). It prints each end-to-end metric on both sides and
its change. When both sides are traced runs (`--trace 1`), each change is
followed by the layer metrics that metric depends on (`layers.MOVES`),
ordered by how far they moved, and then by the repo-call spans and job
call sites that moved most.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import layers  # noqa: E402


def change(a, b):
    rel = f" ({(b - a) / a:+.1%})" if a else ""
    return f"{a:.4g} -> {b:.4g}{rel}"


def moved(a, b, sub, keys=None, top=6):
    """The keys that moved most: seconds by the seconds they moved (their
    share of an end-to-end change), other units by their relative move."""
    keys = keys or sorted(set(a[sub]) | set(b[sub]))
    rows = []
    for k in keys:
        x, y = a[sub].get(k, 0.0), b[sub].get(k, 0.0)
        if x != y:
            secs = sub != "layers" or layers.UNITS[k] == "s"
            rows.append((not secs, -abs(y - x) if secs else -abs(y - x) / max(abs(x), abs(y)),
                         k, x, y))
    return [f"      {k:<40} {change(x, y)}" for *_, k, x, y in sorted(rows)[:top]]


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sides = []
    for path in sys.argv[1:]:
        with open(path) as f:
            sides.append(json.load(f))
    a, b = sides
    if a["workload"] != b["workload"]:
        raise SystemExit(f"different workloads: {a['workload']} vs {b['workload']}")
    traced = a["trace"] and b["trace"]
    print(f"== {a['workload']}: seed {a['seed']} vs {b['seed']}, "
          f"{'traced' if traced else 'untraced'}")
    lines = []
    for m, deps in layers.MOVES.items():
        lines.append(f"  {m:<12} {change(a['e2e'][m], b['e2e'][m])}")
        if traced:
            lines += moved(a, b, "layers", deps)
    if traced:
        lines += ["  repo-call spans (s per op):"] + moved(a, b, "spans")
        lines += ["  job time by call site (s per op):"] + moved(a, b, "sites")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
