#!/usr/bin/env python3
"""One traced and one untraced run of every workload on the same seed;
writes `results/traced.md` (every per-layer metric, the unattributed
remainder and the tracing overhead) and keeps both run results under
`results/` for diff.py.

    python3 etlbench/traced.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402

SEED = 7


def run(workload, seed, trace, seconds):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   check=True, stdout=subprocess.DEVNULL)
    name = f"{workload}-s{seed}-t{trace}.json"
    dst = os.path.join(HERE, "results", name)
    shutil.copy(os.path.join(".bench_results", name), dst)
    with open(dst) as f:
        return json.load(f)


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    workloads = [w["name"] for w in bench["workloads"]]
    res = {w: (run(w, SEED, 0, bench["run_seconds"]), run(w, SEED, 1, bench["run_seconds"]))
           for w in workloads}
    out = ["# Traced run", "",
           f"Seed {SEED}, --seconds {bench['run_seconds']}, one untraced and one traced "
           "run per workload, back to back. Per-layer values are means per timed operation "
           "(layers.py). Overhead = traced minus untraced `op_p50_s`.", "",
           "| metric | unit | " + " | ".join(workloads) + " |", "|---" * (2 + len(workloads)) + "|"]
    for m in bench["per_layer"]:
        out.append(f"| {m['name']} | {m['unit']} | " + " | ".join(
            f"{res[w][1]['layers'][m['name']]:.6g}" for w in workloads) + " |")
    out += ["", "| workload | untraced op_p50_s | traced op_p50_s | tracing overhead | "
            "unattributed per op | share of op | steal s (untraced, traced) |", "|---" * 7 + "|"]
    for w in workloads:
        u, t = res[w]
        un = t["layers"]["trace.unattributed_s"]
        op = t["e2e"]["op_p50_s"]
        out.append(f"| {w} | {u['e2e']['op_p50_s']:.4f} | {op:.4f} | "
                   f"{op - u['e2e']['op_p50_s']:+.4f} s ({op / u['e2e']['op_p50_s'] - 1:+.1%}) | "
                   f"{un:.4f} s | {un / op:.1%} | {u['diag']['steal_s']:.2f}, "
                   f"{t['diag']['steal_s']:.2f} |")
    for w in workloads:
        t = res[w][1]
        out += ["", f"## {w}: repo-call spans and job call sites (s per op)", ""]
        out += [f"- span `{k}`: {v:.4f}" for k, v in sorted(t["spans"].items())]
        out += [f"- jobs from `{k}`: {v:.4f}" for k, v in
                sorted(t["sites"].items(), key=lambda kv: -kv[1])]
    with open(os.path.join(HERE, "results", "traced.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote", os.path.join(HERE, "results", "traced.md"))


if __name__ == "__main__":
    main()
