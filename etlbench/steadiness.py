#!/usr/bin/env python3
"""Steadiness report: runs every workload 10 times in each of 2 separate
sets (a fresh seed per run), and writes, per end-to-end metric, the
quartile spread of each set as a share of its median and how far the
second set's median moved from the first's, with every run's host steal
seconds and no-work canary beside it.

    python3 etlbench/steadiness.py

writes `results/steadiness.json` (every run) and `results/steadiness.md`
(the tables). Run from the root of a checkout, like run.py.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(HERE, "..", "BENCHMARK.json")
OUT = os.path.join(HERE, "results", "steadiness")
RUNS, SETS, SEED_BASE = 10, 2, 1


# Left out of the benchmark, with the reason; rendered into the report.
DROPPED = [
    ("workload analytics_sf01", "its sf0.1 star-schema input lives outside the checkout and "
     "is not made from the seed, and a third workload does not fit the run budget "
     "(4 + 22 x 3 runs of one JVM each)"),
    ("p90 latency metrics", "no workload fits the 100 samples a run needs to have ten "
     "beyond the p90"),
    ("workload-specific metric names (batch_s, day_latency_p50_s, ...)", "every run "
     "prints every end-to-end metric, so the name is generic: op_p50_s "
     "(README.md maps it)"),
    ("end-to-end metric cold_s (the first operation in the fresh JVM)", "one sample "
     "per run, so no median inside a run can absorb a steal burst. In an earlier "
     "round its quartile spread was 0.181 on etl_backfill and 0.147 on etl_daily over "
     "set 1, and it reached 0.22-0.24 part way through the set, close to the largest "
     "bound allowed (0.25). Over untraced runs on this report's seeds it read "
     "0.036/0.066 on etl_backfill and 0.077/0.071 on etl_daily (sets 1/2), so its "
     "spread depends on the host's steal more than on the code. "
     "Every run still records it (op_s.cold in the result file)"),
]


def spread(xs):
    """Quartile spread (Q3 - Q1, `statistics.quantiles(n=4)`) over the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def run_one(workload, seed, seconds):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    diag, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "wall_s": time.time() - t,
            "correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "steal_s": diag["diag"]["steal_s"],
            "canary_s": diag["diag"]["canary_s"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def render(data, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = ["# Steadiness report", "",
           f"{data['sets']} sets x {data['runs']} runs per workload, --seconds "
           f"{data['seconds']}, one fresh seed per run (set k uses seeds "
           f"{data['seed_base']} + 1000k + i). Spread = (Q3 - Q1) / median over a set's "
           "runs; drift = (median of set 2 - median of set 1) / median of set 1. "
           "A metric passes when every set's spread is within its bound and the two "
           "sets' medians agree within the bound, in either direction. setup_s is one "
           "sample per run, like the dropped cold_s below; it stays because a benchmark "
           "must report its set-up time, and its spread is checked like every other "
           "metric's.", ""]
    verdicts = []
    for w in data["workloads"]:
        runs = [r for r in data["runs_log"] if r["workload"] == w]
        sets = [[r for r in runs if r["set"] == k] for k in range(data["sets"])]
        out += [f"## {w}", "", "| metric | bound | " + " | ".join(
            f"set {k + 1} median | set {k + 1} spread" for k in range(data["sets"]))
            + " | drift | verdict |", "|---" * (4 + 2 * data["sets"]) + "|"]
        for m in bounds:
            vals = [[r["metrics"][m] for r in s] for s in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            drift = (meds[-1] - meds[0]) / meds[0]
            ok = abs(drift) <= bounds[m] and max(spreads) <= bounds[m]
            verdicts.append(ok)
            out.append(f"| {m} | {bounds[m]} | " + " | ".join(
                f"{md:.4f} | {sp:.3f}" for md, sp in zip(meds, spreads))
                + f" | {drift:+.3f} | {'ok' if ok else 'UNSTEADY'} |")
        out += ["", "| set | seed | correct | failed/attempted | steal s | canary ms | "
                + " | ".join(bounds) + " |", "|---" * (6 + len(bounds)) + "|"]
        for r in runs:
            out.append(f"| {r['set'] + 1} | {r['seed']} | {r['correct']} | "
                       f"{r['failed']}/{r['attempted']} | {r['steal_s']:.2f} | "
                       f"{1000 * r['canary_s']:.1f} | "
                       + " | ".join(f"{r['metrics'][m]:.4f}" for m in bounds) + " |")
        out.append("")
    out.append("All metrics steady." if all(verdicts) else "Some metrics UNSTEADY.")
    out += ["", "## Dropped", ""] + [f"- {what}: {why}." for what, why in DROPPED]
    return "\n".join(out) + "\n"


def main():
    with open(BENCH) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    data = {"runs": RUNS, "sets": SETS, "seconds": bench["run_seconds"],
            "seed_base": SEED_BASE, "workloads": workloads, "runs_log": []}
    for k in range(SETS):
        for i in range(RUNS):
            for w in workloads:  # interleaved, so a slow spell hits every workload
                r = run_one(w, SEED_BASE + 1000 * k + i, bench["run_seconds"])
                r["set"] = k
                data["runs_log"].append(r)
                print(json.dumps(r), flush=True)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT + ".json", "w") as f:
        json.dump(data, f, indent=1)
    with open(OUT + ".md", "w") as f:
        f.write(render(data, bench))
    print(f"wrote {OUT}.md")


if __name__ == "__main__":
    main()
