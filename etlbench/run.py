#!/usr/bin/env python3
"""Benchmark of the Spotify ETL pipeline (`graft.pipeline.Runner`,
`graft.streaming.StreamingLoader`, `graft.queries.SpotifyQueries`).

Run from the root of a checkout of the repository:

    python3 etlbench/run.py --workload etl_backfill --seed 1 --seconds 30 --trace 0

It builds the repository and the harness with sbt (once per source
state), generates the workload's raw JSON from the seed, runs one JVM with
a fixed heap and collector, checks every output against the generator's
truth, and prints one JSON line as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` they are the per-layer
ones from a run with the Spark listeners installed. The full record of
each run goes to `.bench_results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import verify  # noqa: E402

BENCH = os.path.basename(HERE)
HEAP = "3g"
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
JVM_TIMEOUT_S = 165

# Work per run is fixed by the workload and --seconds alone, never by how
# fast the program is: op counts are --seconds times a constant rate.
WORKLOADS = {
    "etl_backfill": {"days": 80, "warmup": 5, "passes_per_s": 0.25},
    "etl_daily": {"cycle_days": 20, "warmup": 10, "days_per_s": 1.0},
}


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main", BENCH):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
            if f.endswith((".scala", ".sbt", ".properties")) or "resources" in d)
        for f in paths:
            if "/target/" in f or "/project/project/" in f:
                continue
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root):
    """Compile the repo and the harness; return the runtime classpath.

    sbt compiles into the mutable `target/` dirs, so the class dirs it
    exports are copied into a directory named by the source digest, and
    the classpath points at those copies: a later build of other sources,
    or an `sbt clean`, cannot change what a saved classpath runs."""
    digest = sources_digest(root)
    out = os.path.join(root, ".bench_build")
    frozen = os.path.join(out, digest)
    stamp = os.path.join(frozen, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cp = f.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, BENCH), env=env, capture_output=True,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        fail("build failed")
    shutil.rmtree(frozen, ignore_errors=True)
    os.makedirs(frozen)
    entries = []
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.abspath(e).startswith(root + os.sep) and os.path.exists(e):
            copy = os.path.join(frozen, f"cp{i}" + ("" if os.path.isdir(e) else ".jar"))
            (shutil.copytree if os.path.isdir(e) else shutil.copy2)(e, copy)
            e = copy
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def steal_s():
    """Host CPU steal since boot, in seconds (/proc/stat, all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/pipeline/Runner.scala")):
        fail("run from the root of a checkout of the repository (no src/main/scala/graft)")
    classpath = build(root)

    spec = WORKLOADS[args.workload]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(root, ".bench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if args.workload == "etl_backfill":
        names, truth = gen.generate(args.seed, spec["days"], os.path.join(work, "landing"))
        landing_bytes = sum(os.path.getsize(os.path.join(work, "landing", n)) for n in names)
        sizes = {"days": spec["days"], "warmup": spec["warmup"],
                 "passes": max(5, round(args.seconds * spec["passes_per_s"]))}
        jargs = ["--warmup", sizes["warmup"], "--passes", sizes["passes"]]
    else:
        names, truth = gen.generate(args.seed, spec["cycle_days"], os.path.join(work, "days"))
        song = gen.q4_song(truth["songs"])
        sizes = {"cycle_days": spec["cycle_days"], "warmup": spec["warmup"],
                 "ops": max(20, round(args.seconds * spec["days_per_s"])), "q4_song": song}
        jargs = ["--days", os.path.join(work, "days"), "--song", song,
                 "--warmup", sizes["warmup"], "--ops", sizes["ops"]]
    record_path = os.path.join(work, "record.json")
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
                                  "etlbench.Main", "--workload", args.workload,
                                  "--work", work, "--cores", len(os.sched_getaffinity(0)),
                                  "--trace", args.trace,
                                  "--out", record_path] + jargs
    steal0, wall0 = steal_s(), time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run([str(c) for c in cmd], cwd=root, stdout=log,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
    steal = steal_s() - steal0
    if p.returncode != 0 or not os.path.exists(record_path):
        with open(os.path.join(work, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(record_path) as f:
        rec = json.load(f)

    if args.workload == "etl_backfill":
        problems, facts = verify.backfill(rec, truth, landing_bytes, len(names))
    else:
        problems, facts = verify.daily(rec, truth, sizes["q4_song"], os.path.join(work, "days"))
    timed = [o for o in rec["ops"] if o["kind"] in layers.TIMED]
    e2e = {"setup_s": rec["setup_s"], "op_p50_s": statistics.median(o["wall_s"] for o in timed)}
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sizes": sizes, "cores": rec["cores"], "heap": HEAP,
        "e2e": e2e, "samples": len(timed),
        "op_s": {k: [o["wall_s"] for o in rec["ops"] if o["kind"] == k]
                 for k in ("cold", "warmup", "warm", "day")},
        "diag": {"steal_s": steal, "canary_s": statistics.median(rec["canary_s"]),
                 "run_wall_s": time.time() - wall0},
        "problems": problems,
    }
    if args.trace:
        result["layers"] = layers.compute(rec, facts, truth["dedup_inputs"])
        result.update(layers.by_site(rec))
    os.makedirs(os.path.join(root, ".bench_results"), exist_ok=True)
    with open(os.path.join(root, ".bench_results", tag + ".json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    failed = len(problems)
    attempted = len(rec["ops"])
    if args.trace:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    print(json.dumps({"workload": args.workload, "sizes": sizes, "samples": len(timed),
                      "diag": result["diag"], "problems": problems[:5]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
