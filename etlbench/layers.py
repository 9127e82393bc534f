"""Per-layer metrics of a traced run, from the raw record the harness wrote.

Every metric is a mean per timed operation (a warm `runBatch` pass on
`etl_backfill`, one day on `etl_daily`) unless its name says otherwise.
Layers a workload does not exercise read 0 (the streaming and query layers
on `etl_backfill`; the batch-only `pipeline`, archive and dedup layers on
`etl_daily`). Jobs, stages and Catalyst phases belong to the operation
(or the sub-span around a repo call) whose window their start falls in;
all listener times are epoch milliseconds.
"""
import statistics

UNITS = {
    "sources.read_s": "s", "sources.write_s": "s", "sources.write_tasks": "count",
    "sources.files_written": "count", "sources.output_bytes_per_input_byte": "ratio",
    "sources.archive_s": "s",
    "executor.busy_ratio": "ratio",
    "pipeline.count_s": "s",
    "operators.build_s": "s",
    "operators.dedup_kept_ratio.album": "ratio", "operators.dedup_kept_ratio.artist": "ratio",
    "streaming.drain_s": "s", "streaming.outside_jobs_s": "s", "streaming.batches": "count",
    "streaming.rows": "count",
    "queries.spotify_s": "s", "queries.files_scanned": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.submit_wait_s": "s", "scheduler.end_wait_s": "s",
    "driver.outside_jobs_s": "s",
    "executor.task_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.shuffle_read_bytes": "bytes", "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes", "executor.task_failures": "count",
    "jvm.jit_s": "s", "codegen.compile_s": "s", "jvm.gc_s": "s", "jvm.peak_heap_mb": "MB",
    "trace.unattributed_s": "s",
}

# The end-to-end metric(s) each layer should move; diff.py splits a change
# in an end-to-end metric by these.
MOVES = {
    "setup_s": ("jvm.jit_s", "codegen.compile_s"),
    "op_p50_s": tuple(k for k in UNITS if UNITS[k] == "s" and not k.startswith(
        ("jvm.jit", "codegen"))) + ("executor.busy_ratio", "scheduler.jobs",
                                   "sources.files_written", "queries.files_scanned"),
}

TIMED = ("warm", "day")
BATCH_SINKS = "graft.sources.Sinks"
STREAM_SINK = "graft.streaming.StreamingLoader"


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Window:
    """The jobs, stages, phases and scans whose start lies in [t0, t1]."""

    def __init__(self, trace, t0, t1):
        self.t0, self.t1 = t0, t1
        self.jobs = [j for j in trace["jobs"] if t0 <= j["submitted"] <= t1]
        ids = {j["id"] for j in self.jobs}
        self.stages = [s for s in trace["stages"] if s["job"] in ids and s["submitted"]]
        self.phases = [p for p in trace["phases"] if t0 <= p[1] <= t1]
        self.files = sum(n for t, n in trace["scans"] if t0 <= t <= t1)

    def job_spans(self, jobs=None):
        return [(j["submitted"], j["ended"]) for j in (self.jobs if jobs is None else jobs)]

    def outside_jobs_s(self):
        return (self.t1 - self.t0 - union_ms(self.job_spans(), self.t0, self.t1)) / 1000

    def read_stage_s(self):
        """The first stage that reads input: the scan that parses the landed
        JSON (and, in a batch, fills the persisted read)."""
        reads = sorted((s for s in self.stages if s["input_bytes"] > 0),
                       key=lambda s: s["submitted"])
        return (reads[0]["completed"] - reads[0]["submitted"]) / 1000 if reads else 0.0

    def jobs_of(self, prefix):
        return [j for j in self.jobs if j["fn"].startswith(prefix)]

    def span_s(self, jobs):
        return sum(j["ended"] - j["submitted"] for j in jobs) / 1000


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def by_site(rec):
    """Mean seconds per timed operation of each repo-call sub-span and of
    the jobs launched from each call site (the innermost repo frame, else
    Spark's short call site): what diff.py names when a layer moves."""
    trace = rec["trace"]
    timed = [o for o in rec["ops"] if o["kind"] in TIMED]
    spans, sites = {}, {}
    for o in timed:
        for k, v in o["sub"].items():
            spans[k] = spans.get(k, 0.0) + v[2] / len(timed)
        for j in Window(trace, o["t0"], o["t1"]).jobs:
            key = j["fn"] or j["site"]
            sites[key] = sites.get(key, 0.0) + (j["ended"] - j["submitted"]) / 1000 / len(timed)
    return {"spans": spans, "sites": sites}


def compute(rec, facts, dedup_inputs):
    trace, cores = rec["trace"], rec["cores"]
    timed = [o for o in rec["ops"] if o["kind"] in TIMED]
    cold = [o for o in rec["ops"] if o["kind"] == "cold"]
    per_op = []
    for o in timed:
        w = Window(trace, o["t0"], o["t1"])
        stages = w.stages
        by_job = {}
        for s in stages:
            by_job.setdefault(s["job"], []).append(s)
        submit_wait = end_wait = 0
        for j in w.jobs:
            ran = [s for s in by_job.get(j["id"], []) if s["tasks"]]
            if ran:
                submit_wait += min(s["first_launch"] for s in ran) - j["submitted"]
                end_wait += j["ended"] - max(s["last_finish"] for s in ran)
        spans = w.job_spans() + [(p[1], p[2]) for p in w.phases]
        m = {
            "scheduler.jobs": len(w.jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": sum(s["tasks"] for s in stages),
            "scheduler.submit_wait_s": submit_wait / 1000,
            "scheduler.end_wait_s": end_wait / 1000,
            "driver.outside_jobs_s": w.outside_jobs_s(),
            "trace.unattributed_s": (o["t1"] - o["t0"] - union_ms(spans, o["t0"], o["t1"])) / 1000,
            "executor.task_s": sum(s["task_ms"] for s in stages) / 1000,
            "executor.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "executor.gc_s": sum(s["gc_ms"] for s in stages) / 1000,
            "executor.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
            "executor.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "executor.spill_bytes": sum(s["spill"] for s in stages),
            "executor.task_failures": sum(s["failed"] for s in stages),
            "executor.busy_ratio": sum(s["task_ms"] for s in stages)
            / max((o["t1"] - o["t0"]) * cores, 1),
            "jvm.gc_s": o["gc_ms"] / 1000,
        }
        for name in ("analysis", "optimization", "planning"):
            m[f"catalyst.{name}_s"] = sum(p[2] - p[1] for p in w.phases if p[0] == name) / 1000
        sub = {k: Window(trace, v[0], v[1]) for k, v in o["sub"].items()}
        if "run_batch" in sub:  # etl_backfill
            writers = w.jobs_of(BATCH_SINKS)
            read = w.read_stage_s()
            m.update({
                "sources.read_s": read,
                "sources.write_s": w.span_s(writers) - read,
                "sources.write_tasks": sum(s["tasks"] for j in writers
                                           for s in by_job.get(j["id"], [])),
                "sources.archive_s": (o["t1"] - max((j["ended"] for j in w.jobs),
                                                    default=o["t1"])) / 1000,
                "pipeline.count_s": w.span_s(w.jobs_of("graft.pipeline.Runner")),
                # DataFrame building inside runBatch: driver time before its first job
                "operators.build_s": (min((j["submitted"] for j in w.jobs), default=o["t0"])
                                      - o["t0"]) / 1000,
            })
        else:  # etl_daily
            drain, queries = sub["drain"], sub["queries"]
            writers = drain.jobs_of(STREAM_SINK)
            read = drain.read_stage_s()
            m.update({
                "sources.read_s": read,
                "sources.write_s": drain.span_s(writers) - read,
                "sources.write_tasks": sum(s["tasks"] for j in writers
                                           for s in by_job.get(j["id"], [])),
                "operators.build_s": o["sub"]["build"][2],
                "streaming.drain_s": o["sub"]["drain"][2],
                "streaming.outside_jobs_s": drain.outside_jobs_s(),
                "streaming.batches": o["batches"],
                "streaming.rows": o["rows"],
                "queries.spotify_s": o["sub"]["queries"][2],
                "queries.files_scanned": queries.files,
            })
        per_op.append(m)

    out = {k: 0.0 for k in UNITS}
    for k in per_op[0] if per_op else ():
        out[k] = _mean([m[k] for m in per_op])
    if facts:
        out["sources.files_written"] = statistics.median(
            f["files_written"] / f["ops"] for f in facts)
        out["sources.output_bytes_per_input_byte"] = statistics.median(
            f["bytes_written"] / f["input_bytes"] for f in facts)
    if "result" in rec["checks"][0]:  # etl_backfill
        res = rec["checks"][0]["result"]
        out["operators.dedup_kept_ratio.album"] = res["albums"] / dedup_inputs["album"]
        out["operators.dedup_kept_ratio.artist"] = res["artists"] / dedup_inputs["artist"]
    out["jvm.jit_s"] = (rec["setup_jit_ms"] + sum(o["jit_ms"] for o in cold)) / 1000
    out["codegen.compile_s"] = sum(o["codegen_ns"] for o in cold) / 1e9
    out["jvm.peak_heap_mb"] = rec["peak_heap_mb"]
    return out
