"""Per-layer metrics of a traced run, derived from its spans.

Pass-level metrics are computed for each warm pass and reported as the
median over the warm passes. Run-level metrics come from the probes the
harness makes after the warm passes (`tables.load`, `functions.register`),
from the storage reading at the end of the run, and from the cold pass
(`jvm.jit_s`). Self time is a span's duration minus the union of the
intervals its children cover; `entry.between_jobs_s` is the self time of the
query-function call with respect to its jobs.
"""
import json
import statistics
from collections import defaultdict

# name -> (unit, better); the order is the order of BENCHMARK.json.
METRICS = {
    "tables.load_s": ("s", "lower"),
    "tables.infer_jobs": ("count", "lower"),
    "functions.register_s": ("s", "lower"),
    "entry.build_s": ("s", "lower"),
    "entry.build_jobs": ("count", "lower"),
    "entry.between_jobs_s": ("s", "lower"),
    "plan.analysis_s": ("s", "lower"),
    "plan.optimization_s": ("s", "lower"),
    "plan.planning_s": ("s", "lower"),
    "codegen.compile_s": ("s", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.sched_delay_s": ("s", "lower"),
    "spark.job_wall_s": ("s", "lower"),
    "task.run_s": ("s", "lower"),
    "task.cpu_s": ("s", "lower"),
    "task.gc_s": ("s", "lower"),
    "task.core_busy": ("ratio", "higher"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "spill.disk_bytes": ("bytes", "lower"),
    "storage.block_bytes_written": ("bytes", "lower"),
    "storage.blocks_left": ("count", "lower"),
    "storage.bytes_left": ("bytes", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.input_rows": ("count", "lower"),
    "stream.trigger_s": ("s", "lower"),
    "stream.latest_offset_s": ("s", "lower"),
    "stream.get_batch_s": ("s", "lower"),
    "stream.query_planning_s": ("s", "lower"),
    "stream.add_batch_s": ("s", "lower"),
    "stream.wal_commit_s": ("s", "lower"),
    "stream.commit_offsets_s": ("s", "lower"),
    "stream.state_commit_s": ("s", "lower"),
    "stream.state_rows": ("count", "lower"),
    "stream.state_memory_bytes": ("bytes", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.jit_s": ("s", "lower"),
}

BATCH_PHASES = {
    "batch.latestOffset": "stream.latest_offset_s",
    "batch.getBatch": "stream.get_batch_s",
    "batch.queryPlanning": "stream.query_planning_s",
    "batch.addBatch": "stream.add_batch_s",
    "batch.walCommit": "stream.wal_commit_s",
    "batch.commitOffsets": "stream.commit_offsets_s",
}


def dur(s):
    return (s["end"] - s["start"]) / 1000.0


def covered(intervals, lo=None, hi=None):
    """Seconds covered by the union of [start, end] ms intervals, clipped."""
    ivs = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                 for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def self_time(span, children):
    return dur(span) - covered([(c["start"], c["end"]) for c in children],
                               span["start"], span["end"])


def pass_metrics(p, execs, by_exec, by_parent, cores):
    m = defaultdict(float)
    for e in execs:
        kids = by_parent[e["id"]]
        call = next(s for s in kids if s["kind"] == "call")
        write = next(s for s in kids if s["kind"] == "write")
        call_jobs = [s for s in by_parent[call["id"]] if s["kind"] == "job"]
        write_jobs = [s for s in by_parent[write["id"]] if s["kind"] == "job"]
        m["entry.build_s"] += dur(call)
        m["entry.build_jobs"] += len(call_jobs)
        m["entry.between_jobs_s"] += self_time(call, call_jobs)
        m["exec.s"] += dur(write)
        m["exec.jobs"] += len(write_jobs)
        m["codegen.compile_s"] += e["attrs"]["codegen_ns"] / 1e9
        spans = by_exec[e["exec"]]
        jobs = [s for s in spans if s["kind"] == "job"]
        m["spark.jobs"] += len(jobs)
        m["tables.infer_jobs"] += sum("Tables.scala" in j["attrs"]["call_site"] for j in jobs)
        m["spark.job_wall_s"] += covered([(j["start"], j["end"]) for j in jobs])
        for s in spans:
            a = s["attrs"]
            if s["kind"] == "stage":
                m["spark.stages"] += 1
                m["spark.tasks"] += a["tasks"]
                m["spark.sched_delay_s"] += a["sched_delay_ms"] / 1000
                m["task.run_s"] += a["task_run_ms"] / 1000
                m["task.cpu_s"] += a["task_cpu_ns"] / 1e9
                m["task.gc_s"] += a["task_gc_ms"] / 1000
                m["shuffle.write_bytes"] += a["shuffle_write_bytes"]
                m["shuffle.read_bytes"] += a["shuffle_read_bytes"]
                m["shuffle.fetch_wait_s"] += a["fetch_wait_ms"] / 1000
                m["spill.disk_bytes"] += a["spill_disk_bytes"]
            elif s["kind"] == "plan":
                m[s["name"] + "_s"] += dur(s)
            elif s["kind"] == "storage":
                m["storage.block_bytes_written"] += a["bytes"]
            elif s["kind"] == "batch":
                m["stream.batches"] += 1
                m["stream.input_rows"] += a["input_rows"]
                m["stream.trigger_s"] += dur(s)
                m["stream.state_commit_s"] += a["state_commit_ms"] / 1000
            elif s["kind"] == "batch_phase":
                m[BATCH_PHASES[s["name"]]] += dur(s)
        # State size: the largest reading of each streaming query's run.
        state = defaultdict(lambda: (0, 0))
        for s in spans:
            if s["kind"] == "batch":
                a, q = s["attrs"], s["attrs"]["query"]
                state[q] = (max(state[q][0], a["state_rows"]),
                            max(state[q][1], a["state_memory_bytes"]))
        m["stream.state_rows"] += sum(r for r, _ in state.values())
        m["stream.state_memory_bytes"] += sum(b for _, b in state.values())
    m["task.core_busy"] = m["task.run_s"] / (p["attrs"]["wall_s"] * cores)
    m["jvm.gc_s"] = p["attrs"]["gc_ms"] / 1000
    return m


def derive(path, cores):
    spans = [json.loads(line) for line in open(path)]
    by_parent, by_exec = defaultdict(list), defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append(s)
        by_exec[s["exec"]].append(s)
    warm = [s for s in spans if s["kind"] == "pass" and s["attrs"]["phase"] == "warm"]
    per_pass = [pass_metrics(p, [e for e in by_parent[p["id"]] if e["kind"] == "exec"],
                             by_exec, by_parent, cores) for p in warm]
    out = {k: statistics.median(m[k] for m in per_pass) for k in METRICS}
    run = next(s for s in spans if s["kind"] == "run")
    probes = [s for s in spans if s["kind"] == "probe"]
    out["tables.load_s"] = sum(dur(s) for s in probes if s["name"] == "tables.load")
    out["functions.register_s"] = sum(dur(s) for s in probes
                                      if s["name"] == "functions.register")
    left = next(s for s in probes if s["name"] == "storage.left")["attrs"]
    out["storage.blocks_left"] = left["blocks"]
    out["storage.bytes_left"] = left["bytes"]
    out["jvm.jit_s"] = run["attrs"]["jit_cold_ms"] / 1000
    return {k: (out[k], METRICS[k][0]) for k in METRICS}
