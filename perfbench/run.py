#!/usr/bin/env python3
"""graft benchmark: one run of one workload, reported as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --rebuild-oracle-cache

A run builds the harness and the program from source when their classes are
missing or stale (sbt, offline), starts one JVM at local[n] with n = nproc,
and runs the workload's query mix through `SparkEntry.queries`: set-up, one
cold pass that also writes each result as parquet, two untimed settle
passes, and warm passes for S seconds (at least three). After the JVM has
exited, every query's cold-pass result is compared with DuckDB running that
query's `SparkEntry.oracleSql` over the same parquet. The last
line of stdout is {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics (derived from the run's spans)
with --trace 1. See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
DATA = Path(os.environ.get("PERFBENCH_DATA", "/root/testdata/sf0.1"))
CLASSES = HERE / "target" / "scala-2.13" / "classes"
SPARK_JARS = Path("/opt/spark/jars")
RUNS = HERE / ".runs"
OUT = HERE / "out"

# Fixed subsets of each module's queries; README.md says why each was kept.
WORKLOADS = {
    "fixed_cost": ["q01_pricing_summary", "q07_anti_join", "q14_grouping_sets",
                   "q16_topk", "q22_exists_subquery", "q82_stream_tumbling"],
    "cpu_dense": ["q169_skip_stats"],
}

HEAP = "4g"
JVM_TIMEOUT_S = 150
# build.sbt's --add-opens list (Spark 4 on JDK 17 outside spark-submit).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [REPO / "src" / "main" / "scala", HERE / "src",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for root in roots:
        files = sorted(p for p in root.rglob("*") if p.is_file()) \
            if root.is_dir() else [root]
        for p in files:
            h.update(str(p.relative_to(REPO)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles program and harness with sbt unless the stamp matches."""
    if not (REPO / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"no program sources under {REPO / 'src'}: run from a full checkout")
    stamp = HERE / "target" / "perfbench.stamp"
    digest = sources_digest()
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.repository.config={repos}"] if repos.is_file() else [])))
    log("building program and harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("sbt compile failed")
    stamp.write_text(digest)
    log(f"built in {time.time() - t0:.1f} s")


def jvm_env(run_dir):
    # Nothing from the caller's Spark settings leaks in (SPARK_DRIVER_MEM,
    # SPARK_LOCAL_DIRS, SPARK_GRAFT_*, JVM option variables).
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k not in
           ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    env["TZ"] = "UTC"
    return env


def java_cmd(run_dir, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
             f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             "-cp", f"{CLASSES}{os.pathsep}{SPARK_JARS}/*",
             "graft.perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])


def run_jvm(run_dir, args):
    with open(run_dir / "jvm.log", "w") as out:
        p = subprocess.Popen(java_cmd(run_dir, args), env=jvm_env(run_dir),
                             cwd=run_dir, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        print((run_dir / "jvm.log").read_text()[-4000:], file=sys.stderr)
        fail(f"harness JVM ended with {code}")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return ticks[7], sum(ticks)


def new_run_dir(tag):
    d = RUNS / f"{tag}-{os.getpid()}-{time.time_ns()}"
    for sub in ("tmp", "local", "warehouse", "results", "duckdb_tmp"):
        (d / sub).mkdir(parents=True)
    return d


def end_to_end(res):
    passes = res["passes"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "first_pass_s": (res["first_pass_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "query_p50_s": (statistics.median(res["warm_exec_s"]), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }


def run(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if not DATA.is_dir():
        fail(f"fixture directory {DATA} is missing")
    build()
    import layers
    import oracle
    mix = list(WORKLOADS[args.workload])
    random.Random(args.seed).shuffle(mix)  # the seed sets the query order
    cores = os.cpu_count() or 4
    run_dir = new_run_dir(f"{args.workload}-{args.seed}")
    OUT.mkdir(exist_ok=True)
    spans = OUT / f"spans-{args.workload}-seed{args.seed}.jsonl"
    try:
        ticks0 = cpu_ticks()
        launch_ms = time.time() * 1000
        run_jvm(run_dir, {
            "mode": "run", "data": DATA, "run_dir": run_dir, "cores": cores,
            "queries": ",".join(mix), "seconds": args.seconds,
            "trace": args.trace, "launch_ms": f"{launch_ms:.3f}",
            "out": run_dir / "result.json", "spans": spans})
        res = json.loads((run_dir / "result.json").read_text())
        # CPU time the hypervisor gave to other guests: a run with a large
        # share of it measured a slower machine.
        steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
        log(f"host steal during the JVM: {100 * steal[0] / max(steal[1], 1):.1f}% of CPU time")
        for f in res["failures"]:
            log(f"failed: {f}")
        t0 = time.time()
        checks = oracle.check_all(res["oracle_sql"], run_dir / "results", DATA,
                                  run_dir / "duckdb_tmp", cores)
        log(f"harness JVM {t0 - launch_ms / 1000:.1f} s, oracle check {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failed_checks = [c for c in checks if not c.ok]
    for c in checks:
        log(f"{'PASS' if c.ok else 'FAIL'} {c.name}: {c.detail}")
    log("warm passes (wall s / cpu s): " + ", ".join(
        f"{p['wall_s']:.2f}/{p['cpu_s']:.2f}" for p in res["passes"]))
    e2e = end_to_end(res)
    log("end to end: " + ", ".join(f"{k}={v:.4f}{u}" for k, (v, u) in e2e.items()))
    if args.trace:
        metrics = layers.derive(spans, cores)
    else:
        metrics = e2e
    print(json.dumps({
        "correct": all(c.ok or c.missing for c in checks),
        "attempted": res["attempted"] + len(checks),
        "failed": res["failed"] + len(failed_checks),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def rebuild_oracle_cache():
    build()
    import oracle
    names = sorted({q for qs in WORKLOADS.values() for q in qs})
    run_dir = new_run_dir("oracles")
    try:
        run_jvm(run_dir, {"mode": "oracles", "queries": ",".join(names),
                          "out": run_dir / "oracle_sql.json"})
        sql = json.loads((run_dir / "oracle_sql.json").read_text())
        oracle.rebuild(sql, DATA, run_dir / "duckdb_tmp", os.cpu_count() or 4)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rebuild-oracle-cache", action="store_true")
    args = ap.parse_args()
    if args.rebuild_oracle_cache:
        rebuild_oracle_cache()
    elif args.workload:
        run(args)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
