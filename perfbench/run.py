#!/usr/bin/env python3
"""graft's benchmark: one command that builds the engine, times a
workload over the fixed test tables in perfbench/data, checks its
outputs against the DuckDB oracle and prints every metric with its unit.

    python3 perfbench/run.py --workload assoc_chain --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones (the traced run also writes its span tree to
.bench_run/<run>/trace.json). The line before it carries the run facts:
cores, heap, scale, seed and the source digest (the engine's and the
benchmark's own sources and data).

The first run builds the engine and the harness with sbt (the root build
plus perfbench/harness); later runs reuse the build while the sources
are unchanged. Everything the benchmark writes stays under .bench_build/
and .bench_run/ in the repository.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_DIR = os.path.join(ROOT, ".bench_run")

WORKLOADS = ("assoc_chain", "curation_iter")
# The engine's sf0.001 test tables (lineitem 6,000 rows), read unchanged.
SCALE = 0.001
DATA = os.path.join(HERE, "data", "sf0.001")
# A run, build excluded, must end inside three minutes.
JVM_TIMEOUT_S = 145
ORACLE_TIMEOUT_S = 25
BUILD_TIMEOUT_S = 840

END_TO_END = {
    "pass_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.cache_entries": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.windows": "count",
    "plans.sort_merge_joins": "count",
    "plans.broadcast_joins": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_s": "s",
    "operators.busy_frac": "ratio",
    "operators.sched_delay_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.peak_exec_mem_bytes": "bytes",
    "operators.gc_s": "s",
    "operators.AssociationScore.byDatasource_s": "s",
    "operators.AssociationScore.overall_s": "s",
    "operators.Novelty.attach_s": "s",
    "operators.OntologyPropagate.indirect_s": "s",
    "operators.Dating.bestDate_s": "s",
    "functions.TopKHarmonic_s": "s",
    "operators.Dedup.minhashLshPairs_s": "s",
    "operators.Dedup.clusters_s": "s",
    "operators.Dedup.prefixJaccardJoin_s": "s",
    "operators.Graph.hits_s": "s",
    "operators.SimilaritySearch.ivfTopK_s": "s",
    "sources.scan_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.wall_s": "s",
    "streaming.rows_per_s": "1/s",
    "streaming.state_rows_max": "count",
    "streaming.state_bytes_max": "bytes",
    "jvm.gc_s": "s",
    "jvm.start_s": "s",
    "jvm.warmup_s": "s",
    "jvm.peak_heap_mb": "MB",
    "jvm.live_heap_mb": "MB",
    "query_s.p50": "s",
    "query_s.geomean": "s",
    "query_s.samples": "count",
    "trace.pass_s": "s",
    "trace.overhead_frac": "ratio",
}

# What sbt compiles: the engine's sources and build, and the harness.
BUILD_SOURCES = ["build.sbt", "project", "src/main", os.path.relpath(HARNESS, ROOT)]
# What else decides a run's figures: this script, the oracle and the data.
RUN_SOURCES = BUILD_SOURCES + [os.path.relpath(p, ROOT) for p in (__file__, DATA)] + [
    "tools/oracle_check.py"]

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

_children = []


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def run_child(cmd, cwd, timeout, log_path, env=None):
    """Run `cmd` in its own process group, output to `log_path`; kill
    the whole group if it outlives `timeout`. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        _children.append(p)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop_children()
            fail(f"{cmd[0]} timed out after {timeout} s (log: {log_path})")
        finally:
            _children.remove(p)


def source_digest(sources):
    h = hashlib.sha256()
    for rel in sources:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            for f in fs if "target" not in os.path.relpath(d, path).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """The harness's runtime classpath, building first if the sources
    changed since the last build."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(BUILD_DIR, "build.log")
    cmd = ["sbt", "-batch", f"-Dsbt.global.base={BUILD_DIR}/sbt-global",
           "compile", "export Runtime / fullClasspath"]
    if run_child(cmd, HARNESS, BUILD_TIMEOUT_S, log, env) != 0:
        fail(f"build failed (log: {log})")
    harness_classes = os.path.join(HARNESS, "target")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.startswith(harness_classes)]
    if not lines:
        fail(f"build printed no classpath (log: {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1]


def heap():
    """JVM heap from MemTotal: half the GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def oracle_check(data, out, queries):
    """Failures among `queries` in the DuckDB oracle compare: MISMATCH,
    VERIFY-ERR, ERROR lines and queries with no MATCH line."""
    log = os.path.join(out, "oracle.log")
    code = run_child([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                      data, os.path.join(out, "verify"), ",".join(queries)],
                     out, ORACLE_TIMEOUT_S, log)
    with open(log) as f:
        lines = f.read().splitlines()
    bad = [ln for ln in lines
           if "MISMATCH" in ln or "VERIFY-ERR" in ln or ": ERROR" in ln]
    matched = {ln.split(":", 1)[0] for ln in lines
               if ln.split(":", 1)[-1].strip().startswith("MATCH")}
    bad += [f"{q}: no oracle result" for q in queries
            if q not in matched and not any(b.startswith(q + ":") for b in bad)]
    if code != 0 and not bad:
        bad.append(f"oracle_check exited {code}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from graft's repository root: {need} is missing")
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)

    classpath = build(source_digest(BUILD_SOURCES))
    digest = source_digest(RUN_SOURCES)

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    out = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-t{args.trace}")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(out, d))
    t1 = time.time()

    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}", *ADD_OPENS,
           f"-Djava.io.tmpdir={out}/tmp",
           f"-Dspark.local.dir={out}/spark-local",
           f"-Dspark.sql.warehouse.dir={out}/warehouse",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--data", DATA, "--out", out,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    jvm_log = os.path.join(out, "jvm.log")
    code = run_child(cmd, out, JVM_TIMEOUT_S, jvm_log, env)
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"harness exited {code} (log: {jvm_log})")
    with open(result_path) as f:
        res = json.load(f)

    t2 = time.time()
    bad = oracle_check(DATA, out, res["queries"])
    t3 = time.time()
    # One entry per failing query: a call that threw on the first pass
    # also shows in the oracle compare as that query's VERIFY-ERR.
    failures = {}
    for f in res["failures"] + bad:
        failures.setdefault(f.split(":", 1)[0], []).append(f)
    info = {k: res[k] for k in ("workload", "cores", "heap_max_mb", "seed", "passes",
                                "query_s.samples", "setup_s")}
    info.update(scale=SCALE, source_digest=digest, failures=failures,
                wall_s={"jvm": t2 - t1, "oracle": t3 - t2})
    if args.trace:
        info["trace"] = os.path.relpath(os.path.join(out, "trace.json"), ROOT)
    print(json.dumps({"info": info}))

    values, units = (res["per_layer"], PER_LAYER) if args.trace \
        else (res["end_to_end"], END_TO_END)
    missing = set(units) - set(values)
    if missing:
        fail(f"harness did not report {sorted(missing)}")
    print(json.dumps({
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
