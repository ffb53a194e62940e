#!/usr/bin/env python3
"""Repository benchmark: the reference DAG, corpus dedup and catalog ingest.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark's JVM driver (perfbench/build.py),
generates the seeded input outside the measured JVM (perfbench/gen.py,
cached by seed), runs the measured JVM (set-up, then S seconds of
iterations), checks every output against DuckDB off the clock
(perfbench/oracle.py) and prints one JSON result as the last stdout line.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import select
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

CACHE = os.path.join(HERE, ".cache")
RUN = os.path.join(HERE, ".run")
# The set-up's warm-up is one full iteration on the measured input itself
# (catalog_incremental: the table's bulk load and first four rounds), on a
# path of its own so no artifact cache carries over. After a warm-up on a
# smaller input the first measured iterations ran 10-45 % slower than the
# next (other plans, colder JIT), which spread iter_s.
# On the driver-bound catalog_incremental the JIT compiles after a tenth of
# the usual invocation counts: without it the rounds still sped up by a
# fifth over a run's first ten, so iter_s depended on how many rounds a run
# got. pipeline_ref and dedup_corpus keep the default: there the extra
# compiles competed with the task threads and made iterations slower.
JIT_FLAGS = {"catalog_incremental": ["-XX:CompileThresholdScaling=0.1"]}
HEAP = "4g"
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
STRAY_MARKERS = ("sbt.ForkMain", "org.apache.spark.", "graft.", "xsbt.boot")

END_TO_END = {"setup_s": "s", "iter_s": "s", "heap_after_gc_mb": "MB"}
PER_LAYER = {
    "plan.parse_ms": "ms", "plan.analyze_ms": "ms", "plan.optimize_ms": "ms",
    "plan.physical_ms": "ms", "codegen.compile_ms": "ms", "codegen.classes": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_ms": "ms", "sched.sql_executions": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.core_busy_share": "ratio", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_ms": "ms", "spill.disk_bytes": "bytes",
    "io.input_bytes": "bytes", "io.output_bytes": "bytes", "io.output_files": "count",
    "sessions.build_ms": "ms",
    "pipeline.staging_ms": "ms", "pipeline.load_join_ms": "ms", "pipeline.checks_ms": "ms",
    "pipeline.kept_ratio": "ratio",
    "dedup.signature_ms": "ms", "dedup.pairs_ms": "ms", "dedup.clusters_ms": "ms",
    "dedup.cc_jobs": "count", "dedup.verify_yield": "ratio", "similarity.semdedup_ms": "ms",
    "catalog.insert_ms": "ms", "catalog.merge_ms": "ms", "catalog.delete_ms": "ms",
    "catalog.maint_ms": "ms", "catalog.read_ms": "ms", "catalog.files_per_read": "count",
    "catalog.write_amp": "ratio", "catalog.space_amp": "ratio",
    "catalog.write_p50_ms": "ms", "catalog.write_p90_ms": "ms",
    "catalog.read_p50_ms": "ms", "catalog.read_p90_ms": "ms",
    "jvm.code_cache_mb": "MB", "jvm.gc_count": "count",
    "wall_ms": "ms", "unattributed_ms": "ms", "trace_overhead": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def stray_jvms():
    """JVMs of build tools or Spark left running: they skew every timing."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java"):
            line = b" ".join(argv).decode(errors="replace")
            if any(m in line for m in STRAY_MARKERS):
                found.append(f"{pid}: {line[:160]}")
    return found


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def jvm_command(classes, workload, args):
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags += JIT_FLAGS.get(workload, [])
    # a fixed-size heap: a heap that grows during the first iterations made
    # their GC pattern, and so their wall time, vary from JVM to JVM
    flags += ["-XX:ReservedCodeCacheSize=2g", f"-Xms{HEAP}", f"-Xmx{HEAP}",
              f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    flags += os.environ.get("SPARK_GRAFT_JAVA_OPTS", "").split()
    return ["java"] + flags + ["-cp", build.classpath(classes),
                               "graft.perfbench.PerfBench"] + args


def jvm_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(RUN, "scratch")
    env["SPARK_LOCAL_DIRS"] = os.path.join(RUN, "spark-local")
    return env


def launch(classes, workload, args, logname):
    """Run one PerfBench JVM; return (seconds until its ready line, exit code)."""
    logf = open(os.path.join(RUN, logname), "wb")
    t0 = time.perf_counter()
    p = subprocess.Popen(jvm_command(classes, workload, args), stdout=subprocess.PIPE, stderr=logf,
                         cwd=ROOT, env=jvm_env())
    deadline = t0 + JVM_TIMEOUT_S
    ready = None
    try:
        while ready is None:
            left = deadline - time.perf_counter()
            if left <= 0 or not select.select([p.stdout], [], [], left)[0]:
                raise TimeoutError(f"{logname}: no ready line in {JVM_TIMEOUT_S} s")
            line = p.stdout.readline()
            if not line:
                break
            if line.strip() == b"PERFBENCH_READY":
                ready = time.perf_counter() - t0
        rest = p.stdout.read()  # the JVM prints nothing else; drains to EOF
        if rest.strip():
            log(f"{logname}: unexpected stdout {rest[:200]!r}")
        code = p.wait(timeout=max(1.0, deadline - time.perf_counter()))
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        logf.close()
    return ready, code


def percentile(values, q):
    s = sorted(values)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def layer_metrics(workload, report):
    iters = report["iterations"]
    traced = [it for it in iters if it["traced"] and "layers" in it]
    plain = [it for it in iters if not it["traced"]]
    m = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER:
        vals = [it["layers"][k] for it in traced if k in it["layers"]]
        if vals:
            m[k] = statistics.fmean(vals)
    m["sessions.build_ms"] = report["sessions_build_ms"]
    if traced and plain:
        m["trace_overhead"] = (statistics.median(it["wall_ms"] for it in traced)
                               / statistics.median(it["wall_ms"] for it in plain) - 1)
    out = report["outputs"]
    if workload == "dedup_corpus":
        ys = [o["verified_pairs"] / o["lsh_candidates"] for o in out["iterations"]
              if o.get("lsh_candidates")]
        m["dedup.verify_yield"] = statistics.fmean(ys) if ys else 0.0
    if workload == "catalog_incremental":
        st = out["statements"]
        writes = [s["ms"] for s in st if s["kind"] != "read"]
        reads = [s["ms"] for s in st if s["kind"] == "read"]
        m["catalog.write_p50_ms"] = percentile(writes, 0.5)
        m["catalog.write_p90_ms"] = percentile(writes, 0.9)
        m["catalog.read_p50_ms"] = percentile(reads, 0.5)
        m["catalog.read_p90_ms"] = percentile(reads, 0.9)
        if traced:
            m["catalog.files_per_read"] = statistics.fmean(it["files_per_read"] for it in traced)
            user = sum(it["user_bytes"] for it in traced)
            m["catalog.write_amp"] = (sum(it["layers"]["io.output_bytes"] for it in traced)
                                      / max(1, user))
        m["catalog.space_amp"] = out["data_bytes_on_disk"] / max(1, out["live_bytes"])
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.BUILDERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input scale; the self-test runs tiny inputs, the benchmark always 1
    ap.add_argument("--scale", type=float, default=1)
    a = ap.parse_args()
    w = a.workload

    t_start = time.perf_counter()
    strays = stray_jvms()
    if strays:
        log("WARNING: stray JVMs are running; timings are flagged: " + "; ".join(strays))
    classes = build.build()
    t_built = time.perf_counter()
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("tmp", "scratch", "spark-local", "work"):
        os.makedirs(os.path.join(RUN, d))

    inp = gen.cached(CACHE, w, a.seed, a.scale, gen.BUILDERS[w])
    keep = {os.path.basename(inp)}
    keep |= {n for n in os.listdir(CACHE)
             if not n.startswith(w + "-") and n.endswith("-g" + gen.GEN_DIGEST)}
    gen.evict(CACHE, keep)
    t_gen = time.perf_counter()

    ticks0 = cpu_ticks()
    report_path = os.path.join(RUN, "report.json")
    ready, code = launch(classes, w, ["--workload", w, "--input", inp,
                                      "--work", os.path.join(RUN, "work", "main"),
                                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                                      "--out", report_path], "main.log")
    if ready is None or code != 0 or not os.path.exists(report_path):
        raise SystemExit(f"perfbench: measured JVM failed (code {code}); see {RUN}/main.log")
    ticks1 = cpu_ticks()
    t_jvm = time.perf_counter()
    report = json.load(open(report_path))

    attempted, failed, notes = oracle.CHECKS[w](inp, report)
    t_checked = time.perf_counter()
    problems = []
    iters = report["iterations"]
    if w != "catalog_incremental":
        # an iteration served from a per-process artifact cache runs a
        # fraction of the warm-up's jobs and tasks
        for it in iters:
            if it["jobs"] < 0.5 * report["warmup_jobs"] or it["tasks"] < 0.5 * report["warmup_tasks"]:
                problems.append(f"iteration {it['n']} looks like a cache hit "
                                f"({it['jobs']} jobs, {it['tasks']} tasks)")
                failed += 1
    if report["warehouse_created"]:
        problems.append(f"the run created {report['warehouse_dir']}")
    if report["failed_queries"]:
        problems.append(f"{report['failed_queries']} failed SQL executions")
    correct = failed == 0 and not problems

    if a.trace:
        metrics = layer_metrics(w, report)
        units = PER_LAYER
    else:
        metrics = {"setup_s": ready,
                   "iter_s": statistics.median(it["wall_ms"] / 1000 for it in iters),
                   "heap_after_gc_mb": report["heap_after_gc_mb"]}
        units = END_TO_END
    props = json.load(open(os.path.join(inp, "props.json")))
    detail = {"workload": w, "seed": a.seed, "trace": a.trace, "input": props,
              "setup_s": ready, "iterations": [
                  {k: it[k] for k in ("n", "traced", "wall_ms", "steal_share", "jobs",
                                      "tasks", "layers", "sql", "error") if k in it}
                  for it in iters],
              "measured_s": report["measured_s"], "fail_ratio": failed / max(1, attempted),
              "checks": notes, "problems": problems,
              "env": dict(report["env"], nproc=cpus(), heap=HEAP, source_digest=
                          os.path.basename(classes).split("-", 1)[1], stray_jvms=strays,
                          # CPU time the hypervisor gave to other guests
                          # while the measured JVM ran: a noisy-neighbour flag
                          cpu_steal_share=(ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])),
              # where the run's own time went, for the benchmark's time budget
              "phases_s": dict(build=t_built - t_start, generate=t_gen - t_built,
                               jvm=t_jvm - t_gen, check=t_checked - t_jvm)}
    print(json.dumps({"detail": detail}, default=str))
    shutil.rmtree(RUN, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
