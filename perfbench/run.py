#!/usr/bin/env python3
"""The repository benchmark: one seeded workload in one JVM.

    python3 perfbench/run.py --workload {pipeline,table_log} \
        --seed N --seconds S --trace {0,1} [--wrong-expectation] [--cpus N]

Run from the repository root. The first run builds the engine and the
benchmark's own code from source (perfbench/build.sbt); later runs reuse
the build while no source has changed. Each run works in a fresh directory
under .perfbench_work/ with its own java.io.tmpdir, Spark local dir and
warehouse, and removes it afterwards; a traced run keeps its spans in
.perfbench_work/traces/.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`. Every workload reports the same
metrics: with --trace 0 the end-to-end metrics, measured with tracing off;
with --trace 1 the per-layer metrics, from a run that also attaches the
benchmark's listeners and counting filesystem. The workload's own figures,
layer by layer, are printed on the lines before. --wrong-expectation skews
every oracle the run checks against, to show that the checks fire.
--cpus sets the Spark session's cores (default: all of them, local[nproc]).
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

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")

WORKLOADS = ("pipeline", "table_log")
# Every workload reports the same metrics, of its two measured units:
# `bulk`, its one large job, and `cycle`, one pass of its repeating loop
# (pipeline: the backfill's execute verb, and an incremental round;
# table_log: a pass over the headline queries, and a cycle of logged-table
# operations). Its layer-by-layer figures are printed above the result.
E2E = ["setup_s", "bulk_s", "cycle_p50_s"]
PER_LAYER = [f"{role}.{m}" for role in ("bulk", "cycle") for m in (
    "spark_jobs", "spark_stages", "fs_lists", "fs_opens", "fs_creates", "fs_renames", "fs_deletes",
    "shuffle_mb", "task_ms", "catalyst_ms")] + [
    "trace.overhead_pct.bulk_s", "trace.overhead_pct.cycle_p50_s", "jvm.gc_ms", "jvm.heap_peak_mb"]
# lineitem rows = 6,000,000 x QUERY_SCALE
QUERY_SCALE = 0.02
# the workload's JVM is stopped after this many seconds (the build excepted)
JVM_LIMIT_S = 160
JVM_HEAP = "3g"
# The JIT compiles hot code after a tenth of its usual call counts, so the
# JVM reaches its steady state within the untimed warm-up. Without this,
# the timed operations ran while hot code was still being compiled, and
# how far it had got varied from run to run by 20-30 %.
JIT = ["-XX:CompileThresholdScaling=0.1"]

TRACE_CONF = {
    "spark.extraListeners": "perfbench.JobCounter",
    "spark.sql.queryExecutionListeners": "perfbench.PlanCounter",
    "spark.sql.streaming.streamingQueryListeners": "perfbench.TriggerCounter",
    "spark.hadoop.fs.file.impl": "perfbench.CountingFileSystem",
}
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark when a source changed; returns the classpath."""
    fp = source_fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    env = dict(os.environ)
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark installation (its jars/ are the classpath)", 3)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "-Dsbt.supershell=false", "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, f)
    return lines[-1]


def run_jvm(classpath, args, work, extra, deadline):
    tmp, local, warehouse = (os.path.join(work, d) for d in ("tmp", "local", "warehouse"))
    for d in (tmp, local):
        os.makedirs(d)
    conf = {"spark.local.dir": local, "spark.sql.warehouse.dir": warehouse,
            "spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC"}
    if args.trace == 1:
        conf.update(TRACE_CONF)
    out = os.path.join(work, "report.json")
    cmd = (["java", *OPENS, *JIT, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [f"-D{k}={v}" for k, v in conf.items()]
           + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out] + extra)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_MASTER")}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        else:  # reap anything the JVM left in its process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if code is None:
        fail("the workload did not finish in time")
    if code != 0 or not os.path.exists(out):
        fail(f"the workload exited with code {code}")
    with open(out) as f:
        return json.load(f)


def main():
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--wrong-expectation", action="store_true")
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout", 2)
    classpath = build()
    deadline = time.monotonic() + JVM_LIMIT_S

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra, oracle_checks, mismatches = ["--cpus", str(args.cpus)], 0, []
        if args.wrong_expectation:
            extra.append("--wrong-expectation")
        if args.workload == "table_log":
            import gen_tables
            t0, data = time.monotonic(), os.path.join(work, "data")
            gen_tables.generate(data, args.seed, QUERY_SCALE)
            extra += ["--data", data, "--gen-seconds", repr(time.monotonic() - t0)]
        report = run_jvm(classpath, args, work, extra, deadline)
        if args.workload == "table_log":
            import oracle
            oracle_checks, mismatches = oracle.check(
                data, os.path.join(work, "results"), ("warm", "final"), args.wrong_expectation)
        if args.trace == 1 and os.path.exists(os.path.join(work, "spans.jsonl")):
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(work, "spans.jsonl"), os.path.join(traces, run_id + ".jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = report["metrics"]
    missing = [m for m in (PER_LAYER if args.trace else E2E) if m not in metrics]
    attempted = report["attempted"] + oracle_checks
    failed = report["failed"] + len(mismatches)
    for note in report["notes"] + [f"ORACLE {m}" for m in mismatches]:
        print(f"  {note}")
    for m in missing:
        print(f"  MISSING {m}")
    for name, m in list(report["details"].items()) + list(metrics.items()):
        print(f"{args.workload:10s} {name:44s} {m['value']:14.4f} {m['unit']}")
    print(f"{args.workload:10s} {'ops_failed_ratio':44s} {failed / max(attempted, 1):14.4f}"
          f" ({failed} of {attempted} operations)")
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
