#!/usr/bin/env python3
"""graft replication + training-query benchmark.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft's main sources and this benchmark's Scala sources with the
Scala compiler shipped in Spark's jars (into .bench_build/, reused while
the sources are unchanged), makes the workload's inputs from the seed,
runs one JVM on local[<cores>], checks the program's outputs, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 the run measures an untraced window and then a traced one and
prints the per-layer metrics, and the spans go to
.bench_build/traces/<workload>-seed<seed>.jsonl.

Workloads:

  initial_sync      Initial sync with a backlog, in large batches. Closed loop,
                    one caller. Each repetition, into a fresh warehouse:
                    BinlogTail -> SpoolProducer decode 7 binary binlog segments
                    for a `custs` table (CREATE TABLE bootstrap, then inserts,
                    updates, deletes over a hot key set) into a spool that
                    already holds 20 000 JSON insert/update/delete events for
                    `lineitem`; Replicator.start snapshots the 20 000-row
                    lineitem-shaped table (4 snapshot threads); one catch-up
                    micro-batch, split at the DDL barrier, flushes both
                    tables; then a FINAL scan and 4 lookups, compact(), and
                    the same reads again. Warm-up repeats the whole sync on a
                    tenth of the data.
                    Heavy: Snapshot, RecordConversion, binlog decode, spool,
                    CdcPipeline flush, bucketed write, FinalView, compact.
                    Light: per-batch fixed cost (one batch), query operators.
                    result_cpu_s = one sync (tail + snapshot + catch-up,
                    until FINAL is queryable); read_cpu_ms = one
                    GraftTable.lookup.
  training_queries  Analyst session. Closed loop, one caller. 7 oracle-gated
                    SparkEntry queries (analytic, dedup, similarity, text,
                    multimodal; two pairs share a memo: d_minhash_lsh +
                    d_dup_clusters, t_bm25_topk + t_hybrid_rrf) over a
                    generated sf0.001 fixture, each session started from
                    clearFitMemo(). Runs no CDC code.
                    result_cpu_s = one session; read_cpu_ms = one query.

End-to-end metrics. The window runs whole units of work (one sync, one
session) until --seconds have passed, at least one; with run_seconds 5 that
is exactly one, since a unit takes longer. The unit (result_cpu_s, median
over the window) and each read (read_cpu_ms, geometric mean over the
window's reads) are timed in the CPU time the whole JVM spends on them (all
threads: the driver, Spark's task threads, GC and JIT), not in wall time:
on a shared host the hypervisor withholds the CPUs for stretches (10-16%
steal measured while the benchmark ran), which moved wall times by 20-40%
between runs of the same code while CPU time moved about 10%. The wall times are still reported, in the
traced run, as e2e.result_s, e2e.read_p50_ms and the per-workload figures
(e2e.sync_s, e2e.session_s, e2e.lookup_p50_ms, ...). setup_s is wall time:
input generation, JVM and session start, and warm-up, which repeats whole
units of work until two in a row agree within 10%, capped in time.
mem_peak_mb is the heap in use after two full collections (so Spark's
ContextCleaner has released unreachable RDDs) at the end of the window. Every input comes from --seed.

The traced run adds the tracing overhead (trace.overhead_s: traced minus
untraced wall result, the two windows measured one after the other in the
same JVM, so later JIT warming also shows in it) and Spark figures grouped
by layer: job time by the graft source files on each job's call stack
(inclusive: a job counts for every file on its stack), stage spans, task
CPU, GC, shuffle, spill, codegen and planning time.

Output checks, each counted in `attempted` and, when it fails, in `failed`
(failed / attempted is the error ratio): initial_sync compares FINAL of both
tables, before and after compact(), with the state derived from the
generated events (last write wins, deletes dropped) by row count and an
order-independent hash; training_queries compares every query result with
its DuckDB oracle the way tools/selfcheck.py does. --fault final|query
corrupts one output on purpose, for this benchmark's own tests
(python3 -m unittest perfbench.test_bench).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

JVM_TIMEOUT_S = 170
HEAP = "4g"
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """Spark's jars: $SPARK_HOME/jars, else the jar directory the repository's
    build.sbt compiles against (`unmanagedBase := file("...")`)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    fail("no Spark jars found; set SPARK_HOME")


def scalac(jars, classpath, srcs, jar_path):
    """Compile srcs into one jar (written last, so a failed build leaves none)."""
    tmp = jar_path + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
                if os.path.basename(j).split("-")[1] in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with zipfile.ZipFile(jar_path + ".tmp", "w") as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    shutil.rmtree(tmp)
    os.rename(jar_path + ".tmp", jar_path)


def digest(root, srcs, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def jvm_cmd(classpath, archive, main_args, run_dir, dump=False):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Class-data sharing: the JVM maps the classes a build-time run loaded
    # instead of loading ~300 jars' worth again, which roughly halves JVM
    # and Spark session start-up. Missing or stale archives are ignored.
    cmd += [f"-XX:{'ArchiveClassesAtExit' if dump else 'SharedArchiveFile'}={archive}",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", os.pathsep.join(classpath), "perfbench.Main"] + main_args
    return cmd


def build(root, jars):
    """Compile graft's main sources, then the benchmark against them, into
    jars under .bench_build/, and record a class-data-sharing archive from
    a small run of every workload; each output is reused while its
    sources are unchanged. Returns (classpath, archive)."""
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main:
        fail("no src/main/scala sources: run from the root of a graft checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    graft_key = digest(root, main)
    graft_dir = os.path.join(build_dir, "graft-" + graft_key)
    bench_dir = os.path.join(build_dir, "bench-" + digest(root, bench + [__file__], graft_key))
    for old in glob.glob(os.path.join(build_dir, "graft-*")) + glob.glob(
            os.path.join(build_dir, "bench-*")):
        if old not in (graft_dir, bench_dir):
            shutil.rmtree(old, ignore_errors=True)
    os.makedirs(graft_dir, exist_ok=True)
    os.makedirs(bench_dir, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    graft_jar = os.path.join(graft_dir, "graft.jar")
    bench_jar = os.path.join(bench_dir, "bench.jar")
    if not os.path.isfile(graft_jar):
        scalac(jars, [spark_cp], main, graft_jar)
    if not os.path.isfile(bench_jar):
        scalac(jars, [graft_jar, spark_cp], bench, bench_jar)
    classpath = [bench_jar, graft_jar, spark_cp]
    archive = os.path.join(bench_dir, "classes.jsa")
    if not os.path.isfile(archive):
        run_dir = os.path.join(build_dir, "prime")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "tmp"))
        import fixtures
        fixtures.write(os.path.join(run_dir, "fixture"), 0, 0.0001)
        cmd = jvm_cmd(classpath, archive + ".tmp", [
            "--workload", "prime", "--seed", "0", "--run-dir", run_dir,
            "--fixture-dir", os.path.join(run_dir, "fixture")], run_dir, dump=True)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        if r.returncode != 0 or not os.path.isfile(archive + ".tmp"):
            print(r.stdout[-6000:], file=sys.stderr)
            fail("recording the class-data-sharing archive failed")
        os.rename(archive + ".tmp", archive)
    return classpath, archive


def run_jvm(classpath, archive, run_dir, args):
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(jvm_cmd(classpath, archive, args, run_dir),
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    with open(log_path, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench"):
                print(line.rstrip(), file=sys.stderr)
    if code != 0:
        with open(log_path, errors="replace") as f:
            print(f.read()[-6000:], file=sys.stderr)
        print(f"perfbench: benchmark JVM failed ({code})", file=sys.stderr)
        sys.exit(1)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["initial_sync", "training_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", choices=["none", "final", "query"], default="none")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json: run from the root of a graft checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    jars = spark_jars(root)
    classpath, archive = build(root, jars)

    t_start = time.time()
    run_dir = os.path.join(root, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--run-dir", run_dir, "--fault", a.fault]
        fixture = os.path.join(run_dir, "fixture")
        if a.workload == "training_queries":
            import fixtures
            fixtures.write(fixture, a.seed, 0.001)
            args += ["--fixture-dir", fixture]
        res = run_jvm(classpath, archive, run_dir, args)
        setup_s = res["setup_end_ms"] / 1000.0 - t_start
        attempted, failed = res["attempted"], res["failed"]
        checks = dict(res["checks"])
        if a.workload == "training_queries":
            import oracle
            results = os.path.join(run_dir, "query-results")
            with open(os.path.join(results, "oracle_sql.json")) as f:
                oracles = json.load(f)
            for name, (ok, why) in oracle.check_all(oracle.connect(fixture), results,
                                                    oracles).items():
                checks[f"oracle:{name}"] = ok
                attempted += 1
                failed += 0 if ok else 1
                if not ok:
                    print(f"perfbench: {name} does not match its oracle: {why}",
                          file=sys.stderr)
        print("perfbench: report " + json.dumps(res["report"], sort_keys=True), file=sys.stderr)
        values = dict(res["metrics"])
        values["setup_s"] = setup_s
        values["e2e.error_ratio"] = failed / attempted
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        if a.trace:
            trace_dir = os.path.join(root, ".bench_build", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.jsonl"),
                        os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl"))
        failed_checks = sorted(k for k, ok in checks.items() if not ok)
        if failed_checks:
            print(f"perfbench: failed checks: {', '.join(failed_checks)}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
