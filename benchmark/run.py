#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 benchmark/run.py --workload interactive --seed 1 --seconds 16 --trace 0

Builds the engine and the benchmark's JVM program from source on first use
(sbt, offline, then a class-data archive from a training run), generates the
workload's inputs from the seed, runs the benchmark JVM, checks every
answer, prints a human-readable report and, as the last line of standard
output, one JSON object:
{"correct": …, "attempted": …, "failed": …, "metrics": {name: {value, unit}}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. See README.md in this directory.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(BENCH, "target", "zxbench.jar")
ARCHIVE = os.path.join(BENCH, "target", "zxbench.jsa")
STAMP = os.path.join(BENCH, "target", "source.sha256")
WORKLOADS = ("interactive", "curate", "ingest")
# Nominal seconds one round takes on a 4-core machine: --seconds buys
# round(seconds / ROUND_S) whole rounds, so a run's work does not depend on
# how fast the machine happens to be.
ROUND_S = 8
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 480
TRAIN_LIMIT_S = 180
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def preflight():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark install with a jars/ directory")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"`{tool}` is not on PATH")
    return spark_home


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(spark_home, cores):
    """Compiles the engine and the benchmark's JVM program into one jar, then dumps a class-data
    archive from a training run of every workload's warm-up, unless both
    match the current sources. The archive makes each run's JVM start load
    classes from a mapped file instead of hundreds of jars."""
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(ARCHIVE):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    print("building the engine and the benchmark (sbt compile package) ...", file=sys.stderr)
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "package"],
                         BENCH, out, BUILD_LIMIT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    import gen
    train = os.path.join(BENCH, "target", "train")
    shutil.rmtree(train, ignore_errors=True)
    for w in WORKLOADS:
        os.makedirs(os.path.join(train, w, "inputs"))
        gen.GENERATORS[w](0, os.path.join(train, w, "inputs"))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(os.path.join(train, "jvm.log"), "w") as out:
        rc = run_bounded(java_cmd(spark_home, train, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
                         + ["train", train, str(cores)], BENCH, out, TRAIN_LIMIT_S)
    if rc != 0 or not os.path.exists(ARCHIVE):
        fail(f"class-data training run failed (exit {rc}); see {train}/jvm.log")
    shutil.rmtree(train, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(digest)


def run_bounded(cmd, cwd, out, limit_s):
    """Runs `cmd` in its own process group; kills the whole group and waits
    for it if it outlives `limit_s`. Returns the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(spark_home, work, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xms1g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.sql.session.timeZone=UTC"] + extra
            + [a for m in JVM_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")]
            + ["-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"), "zxbench.Main"])


def run_jvm(spark_home, workload, rounds, trace, work, cores, limit_s):
    cmd = java_cmd(spark_home, work, [f"-XX:SharedArchiveFile={ARCHIVE}"]) + [
        workload, str(rounds), str(trace), work, str(cores), str(int(time.time() * 1000))]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = run_bounded(cmd, BENCH, out, limit_s)
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited with {rc}; last output:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark_home = preflight()
    cores = len(os.sched_getaffinity(0))
    build(spark_home, cores)
    started = time.time()

    import checks
    import gen
    import report

    work = os.path.join(BENCH, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    rounds = max(1, round(a.seconds / ROUND_S))
    # the traced phase replays the untraced rounds, except in ingest, whose
    # rounds consume batches and so need inputs for both phases
    gen_rounds = rounds * (2 if a.trace and a.workload == "ingest" else 1)
    t0 = time.perf_counter()
    gen.GENERATORS[a.workload](a.seed, inputs, gen_rounds)
    gen_s = time.perf_counter() - t0
    limit = max(30, RUN_LIMIT_S - (time.time() - started))
    result = run_jvm(spark_home, a.workload, rounds, a.trace, work, cores, limit)

    if a.workload == "interactive":
        bad, msgs = checks.interactive(result, inputs)
    elif a.workload == "curate":
        bad, msgs = checks.curate(result, inputs, os.path.join(work, "curate_out"))
    else:
        bad, msgs = checks.ingest(result, inputs, os.path.join(work, "source"))
    attempted = len(checks.timed_ops(result))
    failed = len(bad)

    e2e = report.end_to_end(a.workload, result, result["ops"], result["host"], gen_s, inputs)
    report.print_end_to_end(a.workload, a.seed, cores, result["ops"], e2e,
                            attempted, failed)
    for m in msgs[:20]:
        print(f"  WRONG: {m}")
    if a.trace:
        traced = report.end_to_end(a.workload, result, result["traced_ops"],
                                   result["traced_host"], gen_s, inputs)
        untraced = e2e if "replay_ops" not in result else report.end_to_end(
            a.workload, result, result["replay_ops"], result["replay_host"], gen_s, inputs)
        layers = report.per_layer(a.workload, result, e2e, untraced, traced, cores)
        spans_file = os.path.join(BENCH, "out", f"{a.workload}-seed{a.seed}-spans.json")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        with open(spans_file, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "per_layer": layers,
                       "spans": result["spans"]}, f, indent=1)
        report.print_per_layer(a.workload, result, layers, untraced, traced, spans_file)
        metrics = {k: {"value": v, "unit": report.LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u, _ in report.E2E}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
