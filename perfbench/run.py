#!/usr/bin/env python3
"""Seeded serving-and-bulk benchmark for the graft vector store.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (an sbt
project in this directory that compiles ../src/main/scala together with
perfbench/src), then runs one workload in a fresh JVM:

  serve_read   HTTP searches, one client, no writes, no cache hits
  serve_mixed  three HTTP readers (a third of searches repeat) + one writer, then maintenance
  stream       Streaming.ingest restarts + flat/grouped/windowed folds

Prints one line per metric (value, unit, sample count, note) and, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end set, with
--trace 1 its per_layer set (a metric the workload does not exercise reads
0). See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
CDS_ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
WORKLOADS = ("serve_read", "serve_mixed", "stream")
RUN_TIMEOUT_S = 170
SBT_TIMEOUT_S = 500
TRAIN_TIMEOUT_S = 300

# The JDK 17 module openings Spark needs outside spark-submit (the same
# list the engine's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the classpath file matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark installation with a jars/ directory")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench-stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=SBT_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"sbt build failed: {e}")
    sys.stderr.write(p.stdout)
    jar = os.path.join(TARGET, "scala-2.13", "perfbench_2.13-")
    cps = [l.strip() for l in p.stdout.splitlines()
           if jar in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        die(f"sbt build failed (exit {p.returncode})")
    cp = cps[-1]
    # record the class-data sharing archive: one short pass over every
    # workload's code, so each measured JVM maps the engine's and Spark's
    # classes instead of loading them (several seconds of start-up)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(WORK, f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = run_jvm(cp, "train", 0, 2, 0, work, os.path.join(work, "out.json"),
                       [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}", "-Xlog:cds=error"],
                       TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        die(f"class-data sharing training run failed (exit {code})")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def metric_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def run_jvm(cp, workload, seed, seconds, trace, work, out, extra, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms1g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + extra
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", out]
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"run exceeded {timeout}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = metric_spec()
    cp = build()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    try:
        cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
        code = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, work, out,
                       cds, RUN_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            die(f"benchmark JVM exited with {code}")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out):
            os.remove(out)

    # every measured line first (the gated metrics and the ungated
    # per-kind detail), then zeros for per-layer metrics this workload
    # does not exercise, then the result line with the gated set only
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    detail = {d["name"]: d for d in res["detail"]}
    for d in res["detail"]:
        print(f"{d['name']:<38} {d['value']:>16.6f} {d['unit']:<6} n={d['n']:<6} {d['note']}")
    metrics = {}
    for m in wanted:
        d = detail.get(m["name"])
        if d is None:
            if not args.trace:
                die(f"end-to-end metric {m['name']} missing from the run")
            d = {"value": 0.0}
            print(f"{m['name']:<38} {0.0:>16.6f} {m['unit']:<6} n=0      not on this workload's path")
        metrics[m["name"]] = {"value": d["value"], "unit": m["unit"]}
    for f in res.get("failures", []):
        print(f"failure: {f}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
