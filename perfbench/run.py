#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload marc_etl --seed 1 --seconds 10 --trace 0

SPARK_HOME must name a Spark 4.1 installation; its jars are the
classpath. The first run compiles graft and the harness (sbt) into
perfbench/target; later runs reuse the classes while the sources are
unchanged. The harness runs in one JVM; its run record and result line
go to standard output, Spark's log to .bench_build/logs. The last line
of standard output is the result object with exactly the metrics
BENCHMARK.json lists for the chosen mode; a run that lacks one fails.
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
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
WORKLOADS = ("marc_etl", "corpus_curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark 4 on JDK 17 needs these outside spark-submit; the list matches
# the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout or
    on a signal to this script, and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, -1
    return out, p.returncode


def build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(BUILD, "logs", "build.log")
    with open(log, "w") as fh:
        _, rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=fh,
                            stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)", 2)
    for d in ("logs", "tmp", "work", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 installation", 2)
    build()

    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    tmp = os.path.join(BUILD, "tmp", run_id)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home}/jars/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(BUILD, "work", run_id)]
    if a.trace:
        cmd += ["--spans", os.path.join(BUILD, "traces", f"{run_id}.jsonl")]
    log = os.path.join(BUILD, "logs", f"{run_id}.log")
    t0 = time.time()
    with open(log, "w") as fh:
        out, rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=fh, text=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        fail(f"run failed (exit {rc}) after {time.time() - t0:.0f} s; see {log}")
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        fail(f"no result line in the output; see {log}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result line has keys {sorted(result)}")
    # the result carries exactly the metrics BENCHMARK.json lists; the
    # run record above it keeps every figure the run measured
    names = expected_metrics(a.trace)
    missing = [m for m in names if m not in result["metrics"]]
    if missing:
        fail(f"result lacks metrics {missing}")
    result["metrics"] = {m: result["metrics"][m] for m in names}
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
