#!/usr/bin/env python3
"""Builds and runs the transcript-extraction benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload chat --seed 1 --seconds 10 --trace 0

The first run compiles the program and the benchmark from source with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. Everything a run writes stays under .bench_build/ in the checkout.

The last line of standard output is one JSON object with the keys
"correct", "attempted", "failed" and "metrics". The full record of the run
is .bench_build/perfbench/runs/<workload>-seed<seed>-trace<trace>/record.json,
and a traced run also leaves its spans in spans.jsonl beside it.

Other modes:
    --mode check-alloc          ladder bytes/turn against graft.tools.AllocProbe
    --mode pin --seeds 1,2,3    output digests to pin in perfbench/pinned.json
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
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
WORKLOADS = ("chat", "pages")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    trees = [os.path.join(BENCH, "src"), PROGRAM_SOURCES]
    files = [f for f in tops if os.path.isfile(f)]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's output goes to stderr: stdout ends with the result line only
    # copyResources puts the program's resources (the entity table) next to
    # the classes, which is the executors' classpath
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile / copyResources"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def spark_home_facade(spark_home):
    """A SPARK_HOME whose entries link to the real one, so that the
    executors' work directory ($SPARK_HOME/work) lands in the checkout."""
    facade = os.path.join(WORK, "spark-home")
    os.makedirs(facade, exist_ok=True)
    for entry in ("jars", "conf", "bin", "RELEASE"):
        src, link = os.path.join(spark_home, entry), os.path.join(facade, entry)
        if os.path.exists(src) and not os.path.lexists(link):
            os.symlink(src, link)
    return facade


def stop_group(proc):
    """Stops the benchmark JVM and every executor JVM it started, and waits
    until all have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            continue
        break
    proc.wait()


def run_java(args, out_dir, timeout_s):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = ["java", "-Xmx1536m", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dperfbench.classes={CLASSES}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-Djdk.lang.Process.launchMechanism=vfork",
        "-cp", os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")]),
        "perfbench.Main", "--out", out_dir,
        "--pinned", os.path.join(BENCH, "pinned.json"),
    ] + args
    env = dict(os.environ, SPARK_HOME=spark_home_facade(spark_home), SPARK_SCALA_VERSION="2.13")
    t_start = time.time()
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    deadline = time.time() + timeout_s

    def on_timeout(*_):
        raise TimeoutError

    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(max(1, int(deadline - time.time())))
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        proc.wait()
        code = proc.returncode
    except TimeoutError:
        print(f"perfbench: run exceeded {timeout_s} s", file=sys.stderr)
        code = -1
    finally:
        signal.alarm(0)
        t_exit = time.time()
        stop_group(proc)
        print(f"perfbench: benchmark JVM ran {t_exit - t_start:.1f} s, "
              f"its process group took {time.time() - t_exit:.1f} s more to end", file=sys.stderr)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("run", "check-alloc", "pin"), default="run")
    ap.add_argument("--seeds", default="")
    a = ap.parse_args()
    if a.mode != "check-alloc" and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(PROGRAM_SOURCES):
        fail(f"program sources not found under {PROGRAM_SOURCES}; run from the repository root")
    os.makedirs(WORK, exist_ok=True)
    build()

    if a.mode == "check-alloc":
        sys.exit(run_java(["--mode", "check-alloc"], os.path.join(WORK, "runs", "check-alloc"), 600) != 0)
    if a.mode == "pin":
        code = run_java(["--mode", "pin", "--workload", a.workload, "--seeds", a.seeds],
                        os.path.join(WORK, "runs", f"pin-{a.workload}"), 900)
        sys.exit(code != 0)

    out_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    code = run_java(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace)], out_dir, RUN_TIMEOUT_S)
    record_path = os.path.join(out_dir, "record.json")
    if code != 0 or not os.path.isfile(record_path):
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        sys.exit(1)
    with open(record_path) as fh:
        rec = json.load(fh)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}, separators=(",", ":")))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
