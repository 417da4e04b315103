#!/usr/bin/env python3
"""graft workload benchmark: build, run one workload, print its metrics.

    python3 perfbench/run.py --workload <interactive|batch> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. The benchmark runs in its own JVM with
an explicit heap on local[nproc]; its scratch files live under perfbench/.runs
and are removed when the run ends. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
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
WORKLOADS = ("interactive", "batch")
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail(2, "no Spark distribution found (set SPARK_HOME)")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env, digest):
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return cp_file
    sbt = shutil.which("sbt")
    if not sbt:
        fail(2, "sbt not found")
    t0 = time.time()
    with open(os.path.join(HERE, ".build.log"), "w") as log:
        try:
            rc = subprocess.run([sbt, "-batch", "writeClasspath"], cwd=HERE, env=env,
                                stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        fail(3, f"build failed (exit {rc}); see perfbench/.build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"# built in {time.time() - t0:.1f} s")
    return cp_file


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])
    except OSError:
        return "n/a"


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "VectorDatabase.scala")):
        fail(2, "engine sources not found next to perfbench/ (run from a checkout of the repository)")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    digest = source_digest()
    with open(build(env, digest)) as fh:
        classpath = fh.read().strip()

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    scratch = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--scratch", scratch,
            "--cores", str(cores)]

    load_start = loadavg()
    stderr_path = os.path.join(scratch, "stderr.log")
    try:
        with open(stderr_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(4, f"run exceeded {RUN_TIMEOUT_S} s")
        lines = out.strip().splitlines()
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if result is None:
            with open(stderr_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(5, f"benchmark exited {proc.returncode} without a result")
        for line in lines[:-1]:
            print(line)
        print(f"# host nproc={cores} heap={HEAP} loadavg_start={load_start} loadavg_end={loadavg()} "
              f"commit={commit() or 'n/a'} source_digest={digest[:16]}")
        print(json.dumps(result))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
