#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library and the benchmark with sbt when their sources changed
(the first run in a fresh checkout compiles everything), then runs the
benchmark JVM once. The last line of standard output is one JSON object:
correct, attempted, failed, metrics. The exit code is non-zero when any
output was wrong or the run could not complete.

Each invocation works in its own scratch directory under perfbench/.work,
removed at exit, so concurrent runs never share files. A traced run also
writes its spans and per-step counters to perfbench/results/.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "perfbench-sources.sha256")

WORKLOADS = ("table_pass", "ingest_increments")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# A fixed-size heap and young generation, so peak RSS tracks what the program
# keeps, not when the collector chose to grow the heap.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy"]
# table_pass runs C1-compiled code only: with C2, each JVM settles into one of
# two speeds about 35% apart (pass time ~4.4 s or ~6.0 s on 4 vCPUs, whatever
# the warm-up), so runs scatter across that gap; C1 code is slower but the
# same in every run. ingest_increments is steady under C2, and C1 would
# double its driver-bound increments.
WORKLOAD_JVM_FLAGS = {"table_pass": ["-XX:TieredStopAtLevel=1"]}

# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = []
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        project = os.path.join(base, "project")
        if os.path.isdir(project):
            files += [os.path.join(project, n) for n in os.listdir(project)]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the sources match the last build; return the classpath."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(STAMP_FILE):
            with open(STAMP_FILE) as f:
                if f.read().strip() == stamp:
                    with open(CLASSPATH_FILE) as c:
                        return c.read().strip()
        log("building library and benchmark with sbt")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines or lines[-1].startswith("["):
            sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
            raise SystemExit(f"[perfbench] build failed (exit {proc.returncode})")
        classpath = lines[-1].strip()
        with open(CLASSPATH_FILE, "w") as f:
            f.write(classpath)
        with open(STAMP_FILE, "w") as f:
            f.write(stamp)
        log(f"build done in {time.time() - t0:.0f} s")
        return classpath


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, main_args, scratch, workload=None):
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_FLAGS, *WORKLOAD_JVM_FLAGS.get(workload, []), f"-Djava.io.tmpdir={tmp}",
        "-Dfile.encoding=UTF-8",
        "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
        "--scratch", scratch, "--cores", str(cores())] + main_args
    # Spark local dirs inside the scratch directory; an inherited
    # SPARK_LOCAL_DIRS would point every run at one shared path
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 1, []
    finally:
        # on a timeout or a signal, the JVM must not outlive this process
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    return proc.returncode, out.splitlines()


def terminate(signum, _frame):
    # unwinds through the finally blocks that stop the child and remove
    # the scratch directory
    sys.exit(128 + signum)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the generators at tiny size and exit")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, terminate)
    if not args.selftest and (args.workload is None or args.seed is None or args.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no library sources next to {HERE}: run from the repository checkout")
        return 2
    if shutil.which("sbt") is None and not os.path.isfile(CLASSPATH_FILE):
        log("sbt not found")
        return 2

    classpath = build()
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload or 'selftest'}-", dir=work)
    try:
        if args.selftest:
            code, lines = run_jvm(classpath, ["--workload", "selftest", "--seed", "0",
                                              "--seconds", "0", "--trace", "0"], scratch)
            print("\n".join(lines))
            return code
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.trace:
            artifact = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}.trace.json")
            main_args += ["--artifact", artifact]
        code, lines = run_jvm(classpath, main_args, scratch, args.workload)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"benchmark JVM exited {code} without a result")
        return code or 1
    print(json.dumps(result))
    return 0 if code == 0 and result["correct"] and result["failed"] == 0 else (code or 1)


if __name__ == "__main__":
    sys.exit(main())
