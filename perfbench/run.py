#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload <qc_review|qc_batch|curate_text> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The library (src/main/scala) and the
benchmark (perfbench/scala) are compiled together with the Scala compiler
that ships in the Spark distribution ($SPARK_HOME/jars, or the jars next
to spark-submit on PATH) into .bench_build/; the build is reused until a source
file changes, and every new build runs the tracer self-test. Each run
works in a fresh directory under .bench_work/ and removes it on exit.

The JVM prints the result; its last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics. The metric
names are checked against BENCHMARK.json. A failed output check, a
missing metric or a run past its deadline exits non-zero.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
BUILD_ROOT = os.path.join(ROOT, ".bench_build")
BUILD = os.path.join(BUILD_ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_work")

RUN_DEADLINE_S = 170       # a run must end within 180 s
BUILD_RUN_DEADLINE_S = 880  # the first run in a checkout also builds

# Spark 4 on JDK 17 outside spark-submit: the module opens that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# -XX:-UsePerfData: no hsperfdata file in the system temp dir
JVM_OPTS = ["-Xmx2g", "-Xss8m", "-XX:-UsePerfData"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars dir and its Scala compiler jars:
    $SPARK_HOME, else the first spark-submit on PATH that has them."""
    if os.environ.get("SPARK_HOME"):
        homes = [os.environ["SPARK_HOME"]]
    else:
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
                 for d in os.environ.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        compiler = [sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
                    for name in ("scala-compiler", "scala-library", "scala-reflect")]
        if all(compiler):
            return jars, [c[-1] for c in compiler]
    fail("no Spark distribution with Scala 2.13 compiler jars in %s; set SPARK_HOME" % homes)


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not lib:
        fail("no library sources under src/main/scala; run from a full checkout")
    return lib + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def java(*args, **kw):
    return subprocess.run(["java"] + list(args), **kw)


def build(jars, compiler):
    """Compile into .bench_build/perfbench/classes unless the stamp matches."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\0".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD_ROOT, exist_ok=True)
    with open(os.path.join(BUILD_ROOT, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return classes, False
        tmp = "%s.tmp%d" % (BUILD, os.getpid())
        shutil.rmtree(tmp, ignore_errors=True)
        out = os.path.join(tmp, "classes")
        os.makedirs(out)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
        r = java("-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                 "scala.tools.nsc.Main",
                 "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*"), "@" + argfile)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("compilation failed", 3)
        r = java(*ADD_OPENS, *JVM_OPTS, "-cp", out + ":" + os.path.join(jars, "*"),
                 "perfbench.SelfTest", stdout=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("tracer self-test failed", 3)
        with open(os.path.join(tmp, "stamp"), "w") as f:
            f.write(digest)
        shutil.rmtree(BUILD, ignore_errors=True)
        os.rename(tmp, BUILD)
        return classes, True


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(args, classes, jars, built):
    deadline = (BUILD_RUN_DEADLINE_S if built else RUN_DEADLINE_S) - (time.monotonic() - START)
    work = os.path.join(WORK, "%s-%d-%d-%d" % (args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + ADD_OPENS + JVM_OPTS +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + ":" + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    timer = threading.Timer(max(1.0, deadline), kill)
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            if timed_out.is_set():
                break
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass
    if timed_out.is_set():
        fail("run exceeded its %.0f s deadline and was stopped" % deadline, 4)
    try:
        result = json.loads(last)
        names = set(result["metrics"])
    except (ValueError, KeyError, TypeError):
        fail("the run printed no result (exit %d)" % proc.returncode, proc.returncode or 5)
    want = expected_metrics(args.trace)
    if names != want:
        fail("metrics differ from BENCHMARK.json: missing %s, unexpected %s"
             % (sorted(want - names), sorted(names - want)), 5)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["qc_review", "qc_batch", "curate_text"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--self-test", action="store_true",
                    help="build, run the tracer self-test, and exit")
    args = ap.parse_args()
    if not args.self_test and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if shutil.which("java") is None:
        fail("no java on PATH")
    os.chdir(ROOT)
    jars, compiler = spark_jars()
    classes, built = build(jars, compiler)
    if args.self_test:
        if not built:
            r = java(*ADD_OPENS, *JVM_OPTS, "-cp", classes + ":" + os.path.join(jars, "*"),
                     "perfbench.SelfTest")
            sys.exit(r.returncode)
        sys.exit(0)
    sys.exit(run(args, classes, jars, built))


if __name__ == "__main__":
    main()
