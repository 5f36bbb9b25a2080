#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload recall_serve --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run compiles the engine's
sources with the harness (sbt, offline, into perfbench/target); later runs
reuse the classes until a source file changes. The JVM's scratch files go
to .bench_work/ and are removed when the run ends; its log and, with
--trace 1, its spans go to .bench_out/. The last line of standard output is
the run's JSON result. The exit code is the JVM's: 0 on success, 1 when a
correctness gate failed, 2 on any other error.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.sources")
WORKLOADS = ("recall_serve", "recall_ingest")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark 4.1 distribution")
    return home


def sources_digest():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, BENCH_SRC, os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(env):
    digest = sources_digest()
    main_class = os.path.join(CLASSES, "perfbench", "Main.class")
    if os.path.exists(main_class) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = os.path.join(ROOT, ".bench_out", "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
                          "compile"],
                         HERE, env, BUILD_TIMEOUT_S, stdout=out, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(main_class):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {ENGINE_SRC}: run from a full checkout")
    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)

    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            # SparkConf reads spark.* system properties: every directory
            # Spark writes sits under the run's scratch directory
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop",
            "-cp", CLASSES + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--spans", os.path.join(out_dir, f"spans-{tag}.jsonl")]
    log = os.path.join(out_dir, f"run-{tag}.log")
    try:
        with open(log, "w") as err, open(os.path.join(work, "stdout"), "w") as out:
            code = run_child(cmd, ROOT, env, RUN_TIMEOUT_S, stdout=out, stderr=err)
        with open(os.path.join(work, "stdout")) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        print(f"perfbench: {a.workload} exited {code}; log in {log}", file=sys.stderr)
        # a failed gate still reports its result line
        if code == 1 and lines:
            print(lines[-1])
        sys.exit(code)
    if not lines:
        fail(f"{a.workload} printed no result; log in {log}")
    print(lines[-1])


if __name__ == "__main__":
    main()
