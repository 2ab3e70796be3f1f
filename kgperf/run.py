#!/usr/bin/env python3
"""One run of the graft KG benchmark.

    python3 kgperf/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the repository root. Compiles graft (src/main/scala) and the
benchmark (kgperf/src) with the Scala compiler that ships in Spark's jars,
into $CARGO_TARGET_DIR (default .bench_build), then starts one JVM that
generates the seeded inputs, times the workload and checks every output.
The last line of standard output is the run's JSON result; the exit code
is 0 only when every checked output was correct.

    python3 kgperf/run.py --self-test   # the benchmark's own tests
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("kg_build", "kg_dup", "canon_dict")
HEAP = "2g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these opened modules.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"kgperf: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark installation with a Scala compiler (set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or fail("no java on PATH")


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    if not graft:
        fail(f"no graft sources under {os.path.join(root, 'src', 'main', 'scala')}")
    return graft, bench


def build(root, jars):
    """Compiles graft and the benchmark once per source state."""
    target = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "kgperf")
    graft, bench = sources(root)
    h = hashlib.sha256()
    for path in graft + bench:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(target, "classes-" + stamp)
    if os.path.isdir(classes):
        return target, classes
    os.makedirs(target, exist_ok=True)
    for old in glob.glob(os.path.join(target, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + graft + bench
    t0 = time.time()
    r = subprocess.run(cmd, cwd=root, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.rename(tmp, classes)
    print(json.dumps({"build_s": round(time.time() - t0, 3), "classes": os.path.relpath(classes, root)}))
    return target, classes


def run_jvm(root, jars, classes, work, main, args):
    """Runs one benchmark JVM; returns (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java_bin(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    # keep Spark's scratch space inside the checkout even if the caller set it
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return 124, ["kgperf: run exceeded %d s" % RUN_TIMEOUT_S]
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def expected_metrics(root, trace):
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return None
    with open(spec_path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, help="input size override (files, rows or entities)")
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    jars = spark_jars()
    target, classes = build(root, jars)
    work = os.path.join(target, f"work-{os.getpid()}")
    try:
        if a.self_test:
            rc, lines = run_jvm(root, jars, classes, work, "graft.kgperf.SelfTest", ["--work", work])
            print("\n".join(lines))
            sys.exit(rc)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        if a.size:
            args += ["--size", str(a.size)]
        rc, lines = run_jvm(root, jars, classes, work, "graft.kgperf.BenchMain", args)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in lines:
        try:
            obj = json.loads(line)
        except ValueError:
            obj = None
        if isinstance(obj, dict) and "correct" in obj:
            result = obj
        else:
            print(line)
    if result is None:
        fail(f"the benchmark JVM exited {rc} without a result")
    want = expected_metrics(root, a.trace)
    if want is not None and set(result["metrics"]) != want:
        fail("metrics differ from BENCHMARK.json: emitted %s, declared %s"
             % (sorted(result["metrics"]), sorted(want)))
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
