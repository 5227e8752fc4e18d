#!/usr/bin/env python3
"""Build and run graft's end-to-end benchmark.

    python3 graftbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call compiles graft's library
sources (src/main/scala) together with the harness (graftbench/src) with
the Scala compiler that ships in Spark's jar directory; later calls reuse
the classes while no source changed. The harness then runs in one JVM
with a fixed heap, Spark local[2], one closed-loop client, and
prints one JSON result object as the last line of standard output.

Build outputs, generated inputs and traces live under $CARGO_TARGET_DIR
(default .bench_build) inside the checkout; the per-run work directory
is deleted when the run ends.

Extra flags (for the benchmark's own tests):
  --plant-wrong 1   corrupt one answer per request type before checking;
                    the run must then exit non-zero (oracle self-test)
  --digest          print the SHA-256 of the generated inputs and exit
  --self-test       run the oracle and generator unit checks and exit
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "3g"          # fixed heap, -Xms = -Xmx
SPARK_CORES = 2      # Spark task threads, local[SPARK_CORES]
RUN_TIMEOUT_S = 170  # a run must end within 180 s
BUILD_TIMEOUT_S = 800

# JDK 17 module opens Spark needs outside spark-submit (same list as
# the library's build.sbt).
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
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    out.sort()
    if not any(p.startswith(os.path.join(ROOT, "src")) for p in out):
        fail("graft's sources (src/main/scala) are missing from this checkout")
    return out


def build(build_dir, jars):
    """Compile library + harness once per source state; returns the
    classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tmpdir = os.path.join(build_dir, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (scalac exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"graftbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong", type=int, choices=[0, 1], default=0)
    ap.add_argument("--digest", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    os.chdir(ROOT)
    jars = spark_jars()
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = os.path.abspath(os.path.join(target, "graftbench"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir, jars)
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if a.self_test:
        sys.exit(subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath,
                                 "graftbench.SelfTest"]).returncode)

    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark runs local[2] (or local[1] on one core), not local[nproc]:
    # with the driver thread, the JIT and GC beside the task threads,
    # nproc task threads on a shared host of nproc cores measure the
    # scheduler more than the program
    cores = min(SPARK_CORES, os.cpu_count() or 1)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--plant-wrong", str(a.plant_wrong),
            "--work-dir", work, "--cores", str(cores), "--heap", HEAP,
            "--trace-dir", os.path.join(build_dir, "traces")]
    if a.digest:
        cmd += ["--digest"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
