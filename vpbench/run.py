#!/usr/bin/env python3
"""Benchmark entry point.

    python3 vpbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 vpbench/run.py --selftest

Run from the repository root. Compiles the library (src/main/scala) and the
benchmark (vpbench/scala) with the Scala compiler shipped among the Spark jars
the build uses, caches the classes under .bench_build/, runs one workload in a
fresh JVM on local[<cpus>], and prints the workload's report followed by one
JSON result line. Traced runs also write their spans to
.bench_build/vpbench/traces/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "vpbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
OUT = os.path.join(ROOT, ".bench_build", "vpbench")
WORKLOADS = ("pyramid_mixed", "retile_diffs", "pip_join", "neardup_docs")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"vpbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the sbt build compiles against (its unmanagedBase)."""
    build = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(build):
        fail("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("cannot locate the Spark jars named by build.sbt unmanagedBase")
    return m.group(1)


def sources():
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found under {LIB_SRC}")
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True))
    for d in ("scala", "test"):
        files += sorted(glob.glob(os.path.join(BENCH, d, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compiled classes for the current sources; rebuilt when any changes."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(classes, ".done")):
            return classes
        for old in glob.glob(os.path.join(OUT, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        jars = os.path.join(spark_jars(), "*")
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        t0 = time.time()
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
        if rc != 0:
            fail(f"compilation failed (exit {rc})")
        if os.path.isdir(LIB_RES):
            shutil.copytree(LIB_RES, tmp, dirs_exist_ok=True)
        # one jar, so the JVM's class-data sharing archive can hold these classes
        with zipfile.ZipFile(os.path.join(tmp, "vpbench.jar"), "w") as jar:
            for d, _, names in os.walk(tmp):
                for n in sorted(names):
                    if n != "vpbench.jar":
                        f = os.path.join(d, n)
                        jar.write(f, os.path.relpath(f, tmp))
        open(os.path.join(tmp, ".done"), "w").close()
        os.rename(tmp, classes)
        print(f"vpbench: compiled {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def java_cmd(classes, work, main, args, cds=True):
    cp = os.path.join(classes, "vpbench.jar") + os.pathsep + os.path.join(spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # class-data sharing: the first run archives the classes it loaded, later
    # runs map the archive instead of loading them again (JVM start-up only)
    jsa = os.path.join(classes, "classes.jsa")
    cds = ([] if not cds else ["-XX:SharedArchiveFile=" + jsa] if os.path.isfile(jsa)
           else ["-XX:ArchiveClassesAtExit=" + jsa])
    # metaspace sized for Spark's generated classes, so class loading does
    # not force full collections during warm-up
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-XX:MetaspaceSize=256m", "-Xlog:cds=off",
             "-Xlog:cds+dynamic=off", "-Djava.io.tmpdir=" + tmp] + cds + opens +
            ["-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
             "-cp", cp, main] + args)


def run_jvm(cmd):
    """Runs the JVM to completion (killed after RUN_TIMEOUT_S, or when this
    process is terminated); returns its exit code."""
    # Spark's scratch space stays in the run directory (spark.local.dir)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, env=env)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found: run from the repository root")
    classes = build()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            rc = run_jvm(java_cmd(classes, work, "vpbench.SelfTest",
                                  [os.path.join(ROOT, "BENCHMARK.json")], cds=False))
            sys.exit(rc)
        if a.workload is None or a.seed is None or a.seconds is None:
            fail("--workload, --seed and --seconds are required")
        result = os.path.join(work, "result.json")
        rc = run_jvm(java_cmd(classes, work, "vpbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result,
            "--traces", os.path.join(OUT, "traces")]))
        if rc != 0 or not os.path.isfile(result):
            fail(f"workload run failed (exit {rc})")
        with open(result) as fh:
            line = fh.read().strip()
        json.loads(line)
        sys.stdout.flush()
        print(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
