#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
together with the benchmark's own Scala sources into
`.bench_build/perfbench.jar`, then writes a class-data-sharing archive
(`.bench_build/perfbench.jsa`) from a short training run
(`graft.perfbench.Train`), which roughly halves every benchmark JVM's
Spark start-up.

The Scala 2.13 compiler and every library come from the Spark
distribution named by `SPARK_HOME` (its `jars/` directory ships
`scala-compiler`), so the build needs neither sbt nor a network. The
build is skipped when a stamp over all sources matches the last build.

Usage (from the repository root): python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
MAIN_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")
STAMP = os.path.join(BUILD_DIR, "STAMP")
UNTRACED = os.path.join(BUILD_DIR, "untraced")
TRAIN_TIMEOUT_S = 120

# the module opens Spark needs on JDK 17 outside spark-submit (the same
# list as build.sbt's jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# flags of every benchmark JVM (the training run's too)
JVM_FLAGS = (["-XX:+UseParallelGC", "-Xss8m",
              # no metaspace-triggered full GCs while Spark loads its classes
              "-XX:MetaspaceSize=512m",
              # no hsperfdata file outside the checkout
              "-XX:-UsePerfData",
              "-Dlog4j2.configurationFile=perfbench/log4j2.properties"]
             + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")])


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark "
                         "distribution with a jars/ directory")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(os.path.join(MAIN_SRC, "graft")):
        raise SystemExit("perfbench: run from the repository root; "
                         f"{MAIN_SRC}/graft is missing")
    out = []
    for root in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half the machine's memory in whole GiB, clamped to [2, 8]."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def runtime_classpath(jar):
    return jar + os.pathsep + os.path.join(spark_jars(), "*")


def classpath():
    """Runtime classpath and class-data-sharing flags of the built
    benchmark (builds first if stale)."""
    build()
    return runtime_classpath(JAR), [f"-XX:SharedArchiveFile={ARCHIVE}"]


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build():
    want = stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    # untraced results recorded by an earlier build (see run.py)
    shutil.rmtree(UNTRACED, ignore_errors=True)
    classes = os.path.join(BUILD_DIR, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp] + sources()
    print(f"perfbench: compiling {len(sources())} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    # a jar, not the directory: class-data sharing archives jar entries only
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes)
    train()
    with open(STAMP, "w") as fh:
        fh.write(want)


def train():
    work = os.path.join(BUILD_DIR, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    cmd = (["java", f"-Xmx{heap()}", f"-XX:ArchiveClassesAtExit={ARCHIVE}",
            f"-Djava.io.tmpdir={work}/tmp"] + JVM_FLAGS
           + ["-cp", runtime_classpath(JAR), "graft.perfbench.Train", work, str(cores())])
    print("perfbench: writing the class-data-sharing archive", file=sys.stderr)
    log = os.path.join(BUILD_DIR, "train.log")
    try:
        with open(log, "w") as out:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        raise SystemExit(f"perfbench: training run failed ({r.returncode}); log in {log}")


if __name__ == "__main__":
    build()
    print(JAR)
