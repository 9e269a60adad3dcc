#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's sources (src/main/scala at
the repository root) together with this package's sources (src/) with the
Scala compiler that ships in Spark's jar directory, packs them into
.bench_build/perfbench/perfbench.jar under the repository root, and
records a class-data-sharing archive from one tiny benchmark run, which
halves JVM and Spark start-up for every later run. A rebuild happens only
when a source file changed.

Usage: python3 perfbench/build.py
"""
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "build.stamp")

# Spark on JDK 17 outside spark-submit needs these (Spark's JavaModuleOptions)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    """SPARK_HOME's jars, else those of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


def config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def java_cmd(work, extra=()):
    """The benchmark JVM's command prefix: fixed heap, GC and module flags,
    all scratch files under `work`."""
    cds = ["-XX:SharedArchiveFile=" + CDS] if os.path.exists(CDS) else []
    return (["java"] + config()["jvm"] + cds + list(extra) + ADD_OPENS
            + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-cp", classpath(), "perfbench.Main"])


def java_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def build():
    """Builds if needed, one process at a time. Raises RuntimeError on failure."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise RuntimeError("program sources not found at %s" % main_src)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        _build()


def _build():
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise RuntimeError("Spark jars not found at %s (set SPARK_HOME)" % jars)
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    for p in (STAMP, JAR, CDS):
        if os.path.exists(p):
            os.remove(p)
    tmp = os.path.join(OUT, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError("scalac failed with code %d" % r.returncode)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    os.rename(JAR + ".tmp", JAR)
    shutil.rmtree(tmp)
    train()
    with open(STAMP, "w") as f:
        f.write(stamp)


def train():
    """Records the class-data-sharing archive from a tiny traced
    crawl_lifecycle run (it loads the parquet, shuffle, writer and kernel
    classes every workload uses). A failed recording only costs start-up
    time, so it is not an error."""
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cfg = config()
    cfg["workloads"]["crawl_lifecycle"].update(docs=200, buckets=2, warmup_passes=1, min_passes=1)
    cfg["setup_reps"] = 1
    tiny = os.path.join(work, "train.json")
    with open(tiny, "w") as f:
        json.dump(cfg, f)
    cmd = java_cmd(work, ["-XX:ArchiveClassesAtExit=" + CDS]) + [
        "--workload", "crawl_lifecycle", "--seed", "1", "--seconds", "0",
        "--trace", "0", "--config", tiny,
        "--bench", os.path.join(ROOT, "BENCHMARK.json"), "--work", work]
    r = subprocess.run(cmd, env=java_env(work), stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 and os.path.exists(CDS):
        os.remove(CDS)


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
