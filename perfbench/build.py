"""Builds the benchmark: the engine's sources (src/main/scala) and the
benchmark's own (perfbench/src), compiled together with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, or the one next to
spark-submit on PATH), into .bench_build/perfbench-<hash>.jar.

The build also records a JVM class-data archive (AppCDS) next to the jar:
one training run loads what every workload's set-up loads, and each
measured run then maps those classes instead of parsing them again. A
build whose sources have not changed is reused.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return engine + bench


def java(jar, archive_opt, work, args):
    """The JVM command every run uses (and the training run records). The
    heap is fixed at its maximum: a heap that grows during the run makes
    one process's passes run up to 30% slower than another's."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-XX:-UsePerfData"] + JDK_OPENS + [
        archive_opt, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join([jar] + spark_jars()),
        "perfbench.Main", "--work", work, "--data", DATA,
        "--cores", str(len(os.sched_getaffinity(0)))] + args)


def _compile(srcs, jar):
    classes = jar + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler = [j for j in spark_jars() if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", ":".join(spark_jars()), "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.rename(jar + ".tmp", jar)


def _train(jar, archive):
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java(jar, f"-XX:ArchiveClassesAtExit={archive}.tmp", work,
               ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0"])
    with open(os.path.join(OUT, "train.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=OUT).returncode
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(archive + ".tmp"):
        raise SystemExit(f"perfbench: training run failed ({rc}), see {OUT}/train.log")
    os.rename(archive + ".tmp", archive)


def build():
    """Returns (jar, class-data archive), building first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:  # JVM flags must match the archive
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stem = os.path.join(OUT, "perfbench-" + h.hexdigest()[:16])
    jar, archive = stem + ".jar", stem + ".jsa"
    if os.path.exists(jar) and os.path.exists(archive):
        return jar, archive
    for old in glob.glob(os.path.join(OUT, "perfbench-*")):
        if os.path.isdir(old):
            shutil.rmtree(old)
        else:
            os.remove(old)
    os.makedirs(OUT, exist_ok=True)
    _compile(srcs, jar)
    _train(jar, archive)
    return jar, archive


if __name__ == "__main__":
    print(*build())
