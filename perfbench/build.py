#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, into .bench_build/graft-bench.jar. No
sbt, no dependency resolution: the classpath is Spark's jars. A stamp
of the sources' hashes skips the build when nothing changed.

The first JVM of each workload after a build records the classes it
loads into a class-data-sharing archive (.bench_build/<workload>.jsa)
at exit; every later JVM of that workload maps it at start, so class
loading does not dominate set-up.

Usage: python3 perfbench/build.py      (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "graft-bench.jar")
STAMP = os.path.join(OUT, "stamp")
HERE = os.path.join(ROOT, "perfbench")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"


def spark_jars():
    """the jar directory of the installed Spark, which also ships the
    Scala compiler: $SPARK_HOME/jars, else the `unmanagedBase` that the
    repository's build.sbt compiles against"""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                               fh.read())
    for jars in dirs:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark installation with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit("build: no library sources at src/main/scala "
                         "(run from a full checkout of the repository)")
    found = []
    for base in (lib, os.path.join(ROOT, "perfbench", "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def java_cmd(scratch, workload):
    """the benchmark JVM: fixed heap, the add-opens and code-cache size
    of build.sbt's `run`, every temporary path under `scratch`"""
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=1g", "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off"]
    archive = os.path.join(OUT, f"{workload}.jsa")
    if os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Djava.io.tmpdir={scratch}/tmp",
        f"-Dderby.system.home={scratch}/derby",
        f"-Dderby.stream.error.file={scratch}/derby/derby.log",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath(), "perfbench.Main"]


def make_scratch(scratch):
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "derby", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d))


def build():
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath",
           os.path.join(spark_jars(), "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("build: scalac failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(CLASSES):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, CLASSES))
    shutil.rmtree(CLASSES)
    for old in glob.glob(os.path.join(OUT, "*.jsa")):
        os.remove(old)
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
