#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) together
with the harness (perfbench/src) using the Scala compiler that ships with the
Spark distribution, so no build tool or network is needed; packs the classes
and src/main/resources into app.jar; and records a class-data-sharing archive
from one short harness run, which cuts the start-up of every later JVM.

Usage: python3 perfbench/build.py   (from the repository root)

Output: .bench_build/perfbench/{app.jar,app.jsa}, rebuilt only when a source
changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
JAR = os.path.join(OUT, "app.jar")
ARCHIVE = os.path.join(OUT, "app.jsa")

HEAP = "2g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def spark_jars() -> str:
    """The Spark jar directory: $SPARK_HOME/jars, else the build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        sys.exit("perfbench: cannot find the Spark jars (set SPARK_HOME)")
    return m.group(1)


def files(dirs: list, suffix: str = "") -> list:
    out = []
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            out += [os.path.join(dirpath, n) for n in names
                    if n.endswith(suffix)]
    return sorted(out)


def java(args: list, archive: str = "-XX:SharedArchiveFile=" + ARCHIVE) -> list:
    """The harness JVM: fixed heap, JIT compiler threads that live for the
    whole run (so their CPU can be subtracted), every scratch directory
    inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    shared = [archive] if os.path.exists(ARCHIVE) or "Exit" in archive else []
    return (["java"] +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
            [f"-Xmx{HEAP}", f"-Xms{HEAP}", *shared,
             "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
             f"-Dderby.system.home={tmp}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.codegen.cache.maxEntries=4000",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.pathsep.join([JAR, os.path.join(spark_jars(), "*")]),
             "perfbench.Main", "--root", ROOT] + args)


def build() -> None:
    srcs = files(SOURCE_DIRS, ".scala")
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        sys.exit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs + files([RESOURCES]):
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(OUT, ignore_errors=True)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                    "-classpath", jars, "@" + argfile], check=True)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, RESOURCES):
            for f in files([base]):
                z.write(f, os.path.relpath(f, base))
    # One short run that loads the Spark classes every workload uses; its
    # output is discarded. Without the archive the JVM starts normally.
    r = subprocess.run(java(["--workload", "sql_analytics", "--seed", "0",
                             "--seconds", "1", "--setups", "1"],
                            archive="-XX:ArchiveClassesAtExit=" + ARCHIVE),
                       cwd=ROOT, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=600)
    if r.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    shutil.rmtree(WORK, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
